package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import Exact._

/** Second wave of TPC-H-shaped flagship queries (reference:
  * tigraph/tidb planner/core + executor join/agg pipelines; TiDB's
  * own TPC-H suite is its canonical OLAP workload). The driver tables
  * carry no `partsupp`, `l_shipmode` or `l_commitdate`, so Q12/Q21/
  * Q22 keep their *plan shapes* (late-shipment predicates, multi-
  * EXISTS self-joins, scalar-subquery + anti-join) over the columns
  * that exist.
  *
  * Scale notes: nation/region/part/supplier are broadcast; the
  * lineitem⋈orders spine shuffles on the order key once per query;
  * per-order EXISTS/NOT-EXISTS collapse into one aggregation over
  * that same key (no repeated correlated scans).
  */
object TpchMore {

  private val day = (n: Int) => expr(s"INTERVAL $n DAYS")

  val all: Seq[Q] = Seq(

    // Q7 — volume shipping between two nations, by year.
    Q("q_tpch_q7", Some("""
      SELECT supp_nation, cust_nation, l_year,
             CAST(SUM(volume) AS DOUBLE) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2)) AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01') shipping
      GROUP BY supp_nation, cust_nation, l_year
    """)) { t =>
      // The nation-pair filter folds into the supplier/customer dims
      // BEFORE the fact joins (only ~2/25 of suppliers and customers
      // survive), so fact rows die at the first broadcast join instead
      // of surviving four joins; the OR residual keeps only the cross
      // pairing afterwards.
      val pair = t.nation.filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = t.supplier
        .join(broadcast(pair.select(col("n_nationkey").as("n1_key"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n1_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t.customer
        .join(broadcast(pair.select(col("n_nationkey").as("n2_key"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n2_key"))
        .select(col("c_custkey"), col("cust_nation"))
      t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(cust, col("c_custkey") === col("o_custkey"))
        .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
    },

    // Q8 — market share of one nation inside a region, by year.
    Q("q_tpch_q8", Some("""
      SELECT o_year,
             ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
      FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2)) AS volume,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01') all_nations
      GROUP BY o_year
    """)) { t =>
      val n1 = t.nation.select(col("n_nationkey").as("n1_key"),
        col("n_regionkey").as("n1_region"))
      val n2 = t.nation.select(col("n_nationkey").as("n2_key"),
        col("n_name").as("nation"))
      val vol = times(cents(col("l_extendedprice")),
        cents(lit(1) - col("l_discount")))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(t.orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("n1_key"))
        .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
          col("n1_region") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sumUnits(when(col("nation") === "NATION_3", vol)
            .otherwise(lit(0L)), 4).cast("double") /
            sumUnits(vol, 4).cast("double"), 4).as("mkt_share"))
    },

    // Q12 shape — late-shipment priority counts (no l_shipmode /
    // l_commitdate in the data: returnflag stands in for the mode
    // dimension, "late" = shipped 60–120 days after the order date).
    Q("q_tpch_q12", Some("""
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
        AND l_shipdate < o_orderdate + INTERVAL 120 DAY
      GROUP BY l_returnflag
    """)) { t =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t.lineitem
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate") + day(60) &&
          col("l_shipdate") < col("o_orderdate") + day(120))
        .groupBy("l_returnflag")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
    },

    // Q18 — large-volume orders: HAVING-subquery membership join.
    Q("q_tpch_q18", Some("""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """)) { t =>
      // One pass over lineitem: the HAVING aggregate IS the output
      // aggregate (o_orderkey is the group key), so the filtered
      // per-order sums join straight to orders/customer — no second
      // lineitem shuffle, no re-aggregation on five columns.
      val big = t.lineitem.groupBy("l_orderkey")
        .agg(sum(dec2(col("l_quantity"))).as("q"))
        .filter(col("q") > 250)
      big
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(t.customer, col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("q").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(50)
    },

    // Q21 shape — suppliers who alone shipped late in multi-supplier
    // finished orders. The correlated EXISTS / NOT EXISTS pair
    // collapses into one per-order aggregation (supplier count + late
    // supplier count) instead of two more passes over lineitem.
    Q("q_tpch_q21", Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
    """)) { t =>
      val fOrders = t.orders.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      // Per (order, supplier): number of late lines (numwait counts
      // qualifying l1 ROWS, so late lines weight the final count).
      val perSupp = t.lineitem
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(when(col("l_shipdate") >= col("o_orderdate") + day(90), 1L)
          .otherwise(0L)).as("late_lines"))
      // Per order: how many suppliers, how many of them late.
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          sum((col("late_lines") > 0).cast("long")).as("n_late"))
      perSupp
        .join(perOrder, "l_orderkey")
        .filter(col("late_lines") > 0 && col("n_supp") > 1 &&
          col("n_late") === 1)
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(sum(col("late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(10)
    },

    // Q22 shape — well-funded inactive customers per country code
    // (c_nationkey % 10 stands in for the phone prefix): scalar AVG
    // subquery threshold + anti join against orders.
    Q("q_tpch_q22", Some("""
      SELECT cntrycode, COUNT(*) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM (SELECT CAST(c.c_nationkey % 10 AS INT) AS cntrycode, c.c_acctbal
            FROM customer c
            WHERE c.c_nationkey % 10 IN (1, 3, 5, 7, 9)
              AND c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                                 FROM customer c2
                                 WHERE c2.c_acctbal > 0.0
                                   AND c2.c_nationkey % 10 IN (1, 3, 5, 7, 9))
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-01-01')) custsale
      GROUP BY cntrycode
    """)) { t =>
      val codes = Seq(1, 3, 5, 7, 9)
      val inCode = t.customer.filter((col("c_nationkey") % 10).isin(codes: _*))
      val thresh = inCode.filter(col("c_acctbal") > 0.0)
        .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("avg_bal"))
      inCode
        .crossJoin(broadcast(thresh))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t.orders.filter(
          col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 10).cast("int").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
    },

    // Q2 shape — cheapest regional supplier per part (the correlated
    // MIN subquery). No partsupp table: the supply relation is
    // derived from lineitem as min unit price per (part, supplier) —
    // same join tree, same correlated-min decorrelation. Cost is the
    // SAME double on both engines (identical division + MIN), so the
    // min-equality predicate is exact.
    Q("q_tpch_q2", Some("""
      WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               MIN(l_extendedprice / l_quantity) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey),
      rps AS (
        SELECT pk, sk, cost, s_name, n_name
        FROM ps JOIN supplier ON sk = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_regionkey = 2)
      SELECT p_partkey, p_type, s_name, n_name, ROUND(cost, 4) AS cost
      FROM part JOIN rps ON p_partkey = pk
      WHERE p_size > 45
        AND cost = (SELECT MIN(r2.cost) FROM rps r2 WHERE r2.pk = p_partkey)
    """)) { t =>
      val ps = t.lineitem.groupBy(col("l_partkey").as("pk"),
          col("l_suppkey").as("sk"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
      val rps = ps
        .join(broadcast(t.supplier), col("sk") === col("s_suppkey"))
        .join(broadcast(t.nation.filter(col("n_regionkey") === 2)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("pk"), col("sk"), col("cost"), col("s_name"),
          col("n_name"))
      // Correlated-min decorrelation via an unordered window over pk
      // — the q9 treatment: the old aggregate-join-back shape
      // materialized rps (checkpoint) and consumed it twice (min agg
      // + join), i.e. two passes and an extra exchange for the same
      // per-part minimum the window computes in ONE pass over ONE
      // pk exchange. The kept rows are identical: MIN over the same
      // (pk) partition of the same doubles, compared with the same
      // exact equality — the oracle hash is unchanged.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pk")
      rps
        .withColumn("min_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("min_cost"))
        .join(t.part.filter(col("p_size") > 45),
          col("p_partkey") === col("pk"))
        .select(col("p_partkey"), col("p_type"), col("s_name"),
          col("n_name"), round(col("cost"), 4).as("cost"))
    },

    // Q9 shape — profit by supplier nation and year. The derived
    // unit cost stays in DECIMAL end-to-end (1% of the cheapest
    // observed line price): a double→decimal cast rounds differently
    // across engines on representation boundaries, exact decimal
    // arithmetic cannot.
    Q("q_tpch_q9", Some("""
      WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) * CAST(0.01 AS DECIMAL(4,2)) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
      SELECT n_name, CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))
                      - cost * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN ps ON pk = l_partkey AND sk = l_suppkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY n_name, o_year
    """)) { t =>
      // The supply cost is a per-(partkey, suppkey) MIN over lineitem
      // itself, so joining a separately aggregated `ps` back to
      // lineitem re-scanned the fact and built a |distinct(pk,sk)| ≈
      // |lineitem| broadcast hash relation (an 18 MB single-threaded
      // driver build in the measured plan). Instead: prune to PROMO
      // parts FIRST (the filter is a part attribute — constant per
      // partkey — so every (pk, sk) group survives whole and its min
      // is unchanged), then compute the min as an unordered window
      // over (pk, sk): one lineitem scan, one exchange of the ~17%
      // surviving rows, no self-join.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_partkey", "l_suppkey")
      t.lineitem
        .join(broadcast(t.part.filter(col("p_type") === "PROMO")),
          col("p_partkey") === col("l_partkey"))
        // cost = min price x 0.01: at scale 4 its units are the min
        // price's cents.
        .withColumn("cost", min(cents(col("l_extendedprice"))).over(w))
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sumUnits(minus(
            times(times(cents(col("l_extendedprice")),
              cents(lit(1) - col("l_discount"))), lit(100)),
            times(col("cost"), cents(col("l_quantity")))), 6)
          .cast("double").as("sum_profit"))
    },

    // Q6 — the canonical predicate-pushdown + single-agg forecasting
    // query: no join, every filter reaches the parquet scan, one
    // map-side-combined global sum. Decimal-exact product (discounts
    // are clean 2dp values).
    Q("q_tpch_q6", Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24
    """)) { t =>
      t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sumProd2(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
    },

    // Q11 shape — important stock per part for one nation's suppliers,
    // kept above a fraction of the GLOBAL value (HAVING with a scalar
    // subquery over the same derived relation; rule_decorrelate.go
    // collapses it to an agg reused twice). Catalyst has no
    // common-subplan reuse across the two aggregates, so ps is
    // MATERIALIZED once (localCheckpoint — plan-asserted zero parquet
    // re-scans; on a cluster this is the cached derived relation) and
    // the 1-row global threshold broadcasts. Exact decimal arithmetic
    // on both engines makes the > cut identical.
    Q("q_tpch_q11", Some("""
      WITH ps AS (
        SELECT l_partkey AS pk,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
        GROUP BY l_partkey)
      SELECT pk, CAST(val AS DOUBLE) AS part_value
      FROM ps
      WHERE val > (SELECT SUM(val) * 0.001 FROM ps)
    """)) { t =>
      val ps = t.lineitem
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(dec2(col("l_extendedprice"))).as("val"))
        .localCheckpoint()
      val threshold = ps.agg(
        (sumUnits(cents(col("val")), 2) * lit(BigDecimal("0.001")))
          .as("thr"))
      ps.crossJoin(broadcast(threshold))
        .filter(col("val") > col("thr"))
        .select(col("pk"), col("val").cast("double").as("part_value"))
    },

    // Q16 shape — supplier counts by part attribute, excluding a
    // NOT-IN supplier set (reference: TPC-H suite;
    // planner/core/rule_decorrelate.go turns the NOT IN into an anti
    // semi join). No partsupp: the supply relation is the distinct
    // (part, supplier) pairs observed in lineitem; the "complaints"
    // predicate maps onto s_acctbal (no s_comment column). s_suppkey
    // is non-null so NOT IN ≡ anti join on both engines.
    Q("q_tpch_q16", Some("""
      WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
                  FROM lineitem)
      SELECT p_brand, p_type, p_size,
             CAST(COUNT(DISTINCT sk) AS BIGINT) AS supplier_cnt
      FROM ps JOIN part ON p_partkey = pk
      WHERE p_brand <> 'Brand#2'
        AND p_type NOT LIKE 'MEDIUM%'
        AND p_size IN (2, 5, 11, 23, 28, 34, 40, 47)
        AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
      GROUP BY p_brand, p_type, p_size
    """)) { t =>
      val ps = t.lineitem
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val bad = t.supplier.filter(col("s_acctbal") < 500)
        .select(col("s_suppkey"))
      val parts = t.part.filter(col("p_brand") =!= "Brand#2" &&
        !col("p_type").like("MEDIUM%") &&
        col("p_size").isin(2, 5, 11, 23, 28, 34, 40, 47))
      ps.join(broadcast(bad), col("sk") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("p_partkey") === col("pk"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("sk")).as("supplier_cnt"))
    },

    // Q20 shape — suppliers holding excess stock of watched parts
    // (nested EXISTS-with-agg: IN subquery whose body compares a
    // correlated aggregate; rule_decorrelate.go collapses it to an
    // agg + semi join). availqty := pre-1997 shipped quantity per
    // (part, supplier); demand := 1997 shipments. One lineitem pass:
    // both sums come from a single map-side-combined aggregation, then
    // suppliers semi-join the qualifying pairs.
    Q("q_tpch_q20", Some("""
      WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
                        THEN l_quantity ELSE 0 END) AS availqty,
               SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate < TIMESTAMP '1998-01-01'
                        THEN l_quantity ELSE 0 END) AS qty97
        FROM lineitem GROUP BY 1, 2)
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_4')
        AND s_suppkey IN (
          SELECT sk FROM ps
          WHERE pk IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
            AND qty97 > 0 AND availqty > 0.5 * qty97)
    """)) { t =>
      val ps = t.lineitem
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(
          sum(when(col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
            col("l_quantity")).otherwise(lit(0.0))).as("availqty"),
          sum(when(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"),
            col("l_quantity")).otherwise(lit(0.0))).as("qty97"))
      val watched = t.part.filter(col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val qualifying = ps
        .join(broadcast(watched), col("pk") === col("p_partkey"), "left_semi")
        .filter(col("qty97") > 0 && col("availqty") > lit(0.5) * col("qty97"))
        .select(col("sk"))
      t.supplier
        .join(broadcast(t.nation.filter(
          col("n_name").isin("NATION_3", "NATION_4"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualifying, col("s_suppkey") === col("sk"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    },

    // Explicit GROUPING SETS (TiDB planner/core grouping-set Expand).
    Q("q_groupingsets", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INT) AS g_status,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                              (l_returnflag, l_linestatus))
    """)) { t =>
      // Aggregate BEFORE the Expand: grouping sets plan as an Expand
      // that multiplies every input row once per set (3x the fact
      // through the exchange). All three sets are coarsenings of
      // (l_returnflag, l_linestatus), so one map-combined partial
      // aggregate reduces the fact to its ~9-row group frame and the
      // Expand multiplies THAT — the sums re-fold exactly (decimal
      // addition is associative; COUNT(*) becomes SUM of the partial
      // counts), and the GROUPING flags come from the same grouping-
      // sets operator, now over 9 rows.
      val base = t.lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec2(col("l_quantity"))).as("sq"),
          count(lit(1)).as("cnt"))
      base.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
            Seq(col("l_returnflag"), col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          sum(dec2(col("sq"))).cast("double").as("sum_qty"),
          sum(col("cnt")).as("n"))
    },

    // Rank-predicate top-k per group: Spark 4 plans the filter as a
    // WindowGroupLimit (partial per-partition limit before the
    // shuffle) — the declarative twin of TiDB's topn pushdown
    // (planner/core/rule_topn_push_down.go). PlanShapeSpec asserts
    // the operator is present.
    Q("q_window_grouplimit", Some("""
      SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INT) AS rn
      FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer) t
      WHERE rn <= 5
    """)) { t =>
      TopKPerGroup.native(
          t.customer.select("c_mktsegment", "c_custkey", "c_acctbal"),
          keys = Seq(col("c_mktsegment")),
          order = Seq(col("c_acctbal").desc, col("c_custkey")),
          k = 5, rnCol = "rn")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          col("rn"))
    },

    // Native recursive CTE (Spark 4 UnionLoopExec) — the same
    // statement as q_cte_recursive (reference: executor/cte.go
    // seed/recursive parts), kept as its own registry entry.
    Q("q_cte_recursive_native", Some("""
      WITH RECURSIVE t(n) AS (
        SELECT CAST(r_regionkey AS BIGINT) FROM region
        UNION ALL
        SELECT n + 7 FROM t WHERE n + 7 < 200)
      SELECT n, COUNT(*) AS c FROM t GROUP BY n
    """)) { t =>
      t.sql("""
        WITH RECURSIVE t(n) AS (
          SELECT CAST(r_regionkey AS BIGINT) FROM region
          UNION ALL
          SELECT n + 7 FROM t WHERE n + 7 < 200)
        SELECT n, COUNT(*) AS c FROM t GROUP BY n
      """, "region")
    },
  )
}
