package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact._

/** Relational operator suite — the TiDB executor surface re-expressed
  * as declarative DataFrame plans (reference: /root/reference/executor/
  * executor.go, aggregate.go, join.go, merge_join.go, joiner.go,
  * window.go, cte.go; planner/core/rule_*.go provide the pushdowns
  * that Catalyst performs for us).
  *
  * Scale notes (100 TB): dimension sides are `broadcast()`; fact⋈fact
  * joins shuffle on their join keys and rely on AQE for skew handling;
  * aggregations are partial+final (map-side combine) by construction;
  * every filter/projection stays in the scan via Catalyst pushdown.
  */
object Relational {

  /** q_cte_recursive's statement — its DuckDB oracle and its Spark run. */
  private val cteRecursiveSql = """
      WITH RECURSIVE t(n) AS (
        SELECT CAST(r_regionkey AS BIGINT) FROM region
        UNION ALL
        SELECT n + 7 FROM t WHERE n + 7 < 200)
      SELECT n, COUNT(*) AS c FROM t GROUP BY n
    """

  val all: Seq[Q] = Seq(

    // TableScan + Selection + Projection; filters reach the parquet
    // reader as PushedFilters, schema pruned to 4 columns.
    Q("q_scan_filter", Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05
    """)) { t =>
      t.lineitem
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    // HashAgg, TPC-H Q1 shape (executor/aggregate.go). Money aggs are
    // decimal-exact for oracle parity; partial agg happens map-side.
    Q("q_agg_hash", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      GROUP BY l_returnflag, l_linestatus
    """)) { t =>
      t.lineitem
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
            .as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") /
            count(col("l_quantity"))).as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast("double") /
            count(col("l_extendedprice"))).as("avg_price"),
          count(lit(1)).as("count_order"))
    },

    // Distinct aggregates (aggfuncs/func_count_distinct.go). Distinct
    // quantities are small integers: double sums stay exact.
    Q("q_agg_distinct", Some("""
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
             SUM(DISTINCT l_quantity) AS sum_dist_qty,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag
    """)) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        sum_distinct(col("l_quantity")).as("sum_dist_qty"),
        count(lit(1)).as("n_rows"))
    },

    // Moment statistics (aggfuncs/func_stddevpop.go & friends); 4dp
    // rounding absorbs summation-order float noise.
    Q("q_agg_stats", Some("""
      SELECT l_linestatus,
             ROUND(STDDEV_POP(l_quantity), 4) AS sd_pop,
             ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_samp,
             ROUND(VAR_POP(l_quantity), 4) AS v_pop,
             ROUND(VAR_SAMP(l_quantity), 4) AS v_samp,
             MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_linestatus
    """)) { t =>
      t.lineitem.groupBy("l_linestatus").agg(
        round(stddev_pop(col("l_quantity")), 4).as("sd_pop"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_samp"),
        round(var_pop(col("l_quantity")), 4).as("v_pop"),
        round(var_samp(col("l_quantity")), 4).as("v_samp"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
    },

    // GROUP_CONCAT (aggfuncs/func_group_concat.go): made deterministic
    // by sorting members — mirrors string_agg(... ORDER BY).
    Q("q_agg_groupconcat", Some("""
      SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
    """)) { t =>
      t.nation.join(broadcast(t.region),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
          .as("nations"))
    },

    // Exact percentiles (aggfuncs/func_percentile.go) — linear
    // interpolation semantics shared with quantile_cont.
    Q("q_agg_percentile", Some("""
      SELECT l_returnflag,
             ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
             ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
             ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75
      FROM lineitem GROUP BY l_returnflag
    """)) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
    },

    // Bitwise aggregates (aggfuncs/func_bitfuncs.go).
    Q("q_agg_bit", Some("""
      SELECT n_regionkey,
             BIT_AND(n_nationkey) AS b_and,
             BIT_OR(n_nationkey) AS b_or,
             BIT_XOR(n_nationkey) AS b_xor
      FROM nation GROUP BY n_regionkey
    """)) { t =>
      t.nation.groupBy("n_regionkey").agg(
        expr("bit_and(n_nationkey)").as("b_and"),
        expr("bit_or(n_nationkey)").as("b_or"),
        expr("bit_xor(n_nationkey)").as("b_xor"))
    },

    // approx_count_distinct (TiDB APPROX_COUNT_DISTINCT): HLL++ sketch,
    // mergeable map-side — the 100 TB path for distinct counting.
    // Sketch estimates are engine-specific → rows-only check; the spec
    // asserts the estimate lands within 5% of exact.
    Q("q_agg_approx", None) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
    },

    // Broadcast (map-side) join — the IndexLookupJoin analog: dim
    // tables ship to every executor, zero shuffle on the fact side
    // until the aggregation.
    Q("q_join_broadcast", Some("""
      SELECT r_name, n_name, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    """)) { t =>
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("sum_bal"))
    },

    // Shuffle join, fact ⋈ fact (executor/join.go HashJoin): both
    // sides repartition on the key; AQE picks hash vs sort-merge and
    // splits skewed partitions.
    Q("q_join_shuffle", Some("""
      SELECT o_orderpriority,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
    """)) { t =>
      t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // Sort-merge join (executor/merge_join.go) — forced via MERGE
    // hint; right plan when both sides are already sorted/bucketed.
    Q("q_join_merge", Some("""
      SELECT c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    """)) { t =>
      t.orders.hint("merge")
        .join(t.customer.hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("n_orders"))
    },

    // Semi join = EXISTS (executor/joiner.go semiJoiner): probe stops
    // at first match, output keeps left columns only.
    Q("q_join_semi", Some("""
      SELECT c_nationkey, COUNT(*) AS n_cust
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      GROUP BY c_nationkey
    """)) { t =>
      t.customer.join(t.orders.filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    },

    // Anti join = NOT EXISTS (antiSemiJoiner).
    Q("q_join_anti", Some("""
      SELECT c_nationkey, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
    """)) { t =>
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("sum_bal"))
    },

    // Left outer join + re-aggregation, TPC-H Q13 shape.
    Q("q_join_outer", Some("""
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) t
      GROUP BY c_count
    """)) { t =>
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    },

    // Full outer join with coalesced keys.
    Q("q_join_full", Some("""
      SELECT COALESCE(a.nk, b.nk) AS nationkey,
             COALESCE(a.n_cust, 0) AS n_cust,
             COALESCE(b.n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
            WHERE c_acctbal > 9000 GROUP BY c_nationkey) a
      FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier
            WHERE s_acctbal > 9000 GROUP BY s_nationkey) b
      ON a.nk = b.nk
    """)) { t =>
      val a = t.customer.filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("ank"))
        .agg(count(lit(1)).as("n_cust"))
      val b = t.supplier.filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("bnk"))
        .agg(count(lit(1)).as("n_supp"))
      a.join(b, col("ank") === col("bnk"), "full")
        .select(coalesce(col("ank"), col("bnk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },

    // TopN (rule_topn_push_down.go): ORDER BY + LIMIT fuses into
    // TakeOrderedAndProject — per-partition top-k then driver merge,
    // never a global sort. Unique tiebreak key keeps it deterministic.
    Q("q_sort_topn", Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """)) { t =>
      t.orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(10)
    },

    // Limit + Offset executor.
    Q("q_limit_offset", Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      ORDER BY o_orderkey LIMIT 20 OFFSET 100
    """)) { t =>
      t.orders.orderBy(col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .offset(100).limit(20)
    },

    // UNION ALL + aggregation (Union executor).
    Q("q_union", Some("""
      SELECT k, COUNT(*) AS c FROM (
        SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
        UNION ALL
        SELECT s_nationkey AS k FROM supplier) t
      GROUP BY k
    """)) { t =>
      t.customer.filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("k"))
        .union(t.supplier.select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("c"))
    },

    Q("q_intersect", Some("""
      SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
      INTERSECT
      SELECT s_nationkey AS k FROM supplier
    """)) { t =>
      t.customer.filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("k"))
        .intersect(t.supplier.select(col("s_nationkey").as("k")))
    },

    Q("q_except", Some("""
      SELECT n_nationkey AS k FROM nation
      EXCEPT
      SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9500
    """)) { t =>
      t.nation.select(col("n_nationkey").as("k"))
        .except(t.customer.filter(col("c_acctbal") > 9500)
          .select(col("c_nationkey").as("k")))
    },

    // Ranking window functions (executor/window.go, func_rank.go).
    Q("q_window_rank", Some("""
      SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER w AS INT) AS rn,
               CAST(RANK() OVER w AS INT) AS rnk,
               CAST(DENSE_RANK() OVER w AS INT) AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)) t
      WHERE rn <= 3
    """)) { t =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t.orders.select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .filter(col("rn") <= 3)
    },

    // Window frame aggregates: running + sliding sums, decimal-exact.
    Q("q_window_agg", Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS window3_spend
      FROM orders WHERE o_custkey < 100
    """)) { t =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t.orders.filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          sum(dec2(col("o_totalprice"))).over(
            w.rowsBetween(-2, Window.currentRow))
            .cast("double").as("window3_spend"))
    },

    // Offset window functions (aggfuncs/func_lead_lag.go, func_value.go).
    Q("q_window_offset", Some("""
      SELECT o_custkey, o_orderkey,
             LAG(o_totalprice) OVER w AS prev_price,
             LEAD(o_totalprice) OVER w AS next_price,
             FIRST_VALUE(o_totalprice) OVER wf AS first_price,
             LAST_VALUE(o_totalprice) OVER wf AS last_price,
             NTH_VALUE(o_totalprice, 2) OVER wf AS second_price
      FROM orders WHERE o_custkey < 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """)) { t =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t.orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(wf).as("first_price"),
          last(col("o_totalprice")).over(wf).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
    },

    // Distribution window functions (func_ntile.go, func_percent_rank.go,
    // func_cume_dist.go). Unique ORDER BY keeps ntile deterministic.
    Q("q_window_dist", Some("""
      SELECT c_nationkey, c_custkey,
             CAST(NTILE(4) OVER w AS INT) AS quartile,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd
      FROM customer WHERE c_nationkey < 5
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """)) { t =>
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t.customer.filter(col("c_nationkey") < 5)
        .select(col("c_nationkey"), col("c_custkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    },

    // ROLLUP → Expand operator (grouping sets in planner/core).
    Q("q_rollup", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INT) AS g_status,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """)) { t =>
      t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
    },

    Q("q_cube", Some("""
      SELECT o_orderpriority, o_orderstatus,
             CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """)) { t =>
      t.orders.cube("o_orderpriority", "o_orderstatus").agg(
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
    },

    // CTE reused twice (executor/cte.go), TPC-H Q15 shape: revenue
    // per supplier, keep the max. Revenue is decimal-exact so the
    // equality join on the max is safe.
    Q("q_cte", Some("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_rev
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    """)) { t =>
      // The CTE is consumed twice (max + join); materialize it once —
      // Spark inlines CTEs, so without this the revenue aggregation
      // pipeline would run per consumer.
      val revenue = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("total_rev"))
        .localCheckpoint()
      val maxRev = revenue.agg(max(col("total_rev")).as("max_rev"))
      t.supplier
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(maxRev), col("total_rev") === col("max_rev"))
        .select("s_suppkey", "s_name", "total_rev")
    },

    // Recursive CTE (executor/cte.go CTEExec): arithmetic-walk series
    // seeded from region keys, run by Spark's own WITH RECURSIVE
    // (UnionLoopExec loops seed → recursive part until an empty
    // iteration, as CTEExec does).
    Q("q_cte_recursive", Some(cteRecursiveSql)) { t =>
      t.sql(cteRecursiveSql, "region")
    },

    // Correlated scalar subquery, decorrelated (rule_decorrelate.go):
    // TPC-H Q17 shape — the subquery becomes an aggregate + join.
    Q("q_subquery_scalar", Some("""
      SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
      WHERE p_brand = 'Brand#4'
        AND l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                             WHERE l2.l_partkey = l1.l_partkey)
    """)) { t =>
      val avgQty = t.lineitem.groupBy(col("l_partkey").as("ap_key"))
        .agg((lit(0.2) * (sum(col("l_quantity")) / count(col("l_quantity"))))
          .as("qty_limit"))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_brand") === "Brand#4")),
          col("p_partkey") === col("l_partkey"))
        .join(avgQty, col("ap_key") === col("l_partkey"))
        .filter(col("l_quantity") < col("qty_limit"))
        .agg((sum(dec2(col("l_extendedprice"))).cast("double") / 7.0)
          .as("avg_yearly"))
    },

    // IN-subquery → semi join on the distinct inner side.
    Q("q_subquery_in", Some("""
      SELECT p_brand, COUNT(*) AS n_parts FROM part
      WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
      GROUP BY p_brand
    """)) { t =>
      t.part.join(
          t.lineitem.filter(col("l_quantity") > 45).select("l_partkey"),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
    },

    // EXISTS + aggregation, TPC-H Q4 shape.
    Q("q_exists_agg", Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
    """)) { t =>
      val o = t.orders
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      o.join(t.lineitem,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    },

    // Flagship: TPC-H Q3 — mixed broadcast/shuffle joins + TopN.
    Q("q_tpch_q3", Some("""
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10
    """)) { t =>
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders.filter(
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem.filter(
          col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // min_by/max_by — argmin/argmax aggregation (func_max_min.go /
    // first_row analogs). Keyed by the unique orderkey so the picked
    // row is deterministic on both engines.
    Q("q_agg_minmax_by", Some("""
      SELECT o_custkey,
             MAX_BY(o_orderstatus, o_orderkey) AS last_status,
             MIN_BY(o_totalprice, o_orderkey) AS first_price,
             MAX(o_orderkey) AS last_key,
             MIN(o_orderkey) AS first_key
      FROM orders WHERE o_custkey < 200
      GROUP BY o_custkey
    """)) { t =>
      t.orders.filter(col("o_custkey") < 200)
        .groupBy("o_custkey")
        .agg(max_by(col("o_orderstatus"), col("o_orderkey"))
          .as("last_status"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
          max(col("o_orderkey")).as("last_key"),
          min(col("o_orderkey")).as("first_key"))
    },

    // GROUP_CONCAT(DISTINCT …) (func_group_concat.go distinct path).
    Q("q_agg_groupconcat_distinct", Some("""
      SELECT n_regionkey,
             string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_regionkey
    """)) { t =>
      t.customer.join(broadcast(t.nation),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(
          concat_ws(",", array_sort(collect_set(col("c_mktsegment"))))
            .as("segments"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
    },

    // PIVOT — wide conditional aggregation (TiDB expresses this as
    // CASE sums; Spark has a first-class relational pivot).
    Q("q_pivot", Some("""
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
      FROM orders GROUP BY o_orderpriority
    """)) { t =>
      t.orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt"))
    },

    // Value-based RANGE window frames (executor/window.go range
    // frames): orders within a 30-day trailing window per customer.
    Q("q_window_range", Some("""
      SELECT o_custkey, o_orderkey,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_last30d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_last30d
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS d
            FROM orders WHERE o_custkey < 50) t
      WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """)) { t =>
      val base = t.orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .as("d"))
      val w = Window.partitionBy("o_custkey").orderBy(col("d"))
        .rangeBetween(-30, Window.currentRow)
      base.select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_last30d"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double")
          .as("spend_last30d"))
    },

    // JSON aggregation (aggfuncs/func_json_arrayagg.go /
    // func_json_objectagg.go) — deterministic via sorted members.
    Q("q_agg_jsonagg", Some("""
      SELECT r_name,
             to_json(list(n_name ORDER BY n_name)) AS nations_json,
             to_json(map(list(n_name ORDER BY n_name),
                         list(n_nationkey ORDER BY n_name))) AS nation_keys_json
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
    """)) { t =>
      t.nation.join(broadcast(t.region),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          to_json(array_sort(collect_list(col("n_name")))).as("nations_json"),
          to_json(map_from_entries(array_sort(collect_list(
            struct(col("n_name"), col("n_nationkey"))))))
            .as("nation_keys_json"))
    },

    // TPC-H Q10 shape: returned-item reporting, join + agg + TopN.
    Q("q_tpch_q10", Some("""
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-07-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20
    """)) { t =>
      t.customer
        .join(t.orders.filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem.filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // TPC-H Q14 shape: conditional aggregation ratio (promo revenue).
    Q("q_tpch_q14", Some("""
      SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
               THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))
               ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate < TIMESTAMP '1997-10-01'
    """)) { t =>
      val disc = times(cents(col("l_extendedprice")),
        cents(lit(1) - col("l_discount")))
      t.lineitem.filter(
          col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sumUnits(when(col("p_type") === "ECONOMY", disc).otherwise(lit(0L)),
            4).cast("double") /
          sumUnits(disc, 4).cast("double")).as("promo_revenue"))
    },

    // TPC-H Q19 shape: disjunction of conjunctive predicates — the
    // optimizer must push the common join key and keep the OR residual.
    Q("q_tpch_q19", Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity >= 1 AND l_quantity <= 20)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
             AND l_quantity >= 10 AND l_quantity <= 30)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
             AND l_quantity >= 20 AND l_quantity <= 40)
    """)) { t =>
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 30) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity") >= 20 && col("l_quantity") <= 40)
      t.lineitem.join(broadcast(t.part), col("p_partkey") === col("l_partkey"))
        .filter(cond)
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"),
          count(lit(1)).as("n"))
    },

    // Flagship: TPC-H Q5 — 6-way join; dims broadcast, facts shuffle.
    Q("q_tpch_q5", Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
    """)) { t =>
      t.customer
        .join(t.orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.supplier),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
    },
  )
}
