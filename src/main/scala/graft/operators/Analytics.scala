package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Statistical aggregates wave 2 + lateral (per-row correlated)
  * joins — the TiDB aggfuncs families and Apply operator shapes not
  * yet covered (reference: /root/reference/executor/aggfuncs/,
  * executor/join.go Apply → decorrelation in
  * planner/core/rule_decorrelate.go).
  */
object Analytics {

  val all: Seq[Q] = Seq(

    // Correlation / covariance / mode / boolean aggs / count_if.
    // mode() ties are broken low on both engines: Spark via
    // mode(col, deterministic = true); DuckDB via an explicit
    // min-of-max-frequency CTE (its bare mode() is tie-arbitrary).
    Q("q_agg_stats2", Some("""
      WITH freq AS (
        SELECT l_returnflag, l_linenumber, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
      ), pinned_mode AS (
        SELECT l_returnflag, MIN(l_linenumber) AS mode_line
        FROM (SELECT *, MAX(c) OVER (PARTITION BY l_returnflag) AS mc
              FROM freq) f
        WHERE c = mc GROUP BY 1
      )
      SELECT a.l_returnflag,
             ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
             ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar_p,
             ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar_s,
             CAST(MIN(m.mode_line) AS INT) AS mode_line,
             CAST(bool_and(l_quantity > 0) AS INT) AS all_pos,
             CAST(bool_or(l_discount > 0.09) AS INT) AS any_deep_disc,
             CAST(count_if(l_tax > 0.04) AS BIGINT) AS n_high_tax
      FROM lineitem a JOIN pinned_mode m ON a.l_returnflag = m.l_returnflag
      GROUP BY a.l_returnflag
    """)) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qty_price_corr"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qp_covar_p"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qp_covar_s"),
        mode(col("l_linenumber"), deterministic = true).cast("int")
          .as("mode_line"),
        bool_and(col("l_quantity") > 0).cast("int").as("all_pos"),
        bool_or(col("l_discount") > 0.09).cast("int").as("any_deep_disc"),
        count_if(col("l_tax") > 0.04).as("n_high_tax"))
    },

    // IGNORE NULLS window offsets (window.go lead/lag/nth with the
    // MySQL 8 ignore-nulls extension): previous / next / second
    // non-null click value around every event — the sparse-signal
    // carry-forward idiom (sensor gaps, sparse prices) without
    // gap-fill materialization. Unique (ts, event_id) ordering makes
    // the default RANGE frame row-equivalent on both engines.
    Q("q_window_ignorenulls", Some("""
      SELECT event_id, user_id,
             LAG(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER w AS prev_click,
             LEAD(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER w AS next_click,
             NTH_VALUE(CASE WHEN event_type = 'click' THEN value END,
                       2 IGNORE NULLS) OVER w AS second_click
      FROM events WHERE event_id < 2000
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val clickVal = when(col("event_type") === "click", col("value"))
      t.events.filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"),
          lag(clickVal, 1, null, ignoreNulls = true).over(w)
            .as("prev_click"),
          lead(clickVal, 1, null, ignoreNulls = true).over(w)
            .as("next_click"),
          nth_value(clickVal, 2, ignoreNulls = true).over(w)
            .as("second_click"))
    },

    // MERGEABLE sketch serving (reference: statistics/cmsketch.go +
    // histogram merge paths — TiDB stores per-region sketches and
    // merges them at query time): distinct users per event type
    // computed by building one Datasketches-HLL PER DAY and UNIONing
    // the day sketches — the pre-aggregated serving layout where a
    // dashboard reads |days| tiny binary blobs instead of rescanning
    // events, and any date range is a sketch union. Sketch binaries
    // are engine-specific → rows-only; the spec pins estimates within
    // 5% of exact and checks union-vs-direct consistency.
    Q("q_agg_sketch_merge", None) { t =>
      val daily = t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"))
      daily.groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
            .as("approx_users"),
          count(lit(1)).as("n_days"),
          sum(col("n_events")).as("n_events"))
    },

    // Linear-regression aggregate family (SQL:2003 REGR_*): slope /
    // intercept / R² / count of price-on-quantity per return flag —
    // the in-database modeling primitives (trend fits, anomaly
    // baselines) that run as ONE map-side-combined pass exactly like
    // corr/covar (each is algebra over the same five moment sums).
    // 4dp rounding absorbs cross-engine float summation order, as in
    // q_agg_stats2.
    Q("q_agg_regr", Some("""
      SELECT l_returnflag,
             ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
             ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             ROUND(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
             ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
      FROM lineitem GROUP BY l_returnflag
    """)) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("icept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4)
          .as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4)
          .as("avgx"),
        round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 4)
          .as("avgy"))
    },

    // LATERAL correlated subquery with per-row TopN (the Apply
    // operator): first two line items of each high-value order.
    // Catalyst decorrelates the LIMIT into a ranked window join —
    // asserted in PlanShapeSpec — so nothing executes per-row.
    Q("q_lateral", Some("""
      SELECT o.o_orderkey, o.o_totalprice, l.lk, l.lq
      FROM orders o,
      LATERAL (SELECT l_linenumber AS lk, l_quantity AS lq
               FROM lineitem
               WHERE l_orderkey = o.o_orderkey
               ORDER BY l_linenumber, l_quantity, l_extendedprice LIMIT 2) l
      WHERE o.o_totalprice > 400000
    """)) { t =>
      t.sql("""
        SELECT o.o_orderkey, o.o_totalprice, l.lk, l.lq
        FROM orders o,
        LATERAL (SELECT l_linenumber AS lk, l_quantity AS lq
                 FROM lineitem
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice LIMIT 2) l
        WHERE o.o_totalprice > 400000
      """, "orders", "lineitem")
    },

    // INTERSECT ALL / EXCEPT ALL (multiset set ops — TiDB setops
    // keep duplicates under ALL).
    Q("q_setops_all", Some("""
      SELECT src, l_partkey FROM (
        SELECT 'i' AS src, l_partkey FROM
          (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
           INTERSECT ALL
           SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
        UNION ALL
        SELECT 'e' AS src, l_partkey FROM
          (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
           EXCEPT ALL
           SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')) u
      WHERE l_partkey < 200
    """)) { t =>
      val r = t.lineitem.filter(col("l_returnflag") === "R")
        .select("l_partkey")
      val a = t.lineitem.filter(col("l_returnflag") === "A")
        .select("l_partkey")
      r.intersectAll(a).select(lit("i").as("src"), col("l_partkey"))
        .union(
          r.exceptAll(a).select(lit("e").as("src"), col("l_partkey")))
        .filter(col("l_partkey") < 200)
    },

    // FILTER-clause aggregates (conditional aggregation without
    // CASE-NULL wrapping) + any_value on a constant-per-group column.
    Q("q_agg_filter", Some("""
      SELECT l_returnflag,
             COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev,
             CAST(MAX(l_quantity) FILTER (WHERE l_tax < 0.03) AS DOUBLE) AS max_lowtax_qty,
             ANY_VALUE(SUBSTR(l_returnflag, 1, 1)) AS flag_pfx,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    """)) { t =>
      t.sql("""
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev,
               CAST(MAX(l_quantity) FILTER (WHERE l_tax < 0.03) AS DOUBLE) AS max_lowtax_qty,
               ANY_VALUE(SUBSTR(l_returnflag, 1, 1)) AS flag_pfx,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
      """, "lineitem")
    },

    // Struct construction + JSON rendering + field access — the
    // nested-type surface (TiDB renders via its JSON binary format;
    // both engines print identical JSON text for structs).
    Q("q_func_struct", Some("""
      SELECT o_orderkey,
             to_json(struct_pack(k := o_orderkey, p := o_orderpriority,
                                 t := CAST(ROUND(o_totalprice) AS BIGINT))) AS js,
             struct_pack(a := o_custkey, b := o_orderstatus).a AS s_a,
             struct_pack(a := o_custkey, b := o_orderstatus).b AS s_b
      FROM orders WHERE o_orderkey < 400
    """)) { t =>
      t.orders.filter(col("o_orderkey") < 400)
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey").as("k"),
            col("o_orderpriority").as("p"),
            round(col("o_totalprice"), 0).cast("bigint").as("t")))
            .as("js"),
          struct(col("o_custkey").as("a"), col("o_orderstatus").as("b"))
            .getField("a").as("s_a"),
          struct(col("o_custkey").as("a"), col("o_orderstatus").as("b"))
            .getField("b").as("s_b"))
    },

    // Value-RANGE window frame over TIMESTAMPS (window.go range
    // frames): per user, events and spend inside the trailing hour.
    Q("q_window_timerange", Some("""
      SELECT event_id, user_id, ts,
             COUNT(*) OVER w AS n_last_hour,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_last_hour
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """)) { t =>
      t.sql("""
        SELECT event_id, user_id, ts,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      """, "events")
    },

    // Equi-width + equi-depth histogram sketch (reference: TiDB's
    // statistics histograms, statistics/histogram.go — bucket counts,
    // bounds and per-bucket NDV drive its cost-based planner). The
    // width buckets use identical FLOOR arithmetic on both engines
    // and are one map-side-combined pass over the full table. The
    // depth buckets are built the way TiDB builds them at scale
    // (statistics/builder.go): over a SIZE-BOUNDED sample, because
    // exact equi-depth needs a global sort. The sampler is bottom-k
    // by a deterministic LCG pseudo-hash of the row key — per-
    // partition top-k + merge (TakeOrderedAndProject), so the global
    // pass is O(k) regardless of table size; a RATE-based sample
    // (the round-3 shape) would funnel ~5% of a 100 TB table through
    // one window partition. Both engines compute the identical sample
    // and tile arithmetic, so the result hash-matches; the NTILE
    // window's input is bounded at 2000 rows BY CONSTRUCTION, never
    // by data volume.
    Q("q_agg_histogram", Some("""
      WITH width AS (
        SELECT CAST(LEAST(FLOOR(l_extendedprice / 11000.0), 9) AS INT)
                 AS bucket,
               COUNT(*) AS n,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv,
               ROUND(MIN(l_extendedprice), 2) AS lo,
               ROUND(MAX(l_extendedprice), 2) AS hi
        FROM lineitem GROUP BY 1),
      sample AS (
        SELECT l_extendedprice, l_partkey, l_orderkey, l_linenumber
        FROM lineitem
        ORDER BY (l_orderkey * 1103515245 + l_linenumber * 12345)
                   % 1000000007,
                 l_orderkey, l_linenumber
        LIMIT 2000),
      depth AS (
        SELECT CAST(tile - 1 AS INT) AS bucket, COUNT(*) AS n,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv,
               ROUND(MIN(l_extendedprice), 2) AS lo,
               ROUND(MAX(l_extendedprice), 2) AS hi
        FROM (SELECT l_extendedprice, l_partkey,
                     NTILE(10) OVER (ORDER BY l_extendedprice,
                                     l_orderkey, l_linenumber) AS tile
              FROM sample) x
        GROUP BY 1)
      SELECT 'width' AS kind, * FROM width
      UNION ALL
      SELECT 'depth' AS kind, * FROM depth
    """)) { t =>
      val width = t.lineitem
        .groupBy(least(floor(col("l_extendedprice") / 11000.0), lit(9))
          .cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("ndv"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .select(lit("width").as("kind"), col("*"))
      // Deterministic bottom-k sample: LCG pseudo-hash (plain BIGINT
      // arithmetic both engines reproduce) with the unique row key as
      // tie-break, so LIMIT picks the identical 2000 rows everywhere.
      val h = (col("l_orderkey") * lit(1103515245L)
        + col("l_linenumber") * lit(12345L)) % lit(1000000007L)
      val sample = t.lineitem
        .select(col("l_extendedprice"), col("l_partkey"),
          col("l_orderkey"), col("l_linenumber"), h.as("__h"))
        .orderBy(col("__h"), col("l_orderkey"), col("l_linenumber"))
        .limit(2000)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))
      val depth = sample
        .select(col("l_extendedprice"), col("l_partkey"),
          ntile(10).over(w).as("tile"))
        .groupBy((col("tile") - 1).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("ndv"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .select(lit("depth").as("kind"), col("*"))
      width.union(depth)
    },

    // Window over an aggregate (the classic month-over-month report:
    // GROUP BY feeds running totals and deltas — TiDB plans the same
    // HashAgg → Window pipeline). The window runs over the ~24-row
    // aggregate, not the fact table, so the single-partition window
    // is bounded by the group count, not data volume.
    Q("q_window_over_agg", Some("""
      WITH m AS (
        SELECT CAST(YEAR(o_orderdate) AS INT) AS y,
               CAST(MONTH(o_orderdate) AS INT) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sales,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2)
      SELECT y, m, sales, n_orders,
             CAST(SUM(CAST(sales AS DECIMAL(18,2)))
               OVER (ORDER BY y, m) AS DOUBLE) AS cum_sales,
             ROUND(sales - LAG(sales) OVER (ORDER BY y, m), 2) AS mom_delta
      FROM m
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val m = t.orders
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(sum(Exact.dec2(col("o_totalprice"))).cast("double").as("sales"),
          count(lit(1)).as("n_orders"))
      val w = Window.orderBy(col("y"), col("m"))
      m.select(col("y"), col("m"), col("sales"), col("n_orders"),
        sum(Exact.dec2(col("sales"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("cum_sales"),
        round(col("sales") - lag(col("sales"), 1).over(w), 2)
          .as("mom_delta"))
    },

    // UNPIVOT — the inverse of q_pivot's wide conditional aggregation
    // (relational completeness: melt a wide per-status table back to
    // long form; Spark's Dataset.unpivot / SQL UNPIVOT vs DuckDB's
    // UNPIVOT clause). Every (flag, status) pair exists in the data so
    // null-dropping semantics can't diverge.
    Q("q_unpivot", Some("""
      WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
               CAST(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, l_linestatus, sum_qty
      FROM wide UNPIVOT (sum_qty FOR l_linestatus IN (F, O))
    """)) { t =>
      val wide = t.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(Exact.dec2(col("l_quantity"))).cast("double"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("F"), col("O")), "l_linestatus", "sum_qty")
    },

    // approx_percentile (reference: executor/aggfuncs/
    // func_percentile.go + the approx family) — the mergeable
    // quantile sketch users reach for first at 100 TB, where the
    // exact percentile's global sort-ish agg is the bottleneck.
    // Sketch internals are engine-specific → rows-only here;
    // RegistrySpec pins every estimate inside a tight relative-error
    // band around the exact percentile.
    Q("q_agg_approxpct", None) { t =>
      t.lineitem.groupBy("l_returnflag").agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("ap50"),
        approx_percentile(col("l_extendedprice"), lit(0.95), lit(10000))
          .as("ap95"),
        approx_percentile(col("l_extendedprice"), lit(0.99), lit(10000))
          .as("ap99"),
        count(lit(1)).as("n_rows"))
    },
  )
}
