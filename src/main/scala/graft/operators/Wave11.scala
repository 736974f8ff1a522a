package graft.operators

import graft.{Q, Tables}
import graft.sources.Layouts
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 capability wave 3 (session 3): JSON_TABLE shredding, MODE
  * and higher-moment aggregates, small-files compaction, CDC snapshot
  * diff, SCD2 point-in-time join, mixed-format union, dynamic
  * partition overwrite, dynamic pivot, and the declarative
  * data-quality suite.
  */
object Wave11 {

  val all: Seq[Q] = Seq(

    // JSON_TABLE — the JSON→relational bridge (reference JSON path
    // machinery: expression/builtin_json.go:168 ParseJSONPathExpr;
    // MySQL-family JSON_TABLE
    // semantics: one row per array element, path-projected columns,
    // FOR ORDINALITY position). This is also the jsonl ingest shape
    // every training-data pipeline starts from: a document that
    // carries a nested array of records, shredded back to one row per
    // record. Round trip proves both directions: JSON_ARRAYAGG-style
    // nesting (array_sort(collect_list(struct)) → to_json — the sort
    // makes the serialized doc deterministic under any row order) and
    // the shred (from_json with an explicit array schema → posexplode,
    // Spark's native JSON_TABLE). Scale: nesting shuffles each event
    // exactly once on user_id; the shred is pure map-side over the doc
    // column — a billion jsonl docs shred with zero exchanges. The
    // oracle is the identity round trip: the original rows with their
    // per-user ordinal.
    Q("q_json_table", Some("""
      SELECT user_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS INT) AS ord,
             event_id, event_type, value
      FROM events WHERE user_id < 40
    """)) { t =>
      val elem = StructType(Seq(
        StructField("ts", StringType), StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val docs = t.events.filter(col("user_id") < 40)
        .groupBy("user_id")
        .agg(to_json(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))))).as("doc"))
      docs
        .select(col("user_id"),
          posexplode(from_json(col("doc"), ArrayType(elem))))
        .select(col("user_id"), (col("pos") + 1).cast("int").as("ord"),
          col("col.event_id").as("event_id"),
          col("col.event_type").as("event_type"),
          col("col.value").as("value"))
    },

    // MODE aggregate — most frequent value per group (aggfuncs
    // family: executor/aggfuncs/builder.go:391 builds maxMin-style
    // extremes; MySQL users emulate MODE with the same count+rank). Two
    // map-combined aggregations: (group, value) counts, then a
    // per-group argmin over (-count, value) — the smallest-value
    // tie-break makes the answer deterministic on both engines, and
    // a hot group costs map-side partials, never a window sort over
    // raw rows.
    Q("q_agg_mode", Some("""
      WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
                 FROM events GROUP BY user_id, event_type)
      SELECT user_id, event_type AS mode_type, cnt AS mode_n FROM (
        SELECT user_id, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type) AS rn
        FROM c) t
      WHERE rn = 1
    """)) { t =>
      t.events.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(expr("min_by(event_type, struct(-cnt, event_type))")
          .as("mode_type"),
          expr("min_by(cnt, struct(-cnt, event_type))").as("mode_n"))
    },

    // COMPACTION — the OPTIMIZE/small-files rewrite every warehouse
    // runs nightly (streaming ingest and fine partitioning leave
    // thousands of tiny files; scan cost is per-file, not per-byte).
    // Stage a deliberately over-split copy (32 files), compact to 2
    // via a repartition rewrite, and SERVE FROM THE COMPACTED LAYOUT
    // — the oracle reads the source table, so the hash compare is
    // the lossless-rewrite proof, and the spec asserts the file-count
    // collapse. At 100 TB this is the same plan per partition-dir
    // (compact within partitions, maxRecordsPerFile sizing).
    Q("q_compact", Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(l_extendedprice AS DOUBLE) AS price
      FROM lineitem WHERE l_orderkey < 3000
    """)) { t =>
      val spark = t.spark
      val sel = t.lineitem.filter(col("l_orderkey") < 3000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice").cast("double").as("price"))
      val base = Layouts.root("compact", t.dir)
      sel.repartition(32).write.mode("overwrite").parquet(s"$base/small")
      spark.read.parquet(s"$base/small")
        .repartition(2)
        .write.mode("overwrite").parquet(s"$base/compacted")
      spark.read.parquet(s"$base/compacted")
    },

    // HIGHER-MOMENT aggregates — skewness + excess kurtosis per
    // group (the distribution-shape card beside q_agg_stats'
    // mean/stddev — reference variance family:
    // executor/aggfuncs/builder.go:593-595 varPop/stddevSamp — the
    // 3rd/4th moments complete it: is value heavy-tailed?). Engines
    // disagree on bias corrections (Spark is population-form, DuckDB
    // sample-form), so BOTH sides state the raw-power-sum arithmetic
    // explicitly — μk from E[x^k], one map-combined aggregation, and
    // the spec pins the explicit form against Spark's own builtins.
    Q("q_agg_moments", Some("""
      WITH s AS (SELECT event_type, COUNT(*) AS n, AVG(value) AS m,
                        AVG(value*value) AS m2r,
                        AVG(value*value*value) AS m3r,
                        AVG(value*value*value*value) AS m4r
                 FROM events GROUP BY event_type)
      SELECT event_type, n,
             ROUND((m3r - 3*m*m2r + 2*m*m*m)
                   / POWER(m2r - m*m, 1.5), 4) AS skew,
             ROUND((m4r - 4*m*m3r + 6*m*m*m2r - 3*POWER(m, 4))
                   / POWER(m2r - m*m, 2) - 3, 4) AS kurt
      FROM s
    """)) { t =>
      val v = col("value")
      val s = t.events.groupBy("event_type")
        .agg(count(lit(1)).as("n"), avg(v).as("m"),
          avg(v * v).as("m2r"), avg(v * v * v).as("m3r"),
          avg(v * v * v * v).as("m4r"))
      val mu2 = col("m2r") - col("m") * col("m")
      val mu3 = col("m3r") - lit(3) * col("m") * col("m2r") +
        lit(2) * col("m") * col("m") * col("m")
      val mu4 = col("m4r") - lit(4) * col("m") * col("m3r") +
        lit(6) * col("m") * col("m") * col("m2r") -
        lit(3) * pow(col("m"), 4)
      s.select(col("event_type"), col("n"),
        round(mu3 / pow(mu2, 1.5), 4).as("skew"),
        round(mu4 / pow(mu2, 2) - 3, 4).as("kurt"))
    },

    // DYNAMIC PIVOT — q_pivot with the spread columns DISCOVERED at
    // runtime (the real-world shape: nobody hardcodes the category
    // list). Two phases: one tiny distinct scan collects the value
    // set to the driver (O(|categories|), the same contract as the
    // graph loops' scalars), then the standard pivot runs with the
    // explicit list — which also keeps Spark's pivot OFF its own
    // hidden collect path and the plan a single map-combined
    // aggregate. The oracle states the discovered columns literally.
    Q("q_pivot_dynamic", Some("""
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
      FROM events GROUP BY user_id
    """)) { t =>
      val cats = t.events.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted
      t.events.groupBy("user_id")
        .pivot("event_type", cats.toSeq)
        .agg(count(lit(1)))
        .na.fill(0L, cats.toSeq)
    },

    // DATA-QUALITY VALIDATION SUITE (the Deequ/dbt-test shape; the
    // reference's ADMIN CHECK family generalized to declarative
    // rules): completeness, range, referential integrity, key
    // uniqueness, sign — each rule one aggregate/anti-join over the
    // fact, results unioned into the quality report every ingest
    // gate reads. Scale: every rule is map-combined or a broadcast
    // anti join; the report is |rules| rows. A 100 TB ingest runs
    // exactly this before publishing a partition.
    Q("q_data_quality", Some("""
      SELECT 'ship_date_complete' AS rule,
             CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS violations,
             COUNT(*) AS total FROM lineitem
      UNION ALL
      SELECT 'discount_in_range',
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                           THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(*) FROM lineitem
      UNION ALL
      SELECT 'orders_customer_fk',
             CAST(COUNT(*) FILTER (c_custkey IS NULL) AS BIGINT),
             COUNT(*)
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      UNION ALL
      SELECT 'lineitem_pk_unique',
             CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT),
             CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
      FROM (SELECT COUNT(*) AS cnt FROM lineitem
            GROUP BY l_orderkey, l_linenumber) g
      UNION ALL
      SELECT 'quantity_positive',
             CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
             COUNT(*) FROM lineitem
    """)) { t =>
      def rule(name: String, viol: Column, total: Column,
          src: org.apache.spark.sql.DataFrame) =
        src.agg(viol.as("violations"), total.as("total"))
          .select(lit(name).as("rule"), col("violations"), col("total"))
      val li = t.lineitem
      val fk = t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"), "left")
      val pk = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("cnt"))
      rule("ship_date_complete",
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)),
          count(lit(1)), li)
        .unionAll(rule("discount_in_range",
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)), count(lit(1)), li))
        .unionAll(rule("orders_customer_fk",
          count(when(col("c_custkey").isNull, 1L)), count(lit(1)), fk))
        .unionAll(rule("lineitem_pk_unique",
          coalesce(sum(col("cnt") - 1), lit(0L)),
          coalesce(sum(col("cnt")), lit(0L)), pk))
        .unionAll(rule("quantity_positive",
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)),
          count(lit(1)), li))
    },

    // MIXED-FORMAT UNION — one logical table spanning parquet + ORC
    // + CSV generations (every format migration lives through this:
    // old partitions in the old format, new in the new, queries see
    // ONE table). Three deterministic key slices staged in three
    // formats, read back with explicit schemas and unioned; the
    // oracle reads the source table, so hash equality proves the
    // union loses nothing and each format leg round-trips its slice.
    // Per-leg pruning/pushdown still applies at scale (each leg is a
    // plain format scan under the union).
    Q("q_format_union", Some("""
      SELECT c_custkey, c_name, c_nationkey,
             CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer
    """)) { t =>
      val spark = t.spark
      val sel = t.customer.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal").cast("double").as("bal"))
      val base = Layouts.root("mixfmt", t.dir)
      sel.filter(col("c_custkey") % 3 === 0)
        .write.mode("overwrite").parquet(s"$base/parquet")
      sel.filter(col("c_custkey") % 3 === 1)
        .write.mode("overwrite").orc(s"$base/orc")
      sel.filter(col("c_custkey") % 3 === 2)
        .write.mode("overwrite").option("header", "true")
        .csv(s"$base/csv")
      val schema = "c_custkey bigint, c_name string, c_nationkey bigint, bal double"
      spark.read.parquet(s"$base/parquet")
        .unionByName(spark.read.orc(s"$base/orc"))
        .unionByName(spark.read.schema(schema)
          .option("header", "true").csv(s"$base/csv"))
    },

    // DYNAMIC PARTITION OVERWRITE — the idempotent backfill write
    // (re-run yesterday's batch: ONLY the partitions present in the
    // batch are replaced; untouched history survives). Stages a
    // year-partitioned copy, overwrites 1996 with corrected rows
    // under partitionOverwriteMode=dynamic, serves the result; the
    // oracle states base-minus-1996 ∪ corrected-1996, so the hash
    // compare proves surgical replacement. The same write is how a
    // 100 TB fact table takes daily corrections without rewriting
    // the table (partition dirs = the unit of idempotency).
    Q("q_dynamic_overwrite", Some("""
      SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS yr,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE YEAR(o_orderdate) <> 1996
      UNION ALL
      SELECT o_orderkey, 1996 AS yr,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST(0.07 AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE YEAR(o_orderdate) = 1996
    """)) { t =>
      val spark = t.spark
      val base = Layouts.root("dynover", t.dir)
      val sel = t.orders.select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      sel.write.mode("overwrite").partitionBy("yr").parquet(base)
      // Cast back to the fact's decimal(18,2): the addition widens to
      // decimal(19,2), and a partition written with a widened type
      // makes the mixed-schema read of the whole fact fail. (Latent
      // until r12: the correction year previously matched zero rows,
      // so the overwrite never actually ran.)
      val corrected = sel.filter(col("yr") === 1996)
        .withColumn("price", (col("price") + lit(BigDecimal("0.07")))
          .cast("decimal(18,2)"))
      val prev = spark.conf
        .getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try corrected.write.mode("overwrite").partitionBy("yr").parquet(base)
      finally prev match {
        case Some(v) => spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf
          .unset("spark.sql.sources.partitionOverwriteMode")
      }
      spark.read.parquet(base)
        .select(col("o_orderkey"), col("yr"),
          col("price").cast("double").as("price"))
    },

    // SCD2 POINT-IN-TIME join — the slowly-changing-dimension
    // warehouse staple: facts join the dimension version that was
    // valid WHEN THE FACT HAPPENED (as-of semantics on a versioned
    // dim). The dim history is derived deterministically (v1 until
    // 1995-06-30, v2 after, segment upgraded for ≡0 mod 4 keys) so
    // both engines state identical versions. The join keys on
    // custkey with the validity range as a residual predicate —
    // Catalyst plans a HASH join (equality key) with the range as a
    // post-join filter, never a range-only nested loop; versions per
    // key are O(few), so fact rows fan out by ~1 before the filter.
    Q("q_scd2_join", Some("""
      WITH dim AS (
        SELECT c_custkey, c_mktsegment AS seg,
               DATE '1992-01-01' AS vfrom, DATE '1995-06-30' AS vto
        FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 4 = 0 THEN 'UPGRADED'
                    ELSE c_mktsegment END AS seg,
               DATE '1995-07-01', DATE '9999-12-31'
        FROM customer)
      SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, dim.seg,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders JOIN dim
        ON orders.o_custkey = dim.c_custkey
       AND orders.o_orderdate BETWEEN dim.vfrom AND dim.vto
      GROUP BY 1, 2
    """)) { t =>
      val c = t.customer
      val v1 = c.select(col("c_custkey"), col("c_mktsegment").as("seg"),
        lit("1992-01-01").cast("date").as("vfrom"),
        lit("1995-06-30").cast("date").as("vto"))
      val v2 = c.select(col("c_custkey"),
        when(col("c_custkey") % 4 === 0, "UPGRADED")
          .otherwise(col("c_mktsegment")).as("seg"),
        lit("1995-07-01").cast("date").as("vfrom"),
        lit("9999-12-31").cast("date").as("vto"))
      val dim = v1.union(v2)
      t.orders.join(dim, col("o_custkey") === col("c_custkey") &&
          col("o_orderdate").between(col("vfrom"), col("vto")))
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"), col("seg"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("revenue"))
    },

    // SNAPSHOT DIFF — the CDC READ leg (executor/change.go:29
    // ChangeExec feed shape): diff two table versions into
    // INSERT/UPDATE/DELETE
    // change rows. ONE co-partitioned full-outer join on the key;
    // the change type is a null-pattern CASE, value deltas are
    // decimal-exact. Versions are derived deterministically from the
    // base table (v1 = keys not ≡0 mod 7 with original price; v2 =
    // keys not ≡0 mod 11 with every ≡0-mod-5 price bumped) so both
    // engines state the identical diff.
    Q("q_snapshot_diff", Some("""
      WITH v1 AS (SELECT o_orderkey AS k,
                         CAST(o_totalprice AS DECIMAL(18,2)) AS val
                  FROM orders WHERE o_orderkey % 7 <> 0),
      v2 AS (SELECT o_orderkey AS k,
                    CAST(o_totalprice AS DECIMAL(18,2))
                      + CASE WHEN o_orderkey % 5 = 0
                             THEN CAST(1.50 AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END AS val
             FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT COALESCE(v1.k, v2.k) AS k,
             CASE WHEN v1.k IS NULL THEN 'INSERT'
                  WHEN v2.k IS NULL THEN 'DELETE'
                  ELSE 'UPDATE' END AS op,
             CAST(v1.val AS DOUBLE) AS old_val,
             CAST(v2.val AS DOUBLE) AS new_val
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
      WHERE v1.k IS NULL OR v2.k IS NULL OR v1.val <> v2.val
    """)) { t =>
      val base = t.orders.select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("val"))
      val v1 = base.filter(col("k") % 7 =!= 0)
      val v2 = base.filter(col("k") % 11 =!= 0)
        .select(col("k"), (col("val") +
          when(col("k") % 5 === 0, lit(BigDecimal("1.50")))
            .otherwise(lit(BigDecimal(0)))).as("val"))
      v1.as("a").join(v2.as("b"), expr("a.k = b.k"), "full_outer")
        .filter(col("a.k").isNull || col("b.k").isNull ||
          col("a.val") =!= col("b.val"))
        .select(coalesce(col("a.k"), col("b.k")).as("k"),
          when(col("a.k").isNull, "INSERT")
            .when(col("b.k").isNull, "DELETE")
            .otherwise("UPDATE").as("op"),
          col("a.val").cast("double").as("old_val"),
          col("b.val").cast("double").as("new_val"))
    },
  )
}
