package graft.operators

import graft.{Q, Tables}
import graft.functions.Sketches
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 capability wave: partition-pruned fact scans, collation-
  * aware string semantics, timezone conversion, encryption wave 2,
  * and frequency-sketch heavy hitters.
  */
object Wave4 {

  val all: Seq[Q] = Seq(

    // Partitioned fact table with BOTH pruning modes the reference
    // implements (planner/core/rule_partition_processor.go static
    // prune, planner/core/partition_prune.go + runtime dynamic prune):
    // lineitem lives ship-month-partitioned (sources/PartitionedFact),
    // the BETWEEN on the partition column prunes directories at plan
    // time (PartitionFilters on the scan), and the join against the
    // urgent-months dim injects a dynamicpruning subquery that narrows
    // the scan to the months the dim actually produces — at 100 TB
    // this is the difference between scanning 7 years and reading 6
    // directories. Plan-asserted in PlanShapeSpec.
    Q("q_scan_partition", Some("""
      WITH f AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS shipmonth,
               l_extendedprice, l_discount
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12'),
      m AS (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS shipmonth
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-06')
      SELECT f.shipmonth AS shipmonth, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM f JOIN m ON f.shipmonth = m.shipmonth
      GROUP BY f.shipmonth
    """)) { t =>
      val fact = graft.sources.PartitionedFact
        .lineitemByShipMonth(t.spark, t.dir)
      val months = t.orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("shipmonth"))
        .filter(col("shipmonth").between("1996-01", "1996-06"))
        .distinct()
      fact
        .filter(col("shipmonth").between("1996-01", "1996-12"))
        .join(months, "shipmonth")
        .groupBy("shipmonth")
        .agg(count(lit(1)).as("n"),
          Exact.sumProd2(col("l_extendedprice"), lit(1) - col("l_discount"))
            .as("revenue"))
    },

    // Collation-aware compare/group (reference:
    // expression/collation.go + charset/ — per-column collations make
    // comparisons, GROUP BY and ORDER BY case-insensitive across the
    // MySQL surface). Spark 4's native collation support
    // (collate(col, 'UTF8_LCASE')) pushes the case-insensitive
    // equality into the hash-aggregate/compare machinery itself — no
    // lower() rewrite materializes a second column at 100 TB. The
    // DuckDB oracle pins the same semantics with lower() (its ICU
    // collations cannot be applied per-expression the same way).
    Q("q_func_collate", Some("""
      WITH m AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment)
                    ELSE LOWER(c_mktsegment) END AS seg,
               c_acctbal
        FROM customer)
      SELECT LOWER(seg) AS seg, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM m
      WHERE LOWER(seg) <> 'machinery'
      GROUP BY LOWER(seg)
    """)) { t =>
      val mixed = when(col("c_custkey") % 2 === 0,
        upper(col("c_mktsegment"))).otherwise(lower(col("c_mktsegment")))
      t.customer
        .select(mixed.as("seg"), col("c_acctbal"))
        // Case-insensitive predicate AND grouping ride the collation;
        // the mixed-case groups ('BUILDING'/'building') merge without
        // any lower() projection in the aggregation key.
        .filter(collate(col("seg"), "UTF8_LCASE") =!= lit("MACHINERY"))
        .groupBy(collate(col("seg"), "UTF8_LCASE").as("k"))
        .agg(min(lower(col("seg"))).as("seg"), count(lit(1)).as("n"),
          sum(Exact.dec2(col("c_acctbal"))).cast("double").as("bal"))
        .select("seg", "n", "bal")
    },

    // Timezone conversion (reference: expression/builtin_time.go
    // CONVERT_TZ + time-zone-aware arithmetic). Directions are chosen
    // so no DST ambiguity exists on either engine: instant → local is
    // total (America/New_York crossing DST both ways), local → UTC
    // uses a zone without DST (Asia/Tokyo). The DuckDB twins are the
    // session-tz-independent double AT TIME ZONE chains.
    Q("q_func_tz", Some("""
      SELECT event_id,
             (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
               AS ny_local,
             CAST(EXTRACT(hour FROM (ts AT TIME ZONE 'UTC')
                            AT TIME ZONE 'America/New_York') AS INT)
               AS ny_hour,
             CAST(DATE_TRUNC('day', (ts AT TIME ZONE 'UTC')
                            AT TIME ZONE 'America/New_York') AS TIMESTAMP)
               AS ny_day,
             (ts AT TIME ZONE 'Asia/Tokyo') AT TIME ZONE 'UTC'
               AS tokyo_as_utc
      FROM events WHERE user_id < 5
    """)) { t =>
      val ny = from_utc_timestamp(col("ts"), "America/New_York")
      t.events.filter(col("user_id") < 5)
        .select(col("event_id"),
          ny.as("ny_local"),
          hour(ny).cast("int").as("ny_hour"),
          date_trunc("DAY", ny).as("ny_day"),
          to_utc_timestamp(col("ts"), "Asia/Tokyo").as("tokyo_as_utc"))
    },

    // Encryption wave 2 (reference: expression/builtin_encryption.go
    // AES_ENCRYPT/AES_DECRYPT, TO_BASE64/FROM_BASE64, salted digests).
    // AES ciphertext is not reproducible in DuckDB, so the oracle pins
    // the round trip (decrypt∘encrypt = identity) — GCM exercises the
    // authenticated random-IV path, ECB the deterministic one. All
    // expressions are Spark builtins, codegen'd, map-side.
    Q("q_func_crypto2", Some("""
      SELECT c_custkey,
             base64(CAST(c_name AS BLOB)) AS b64,
             CAST(from_base64(base64(CAST(c_name AS BLOB))) AS VARCHAR)
               AS b64_rt,
             c_name AS aes_gcm_rt,
             c_name AS aes_ecb_rt,
             MD5(c_name || ':' || CAST(c_custkey AS VARCHAR)) AS salted
      FROM customer WHERE c_custkey < 100
    """)) { t =>
      val key = "0123456789abcdef"
      t.customer.filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          base64(col("c_name").cast("binary")).as("b64"),
          unbase64(base64(col("c_name").cast("binary"))).cast("string")
            .as("b64_rt"),
          expr(s"CAST(aes_decrypt(aes_encrypt(CAST(c_name AS BINARY), " +
            s"'$key', 'GCM'), '$key', 'GCM') AS STRING)").as("aes_gcm_rt"),
          expr(s"CAST(aes_decrypt(aes_encrypt(CAST(c_name AS BINARY), " +
            s"'$key', 'ECB'), '$key', 'ECB') AS STRING)").as("aes_ecb_rt"),
          md5(concat(col("c_name"), lit(":"),
            col("c_custkey").cast("string")).cast("binary")).as("salted"))
    },

    // Table checksum (reference: executor/checksum.go — ADMIN
    // CHECKSUM TABLE folds every row into one order-independent
    // digest for cross-store consistency checks; the same op
    // validates a migrated/replicated 100 TB table here). Per row:
    // md5 over the pipe-joined business key + 2dp money rendering
    // (identical string on both engines), top 60 bits as a BIGINT,
    // BIT_XOR-folded — commutative, so it map-side combines and never
    // sorts; one scan per table.
    Q("q_table_checksum", Some("""
      SELECT 'lineitem' AS tbl, COUNT(*) AS n_rows,
             BIT_XOR(CAST(('0x' || substr(MD5(CONCAT_WS('|',
               l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR))),
               1, 15)) AS BIGINT)) AS checksum
      FROM lineitem
      UNION ALL
      SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
             BIT_XOR(CAST(('0x' || substr(MD5(CONCAT_WS('|',
               o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))),
               1, 15)) AS BIGINT)) AS checksum
      FROM orders
    """)) { t =>
      val li = t.lineitem
        .select(conv(substring(md5(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"),
            Exact.dec2(col("l_extendedprice")).cast("string"))
          .cast("binary")), 1, 15), 16, 10).cast("long").as("__h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("checksum"))
        .select(lit("lineitem").as("tbl"), col("n_rows"), col("checksum"))
      val ord = t.orders
        .select(conv(substring(md5(concat_ws("|",
            col("o_orderkey"), col("o_orderstatus"),
            Exact.dec2(col("o_totalprice")).cast("string"))
          .cast("binary")), 1, 15), 16, 10).cast("long").as("__h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("checksum"))
        .select(lit("orders").as("tbl"), col("n_rows"), col("checksum"))
      li.union(ord)
    },

    // Heavy hitters via Count-Min sketch (reference:
    // statistics/cmsketch.go — TiDB keeps a CMSketch + TopN per column
    // and answers frequency questions from the sketch, never a
    // rescan). Build: one mergeable map-side-combined
    // count_min_sketch aggregate per return flag (sketch size is
    // eps/confidence-bounded — independent of fact volume). Probe:
    // the bounded supplier dim crossed with the 3 sketch rows, scored
    // by the native CmsEstimate expression, ranked top-5 per flag.
    // The fact table is scanned ONCE; estimates are engine-specific →
    // rows-only, with Wave4Spec pinning them against exact counts
    // (overestimate-only, within the eps·N bound).
    Q("q_agg_heavyhitters", None) { t =>
      val sketches = t.lineitem
        .groupBy(col("l_returnflag").as("flag"))
        .agg(expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)")
          .as("cms"))
      val candidates = t.supplier
        .select(col("s_suppkey").as("l_suppkey"))
      val w = Window.partitionBy("flag")
        .orderBy(col("est").desc, col("l_suppkey"))
      // cross join is 3 sketch rows × broadcast 100-row dim — bounded.
      sketches.crossJoin(broadcast(candidates))
        .select(col("flag"), col("l_suppkey"),
          Sketches.cmsEstimate(col("cms"), col("l_suppkey")).as("est"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },

    // TopN sketch via Spark 4's native ApproxTopK family (reference:
    // statistics/cmsketch.go TopN — TiDB stores an exact top-N list
    // ALONGSIDE the CMS; the pair q_agg_heavyhitters/q_agg_topk_sketch
    // mirrors that split). approx_top_k is mergeable (map-side
    // partials; accumulate/combine/estimate exist for persisted
    // sketch serving), needs no candidate set — the sketch itself
    // carries the items — and with maxItemsTracked >= per-key NDV its
    // counts are exact. Output re-ranked deterministically; sketch
    // internals are engine-specific → rows-only, Wave4Spec pins
    // equality with the exact top-5.
    Q("q_agg_topk_sketch", None) { t =>
      val w = Window.partitionBy("flag")
        .orderBy(col("est").desc, col("l_suppkey"))
      t.lineitem
        .groupBy(col("l_returnflag").as("flag"))
        .agg(expr("approx_top_k(l_suppkey, 5, 1000)").as("topk"))
        .select(col("flag"), explode(col("topk")).as("e"))
        .select(col("flag"), col("e.item").as("l_suppkey"),
          col("e.count").as("est"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },

    // Correlated scalar subqueries in the SELECT list (reference:
    // planner/core/rule_decorrelate.go — Apply over a per-row
    // aggregate). Catalyst decorrelates both subqueries into
    // left-outer aggregate joins — one orders scan per subquery, no
    // per-row execution, no cartesian (plan-asserted). The COUNT
    // correlation is the classic null-vs-zero trap: an orderless
    // customer must report 0, not NULL.
    Q("q_subquery_select", Some("""
      SELECT c.c_custkey, c.c_name,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders,
             CAST((SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)
                   FROM orders o
                   WHERE o.o_custkey = c.c_custkey) AS DOUBLE) AS spend
      FROM customer c WHERE c.c_custkey < 200
    """)) { t =>
      t.sql("""
        SELECT c.c_custkey, c.c_name,
               (SELECT COUNT(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               CAST((SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)
                     FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS DOUBLE) AS spend
        FROM customer c WHERE c.c_custkey < 200
      """, "customer", "orders")
    },

    // Quantified comparison `> ALL (subquery)` (reference:
    // planner/core/expression_rewriter.go rewrites ANY/ALL into
    // min/max aggregates WITH null bookkeeping). Spark has no
    // quantified-subquery syntax, so the engine runs the same
    // null-aware rewrite the reference's rewriter emits:
    //   - empty subquery  → ALL is TRUE (left-join miss keeps the row,
    //     even for NULL c_acctbal — native semantics, verified);
    //   - any NULL element → ALL is NULL unless already FALSE → drop
    //     (n_null gate; a false comparison drops the row either way);
    //   - otherwise x > MAX(non-null elements).
    // The DuckDB oracle executes the NATIVE `> ALL` form, so the
    // rewrite's full three-valued semantics are what hash-compares.
    Q("q_subquery_all", Some("""
      SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
      FROM customer c
      WHERE c_acctbal > ALL (SELECT s_acctbal FROM supplier s
                             WHERE s.s_nationkey = c.c_nationkey)
    """)) { t =>
      val natAgg = t.supplier
        .groupBy(col("s_nationkey").as("nk"))
        .agg(max(col("s_acctbal")).as("max_bal"),
          count(when(col("s_acctbal").isNull, 1)).as("n_null"))
      t.customer
        .join(broadcast(natAgg), col("c_nationkey") === col("nk"), "left")
        .filter(col("nk").isNull ||
          (col("n_null") === 0 && col("c_acctbal") > col("max_bal")))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    },

    // Higher-order array functions (reference twin: the expression
    // evaluator over JSON arrays, expression/builtin_json.go — the
    // lambda forms are how a columnar engine expresses per-element
    // logic without exploding rows). transform/filter/aggregate/
    // exists/forall all stay inside one projection — no explode, no
    // shuffle; arrays JSON-rendered for the cross-engine compare.
    Q("q_func_hof", Some("""
      WITH a AS (
        SELECT c_custkey,
               [c_custkey % 10, c_custkey % 7, c_custkey % 3] AS arr
        FROM customer WHERE c_custkey < 100)
      SELECT c_custkey,
             to_json(list_transform(arr, x -> x * 2 + 1)) AS doubled,
             to_json(list_filter(arr, x -> x % 2 = 0)) AS evens,
             CAST(list_aggregate(arr, 'sum') AS BIGINT) AS total,
             CAST(LEN(list_filter(arr, x -> x > 5)) > 0 AS INT) AS any_big,
             CAST(LEN(list_filter(arr, x -> x >= 0)) = LEN(arr) AS INT)
               AS all_nonneg
      FROM a
    """)) { t =>
      val arr = array(col("c_custkey") % 10, col("c_custkey") % 7,
        col("c_custkey") % 3)
      t.customer.filter(col("c_custkey") < 100)
        .select(col("c_custkey"), arr.as("arr"))
        .select(col("c_custkey"),
          to_json(transform(col("arr"), x => x * 2 + 1)).as("doubled"),
          to_json(filter(col("arr"), x => x % 2 === 0)).as("evens"),
          aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("total"),
          exists(col("arr"), x => x > 5).cast("int").as("any_big"),
          forall(col("arr"), x => x >= 0).cast("int").as("all_nonneg"))
    },

    // Seeded Bernoulli table sample (reference: executor/sample.go
    // TABLESAMPLE): sampling happens AT THE SCAN — each partition
    // draws independently with a seed-derived RNG, so no shuffle, no
    // full materialization, and a fixed (seed, layout) is
    // reproducible. The row subset is engine-specific → rows-only;
    // Wave4Spec pins reproducibility, the fraction band, and
    // subset-of-source.
    Q("q_scan_sample", None) { t =>
      t.lineitem
        .sample(withReplacement = false, fraction = 0.05, seed = 42)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    },
  )
}
