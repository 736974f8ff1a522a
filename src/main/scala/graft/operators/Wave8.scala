package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Round-6 capability wave 2: REPLACE INTO, union-scan overlay reads,
  * ANALYZE-style statistics, and the remaining MySQL string builtins.
  */
object Wave8 {

  val all: Seq[Q] = Seq(

    // REPLACE INTO (reference: executor/replace.go:113 replaceRow /
    // :64 removeRow). Distinct from q_upsert's column-coalescing
    // MERGE: REPLACE removes EVERY row that conflicts with the new
    // row on ANY unique key — one staged row can evict several base
    // rows (one per unique index) — then inserts the staged row
    // whole. Modeled on a table with two unique keys: the pk
    // o_orderkey and an injective uk; each staged row collides with
    // one base row via pk and a DIFFERENT base row via uk, so both
    // eviction paths are genuinely exercised. Scale: two anti joins
    // keyed on pk/uk — co-partitioned shuffles, survivors stream to
    // the next snapshot, nothing driver-side; the staged batch is
    // broadcast by AQE when it is small (the usual case).
    Q("q_replace", Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderkey * 2 + 1 AS uk,
               o_orderstatus, o_totalprice
        FROM orders),
      staged AS (
        SELECT o_orderkey, (o_orderkey + 1) * 2 + 1 AS uk,
               'R' AS o_orderstatus, CAST(0.0 AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0)
      SELECT b.o_orderkey, b.uk, b.o_orderstatus, b.o_totalprice
      FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM staged s
                        WHERE s.o_orderkey = b.o_orderkey)
        AND NOT EXISTS (SELECT 1 FROM staged s WHERE s.uk = b.uk)
      UNION ALL
      SELECT o_orderkey, uk, o_orderstatus, o_totalprice FROM staged
    """)) { t =>
      val base = t.orders.select(col("o_orderkey"),
        (col("o_orderkey") * 2 + 1).as("uk"),
        col("o_orderstatus"), col("o_totalprice"))
      val staged = t.orders.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          ((col("o_orderkey") + 1) * 2 + 1).as("uk"),
          lit("R").as("o_orderstatus"),
          lit(0.0).as("o_totalprice"))
      base.join(staged.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .join(staged.select("uk"), Seq("uk"), "left_anti")
        .select("o_orderkey", "uk", "o_orderstatus", "o_totalprice")
        .union(staged.select("o_orderkey", "uk", "o_orderstatus",
          "o_totalprice"))
    },

    // Union-scan overlay read (reference: executor/union_scan.go +
    // mem_reader.go): a read inside an open transaction merges the
    // base snapshot with the txn's pending buffer — deleted keys
    // vanish, updated rows supersede their base versions, inserted
    // rows appear — and downstream operators (here a group-agg) see
    // the merged view. The buffer is a DATASET joined against the
    // base (anti join on the touched-key set), not a scan predicate:
    // exactly how the reference's mem-buffer reader overlays TiKV
    // rows. Scale: touched keys are minuscule vs the snapshot and
    // broadcast; the agg is a plain keyed shuffle on the merged view.
    Q("q_union_scan", Some("""
      WITH del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 31 = 5),
      upd AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) + 50 AS p
        FROM orders WHERE o_orderkey % 17 = 3 AND o_orderkey % 31 <> 5),
      ins AS (
        SELECT o_orderkey + 20000000 AS o_orderkey, 'I' AS o_orderstatus,
               CAST(1.0 AS DECIMAL(18,2)) AS p
        FROM orders WHERE o_orderkey % 41 = 7),
      merged AS (
        SELECT b.o_orderkey, b.o_orderstatus,
               CAST(b.o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders b
        WHERE b.o_orderkey % 31 <> 5
          AND NOT (b.o_orderkey % 17 = 3 AND b.o_orderkey % 31 <> 5)
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins)
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(p) AS DOUBLE) AS total
      FROM merged GROUP BY 1
    """)) { t =>
      val b = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
        Exact.dec2(col("o_totalprice")).as("p"))
      val delKeys = b.filter(col("o_orderkey") % 31 === 5)
        .select("o_orderkey")
      val upd = b.filter(col("o_orderkey") % 17 === 3 &&
          col("o_orderkey") % 31 =!= 5)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("p") + 50).as("p"))
      val ins = b.filter(col("o_orderkey") % 41 === 7)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          lit("I").as("o_orderstatus"), Exact.dec2(lit(1.0)).as("p"))
      val touched = delKeys.union(upd.select("o_orderkey"))
      b.join(broadcast(touched), Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("p").cast(upd.schema("p").dataType))
        .union(upd).union(ins)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(Exact.dec2(col("p"))).cast("double").as("total"))
    },

    // ANALYZE TABLE (reference: executor/analyze.go + statistics/
    // histogram.go — per-column NDV/null/min-max stats and the
    // equi-depth bucket histogram the optimizer reads). Two sections,
    // one uniform schema: 'col' rows carry count/ndv/nulls/min/max
    // per column; 'hist' rows are an 8-bucket equi-depth histogram of
    // l_extendedprice with per-bucket count/ndv/bounds. The global
    // rank that equi-depth needs is the two-phase distributed
    // PrefixSum (range-bucket partial ranks + tiny prefix-summed
    // offsets) — NOT a single-task ORDER BY window. At 100 TB the
    // reference builds buckets from a sample (statistics/builder.go);
    // the exact path here is the oracle-checkable form of the same
    // bucket math, and q_agg_approxpct covers the sampled variant.
    Q("q_analyze", Some("""
      WITH ranked AS (
        SELECT l_extendedprice AS p,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) - 1 AS rid,
               COUNT(*) OVER () AS n
        FROM lineitem),
      hist AS (
        SELECT 'hist' AS section, 'l_extendedprice' AS col_name,
               CAST((rid * 8) // n AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(DISTINCT p) AS BIGINT) AS ndv,
               CAST(0 AS BIGINT) AS nulls,
               MIN(p) AS lo, MAX(p) AS hi
        FROM ranked GROUP BY 3),
      cols AS (
        SELECT 'col' AS section, col_name, CAST(-1 AS BIGINT) AS bucket,
               cnt, ndv, nulls, lo, hi
        FROM (
          SELECT 'l_quantity' AS col_name,
                 CAST(COUNT(l_quantity) AS BIGINT) AS cnt,
                 CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS ndv,
                 CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS nulls,
                 MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
          FROM lineitem
          UNION ALL
          SELECT 'l_discount',
                 CAST(COUNT(l_discount) AS BIGINT),
                 CAST(COUNT(DISTINCT l_discount) AS BIGINT),
                 CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
                 MIN(l_discount), MAX(l_discount)
          FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice',
                 CAST(COUNT(l_extendedprice) AS BIGINT),
                 CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
                 CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
                 MIN(l_extendedprice), MAX(l_extendedprice)
          FROM lineitem))
      SELECT * FROM hist UNION ALL SELECT * FROM cols
    """)) { t =>
      val li = t.lineitem.select(col("l_extendedprice").as("p"),
        col("l_orderkey"), col("l_linenumber"))
      // Range bucket of the histogram order: price domain is bounded
      // (independent of SF), so /500 keeps each range's window small
      // relative to the data while phase 2 stays a few-hundred-row
      // prefix sum.
      val bucketed = li.withColumn("rng",
        floor(col("p") / 500).cast("long"))
      val ranked = PrefixSum.rowNumberBefore(bucketed, "rng",
        Seq("p", "l_orderkey", "l_linenumber"), "rid")
      val n = li.agg(count(lit(1)).as("n"))
      val hist = ranked.crossJoin(broadcast(n))
        .withColumn("bucket", expr("(rid * 8) div n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("p")).as("ndv"),
          min(col("p")).as("lo"), max(col("p")).as("hi"))
        .select(lit("hist").as("section"),
          lit("l_extendedprice").as("col_name"),
          col("bucket"), col("cnt"), col("ndv"), lit(0L).as("nulls"),
          col("lo"), col("hi"))
      // Per-column single-distinct branches instead of ONE aggregate
      // with three countDistincts on different columns: the fused
      // form plans as an Expand that multiplies every lineitem row
      // x4 through the exchange (the q_show_stats defect, fixed the
      // same way); split, each branch runs the two-phase
      // distinct-aggregate plan over a scan pruned to its one column
      // — same total bytes read, no row multiplication.
      val statCols = Seq("l_quantity", "l_discount", "l_extendedprice")
      val cols = statCols.map { c =>
        t.lineitem.select(col(c))
          .agg(count(col(c)).as("cnt"),
            countDistinct(col(c)).as("ndv"),
            (count(lit(1)) - count(col(c))).as("nulls"),
            min(col(c)).as("lo"), max(col(c)).as("hi"))
          .select(lit("col").as("section"), lit(c).as("col_name"),
            lit(-1L).as("bucket"), col("cnt"), col("ndv"), col("nulls"),
            col("lo"), col("hi"))
      }.reduce(_.unionByName(_))
      hist.union(cols)
    },

    // Remaining MySQL string builtins (reference:
    // expression/builtin_string.go FIND_IN_SET / SUBSTRING_INDEX /
    // compare.go STRCMP, builtin_miscellaneous.go; SOUNDEX from
    // builtin_string.go). SUBSTRING_INDEX is exercised with both a
    // positive count (prefix up to the 2nd delimiter) and a negative
    // count (suffix after the 2nd-from-last); FIND_IN_SET over the
    // real mktsegment domain; SOUNDEX over a pinned word list spun by
    // key so the engine genuinely runs the algorithm while the oracle
    // states the published codes. All pure codegen'd map-side work.
    Q("q_func_string3", Some("""
      SELECT c_custkey,
             CAST(COALESCE(list_position(
               string_split('AUTOMOBILE,BUILDING,FURNITURE,MACHINERY,HOUSEHOLD', ','),
               c_mktsegment), 0) AS INT) AS fis,
             array_to_string(list_slice(string_split(c_name, '0'), 1, 2), '0')
               AS si_pre,
             array_to_string(list_slice(string_split(c_name, '0'),
               len(string_split(c_name, '0')) - 1,
               len(string_split(c_name, '0'))), '0') AS si_suf,
             CASE WHEN c_mktsegment < 'HOUSEHOLD' THEN -1
                  WHEN c_mktsegment = 'HOUSEHOLD' THEN 0
                  ELSE 1 END AS sc,
             (['Robert','Rupert','Ashcraft','Tymczak','Pfister',
               'Honeyman','Smith','Smythe'])[c_custkey % 8 + 1] AS word,
             CASE c_custkey % 8
               WHEN 0 THEN 'R163' WHEN 1 THEN 'R163' WHEN 2 THEN 'A261'
               WHEN 3 THEN 'T522' WHEN 4 THEN 'P236' WHEN 5 THEN 'H555'
               WHEN 6 THEN 'S530' ELSE 'S530' END AS sdx
      FROM customer WHERE c_custkey < 800
    """)) { t =>
      val words = array(Seq("Robert", "Rupert", "Ashcraft", "Tymczak",
        "Pfister", "Honeyman", "Smith", "Smythe").map(lit): _*)
      val word = element_at(words, (col("c_custkey") % 8).cast("int") + 1)
      val seg = col("c_mktsegment")
      t.customer.filter(col("c_custkey") < 800)
        .select(col("c_custkey"),
          expr("find_in_set(c_mktsegment, " +
            "'AUTOMOBILE,BUILDING,FURNITURE,MACHINERY,HOUSEHOLD')")
            .as("fis"),
          substring_index(col("c_name"), "0", 2).as("si_pre"),
          substring_index(col("c_name"), "0", -2).as("si_suf"),
          when(seg < "HOUSEHOLD", -1).when(seg === "HOUSEHOLD", 0)
            .otherwise(1).as("sc"),
          word.as("word"),
          soundex(word).as("sdx"))
    },
  )
}
