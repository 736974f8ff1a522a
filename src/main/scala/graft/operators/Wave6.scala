package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-5 capability wave: charset transcoding, deep JSON
  * predicates, the network/UUID misc family, and snapshot
  * ("AS OF") time-travel reads.
  */
object Wave6 {

  /** Number of snapshot versions the time-travel store materializes. */
  private val Versions = 3

  /** Versioned snapshot store — the stale-read surface of the
    * reference (`AS OF TIMESTAMP` / read-staleness: executor stale
    * txn paths, sessionctx staleness) re-expressed as a warehouse
    * layout: version k is a full snapshot directory produced by
    * applying change batches 0..k to the base table with the SAME
    * full-outer merge the streaming CDC sink uses
    * (streaming/Streams.cdcApplyBatch), so batch replay and
    * time-travel share one code path. Changes derive
    * deterministically from `events` (key = event_id % 800, price =
    * value, seq = event_id) split into `Versions` contiguous seq
    * ranges; version k therefore equals "latest change with seq ≤
    * cutoff_k, else base" — which is exactly what the DuckDB oracle
    * recomputes. Lazily written once per source-data fingerprint
    * (content-keyed like every derived layout); on a cluster this is
    * the table's snapshot/retention store. Reading version k scans
    * ONLY that version's directory — bounded, partition-pruned, no
    * log replay at read time. */
  def timeTravelStore(t: Tables): String =
    Layouts.once(Layouts.root("timetravel", t.dir,
        s"${t.dir}/events.parquet", s"${t.dir}/orders.parquet")) { build =>
      import t.spark.implicits._
      // O(1) driver scalar (like the graph convergence checks): the
      // max change sequence fixes the batch cutoffs. An empty events
      // table (null max) means no change batches — every version is
      // the base snapshot and the commit timestamps are epoch 0.
      val maxRow = t.events.agg(max("event_id")).head()
      val maxSeq = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      var snap = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      val meta = Seq.newBuilder[(Int, Long, Long)]
      for (v <- 0 until Versions) {
        // batch 0 is seq [0, hi]; later batches (lo, hi].
        val lo = if (v == 0) -1L else v.toLong * maxSeq / Versions
        val hi = (v + 1).toLong * maxSeq / Versions
        val batch = t.events
          .filter(col("event_id") > lo && col("event_id") <= hi)
          .select((col("event_id") % 800).as("o_orderkey"),
            col("value").as("o_totalprice"), col("event_id").as("seq"))
        snap = graft.streaming.Streams.cdcApplyBatch(snap, batch)
          .localCheckpoint()
        snap.write.mode("overwrite").parquet(s"$build/version=$v")
        // Version commit timestamp = ts high-water of everything
        // applied so far — the snapshot's visibility point for
        // AS-OF-TIMESTAMP resolution.
        val tsRow = t.events.filter(col("event_id") <= hi)
          .agg(max(unix_micros(col("ts")))).head()
        meta += ((v, hi, if (tsRow.isNullAt(0)) 0L else tsRow.getLong(0)))
      }
      meta.result().toDF("version", "cutoff", "commit_ts_us")
        .coalesce(1).write.mode("overwrite").parquet(s"$build/_meta")
    }

  val all: Seq[Q] = Seq(

    // CHARSET transcoding (reference: expression/
    // builtin_convert_charset.go + parser/charset/ — CONVERT(...
    // USING latin1/gbk), HEX over non-UTF8 bytes). A multilingual
    // crawl corpus hits mislabeled charsets on day one; the engine
    // ops are encode/decode round trips through single-byte and
    // UTF-16 charsets with the raw bytes rendered as hex. The corpus
    // is ASCII, so accented chars are injected with translate();
    // DuckDB has no charset converter, so the oracle derives the
    // latin1/UTF-16BE bytes from codepoints (all injected chars are
    // < 256 and BMP — exactly the regime where latin1 is defined).
    // The GBK leg (reference: parser/charset/special_case_tables.go,
    // builtin_convert_charset.go — GBK is a first-class charset for
    // CJK crawl corpora) round-trips a CJK-injected twin string
    // through the JVM's GBK codec; the oracle inlines the pinned
    // two-byte GBK codes for the three injected hanzi (ASCII bytes
    // are identical in GBK by construction).
    Q("q_func_charset", Some("""
      WITH b AS (
        SELECT c_custkey, translate(c_name, 'aeo', 'äéö') AS s,
               translate(c_name, 'aeo', '中文数') AS s2
        FROM customer WHERE c_custkey < 300)
      SELECT c_custkey,
             hex(encode(s)) AS utf8_hex,
             array_to_string(list_transform(string_split(s, ''),
               c -> printf('%02X', unicode(c))), '') AS latin1_hex,
             array_to_string(list_transform(string_split(s, ''),
               c -> printf('%04X', unicode(c))), '') AS utf16_hex,
             CAST(octet_length(encode(s)) - length(s) AS INT) AS n_multibyte,
             1 AS latin1_rt, 1 AS utf16_rt,
             array_to_string(list_transform(string_split(s2, ''),
               c -> CASE c WHEN '中' THEN 'D6D0' WHEN '文' THEN 'CEC4'
                           WHEN '数' THEN 'CAFD'
                           ELSE printf('%02X', unicode(c)) END), '')
               AS gbk_hex,
             1 AS gbk_rt
      FROM b
    """)) { t =>
      val s = translate(col("c_name"), "aeo", "äéö")
      val s2 = translate(col("c_name"), "aeo", "中文数")
      // Spark 4 fences encode/decode to a unicode allow-list; GBK is
      // a JVM charset behind the legacy flag (same use-site-conf
      // pattern as Tables.events' nanosAsLong).
      t.spark.conf.set("spark.sql.legacy.javaCharsets", "true")
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"), s.as("s"), s2.as("s2"))
        .select(col("c_custkey"),
          hex(encode(col("s"), "UTF-8")).as("utf8_hex"),
          hex(encode(col("s"), "ISO-8859-1")).as("latin1_hex"),
          hex(encode(col("s"), "UTF-16BE")).as("utf16_hex"),
          (length(encode(col("s"), "UTF-8")) - length(col("s")))
            .cast("int").as("n_multibyte"),
          (decode(encode(col("s"), "ISO-8859-1"), "ISO-8859-1") ===
            col("s")).cast("int").as("latin1_rt"),
          (decode(encode(col("s"), "UTF-16BE"), "UTF-16BE") ===
            col("s")).cast("int").as("utf16_rt"),
          hex(encode(col("s2"), "GBK")).as("gbk_hex"),
          (decode(encode(col("s2"), "GBK"), "GBK") === col("s2"))
            .cast("int").as("gbk_rt"))
    },

    // DEEP JSON predicates (reference: expression/builtin_json.go
    // JSON_CONTAINS / JSON_CONTAINS_PATH / JSON_SEARCH): containment
    // and path-existence over a NESTED document (object + arrays),
    // not just leaf extraction. Each engine builds the document from
    // relational columns and probes it with its own JSON machinery —
    // Spark parses once into a struct/array shape and probes with
    // codegen'd array/field ops; DuckDB uses json_contains /
    // json_extract. JSON_SEARCH is exercised in BOTH modes: 'one'
    // returns the PATH of the first match in document order across
    // three candidate locations; 'all' returns every matching path
    // as a JSON-rendered array (NULL when nothing matches, matching
    // the reference's NULL-on-no-match). Path-existence probes run
    // against the RAW document string with each engine's own JSON
    // path machinery — including a genuinely absent key
    // ($.nested.missing) and a row-varying one ($.opt[1] exists only
    // where the opt array kept its second element), so the negative
    // branch is actually executed, not constant-folded.
    Q("q_func_json_search", Some("""
      WITH d AS (
        SELECT o_orderkey,
               to_json(struct_pack(
                 k := o_orderkey % 50,
                 tags := [o_orderpriority, o_orderstatus],
                 opt := CASE WHEN o_orderkey % 4 = 0
                             THEN [o_orderkey % 50]
                             ELSE [o_orderkey % 50, o_orderkey % 50 + 1]
                        END,
                 nested := struct_pack(status := o_orderstatus,
                                       items := [o_orderkey % 7,
                                                 o_orderkey % 11]))) AS doc
        FROM orders WHERE o_orderkey < 900),
      m AS (
        SELECT o_orderkey, doc,
               list_filter(
                 [CASE WHEN json_extract_string(doc, '$.tags[0]') = 'F'
                       THEN '$.tags[0]' END,
                  CASE WHEN json_extract_string(doc, '$.tags[1]') = 'F'
                       THEN '$.tags[1]' END,
                  CASE WHEN json_extract_string(doc, '$.nested.status') = 'F'
                       THEN '$.nested.status' END],
                 x -> x IS NOT NULL) AS hits
        FROM d)
      SELECT o_orderkey,
             CAST(json_contains(doc->'tags', '"1-URGENT"') AS INT)
               AS has_urgent,
             CAST(json_contains(doc->'nested'->'items', '3') AS INT)
               AS has_item,
             CAST(json_extract(doc, '$.nested.status') IS NOT NULL AS INT)
               AS path_status,
             CAST(json_extract(doc, '$.nested.missing') IS NOT NULL AS INT)
               AS path_missing,
             CAST(json_extract(doc, '$.opt[1]') IS NOT NULL AS INT)
               AS path_opt1,
             hits[1] AS search_f,
             CASE WHEN len(hits) > 0 THEN to_json(hits) END AS search_f_all
      FROM m
    """)) { t =>
      val doc = to_json(struct(
        (col("o_orderkey") % 50).as("k"),
        array(col("o_orderpriority"), col("o_orderstatus")).as("tags"),
        when(col("o_orderkey") % 4 === 0, array(col("o_orderkey") % 50))
          .otherwise(array(col("o_orderkey") % 50,
            col("o_orderkey") % 50 + 1)).as("opt"),
        struct(col("o_orderstatus").as("status"),
          array(col("o_orderkey") % 7, col("o_orderkey") % 11)
            .as("items")).as("nested")))
      val schema = "struct<k:bigint,tags:array<string>,opt:array<bigint>," +
        "nested:struct<status:string,items:array<bigint>>>"
      t.orders.filter(col("o_orderkey") < 900)
        .select(col("o_orderkey"), doc.as("doc"),
          from_json(doc, lit(schema)).as("j"))
        .withColumn("hits", filter(array(
          when(element_at(col("j.tags"), 1) === "F", "$.tags[0]"),
          when(element_at(col("j.tags"), 2) === "F", "$.tags[1]"),
          when(col("j.nested.status") === "F", "$.nested.status")),
          x => x.isNotNull))
        .select(col("o_orderkey"),
          array_contains(col("j.tags"), "1-URGENT").cast("int")
            .as("has_urgent"),
          array_contains(col("j.nested.items"), lit(3L))
            .cast("int").as("has_item"),
          get_json_object(col("doc"), "$.nested.status").isNotNull
            .cast("int").as("path_status"),
          get_json_object(col("doc"), "$.nested.missing").isNotNull
            .cast("int").as("path_missing"),
          get_json_object(col("doc"), "$.opt[1]").isNotNull
            .cast("int").as("path_opt1"),
          // 'one' mode returns the FIRST match in document order —
          // tags precede nested in the constructed doc.
          try_element_at(col("hits"), lit(1)).as("search_f"),
          when(size(col("hits")) > 0, to_json(col("hits")))
            .as("search_f_all"))
    },

    // Network/UUID misc family (reference: expression/
    // builtin_miscellaneous.go IS_IPV4 / INET_ATON / INET6_ATON /
    // UUID_TO_BIN): synthesized dotted-quad addresses (1 in 7 made
    // invalid) validated + packed to 32-bit ints with round-trip
    // NTOA; compressed IPv6 literals expanded through a generic
    // '::' expander to the 16-byte hex INET6_ATON form; UUIDs
    // rendered from md5, packed to bytes (hex form) with the MySQL
    // swap-flag reorder (time-high first). All pure codegen'd
    // string/array arithmetic — identical in both engines.
    Q("q_func_net", Some("""
      WITH b AS (
        SELECT c_custkey AS c,
               printf('%d.%d.%d.%d', c_custkey % 256,
                      (c_custkey * 7) % 256, (c_custkey * 13) % 256,
                      (c_custkey * 31) % 256)
                 || CASE WHEN c_custkey % 7 = 0 THEN '.9' ELSE '' END AS ip4,
               printf('2001:db8::%x:%x', c_custkey % 65536,
                      (c_custkey * 7) % 65536) AS ip6,
               md5(CONCAT('uuid:', c_custkey)) AS h
        FROM customer WHERE c_custkey < 400),
      p AS (
        SELECT c, ip4, ip6,
               CASE WHEN regexp_matches(ip4, '^(\d{1,3}\.){3}\d{1,3}$')
                     AND len(list_filter(string_split(ip4, '.'),
                             g -> CAST(g AS INT) > 255)) = 0
                    THEN 1 ELSE 0 END AS is4,
               string_split(ip4, '.') AS oct,
               CONCAT(substr(h, 1, 8), '-', substr(h, 9, 4), '-',
                      substr(h, 13, 4), '-', substr(h, 17, 4), '-',
                      substr(h, 21, 12)) AS uuid, h
        FROM b),
      x AS (
        SELECT c, ip4, ip6, is4, uuid, h,
               CASE WHEN is4 = 1 THEN
                 ((CAST(oct[1] AS BIGINT) * 256 + CAST(oct[2] AS BIGINT))
                   * 256 + CAST(oct[3] AS BIGINT)) * 256
                   + CAST(oct[4] AS BIGINT)
               END AS aton,
               list_filter(string_split(string_split(ip6, '::')[1], ':'),
                 g -> g <> '') AS lg,
               list_filter(string_split(string_split(ip6, '::')[2], ':'),
                 g -> g <> '') AS rg
        FROM p)
      SELECT c AS c_custkey, ip4, CAST(is4 AS INT) AS is_ipv4, aton,
             CASE WHEN is4 = 1 THEN
               printf('%d.%d.%d.%d', aton // 16777216 % 256,
                      aton // 65536 % 256, aton // 256 % 256, aton % 256)
             END AS ntoa,
             UPPER(CONCAT(
               array_to_string(list_transform(lg, g -> lpad(g, 4, '0')), ''),
               repeat('0000', 8 - len(lg) - len(rg)),
               array_to_string(list_transform(rg, g -> lpad(g, 4, '0')), '')))
               AS ip6_hex,
             uuid,
             UPPER(h) AS uuid_bin,
             UPPER(CONCAT(substr(h, 13, 4), substr(h, 9, 4),
                          substr(h, 1, 8), substr(h, 17, 16)))
               AS uuid_bin_swap
      FROM x
    """)) { t =>
      val c = col("c_custkey")
      val ip4 = concat(
        format_string("%d.%d.%d.%d", c % 256, (c * 7) % 256,
          (c * 13) % 256, (c * 31) % 256),
        when(c % 7 === 0, ".9").otherwise(""))
      val ip6 = format_string("2001:db8::%x:%x", c % 65536, (c * 7) % 65536)
      val h = md5(concat(lit("uuid:"), c.cast("string")))
      t.customer.filter(c < 400)
        .select(c.as("c"), ip4.as("ip4"), ip6.as("ip6"), h.as("h"))
        .withColumn("oct", split(col("ip4"), "\\."))
        .withColumn("is4",
          (col("ip4").rlike("^(\\d{1,3}\\.){3}\\d{1,3}$") &&
            forall(col("oct"), g => g.cast("int") <= 255)).cast("int"))
        .withColumn("aton", when(col("is4") === 1,
          ((element_at(col("oct"), 1).cast("bigint") * 256 +
            element_at(col("oct"), 2).cast("bigint")) * 256 +
            element_at(col("oct"), 3).cast("bigint")) * 256 +
            element_at(col("oct"), 4).cast("bigint")))
        .withColumn("halves", split(col("ip6"), "::"))
        .withColumn("lg", filter(split(element_at(col("halves"), 1), ":"),
          g => g =!= ""))
        .withColumn("rg", filter(split(element_at(col("halves"), 2), ":"),
          g => g =!= ""))
        .select(col("c").as("c_custkey"), col("ip4"),
          col("is4").as("is_ipv4"), col("aton"),
          when(col("is4") === 1, format_string("%d.%d.%d.%d",
            expr("aton div 16777216 % 256"), expr("aton div 65536 % 256"),
            expr("aton div 256 % 256"), col("aton") % 256)).as("ntoa"),
          upper(concat(
            array_join(transform(col("lg"), g => lpad(g, 4, "0")), ""),
            expr("repeat('0000', 8 - size(lg) - size(rg))"),
            array_join(transform(col("rg"), g => lpad(g, 4, "0")), "")))
            .as("ip6_hex"),
          concat_ws("-", substring(col("h"), 1, 8),
            substring(col("h"), 9, 4), substring(col("h"), 13, 4),
            substring(col("h"), 17, 4), substring(col("h"), 21, 12))
            .as("uuid"),
          upper(col("h")).as("uuid_bin"),
          upper(concat(substring(col("h"), 13, 4),
            substring(col("h"), 9, 4), substring(col("h"), 1, 8),
            substring(col("h"), 17, 16))).as("uuid_bin_swap"))
    },

    // Snapshot AS-OF read (reference: TiDB stale reads — `AS OF
    // TIMESTAMP` / tidb_read_staleness): read version 1 of the
    // versioned snapshot store. The store itself is built by the
    // streaming CDC merge (one full-outer join per batch); the READ
    // is the operator under test — it touches exactly one version
    // directory, no change-log replay. The oracle recomputes the
    // same state directly: latest change with seq ≤ version-1
    // cutoff wins, else the base row survives.
    Q("q_time_travel", Some("""
      WITH mx AS (SELECT MAX(event_id) AS m FROM events),
      ch AS (
        SELECT event_id % 800 AS k, value AS p, event_id AS seq
        FROM events WHERE event_id <= (SELECT 2 * m // 3 FROM mx)),
      l AS (SELECT k, arg_max(p, seq) AS p FROM ch GROUP BY k)
      SELECT COALESCE(b.o_orderkey, l.k) AS o_orderkey,
             CAST(COALESCE(l.p, b.o_totalprice) AS DOUBLE) AS o_totalprice
      FROM (SELECT o_orderkey, o_totalprice FROM orders) b
      FULL OUTER JOIN l ON b.o_orderkey = l.k
    """)) { t =>
      Formats.readParquet(t.spark, s"${timeTravelStore(t)}/version=1")
    },

    // Timestamp-addressed AS-OF read (reference: `AS OF TIMESTAMP` /
    // tidb_read_staleness resolve a wall-clock time to the latest
    // snapshot visible at that time). The store's _meta records each
    // version's commit timestamp (ts high-water of the changes
    // applied so far); resolution is max version with commit_ts ≤ T
    // — two O(1) driver scalars over the tiny meta table — and the
    // read then scans exactly that one version directory, same as
    // the version-indexed path. T here is version 1's own commit
    // time, so the oracle can restate the full resolution: pick the
    // largest cutoff whose change-prefix ts high-water is ≤ the
    // v=1 high-water, then recompute that snapshot from base+changes.
    Q("q_time_travel_ts", Some("""
      WITH mx AS (SELECT MAX(event_id) AS m FROM events),
      meta AS (
        SELECT v, (v + 1) * (SELECT m FROM mx) // 3 AS cutoff
        FROM (SELECT UNNEST([0, 1, 2]) AS v)),
      meta2 AS (
        SELECT v, cutoff,
               (SELECT MAX(e.ts) FROM events e
                WHERE e.event_id <= meta.cutoff) AS commit_ts
        FROM meta),
      pick AS (
        SELECT MAX(cutoff) AS cutoff FROM meta2
        WHERE commit_ts <= (SELECT commit_ts FROM meta2 WHERE v = 1)),
      ch AS (
        SELECT event_id % 800 AS k, value AS p, event_id AS seq
        FROM events WHERE event_id <= (SELECT cutoff FROM pick)),
      l AS (SELECT k, arg_max(p, seq) AS p FROM ch GROUP BY k)
      SELECT COALESCE(b.o_orderkey, l.k) AS o_orderkey,
             CAST(COALESCE(l.p, b.o_totalprice) AS DOUBLE) AS o_totalprice
      FROM (SELECT o_orderkey, o_totalprice FROM orders) b
      FULL OUTER JOIN l ON b.o_orderkey = l.k
    """)) { t =>
      val spark = t.spark
      val dir = timeTravelStore(t)
      val meta = spark.read.parquet(s"$dir/_meta")
      val tAsOf = meta.filter(col("version") === 1)
        .head().getAs[Long]("commit_ts_us")
      val pick = meta.filter(col("commit_ts_us") <= tAsOf)
        .agg(max("version")).head().getInt(0)
      Formats.readParquet(spark, s"$dir/version=$pick")
    },
  )
}
