package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import graft.tools.{Acl, SessionManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The OUTFILE byte grammar, ONE spelling for writer and loader
  * (reference: executor/select_into.go:91 escapeField — escape char,
  * enclose byte and line-terminator byte always escaped, NUL → the
  * CHARACTER '0'; executor/load_data.go:905 field.escape — the
  * inverse scan, `\0`→NUL, default `\c`→c). Sharing the spelling is
  * the round-trip guarantee: q_select_into writes with [[escEnclosed]]
  * and q_load_outfile parses with [[unescEnclosed]], so a drift in
  * either direction fails the load entry's source-equality hash. */
object Outfile {
  import org.apache.spark.sql.Column

  /** Escape an ENCLOSED string field: escape char FIRST (later
    * passes insert backslashes that must not re-escape), then the
    * enclose byte, the line terminator, and NUL → \0. The field
    * terminator stays bare — the field is enclosed. */
  def escEnclosed(s: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      s, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
      "\n", "\\\\\n"), "\u0000", "\\\\0")

  /** Inverse of [[escEnclosed]] — load_data.go:905's sequential
    * byte scan, spelled AS a sequential byte scan (a left-to-right
    * walk consumes escaped-backslash pairs before their trailing
    * byte, so `\\\\0` — escaped backslash, then '0' — stays `\\0` and
    * never mis-reads as NUL; the earlier regexp-pass spelling needed
    * a U+0001 parking byte the writer could not guarantee absent
    * from the escaped stream).
    * The escape map is the reference's full escapeChar table: the
    * LETTER escapes `\\0 \\b \\n \\r \\t \\Z` map to their control
    * bytes (so files written by the reference/MySQL load
    * identically), and the default branch drops the escape char and
    * keeps the byte (`\\"`→", `\\;`→;, `\\`+newline→newline — the
    * classes THIS engine's writer emits; the writer prefixes the
    * raw byte with the escape char, it never letter-encodes, so
    * both alphabets round-trip through this one scan). A trailing
    * lone escape char is kept as-is (malformed input, not data
    * loss). */
  private[graft] def unescape(s: String): String =
    if (s == null) null
    else graft.functions.OutfileText.unescape(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  /** Column form of [[unescape]] — the codegen'd
    * [[graft.functions.OutfileUnescape]] expression (one static
    * kernel call from generated code), so the LOAD projection stays
    * inside WholeStageCodegen; the earlier Scala-UDF spelling fenced
    * the loader's whole projection out of codegen. */
  def unescEnclosed(s: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.OutfileUnescape(
        org.apache.spark.sql.GraftSqlShim.expr(s)))
}

/** Round-15 entries: the remaining SHOW / observability surface —
  * PROCESSLIST (+ KILL, spec-proven), VARIABLES, STATUS, TABLE
  * STATUS, STATS_BUCKETS, STATS_TOPN, TABLE REGIONS, and the
  * non-table SHOW CREATE renders (VIEW / USER / DATABASE /
  * SEQUENCE).
  */
object Wave19 {

  /** Per-column LOGICAL width in bytes — the stats arithmetic behind
    * TiDB's information_schema.tables Data_length/Avg_row_length
    * (infoschema/tables.go getDataAndIndexLength: row count × avg
    * row size from column stats, NOT physical file bytes — physical
    * parquet bytes would be engine-specific and meaningless to an
    * oracle). ONE mapping drives BOTH sides: the engine folds it
    * over the LOADED schema, the oracle SQL is generated from the
    * PINNED catalog, so a type drift breaks the hash. */
  private def widthExpr(colName: String, typeClass: String)
      : org.apache.spark.sql.Column = typeClass match {
    case "bigint" | "double" | "timestamp" => lit(8L)
    case "int" | "date"                    => lit(4L)
    case "string" =>
      coalesce(octet_length(col(colName)).cast("long"), lit(0L))
    case "array<float>" =>
      coalesce(size(col(colName)).cast("long") * 4L, lit(0L))
    case _ => lit(8L)
  }

  private def widthSql(colName: String, typeClass: String): String =
    typeClass match {
      case "bigint" | "double" | "timestamp" => "8"
      case "int" | "date"                    => "4"
      // DuckDB's octet_length is BLOB-only; strlen IS byte length
      // on VARCHAR (Spark's octet_length twin).
      case "string" => s"COALESCE(strlen($colName), 0)"
      case "array<float>" => s"COALESCE(4 * len($colName), 0)"
      case _ => "8"
    }

  /** SHOW STATS_BUCKETS / TOPN row prefix — every stats card renders
    * the same (db, table, partition) identity columns. */
  private def statsPrefix(column: String) = Seq(
    lit("graft").as("db_name"), lit("orders").as("table_name"),
    lit("").as("partition_name"), lit(column).as("column_name"),
    lit(0).as("is_index"))

  /** The staged DML delta behind SHOW STATS_META's ModifyCount and
    * SHOW STATS_HEALTHY's health score — ONE spelling shared by both
    * cards so they cannot drift. The orders delta reuses
    * q_txn_rollback's three mutation classes (delete %29, re-status
    * %13 of the survivors, insert %53); nation gets TWO full-table
    * updates, the modify ≥ count corner the healthy formula zeroes
    * on. Every count is a REAL aggregate over the data (the oracle
    * restates the same predicates). Returns
    * (table, modify_count, row_count) rows. */
  private def stagedStatsDeltas(t: Tables): Seq[(String, Long, Long)] = {
    // ONE aggregate pass over orders for all three mutation-class
    // counts plus the total (not four separate count() jobs).
    val o = t.orders.agg(
      sum(when(col("o_orderkey") % 29 === 3, 1L).otherwise(0L))
        .as("d"),
      sum(when(col("o_orderkey") % 13 === 4 &&
        col("o_orderkey") % 29 =!= 3, 1L).otherwise(0L)).as("u"),
      sum(when(col("o_orderkey") % 53 === 9, 1L).otherwise(0L))
        .as("i"),
      count(lit(1)).as("n")).head()
    val nNation = t.nation.count()
    val nCust = t.customer.count()
    Seq(
      ("customer", 0L, nCust),
      ("nation", 2L * nNation, nNation),
      ("orders", o.getAs[Long]("d") + o.getAs[Long]("u") +
        o.getAs[Long]("i"), o.getAs[Long]("n")))
  }

  val all: Seq[Q] = Seq(

    // SHOW [FULL] PROCESSLIST (reference: executor/show.go:388
    // fetchShowProcessList over util/processinfo.go:33 ProcessInfo —
    // Id/User/Host/db/Command/State/Info row shape, Sleep rows with
    // NULL Info, and the privilege rule at :404: PROCESS sees all
    // threads, otherwise only your own). The card drives three
    // connections through the live SessionManager registry — one
    // mid-statement, one idle after a completed statement, one
    // rendering the SHOW itself (MySQL lists the SHOW too) — and
    // renders it twice: as root (PROCESS granted → all rows) and as
    // ana (no PROCESS → own row only). Every cell is a real registry
    // read; the reference's one wall-clock column (Time) is excluded
    // from the render exactly as the q_statements_summary family
    // excludes wall columns, which keeps the card hash-oracled. The
    // KILL leg (executor/simple.go:1455 executeKillStmt →
    // SessionManager.Kill) is SessionManager.kill — Spark
    // cancelJobGroup on the victim's job group — proven by the
    // Wave19Spec concurrent-kill test, not staged here.
    Q("q_processlist", Some("""
      SELECT * FROM (VALUES
        ('1_full_as_root', 1, 'root', '127.0.0.1:4000', 'graft',
         'Query', 'executing', 'SHOW FULL PROCESSLIST'),
        ('1_full_as_root', 2, 'ana', '10.0.0.8:52100', 'graft',
         'Query', 'executing',
         'SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1'),
        ('1_full_as_root', 3, 'bob', '10.0.0.9:52200', '',
         'Sleep', '', CAST(NULL AS VARCHAR)),
        ('2_own_as_ana', 2, 'ana', '10.0.0.8:52100', 'graft',
         'Query', 'executing',
         'SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1')
      ) AS v(stage, id, usr, host, db, command, state, info)
    """)) { t =>
      import t.spark.implicits._
      val SM = SessionManager
      SM.clear(); Acl.clear()
      Acl.grant("root", Seq("PROCESS")) // global scope
      val c1 = SM.connect("root", "127.0.0.1:4000", "graft")
      val c2 = SM.connect("ana", "10.0.0.8:52100", "graft")
      val c3 = SM.connect("bob", "10.0.0.9:52200", "")
      // bob ran something and went idle: Sleep, Info renders NULL.
      SM.begin(c3, "SELECT 1"); SM.finish(c3, 1L)
      // ana is mid-statement when the render happens.
      SM.begin(c2,
        "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1")
      // the render is a statement too — MySQL lists the SHOW itself.
      SM.begin(c1, "SHOW FULL PROCESSLIST", comClass = "Com_show")
      def rows(stage: String, asUser: String) =
        SM.show(asUser, "%").map(r => (stage, r._1.toInt, r._2, r._3,
          r._4, r._5, r._6, r._7))
      val out = rows("1_full_as_root", "root") ++
        rows("2_own_as_ana", "ana")
      SM.finish(c1); SM.finish(c2)
      Acl.clear()
      out.toDF("stage", "id", "usr", "host", "db", "command",
        "state", "info")
    },

    // SHOW VARIABLES (reference: executor/show.go:724
    // fetchShowVariables — every row fetched LIVE from the session's
    // variable store, never a static card). Each value here is read
    // from the RUNNING SparkSession at render time — ANSI mode (the
    // sql_mode analog), time zone, AQE, whole-stage codegen, the
    // broadcast threshold, the bucketed-scan ordering flag, and the
    // version class — so
    // a session whose configuration drifted from the engine contract
    // fails the hash (the q_memtable_info derivation discipline,
    // applied to the enumerable variables card). Deliberately
    // excluded: values that legitimately differ across harness
    // contexts (shuffle partition count tracks the core count the
    // session was launched with — Verify 4, Bench 32).
    Q("q_show_variables", Some("""
      SELECT * FROM (VALUES
        ('adaptive_query_execution', 'ON',         'SESSION'),
        ('autocommit',               'ON',         'SESSION'),
        ('broadcast_join_threshold', '10485760',   'SESSION'),
        ('bucketed_scan_ordering',   'ON',         'SESSION'),
        ('sql_mode', 'STRICT_TRANS_TABLES,ANSI',   'SESSION'),
        ('time_zone',                'UTC',        'SESSION'),
        ('version_class',            '4.1',        'NONE'),
        ('whole_stage_codegen',      'ON',         'SESSION')
      ) AS v(variable_name, value, scope)
    """)) { t =>
      import t.spark.implicits._
      val s = t.spark
      def onOff(key: String): String =
        if (s.conf.get(key) == "true") "ON" else "OFF"
      val ansi = s.conf.get("spark.sql.ansi.enabled") == "true"
      Seq(
        ("adaptive_query_execution",
          onOff("spark.sql.adaptive.enabled"), "SESSION"),
        // Statements auto-commit unless the explicit q_txn_rollback
        // buffer is open — the TiDB default.
        ("autocommit", "ON", "SESSION"),
        ("broadcast_join_threshold",
          s.sessionState.conf.autoBroadcastJoinThreshold.toString,
          "SESSION"),
        ("bucketed_scan_ordering",
          onOff("spark.sql.legacy.bucketedTableScan.outputOrdering"),
          "SESSION"),
        // ANSI ↔ the strict sql_mode class (q_sql_mode's contract).
        ("sql_mode",
          if (ansi) "STRICT_TRANS_TABLES,ANSI" else "", "SESSION"),
        ("time_zone", s.conf.get("spark.sql.session.timeZone"),
          "SESSION"),
        // NOT rendered: spark.sql.legacy.parquet.nanosAsLong — the
        // Tables events reader sets it on first access when the
        // events file holds TIMESTAMP(NANOS), so its value can be
        // execution-order-dependent within a Verify run; an
        // order-dependent variable has no honest place in a hashed
        // card. Shuffle partitions are likewise excluded
        // (they track the harness core count: Verify 4, Bench 32).
        // ScopeNone = read-only build fact; major.minor only so a
        // patch upgrade is not a correctness event.
        ("version_class",
          s.version.split('.').take(2).mkString("."), "NONE"),
        ("whole_stage_codegen",
          onOff("spark.sql.codegen.wholeStage"), "SESSION"))
        .toDF("variable_name", "value", "scope")
    },

    // SHOW STATUS (reference: executor/show.go:765 fetchShowStatus —
    // the server status-counter card). The counters come from a
    // PINNED workload driven through the live SessionManager inside
    // the entry (self-contained, like every Acl card): two
    // connections, three real SELECTs whose result sizes accumulate
    // Rows_sent, and the SHOW itself (counted under Com_show,
    // executing while rendered — Threads_running pins it). Rows_sent
    // is DATA-derived on both sides: the engine counts the actual
    // result rows it returned; the oracle recomputes the same three
    // result sizes from the tables. Uptime — the reference's only
    // wall-clock status row — is deliberately excluded (documented,
    // same contract as the q_slow_history family).
    Q("q_show_status", Some("""
      SELECT 'Com_select' AS variable_name, '3' AS value
      UNION ALL SELECT 'Com_show', '1'
      UNION ALL SELECT 'Connections', '2'
      UNION ALL SELECT 'Questions', '4'
      UNION ALL SELECT 'Rows_sent', CAST(
        1 + (SELECT COUNT(*) FROM region)
          + (SELECT COUNT(*) FROM nation WHERE n_nationkey < 10)
        AS VARCHAR)
      UNION ALL SELECT 'Slow_queries', '0'
      UNION ALL SELECT 'Threads_connected', '2'
      UNION ALL SELECT 'Threads_running', '1'
    """)) { t =>
      import t.spark.implicits._
      val SM = SessionManager
      SM.clear()
      val c1 = SM.connect("root", "127.0.0.1:4000", "graft")
      val c2 = SM.connect("ana", "10.0.0.8:52100", "graft")
      def stmt(id: Long, sql: String, result: DataFrame): Unit = {
        SM.begin(id, sql)
        SM.finish(id, result.count())
      }
      stmt(c1, "SELECT COUNT(*) FROM nation",
        t.nation.agg(count(lit(1))))
      stmt(c1, "SELECT r_regionkey, r_name FROM region",
        t.region.select("r_regionkey", "r_name"))
      stmt(c2, "SELECT n_name FROM nation WHERE n_nationkey < 10",
        t.nation.filter(col("n_nationkey") < 10).select("n_name"))
      SM.begin(c1, "SHOW STATUS", comClass = "Com_show")
      val card = SM.status()
      SM.finish(c1)
      card.toDF("variable_name", "value")
    },

    // SHOW TABLE STATUS (reference: executor/show.go:463
    // fetchShowTableStatus — Name/Engine/Row_format/Rows/
    // Avg_row_length/Data_length per table, where the byte columns
    // are STATS arithmetic: rows × average row size from column
    // stats, infoschema/tables.go getDataAndIndexLength — NOT
    // physical file bytes, which no second engine could restate).
    // The engine folds the shared logical-width mapping over each
    // catalog table's LOADED schema; the oracle SQL is GENERATED
    // from the pinned catalog (Catalog.pinned — the q_describe/
    // q_show_create source), so either a schema drift or a width
    // drift fails the hash. One aggregate pass per table, unioned —
    // column-pruned to the string/array columns the widths need
    // (fixed-width columns fold to constants before the scan). At
    // 100 TB the render reads PERSISTED stats (sources.Stats
    // dump/load — the reference reads mysql.stats_meta, never the
    // data); the fold here IS the stats-build pass, stated exactly.
    Q("q_table_status", Some(
      graft.operators.Catalog.pinned.groupBy(_._1).toSeq
        .sortBy(_._1).map { case (tbl, cols) =>
          val w = cols.sortBy(_._2)
            .map { case (_, _, c, ty) => widthSql(c, ty) }
            .mkString(" + ")
          s"""SELECT '$tbl' AS table_name, 'parquet' AS engine,
             'Compressed' AS row_format,
             COUNT(*) AS table_rows,
             CAST(SUM($w) // COUNT(*) AS BIGINT) AS avg_row_length,
             CAST(SUM($w) AS BIGINT) AS data_length
             FROM $tbl"""
        }.mkString("\nUNION ALL\n"))) { t =>
      graft.operators.Catalog.tables(t).map { case (name, df) =>
        val w = df.schema.fields
          .map(f => widthExpr(f.name,
            graft.operators.Catalog.typeClass(f.dataType)))
          .reduce(_ + _)
        df.agg(count(lit(1)).as("table_rows"),
            sum(w).as("data_length"))
          .select(lit(name).as("table_name"),
            lit("parquet").as("engine"),
            lit("Compressed").as("row_format"),
            col("table_rows"),
            expr("data_length div table_rows").as("avg_row_length"),
            col("data_length"))
      }.reduce(_ unionAll _)
    },

    // SHOW STATS_BUCKETS (reference: executor/show_stats.go:210
    // fetchShowStatsBuckets → :370 bucketsToRows — db, table,
    // partition, column, is_index, bucket id, CUMULATIVE count,
    // repeats (rows equal to the upper bound — histogram.go's
    // Repeat), lower/upper bound strings, per-bucket NDV). The
    // SHOW-shaped render of the equi-depth structure the engine
    // already builds: boundaries from SampleStats (the ONE spelling
    // q_stats_histogram and q_analyze_sample share), map-side
    // bucketing against the broadcast constants, then ONE
    // aggregation tree — partial-agg to (bucket, value) counts
    // (≈NDV rows cross the exchange, never the data), and the 8-row
    // bucket fold derives n/ndv/bounds AND Repeats as max_by(count,
    // value) — the upper bound's own count — so no second data pass
    // and no countDistinct expansion. The cumulative-count window is
    // an 8-row frame (bucket count, not data). Bounds render through
    // DECIMAL(18,2) text so both engines print identical strings.
    Q("q_stats_buckets", Some("""
      WITH p AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
        FROM orders),
      b AS (
        SELECT [round(quantile_cont(v, 0.125), 4),
                round(quantile_cont(v, 0.25), 4),
                round(quantile_cont(v, 0.375), 4),
                round(quantile_cont(v, 0.5), 4),
                round(quantile_cont(v, 0.625), 4),
                round(quantile_cont(v, 0.75), 4),
                round(quantile_cont(v, 0.875), 4)] AS bs
        FROM p),
      m AS (
        SELECT v, 1 + len(list_filter(bs, b -> p.v > b)) AS bucket
        FROM p, b),
      g AS (
        SELECT bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi,
               COUNT(DISTINCT v) AS ndv
        FROM m GROUP BY bucket),
      r AS (
        SELECT m.bucket, COUNT(*) AS repeats
        FROM m JOIN g ON m.bucket = g.bucket AND m.v = g.hi
        GROUP BY m.bucket)
      SELECT 'graft' AS db_name, 'orders' AS table_name,
             '' AS partition_name, 'o_totalprice' AS column_name,
             0 AS is_index, CAST(g.bucket - 1 AS INT) AS bucket_id,
             CAST(SUM(g.n) OVER (ORDER BY g.bucket) AS BIGINT)
               AS cum_count,
             CAST(r.repeats AS BIGINT) AS repeats,
             CAST(CAST(g.lo AS DECIMAL(18,2)) AS VARCHAR)
               AS lower_bound,
             CAST(CAST(g.hi AS DECIMAL(18,2)) AS VARCHAR)
               AS upper_bound,
             CAST(g.ndv AS BIGINT) AS ndv
      FROM g JOIN r ON g.bucket = r.bucket
    """)) { t =>
      val bounds = SampleStats.litBounds(t)
      val m = t.orders.select(SampleStats.price.as("v"))
        .crossJoin(broadcast(bounds))
        .select(col("v"), SampleStats.bucketOf.as("bucket"))
      // (bucket, v) is unique after this group, so the bucket fold's
      // max_by(c, v) is exactly "how many rows equal the upper
      // bound" — Repeats — with no tie ambiguity.
      val byVal = m.groupBy("bucket", "v").agg(count(lit(1)).as("c"))
      val g = byVal.groupBy("bucket").agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("ndv"),
        min("v").as("lo"), max("v").as("hi"),
        expr("max_by(c, v)").as("repeats"))
      // 8-row frame: the global window is over buckets, not rows.
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum_count", sum(col("n")).over(w))
        .select(statsPrefix("o_totalprice") ++ Seq(
          (col("bucket") - 1).cast("int").as("bucket_id"),
          col("cum_count"), col("repeats"),
          col("lo").cast("decimal(18,2)").cast("string")
            .as("lower_bound"),
          col("hi").cast("decimal(18,2)").cast("string")
            .as("upper_bound"),
          col("ndv")): _*)
    },

    // SHOW STATS_TOPN (reference: executor/show_stats.go:269
    // fetchShowStatsTopN → topNToRows — db, table, partition,
    // column, is_index, value, count). The SHOW-shaped render of the
    // exact per-column top values (the q_agg_topk_sketch contract's
    // deterministic re-rank: count DESC, value ASC), over the two
    // low-cardinality orders columns whose TopN a CBO would actually
    // store. The per-column rank window frames ≤5 grouped rows, not
    // data.
    Q("q_stats_topn", Some("""
      WITH tp AS (
        SELECT CAST(o_orderpriority AS VARCHAR) AS value,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1 ORDER BY cnt DESC, value LIMIT 5),
      ts AS (
        SELECT CAST(o_orderstatus AS VARCHAR) AS value,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1 ORDER BY cnt DESC, value LIMIT 5)
      SELECT 'graft' AS db_name, 'orders' AS table_name,
             '' AS partition_name, 'o_orderpriority' AS column_name,
             0 AS is_index, value, cnt
      FROM tp
      UNION ALL
      SELECT 'graft', 'orders', '', 'o_orderstatus', 0, value, cnt
      FROM ts
    """)) { t =>
      def topn(c: String): DataFrame = {
        val g = t.orders
          .groupBy(col(c).cast("string").as("value"))
          .agg(count(lit(1)).as("cnt"))
        // ≤5 grouped rows in the global rank window, not data.
        val w = Window.orderBy(col("cnt").desc, col("value"))
        g.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(statsPrefix(c) ++ Seq(col("value"), col("cnt")): _*)
      }
      topn("o_orderpriority").unionAll(topn("o_orderstatus"))
    },

    // SHOW TABLE REGIONS (reference: executor/show.go:1731
    // fetchShowTableRegions — region id, start/end record key,
    // approximate rows per region; record keys render as
    // t_<table>_r_<rowid>, the first region starting at the table
    // prefix and the last ending at the NEXT table's prefix). The
    // card renders q_split_region's exact octile boundaries — same
    // interpolated-quantile arithmetic on both engines — as the
    // region card an operator reads before a manual split: 8
    // contiguous key ranges, each with its row count and rendered
    // start/end keys from the broadcast 7-element boundary array.
    Q("q_table_regions", Some("""
      WITH b AS (
        SELECT list_transform(
                 quantile_cont(o_orderkey,
                   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                 q -> CAST(FLOOR(q) AS BIGINT)) AS bs
        FROM orders),
      a AS (SELECT o_orderkey,
                   len(list_filter(bs, x -> x < o_orderkey)) AS region_id
            FROM orders, b),
      g AS (SELECT CAST(region_id AS INT) AS region_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM a GROUP BY 1)
      SELECT g.region_id,
             CASE WHEN g.region_id = 0 THEN 't_orders_r'
                  ELSE 't_orders_r_' || CAST(bs[g.region_id] AS VARCHAR)
             END AS start_key,
             CASE WHEN g.region_id = 7 THEN 't_orders_'
                  ELSE 't_orders_r_' ||
                       CAST(bs[g.region_id + 1] AS VARCHAR)
             END AS end_key,
             g.n_rows
      FROM g, b
    """)) { t =>
      val bs = t.orders.agg(expr(
        "transform(percentile(o_orderkey, " +
          "array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D)), " +
          "q -> cast(floor(q) as bigint))").as("bs"))
      val g = t.orders.crossJoin(broadcast(bs))
        .select(col("o_orderkey"),
          expr("size(filter(bs, x -> x < o_orderkey))").cast("int")
            .as("region_id"))
        .groupBy("region_id").agg(count(lit(1)).as("n_rows"))
      g.crossJoin(broadcast(bs)).select(
        col("region_id"),
        when(col("region_id") === 0, lit("t_orders_r"))
          .otherwise(concat(lit("t_orders_r_"),
            element_at(col("bs"), col("region_id"))))
          .as("start_key"),
        when(col("region_id") === 7, lit("t_orders_"))
          .otherwise(concat(lit("t_orders_r_"),
            element_at(col("bs"), col("region_id") + 1)))
          .as("end_key"),
        col("n_rows"))
    },

    // SHOW CREATE VIEW / USER / DATABASE / SEQUENCE (reference:
    // executor/show.go:1184 fetchShowCreateView — renders the STORED
    // SelectStmt text; :1422 fetchShowCreateUser — the auth plugin +
    // stored double-SHA1 hash; :1370 fetchShowCreateDatabase — the
    // charset/collation clause; :1120 fetchShowCreateSequence — the
    // allocation parameters). q_show_create covers tables; this card
    // renders the OTHER object classes over objects the engine
    // actually has: the view text is VALIDATED by creating the view
    // in the session catalog before rendering (a text that no longer
    // parses/resolves throws, never renders); the user's auth string
    // is COMPUTED by Acl's own double-SHA1 (oracle restates the RFC
    // constant — q_user_admin's discipline); the database charset/
    // collation joins the ONE Charsets descriptor table; the
    // sequence parameters mirror q_sequence's pinned allocation
    // card (start 1000, CACHE 100, CYCLE over a 10000-value domain).
    Q("q_show_create_objects", Some("""
      SELECT * FROM (VALUES
        ('DATABASE', 'graft',
         'CREATE DATABASE `graft` /*!40100 DEFAULT CHARACTER SET utf8mb4 COLLATE utf8mb4_bin */'),
        ('SEQUENCE', 'seq_orders',
         'CREATE SEQUENCE `seq_orders` start with 1000 minvalue 1000 maxvalue 10999 increment by 1 cache 100 cycle ENGINE=InnoDB'),
        ('USER', 'app_show@%',
         'CREATE USER ''app_show''@''%'' IDENTIFIED WITH ''mysql_native_password'' AS ''*1A69BB68199D90F14D683C64DC315BC686A71EF9'''),
        ('VIEW', 'v_rev2',
         'CREATE VIEW v_rev2 AS SELECT o_orderkey, o_orderdate, l_extendedprice, l_discount FROM lineitem JOIN orders ON l_orderkey = o_orderkey')
      ) AS v(object_type, name, ddl)
    """)) { t =>
      import t.spark.implicits._
      val viewSql = "SELECT o_orderkey, o_orderdate, " +
        "l_extendedprice, l_discount FROM lineitem JOIN orders " +
        "ON l_orderkey = o_orderkey"
      t.lineitem.createOrReplaceTempView("lineitem")
      t.orders.createOrReplaceTempView("orders")
      // Validate the stored text still parses AND resolves — the
      // reference re-opens the view's SelectStmt against the current
      // schema before rendering it.
      t.spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW v_rev2 AS $viewSql")
      require(t.spark.catalog.tableExists("v_rev2"))
      Acl.clear()
      Acl.createUser("app_show", "%", "s3cure!")
      val userDdl = s"CREATE USER 'app_show'@'%' IDENTIFIED WITH " +
        s"'mysql_native_password' AS '${Acl.authString("app_show", "%")}'"
      val dbDdl = "CREATE DATABASE `graft` /*!40100 DEFAULT " +
        "CHARACTER SET utf8mb4 COLLATE " +
        s"${Charsets.defaultCollation("utf8mb4")} */"
      val seqDdl = "CREATE SEQUENCE `seq_orders` start with 1000 " +
        "minvalue 1000 maxvalue 10999 increment by 1 cache 100 " +
        "cycle ENGINE=InnoDB"
      val out = Seq(
        ("DATABASE", "graft", dbDdl),
        ("SEQUENCE", "seq_orders", seqDdl),
        ("USER", "app_show@%", userDdl),
        ("VIEW", "v_rev2", s"CREATE VIEW v_rev2 AS $viewSql"))
        .toDF("object_type", "name", "ddl")
      Acl.clear()
      out
    },

    // SHOW ANALYZE STATUS (reference: executor/show.go:214
    // ast.ShowAnalyzeStatus over the analyze-jobs registry —
    // TABLE_SCHEMA/TABLE_NAME/PARTITION_NAME/JOB_INFO/
    // PROCESSED_ROWS/STATE; START_TIME is the wall-clock column,
    // excluded here the way the q_slow_history family excludes wall
    // columns). The jobs are EXECUTED, not staged: each finished row
    // runs its stats pass and reports the rows it actually processed
    // — the full orders ANALYZE, the 20%-samplerate ANALYZE (the
    // q_analyze_sample knuth-coin sample, restated by the oracle
    // with the same integer-hash arithmetic), and the lineitem
    // ANALYZE — and the failed row is a REAL failure: an ANALYZE
    // against an unregistered index layout throws inside the engine
    // and is recorded as failed with 0 processed rows.
    Q("q_analyze_status", Some(s"""
      SELECT 'graft' AS table_schema, 'orders' AS table_name,
             '' AS partition_name, 'analyze columns' AS job_info,
             CAST(COUNT(*) AS BIGINT) AS processed_rows,
             'finished' AS state
      FROM orders
      UNION ALL
      SELECT 'graft', 'orders', '',
             'analyze columns with 0.2 samplerate',
             CAST(COUNT(*) AS BIGINT), 'finished'
      FROM orders
      WHERE ${graft.functions.TextFns.knuthCoinSql("o_orderkey")}
            < 0.2 * 4294967296
      UNION ALL
      SELECT 'graft', 'lineitem', '', 'analyze columns',
             CAST(COUNT(*) AS BIGINT), 'finished'
      FROM lineitem
      UNION ALL
      SELECT 'graft', 'lineitem', '', 'analyze index idx_nonexistent',
             CAST(0 AS BIGINT), 'failed'
    """)) { t =>
      import t.spark.implicits._
      def job(tbl: String, info: String, run: => Long)
          : (String, String, String, String, Long, String) =
        try ("graft", tbl, "", info, run, "finished")
        catch { case _: Exception => ("graft", tbl, "", info, 0L, "failed") }
      val rows = Seq(
        job("orders", "analyze columns", t.orders.count()),
        job("orders", "analyze columns with 0.2 samplerate",
          SampleStats.sampledOrders(t).count()),
        job("lineitem", "analyze columns", t.lineitem.count()),
        // A REAL failure: ANALYZE of an index layout that was never
        // registered throws inside the engine's own layout lookup.
        job("lineitem", "analyze index idx_nonexistent", {
          t.spark.read.parquet(s"${t.dir}/idx_nonexistent.parquet")
            .count()
        }))
      rows.toDF("table_schema", "table_name", "partition_name",
        "job_info", "processed_rows", "state")
    },

    // SHOW STATS_META (reference: executor/show_stats.go:104
    // fetchShowStatsMeta → :132 appendTableForStatsMeta — db, table,
    // partition, Update_time, ModifyCount, Count; Update_time is the
    // versionToTime wall-clock column, excluded). ModifyCount is the
    // staged DML delta (stagedStatsDeltas — the ONE spelling
    // q_stats_healthy shares): every component is a real count over
    // the mutation predicates, restated by the oracle, so the
    // bookkeeping arithmetic is hash-checked against the data.
    Q("q_stats_meta", Some("""
      SELECT 'graft' AS db_name, 'customer' AS table_name,
             '' AS partition_name, CAST(0 AS BIGINT) AS modify_count,
             CAST(COUNT(*) AS BIGINT) AS row_count
      FROM customer
      UNION ALL
      SELECT 'graft', 'nation', '', CAST(2 * COUNT(*) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM nation
      UNION ALL
      SELECT 'graft', 'orders', '', CAST(
          (SELECT COUNT(*) FROM orders WHERE o_orderkey % 29 = 3)
        + (SELECT COUNT(*) FROM orders
           WHERE o_orderkey % 13 = 4 AND o_orderkey % 29 <> 3)
        + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 53 = 9)
        AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM orders
    """)) { t =>
      import t.spark.implicits._
      stagedStatsDeltas(t)
        .map { case (tbl, m, n) => ("graft", tbl, "", m, n) }
        .toDF("db_name", "table_name", "partition_name",
          "modify_count", "row_count")
    },

    // SHOW STATS_HEALTHY (reference: executor/show_stats.go:401 →
    // :428 appendTableForStatsHealthy: healthy =
    // int((1 - modify/count) * 100) when modify < count, 100 when
    // modify == 0, else 0 — the Go int64() truncation is floor for
    // these non-negative values, and DuckDB's round-to-nearest
    // BIGINT cast makes FLOOR mandatory on both sides). Same staged
    // deltas as q_stats_meta (shared helper), so the two cards
    // cannot disagree: customer scores 100, orders scores the
    // truncated percentage, nation's modify ≥ count corner scores 0.
    Q("q_stats_healthy", Some("""
      SELECT 'graft' AS db_name, 'customer' AS table_name,
             '' AS partition_name, CAST(100 AS BIGINT) AS healthy
      UNION ALL
      SELECT 'graft', 'nation', '', CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'graft', 'orders', '', CAST(FLOOR(
        (1.0 - (
            (SELECT COUNT(*) FROM orders WHERE o_orderkey % 29 = 3)
          + (SELECT COUNT(*) FROM orders
             WHERE o_orderkey % 13 = 4 AND o_orderkey % 29 <> 3)
          + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 53 = 9)
          ) * 1.0 / (SELECT COUNT(*) FROM orders)) * 100)
        AS BIGINT)
    """)) { t =>
      import t.spark.implicits._
      stagedStatsDeltas(t).map { case (tbl, m, n) =>
        val healthy =
          if (m == 0L) 100L
          else if (m < n) math.floor((1.0 - m.toDouble / n) * 100).toLong
          else 0L
        ("graft", tbl, "", healthy)
      }.toDF("db_name", "table_name", "partition_name", "healthy")
    },

    // LOAD DATA INFILE — the loader leg of the OUTFILE byte grammar
    // (reference: executor/load_data.go:876 getFieldsFromLine → :905
    // field.escape: sequential unescape with `\0`→NUL and the
    // default drop-the-escape branch; unenclosed `\N` → NULL). The
    // entry WRITES a real OUTFILE with the shared [[Outfile]]
    // escaper (probe classes: field separator, enclose quote, escape
    // char — newline coverage lives on q_select_into's write side,
    // since a line-oriented distributed read re-splits raw newline
    // bytes; the reference's loader is a SINGLE sequential stream,
    // load_data.go reads one reader — our parse is a distributed
    // map, strictly more scalable), reads the byte stream back,
    // splits fields with the anchored enclosure grammar, unescapes
    // with [[Outfile.unescEnclosed]], parses `\N` to NULL, and
    // returns the reconstructed TYPED columns. The oracle recomputes
    // the SOURCE rows directly — hash equality IS the lossless
    // write→load round trip.
    Q("q_load_outfile", Some("""
      SELECT c_custkey,
             c_name || CASE CAST(c_custkey % 4 AS INT)
               WHEN 0 THEN ';x'
               WHEN 1 THEN '"q'
               WHEN 2 THEN '\z'
               ELSE '' END AS nm,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  ELSE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
             END AS bal
      FROM customer WHERE c_custkey < 500
    """)) { t =>
      val nm = concat(col("c_name"),
        when(col("c_custkey") % 4 === 0, ";x")
          .when(col("c_custkey") % 4 === 1, "\"q")
          .when(col("c_custkey") % 4 === 2, "\\z")
          .otherwise(""))
      val bal = when(col("c_custkey") % 7 === 0, lit(null))
        .otherwise(col("c_acctbal").cast("decimal(18,2)"))
      val line = concat(col("c_custkey").cast("string"), lit(";"),
        lit("\""), Outfile.escEnclosed(nm), lit("\""), lit(";"),
        coalesce(bal.cast("string"), lit("\\N")))
      val dir = Layouts.root("loadfile", t.dir)
      Formats.deleteRecursively(new java.io.File(dir))
      t.customer.filter(col("c_custkey") < 500)
        .select(line.as("line"))
        .write.mode("overwrite").text(dir)
      // The LOAD leg: distributed text scan → anchored field split
      // (the enclosed field spans to the LAST `";` before the
      // no-separator numeric/\N tail — fieldWriter's scan expressed
      // as one anchored extract) → unescape → typed parse.
      val fieldRe = "^(\\d+);\"(.*)\";(.*)$"
      val raw = t.spark.read.text(dir)
      raw.select(
          regexp_extract(col("value"), fieldRe, 1)
            .cast("bigint").as("c_custkey"),
          Outfile.unescEnclosed(
            regexp_extract(col("value"), fieldRe, 2)).as("nm"),
          when(regexp_extract(col("value"), fieldRe, 3) === "\\N",
            lit(null))
            .otherwise(regexp_extract(col("value"), fieldRe, 3)
              .cast("decimal(18,2)"))
            .cast("double").as("bal"))
    },

    // Statement digest normalization (reference: parser/digester.go
    // — the stmtsummary/slow-log grouping key: literals fold to '?',
    // whitespace collapses, case folds, so "WHERE k = 42" and
    // "where k = 99" share one digest). The engine digests a
    // DATA-derived statement stream (three templates instantiated
    // per orders row — numeric literal, quoted string literal,
    // fixed-point literal) with codegen'd regexp passes and groups
    // by digest; the oracle normalizes the same stream with DuckDB's
    // regexp engine. String literals fold BEFORE numbers so digits
    // inside quotes cannot leak a partial fold.
    Q("q_stmt_digest", Some("""
      WITH stmts AS (
        SELECT CASE CAST(o_orderkey % 3 AS INT)
          WHEN 0 THEN 'SELECT * FROM orders WHERE o_orderkey = '
                      || o_orderkey
          WHEN 1 THEN 'SELECT  c_name FROM customer WHERE c_name = ''Customer#'
                      || o_custkey || ''''
          ELSE 'update ORDERS set o_totalprice = '
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               || '  WHERE o_orderkey = ' || o_orderkey
        END AS sql_text
        FROM orders WHERE o_orderkey < 4000),
      d AS (
        SELECT lower(regexp_replace(regexp_replace(regexp_replace(
                 sql_text,
                 '''[^'']*''', '?', 'g'),
                 '\b[0-9]+(\.[0-9]+)?', '?', 'g'),
                 '\s+', ' ', 'g')) AS digest_text
        FROM stmts)
      SELECT digest_text, COUNT(*) AS n_statements
      FROM d GROUP BY 1
    """)) { t =>
      val stmt = when(col("o_orderkey") % 3 === 0,
          concat(lit("SELECT * FROM orders WHERE o_orderkey = "),
            col("o_orderkey")))
        .when(col("o_orderkey") % 3 === 1,
          concat(lit("SELECT  c_name FROM customer WHERE c_name = "),
            lit("'Customer#"), col("o_custkey"), lit("'")))
        .otherwise(concat(lit("update ORDERS set o_totalprice = "),
          col("o_totalprice").cast("decimal(18,2)").cast("string"),
          lit("  WHERE o_orderkey = "), col("o_orderkey")))
      val digest = lower(regexp_replace(regexp_replace(regexp_replace(
        stmt, "'[^']*'", "?"),
        "\\b[0-9]+(\\.[0-9]+)?", "?"),
        "\\s+", " "))
      t.orders.filter(col("o_orderkey") < 4000)
        .select(digest.as("digest_text"))
        .groupBy("digest_text")
        .agg(count(lit(1)).as("n_statements"))
    },

    // SHOW BUILTINS (reference: executor/show.go:220
    // fetchShowBuiltins — the engine's function-registry listing).
    // Probed LIVE against the session's FunctionRegistry
    // (spark.catalog.functionExists), over a pinned card spanning
    // the builtin classes the scalar suites exercise AND the graft
    // extension functions GraftExtensions injects — so a build whose
    // extension wiring silently fell off (the one failure mode a
    // static listing could never catch) fails the hash on the
    // graft_* rows; the MySQL-only name pins the negative.
    Q("q_show_builtins", Some("""
      SELECT * FROM (VALUES
        ('approx_count_distinct', 1),
        ('concat',                1),
        ('get_json_object',       1),
        ('graft_cms_estimate',    1),
        ('graft_dot',             1),
        ('text_stats',            1),
        ('password',              0),
        ('percentile',            1),
        ('regexp_replace',        1)
      ) AS v(function_name, available)
    """)) { t =>
      import t.spark.implicits._
      Seq("approx_count_distinct", "concat", "get_json_object",
        "graft_cms_estimate", "graft_dot", "text_stats",
        "password", "percentile", "regexp_replace")
        .map(f => (f, if (t.spark.catalog.functionExists(f)) 1 else 0))
        .toDF("function_name", "available")
    },

    // RENAME USER (reference: executor/simple.go:1075
    // executeRenameUser — per pair, old must exist and new must not,
    // checked against the state earlier pairs left; a failing pair
    // rolls the whole statement back). The card proves the MOVE is
    // total: direct privileges, role-inherited privileges, and the
    // stored credential all answer under the NEW principal and go
    // dark under the old — every cell a live Acl.verify /
    // checkPassword / showGrants call — and the third stage drives a
    // two-pair statement whose second pair fails (old absent), so
    // the first pair's completed rename must ROLL BACK (atomicity is
    // in the hash, not just the spec).
    Q("q_rename_user", Some("""
      SELECT * FROM (VALUES
        ('1_created', 1, 0, 0, 1, 0, 0),
        ('2_renamed', 0, 1, 1, 0, 1, 3),
        ('3_atomic_rollback', 0, 1, 1, 0, 1, 3)
      ) AS v(stage, cust_old, cust_new, ord_new,
             pw_old, pw_new, lines_new)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      Acl.createUser("svc_old", "%", "pw1")
      Acl.grant("svc_old", Seq("SELECT"), db = "graft", tbl = "customer")
      Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "orders")
      Acl.grantRole("readers", "svc_old")
      def row(stage: String) = (stage,
        if (Acl.verify("svc_old", "%", "graft", "customer", "SELECT")) 1 else 0,
        if (Acl.verify("svc_new", "%", "graft", "customer", "SELECT")) 1 else 0,
        if (Acl.verify("svc_new", "%", "graft", "orders", "SELECT")) 1 else 0,
        if (Acl.checkPassword("svc_old", "%", "pw1")) 1 else 0,
        if (Acl.checkPassword("svc_new", "%", "pw1")) 1 else 0,
        Acl.showGrants("svc_new", "%").size)
      val out = Seq.newBuilder[(String, Int, Int, Int, Int, Int, Int)]
      out += row("1_created")
      Acl.renameUser("svc_old", "%", "svc_new", "%")
      out += row("2_renamed")
      // Two-pair statement, second pair invalid -> NOTHING moves.
      try Acl.renameUsers(Seq(
        (("svc_new", "%"), ("svc_tmp", "%")),
        (("ghost", "%"), ("svc_other", "%"))))
      catch { case _: IllegalArgumentException => }
      out += row("3_atomic_rollback")
      Acl.clear()
      out.result().toDF("stage", "cust_old", "cust_new", "ord_new",
        "pw_old", "pw_new", "lines_new")
    },

    // SHOW BACKUPS / SHOW RESTORES (reference: executor/show.go:221
    // fetchShowBRIE — the BRIE task queue render: destination,
    // state, progress; executor/brie.go keeps the queue). Derived
    // from the REAL backup layout on disk (Backup.dir — the ONE
    // spelling q_backup_restore builds): the finished BACKUP row
    // reads its row count from the persisted manifest, the RESTORE
    // row runs a real digest-verified restore and counts what came
    // back, and the 'running' row is a data-written-manifest-absent
    // staging dir — the manifest-lands-last contract makes
    // "manifest missing = still running" the honest state read, and
    // an incomplete backup reports 0 durable rows. The oracle
    // restates both finished counts straight from orders.
    Q("q_show_backups", Some("""
      SELECT 'BACKUP' AS kind, 'local' AS destination,
             'done' AS state, CAST(COUNT(*) AS BIGINT) AS n_rows,
             100 AS progress_pct
      FROM orders
      UNION ALL
      SELECT 'RESTORE', 'local', 'done', CAST(COUNT(*) AS BIGINT), 100
      FROM orders
      UNION ALL
      SELECT 'BACKUP', 'local', 'running', CAST(0 AS BIGINT), 0
    """)) { t =>
      import t.spark.implicits._
      val bdir = Backup.dir(t)
      val manifest = t.spark.read.parquet(s"$bdir/manifest").head()
      val restored = Backup.restore(t.spark, bdir).count()
      // An in-flight backup: data landing, manifest not yet written.
      // The staging dir is WIPED at entry start — the in-flight
      // state is this run's own, so a regenerated dataset can never
      // serve stale staged data, and no defensive manifest-done
      // branch exists to mis-render against the pinned oracle.
      val staging = Layouts.root("backup_running", t.dir)
      Formats.deleteRecursively(new java.io.File(staging))
      t.orders.filter(col("o_orderkey") < 100)
        .select("o_orderkey").write.parquet(s"$staging/data")
      Seq(
        ("BACKUP", "local", "done",
          manifest.getAs[Long]("n_rows"), 100),
        ("RESTORE", "local", "done", restored, 100),
        ("BACKUP", "local", "running", 0L, 0))
        .toDF("kind", "destination", "state", "n_rows", "progress_pct")
    },

    // AES_ENCRYPT / AES_DECRYPT (reference:
    // expression/builtin_encryption.go — TiDB's default
    // block_encryption_mode is aes-128-ecb; the GCM-class modes are
    // the nonce'd variants). Ciphertext bytes are engine-specific
    // (and GCM is nonce-randomized), so the oracle pins what IS
    // engine-neutral: the DECRYPT∘ENCRYPT round trip returns the
    // exact source text (stated by the oracle as the source itself —
    // hash equality proves the cipher is lossless), the ECB/PKCS
    // ciphertext length is the padded block arithmetic
    // 16·(⌊len/16⌋+1), the GCM length is len + 12-byte IV + 16-byte
    // tag, and a wrong-key decrypt NULLs under try_aes_decrypt —
    // probed on GCM, whose auth tag makes a false accept ~2^-128;
    // ECB/PKCS would accept a wrong key whenever the garbage final
    // block happens to end in valid padding (~1/256 per row), which
    // is a probabilistic card, not an invariant. All codegen'd
    // built-ins.
    Q("q_func_aes", Some("""
      SELECT c_custkey, c_name AS rt_ecb, c_name AS rt_gcm,
             CAST(16 * (strlen(c_name) // 16 + 1) AS INT) AS len_ecb,
             CAST(strlen(c_name) + 28 AS INT) AS len_gcm,
             1 AS wrong_key_nulls
      FROM customer WHERE c_custkey < 300
    """)) { t =>
      val ecb = expr(
        "aes_encrypt(cast(c_name as binary), '0123456789abcdef', " +
          "'ECB', 'PKCS')")
      val gcm = expr(
        "aes_encrypt(cast(c_name as binary), '0123456789abcdef', " +
          "'GCM', 'DEFAULT')")
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          expr("cast(aes_decrypt(" +
            "aes_encrypt(cast(c_name as binary), '0123456789abcdef'," +
            " 'ECB', 'PKCS'), '0123456789abcdef', 'ECB', 'PKCS') " +
            "as string)").as("rt_ecb"),
          expr("cast(aes_decrypt(" +
            "aes_encrypt(cast(c_name as binary), '0123456789abcdef'," +
            " 'GCM', 'DEFAULT'), '0123456789abcdef', 'GCM', " +
            "'DEFAULT') as string)").as("rt_gcm"),
          octet_length(ecb).cast("int").as("len_ecb"),
          octet_length(gcm).cast("int").as("len_gcm"),
          when(expr(
            "try_aes_decrypt(aes_encrypt(cast(c_name as binary), " +
              "'0123456789abcdef', 'GCM', 'DEFAULT'), " +
              "'fedcba9876543210', 'GCM', 'DEFAULT')").isNull, 1)
            .otherwise(0).as("wrong_key_nulls"))
    },

    // PAD SPACE collation semantics (reference: util/collate/
    // collate.go:256 truncateTailingSpace — every non-binary MySQL
    // collation is PAD SPACE: trailing spaces are INSIGNIFICANT for
    // compare/group/distinct, 'abc' = 'abc  '; only the binary
    // collation distinguishes them). Spark's collations are all
    // NO PAD, so the engine realizes PAD SPACE as rtrim-before-
    // compare composed with the collated comparator (rtrim ∘
    // UTF8_BINARY for _bin, rtrim ∘ UTF8_LCASE for _ci) — staged
    // over a padded probe (0/1/2 trailing spaces by key): distinct
    // counts under binary vs pad-bin vs pad-ci grouping, and live
    // equality probes for each comparator class. The oracle
    // restates the semantics with DuckDB's independent
    // rtrim/lower. At scale the rtrim rides the grouping key
    // map-side — no extra exchange.
    Q("q_collate_padspace", Some("""
      WITH p AS (
        SELECT c_mktsegment ||
               CASE CAST(c_custkey % 3 AS INT)
                 WHEN 0 THEN '' WHEN 1 THEN ' ' ELSE '  ' END AS seg,
               c_mktsegment AS base, c_custkey
        FROM customer)
      SELECT
        CAST(COUNT(DISTINCT seg) AS BIGINT) AS nd_binary,
        CAST(COUNT(DISTINCT rtrim(seg)) AS BIGINT) AS nd_padbin,
        CAST(COUNT(DISTINCT lower(rtrim(seg))) AS BIGINT) AS nd_padci,
        CAST(SUM(CASE WHEN seg = base THEN 1 ELSE 0 END) AS BIGINT)
          AS eq_binary,
        CAST(SUM(CASE WHEN rtrim(seg) = base THEN 1 ELSE 0 END)
          AS BIGINT) AS eq_padbin,
        CAST(SUM(CASE WHEN lower(rtrim(seg)) = lower(base) THEN 1
                 ELSE 0 END) AS BIGINT) AS eq_padci
      FROM p
    """)) { t =>
      val seg = concat(col("c_mktsegment"),
        when(col("c_custkey") % 3 === 0, "")
          .when(col("c_custkey") % 3 === 1, " ")
          .otherwise("  "))
      // PAD SPACE comparator classes: rtrim composed with the LIVE
      // collated comparator (the same engine collators
      // q_show_collation probes).
      def padBin(c: org.apache.spark.sql.Column) =
        collate(rtrim(c), "UTF8_BINARY")
      def padCi(c: org.apache.spark.sql.Column) =
        collate(rtrim(c), "UTF8_LCASE")
      t.customer.select(seg.as("seg"), col("c_mktsegment").as("base"))
        .agg(
          countDistinct(col("seg")).as("nd_binary"),
          countDistinct(padBin(col("seg"))).as("nd_padbin"),
          countDistinct(padCi(col("seg"))).as("nd_padci"),
          sum(when(col("seg") === col("base"), 1L).otherwise(0L))
            .as("eq_binary"),
          sum(when(padBin(col("seg")) === padBin(col("base")), 1L)
            .otherwise(0L)).as("eq_padbin"),
          sum(when(padCi(col("seg")) === padCi(col("base")), 1L)
            .otherwise(0L)).as("eq_padci"))
    },

    // Workload-driven index/layout advice (reference:
    // executor/index_advise.go — recommend indexes from a workload's
    // predicates; the warehouse analog recommends bucket/partition/
    // cluster layout). The card runs tools.IndexAdvise over a PINNED
    // five-entry workload (frozen TPC-H/scan shapes): per referenced
    // (table, column), the equality/range/join reference counts
    // harvested from the ANALYZED logical plans, and the derived
    // advice class. This makes plan SHAPE a hash-checked fact: a
    // Catalyst upgrade or entry edit that changes how predicates
    // reach those plans flips a count and fails the oracle — the
    // PlanShapeSpec discipline promoted into the correctness gate.
    Q("q_index_advise", Some("""
      SELECT * FROM (VALUES
        ('customer', 'c_custkey', 0, 0, 1, 'BUCKET'),
        ('customer', 'c_mktsegment', 1, 0, 0, 'CLUSTER'),
        ('customer', 'c_nationkey', 0, 0, 1, 'BUCKET'),
        ('lineitem', 'l_discount', 0, 2, 0, 'PARTITION_SORT'),
        ('lineitem', 'l_linenumber', 1, 0, 0, 'CLUSTER'),
        ('lineitem', 'l_orderkey', 1, 0, 1, 'BUCKET'),
        ('lineitem', 'l_quantity', 0, 1, 0, 'PARTITION_SORT'),
        ('lineitem', 'l_shipdate', 0, 3, 0, 'PARTITION_SORT'),
        ('nation', 'n_nationkey', 0, 0, 1, 'BUCKET'),
        ('nation', 'n_regionkey', 0, 0, 1, 'BUCKET'),
        ('orders', 'o_custkey', 0, 0, 1, 'BUCKET'),
        ('orders', 'o_orderdate', 0, 1, 0, 'PARTITION_SORT'),
        ('orders', 'o_orderkey', 0, 0, 1, 'BUCKET'),
        ('region', 'r_regionkey', 0, 0, 1, 'BUCKET')
      ) AS v(table_name, column_name, eq_refs, range_refs, join_refs,
             advice)
    """)) { t =>
      import t.spark.implicits._
      graft.tools.IndexAdvise.run(t, Seq("q_tpch_q3", "q_tpch_q6",
          "q_join_broadcast", "q_point_get", "q_window_timerange"))
        .map(c => (c.table, c.column, c.eqRefs, c.rangeRefs,
          c.joinRefs, c.advice))
        .toDF("table_name", "column_name", "eq_refs", "range_refs",
          "join_refs", "advice")
    },

    // GROUP_CONCAT(... ORDER BY ...) truncation at
    // group_concat_max_len (reference: executor/aggfuncs/
    // func_group_concat.go — the byte-budget truncate + the 1260
    // "Some rows were cut by GROUPCONCAT" warning counter;
    // q_agg_groupconcat covers the untruncated render). Per group:
    // the sorted render cut at a 64-byte budget, the truncation
    // flag, and the would-be full length — the warning count is the
    // sum of flags, stated per row so the oracle hashes the whole
    // truncation decision, not just a total.
    Q("q_agg_groupconcat_maxlen", Some("""
      WITH g AS (
        SELECT o_orderpriority,
               string_agg(CAST(o_orderkey AS VARCHAR), ','
                          ORDER BY o_orderkey) AS full_gc
        FROM orders WHERE o_orderkey < 2000
        GROUP BY o_orderpriority)
      SELECT o_orderpriority, substr(full_gc, 1, 64) AS gc,
             CAST(LENGTH(full_gc) AS BIGINT) AS full_len,
             CAST(LENGTH(full_gc) > 64 AS INT) AS truncated
      FROM g
    """)) { t =>
      val full = concat_ws(",",
        transform(array_sort(collect_list(col("o_orderkey"))),
          x => x.cast("string")))
      t.orders.filter(col("o_orderkey") < 2000)
        .groupBy("o_orderpriority")
        .agg(full.as("full_gc"))
        .select(col("o_orderpriority"),
          substring(col("full_gc"), 1, 64).as("gc"),
          length(col("full_gc")).cast("long").as("full_len"),
          (length(col("full_gc")) > 64).cast("int").as("truncated"))
    },
  )
}
