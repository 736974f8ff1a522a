package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import graft.tools.Acl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-13 entries: privilege ENFORCEMENT (the leg grants exist
  * for), MODIFY COLUMN type widening, the index-lookup merge join
  * variant, and charset-conversion breadth. */
object Wave16 {

  def all: Seq[Q] = Seq(

    // Privilege ENFORCEMENT — the RequestVerification leg (reference:
    // privilege/privileges/privileges.go:111 — every executor checks
    // it before touching a table; q_show_grants only RENDERS the
    // store). The entry proves the gate inline: a grantless principal
    // and a wrong-host principal must both THROW before any rows
    // move, then the granted principal (SELECT inherited through a
    // role chain, host-exact) reads customer and returns rows
    // IDENTICAL to the unguarded read — which is what the oracle
    // hash-checks. The check is plan-time (driver-side store lookup),
    // so the guarded plan is byte-identical to the unguarded one —
    // free at any scale.
    Q("q_priv_enforce", Some("""
      SELECT c_mktsegment, COUNT(*) AS n_cust,
             CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
      FROM customer GROUP BY c_mktsegment
    """)) { t =>
      Acl.clear()
      // SELECT on graft.customer flows: readers -> analyst@10.0.0.1.
      Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "customer")
      Acl.grantRole("readers", "analyst", "10.0.0.1")
      Acl.createUser("intern")
      def deniedThrows(u: String, h: String): Boolean =
        try { Acl.guardedRead(u, h, "graft", "customer")(t.customer); false }
        catch { case _: SecurityException => true }
      require(deniedThrows("intern", "%"),
        "enforcement hole: grantless principal read the table")
      require(deniedThrows("analyst", "%"),
        "enforcement hole: role grant leaked across hosts")
      require(!Acl.verify("analyst", "10.0.0.1", "graft", "orders", "SELECT"),
        "enforcement hole: table-scope grant covered a sibling table")
      Acl.guardedRead("analyst", "10.0.0.1", "graft", "customer")(t.customer)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_nationkey")).cast("long").as("sum_nation"))
    },

    // ALTER TABLE MODIFY COLUMN type widening (reference:
    // ddl/column.go:841 onModifyColumn — INT -> BIGINT grows the type
    // with a reorg/backfill in TiDB). The Spark-native translation is
    // reorg-FREE: generation 1 stays INT32 on disk forever, generation
    // 2 writes INT64, and ONE scan with the widened read schema serves
    // both — Spark 4's parquet reader applies the INT32 -> INT64
    // widening promotion inside the scan, so old generations are cast
    // at read time and never rewritten (the q_schema_evolution
    // machinery's other half; at 100 TB a backfill of the old
    // generation is exactly the rewrite this avoids). Gen-2 values
    // overflow INT32 on purpose — the widened type is load-bearing,
    // not cosmetic. Wave16Spec proves gen 1's files are untouched by
    // the widened read and still narrow on disk.
    Q("q_modify_column", Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 300 THEN CAST(o_custkey AS BIGINT)
                  ELSE o_custkey * 100000000000 END AS val,
             CAST(o_orderkey >= 300 AS INT) AS gen2
      FROM orders WHERE o_orderkey < 600
    """)) { t =>
      val dir = Layouts.root("widen", t.dir)
      // Reset the whole layout root first: the widened read scans the
      // ROOT, so a stale subdirectory from an older code version
      // would silently fold into the hashed result otherwise.
      Formats.deleteRecursively(new java.io.File(dir))
      t.orders.filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"), col("o_custkey").cast("int").as("val"))
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      t.orders.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600)
        .select(col("o_orderkey"),
          (col("o_custkey") * 100000000000L).as("val"))
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      t.spark.read.schema("o_orderkey BIGINT, val BIGINT, gen INT")
        .parquet(dir)
        .select(col("o_orderkey"), col("val"),
          (col("gen") === 2).cast("int").as("gen2"))
    },

    // Index-lookup MERGE join (reference:
    // executor/index_lookup_merge_join.go:51 IndexLookUpMergeJoin —
    // the ordered variant of the index lookup join: outer rows keep
    // their key order, inner rows are fetched by key range, and the
    // join is a MERGE, not a hash build). Spark-native translation:
    // both sides live in the bucketed+sorted co-located layout
    // (sources/Bucketing — the TiKV-range-storage analog), the probe
    // keys are collected and PUSHED into the fact scan as an IN
    // filter (the "fetch inner rows by key ranges" leg, visible in
    // PushedFilters), and the SMJ REUSES the layout's bucket sort
    // order — Wave16Spec plan-asserts ZERO Exchange and ZERO Sort
    // below the SortMergeJoin. Past the 64k key-batch cap the entry
    // degrades to the same co-located SMJ without the IN pushdown
    // (scan-everything is the correct plan when the probe isn't
    // selective) instead of failing.
    Q("q_join_index_merge", Some("""
      SELECT c.c_custkey, c.c_acctbal, o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS o_price
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal > 9900
    """)) { t =>
      val (bo, bc) = graft.sources.Bucketing
        .ordersCustomerBucketed(t.spark, t.dir)
      val probe = bc.filter(col("c_acctbal") > 9900)
        .select(col("c_custkey"), col("c_acctbal"))
      val fact = IndexLookup
        .probeKeys(probe, "c_custkey", "q_join_index_merge") match {
          case Some(keys) => bo.filter(col("o_custkey").isin(keys: _*))
          case None => bo
        }
      probe.hint("merge")
        .join(fact.hint("merge"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_acctbal"), col("o_orderkey"),
          Exact.dec2(col("o_totalprice")).cast("double").as("o_price"))
    },

    // Charset conversion — CONVERT(... USING binary / utf8mb4)
    // (reference: expression/builtin_convert_charset.go, the
    // to-binary and to-charset legs; expression/collation.go's
    // binary-vs-utf8 compare split). The Spark translation:
    // encode(s, 'UTF-8') IS the to-binary conversion (compares by
    // bytes — 'VIEW' and 'view' distinct), decode back is the
    // utf8mb4 leg (lossless round trip, checked as a hash-proven
    // column), and the byte/char length split over MULTI-BYTE text
    // (accented vowels staged exactly as q_func_collate2 does) pins
    // the charset awareness: n_bytes > n_chars iff the string left
    // ASCII. Map-side until the final count — no new exchange shape.
    Q("q_func_convert", Some("""
      WITH m AS (
        SELECT CASE event_id % 3
                 WHEN 0 THEN upper(event_type)
                 WHEN 1 THEN translate(event_type, 'aeo', 'áéó')
                 ELSE event_type
               END AS s
        FROM events WHERE event_id < 600)
      SELECT hex(encode(s)) AS bytes_hex,
             CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
             CAST(length(s) AS BIGINT) AS n_chars,
             CAST(decode(encode(s)) = s AS INT) AS roundtrip,
             COUNT(*) AS n
      FROM m GROUP BY 1, 2, 3, 4
    """)) { t =>
      val s = when(col("event_id") % 3 === 0, upper(col("event_type")))
        .when(col("event_id") % 3 === 1,
          translate(col("event_type"), "aeo", "áéó"))
        .otherwise(col("event_type"))
      val bin = encode(col("s"), "UTF-8")
      t.events.filter(col("event_id") < 600)
        .select(s.as("s"))
        .groupBy(
          hex(bin).as("bytes_hex"),
          length(bin).cast("long").as("n_bytes"),
          length(col("s")).cast("long").as("n_chars"),
          (decode(bin, "UTF-8") === col("s")).cast("int").as("roundtrip"))
        .agg(count(lit(1)).as("n"))
    },

    // SHOW CHARACTER SET (reference: executor/show.go
    // fetchShowCharset; charset/charset.go holds the descriptor
    // table: name, default collation, maxlen). The card is DERIVED,
    // not transcribed: per charset the engine ENCODES that charset's
    // widest probe character through the real codec and measures the
    // byte length (maxlen), and round-trips an ASCII probe (MySQL
    // charsets are ASCII-transparent) — the oracle pins the
    // descriptor literals the probes must reproduce. Driver-sized
    // catalog card (4 rows).
    Q("q_show_charset", Some("""
      SELECT * FROM (VALUES
        ('ascii',   'ascii_bin',       1, 1),
        ('latin1',  'latin1_bin',      1, 1),
        ('utf8',    'utf8_general_ci', 3, 1),
        ('utf8mb4', 'utf8mb4_bin',     4, 1)
      ) AS v(charset, default_collation, maxlen, ascii_safe)
    """)) { t =>
      import t.spark.implicits._
      // The SHARED charset descriptor table (Charsets in Wave17.scala
      // — also feeds SHOW COLLATION's is_default column, so the two
      // cards cannot drift): (mysql charset, jvm codec, widest probe
      // char, default collation per the reference's descriptor table).
      Charsets.descriptors
        .map { case (cs, codec, probe, coll) =>
          Seq((cs, coll)).toDF("charset", "default_collation")
            .select(col("charset"), col("default_collation"),
              length(encode(lit(probe), codec)).cast("int").as("maxlen"),
              (decode(encode(lit("Az"), codec), codec) === "Az")
                .cast("int").as("ascii_safe"))
        }
        .reduce(_ union _)
    },

    // ADMIN SHOW DDL JOBS (reference: executor/executor.go:442
    // DDLJobRetriever, :466 appendJobToChunk — one row per queued DDL
    // job: id, table, type, schema state, row count, state). The
    // entry RUNS four real warehouse-layout DDL operations — a
    // partitioned CREATE, an ADD COLUMN generation write, a MODIFY
    // COLUMN widening generation, an EXCHANGE PARTITION swap, then a
    // recycle-bin DROP — journaling each with its actual affected row
    // count, and renders the job history. The oracle restates every
    // row count as the COUNT the operation must have moved, so the
    // hash proves the journal recorded the real work, not a
    // transcript. Wall-clock columns are deliberately absent (the
    // q_statements_summary rows-only lesson, inverted: drop the
    // nondeterminism, keep the hash).
    Q("q_ddl_jobs", Some("""
      SELECT 1 AS job_id, 'graft' AS db_name, 'jobs_base' AS table_name,
             'create table' AS job_type, 'public' AS schema_state,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey < 300) AS row_count,
             'synced' AS state
      UNION ALL
      SELECT 2, 'graft', 'jobs_base', 'add column', 'public',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey >= 300 AND o_orderkey < 600), 'synced'
      UNION ALL
      SELECT 3, 'graft', 'jobs_base', 'modify column', 'public',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey >= 600 AND o_orderkey < 900), 'synced'
      UNION ALL
      SELECT 4, 'graft', 'jobs_base', 'exchange partition', 'public',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey >= 900 AND o_orderkey < 1200), 'synced'
      UNION ALL
      SELECT 5, 'graft', 'jobs_stage', 'drop table', 'public',
             CAST(0 AS BIGINT), 'synced'
    """)) { t =>
      // Each run works under its own per-process child of the shared
      // root, so two processes over one data dir never meet, and a
      // partial tree another run left behind is never read.
      val root = s"${Layouts.root("ddljobs", t.dir)}/run-" +
        ProcessHandle.current().pid()
      try ddlJobs(t, root)
      finally Formats.deleteRecursively(new java.io.File(root))
    },

    // Multi-column partition pruning — PARTITION BY RANGE COLUMNS
    // (reference: planner/core/rule_partition_processor.go:822
    // pruneRangeColumnsPartition, :1467 makeRangeColumnPruner — the
    // pruner walks EACH partitioning column's predicate). Spark twin:
    // a two-level directory layout (yr / priority class); predicates
    // on BOTH partition columns become PartitionFilters and prune to
    // one leaf directory family before a row is read (Wave16Spec
    // plan-asserts both columns in the scan's PartitionFilters).
    // Lazily written once per source fingerprint, like the other
    // partitioned-fact layouts.
    Q("q_scan_partition_rangecol", Some("""
      SELECT o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders
      WHERE year(o_orderdate) = 1995
        AND substring(o_orderpriority, 1, 1) = '1'
      GROUP BY 1
    """)) { t =>
      val dir = Layouts.once(Layouts.root("rc_orders", t.dir,
          s"${t.dir}/orders.parquet")) { dir =>
        Formats.write(
          t.orders
            .withColumn("yr", year(col("o_orderdate")))
            .withColumn("pclass",
              substring(col("o_orderpriority"), 1, 1)),
          "parquet", dir, partitionBy = Seq("yr", "pclass"))
      }
      t.spark.read.parquet(dir)
        .filter(col("yr") === 1995 && col("pclass") === "1")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("total"))
    },
  )

  /** q_ddl_jobs' body: runs the five DDL operations under `root`,
    * which it clears first, and returns the journal as a local frame
    * that reads none of the files. */
  private[graft] def ddlJobs(t: Tables, root: String): DataFrame = {
    import t.spark.implicits._
    Formats.deleteRecursively(new java.io.File(root))
    graft.tools.DdlJournal.clear()
    def slice(lo: Int, hi: Int) = t.orders
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"))
    // Row counts journal what LANDED: a footer-metadata count of
    // the written files, not a second scan of orders.
    def writtenRows(dir: String): Long =
      t.spark.read.parquet(dir).count()
    // 1: CREATE TABLE jobs_base PARTITION BY year
    slice(0, 300).withColumn("yr", year(col("o_orderdate")))
      .write.partitionBy("yr").parquet(s"$root/base")
    graft.tools.DdlJournal.record("graft", "jobs_base",
      "create table", writtenRows(s"$root/base"))
    // 2: ADD COLUMN — a new generation carrying the added column
    slice(300, 600).withColumn("note", lit("g2"))
      .write.parquet(s"$root/addcol")
    graft.tools.DdlJournal.record("graft", "jobs_base",
      "add column", writtenRows(s"$root/addcol"))
    // 3: MODIFY COLUMN — the widened generation (INT -> BIGINT key)
    slice(600, 900)
      .withColumn("o_orderkey", col("o_orderkey").cast("long"))
      .write.parquet(s"$root/widen")
    graft.tools.DdlJournal.record("graft", "jobs_base",
      "modify column", writtenRows(s"$root/widen"))
    // 4: EXCHANGE PARTITION — swap one year partition with a staged
    // table; the journal records the rows that ARRIVED (the
    // exchange's own audit counts).
    val pickYr = new java.io.File(s"$root/base").listFiles()
      .filter(_.getName.startsWith("yr=")).map(_.getName)
      .min.stripPrefix("yr=")
    slice(900, 1200).write.parquet(s"$root/stage")
    val (in, _) = graft.sources.ExchangePartition.exchange(
      t.spark, s"$root/base", s"yr=$pickYr", s"$root/stage")
    graft.tools.DdlJournal.record("graft", "jobs_base",
      "exchange partition", in)
    // 5: DROP TABLE through the recycle bin (unlink, not erase)
    graft.tools.RecycleBin.drop(s"$root/stage", s"$root/bin")
    graft.tools.DdlJournal.record("graft", "jobs_stage",
      "drop table", 0L)
    graft.tools.DdlJournal.history()
      .map(j => (j.id, j.db, j.table, j.jobType, j.schemaState,
        j.rowCount, j.state))
      .toDF("job_id", "db_name", "table_name", "job_type",
        "schema_state", "row_count", "state")
      .withColumn("job_id", col("job_id").cast("int"))
  }
}
