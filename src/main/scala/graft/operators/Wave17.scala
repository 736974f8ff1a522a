package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import graft.tools.Acl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The charset descriptor table (reference: charset/charset.go
  * charsetInfos — name, default collation, maxlen), factored out so
  * the SHOW CHARACTER SET and SHOW COLLATION cards derive their
  * default-collation facts from ONE place and cannot drift. Each row:
  * (mysql charset, jvm codec, widest probe char, default collation).
  */
object Charsets {
  val descriptors: Seq[(String, String, String, String)] = Seq(
    ("ascii", "US-ASCII", "a", "ascii_bin"),
    ("latin1", "ISO-8859-1", "é", "latin1_bin"),
    ("utf8", "UTF-8", "€", "utf8_general_ci"),
    ("utf8mb4", "UTF-8", "😀", "utf8mb4_bin"))

  /** charset → its default collation, including the pseudo-charset
    * `binary` (whose only collation is its own default —
    * charset.go's CharsetBin descriptor). */
  val defaultCollation: Map[String, String] =
    descriptors.map(d => d._1 -> d._4).toMap + ("binary" -> "binary")
}

/** Round-14 entries: SET ROLE activation semantics, the SHOW
  * COLLATION descriptor card, SHOW INDEX over the registered
  * physical layouts, and the ADMIN RECOVER repair leg. */
object Wave17 {

  def all: Seq[Q] = Seq(

    // SET ROLE / SET DEFAULT ROLE activation (reference:
    // executor/simple.go:154 SetRoleStmt, :158 SetDefaultRoleStmt;
    // privilege/privileges role activation — a fresh TiDB session
    // has activated NO roles, SET DEFAULT ROLE picks what a login
    // activates, SET ROLE flips the live set). The card drives one
    // principal through the whole activation lifecycle and records
    // the activation-honoring RequestVerification verdict per stage
    // — every cell is a real Acl.verify(honorActiveRoles = true)
    // call, so the oracle hash pins the privilege FLIP when a
    // granted role is deactivated (the enforcement fact SET ROLE
    // exists for). The final row pins the store's fold-all COMPAT
    // default (the 5-arg verify) against the same grants — the
    // documented divergence the existing grants hashes rely on.
    Q("q_set_role", Some("""
      SELECT * FROM (VALUES
        ('1_login_no_default',  0, 0),
        ('2_set_role_readers',  1, 0),
        ('3_set_role_all',      1, 1),
        ('4_set_role_none',     0, 0),
        ('5_default_writers_relogin', 0, 1),
        ('6_fold_all_compat',   1, 1)
      ) AS v(stage, customer_select, orders_select)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "customer")
      Acl.grant("writers", Seq("SELECT"), db = "graft", tbl = "orders")
      Acl.grantRole("readers", "ana")
      Acl.grantRole("writers", "ana")
      def can(tbl: String, active: Boolean = true): Int =
        if (Acl.verify("ana", "%", "graft", tbl, "SELECT",
          honorActiveRoles = active)) 1 else 0
      def row(stage: String) = (stage, can("customer"), can("orders"))
      val out = Seq.newBuilder[(String, Int, Int)]
      Acl.login("ana", "%") // no default set -> activate NONE
      out += row("1_login_no_default")
      Acl.setRole("ana", "%", Seq("readers"))
      out += row("2_set_role_readers")
      Acl.setRoleAll("ana", "%")
      out += row("3_set_role_all")
      Acl.setRoleNone("ana", "%") // the deactivation FLIP
      out += row("4_set_role_none")
      Acl.setDefaultRole("ana", "%", Seq("writers"))
      Acl.login("ana", "%") // defaults apply at authentication
      out += row("5_default_writers_relogin")
      out += (("6_fold_all_compat",
        can("customer", active = false), can("orders", active = false)))
      out.result()
        .toDF("stage", "customer_select", "orders_select")
    },

    // SHOW COLLATION (reference: executor/show.go:1402
    // fetchShowCollation; charset/charset.go collation table — the
    // per-collation sibling of q_show_charset's charset card). The
    // sensitivity columns are DERIVED, not transcribed: each
    // collation maps to the engine comparator the collate entries
    // actually run (binary/_bin → UTF8_BINARY, general_ci →
    // UTF8_LCASE per q_func_collate, unicode_ci → UNICODE_CI_AI per
    // q_func_collate2), and case/accent sensitivity come from REAL
    // comparisons ('a' vs 'A', 'e' vs 'é') through that collator;
    // sortlen mirrors MySQL's 1-for-binary / 8-for-ci weighting,
    // derived from the same probe. is_default joins the SHARED
    // charset descriptor table ([[Charsets]]) so this card and
    // q_show_charset cannot disagree about defaults. Driver-sized
    // catalog card (9 rows).
    Q("q_show_collation", Some("""
      SELECT * FROM (VALUES
        ('ascii_bin',          'ascii',   65,  1, 1, 1, 1),
        ('binary',             'binary',  63,  1, 1, 1, 1),
        ('latin1_bin',         'latin1',  47,  1, 1, 1, 1),
        ('utf8_bin',           'utf8',    83,  0, 1, 1, 1),
        ('utf8_general_ci',    'utf8',    33,  1, 8, 0, 1),
        ('utf8_unicode_ci',    'utf8',    192, 0, 8, 0, 0),
        ('utf8mb4_bin',        'utf8mb4', 46,  1, 1, 1, 1),
        ('utf8mb4_general_ci', 'utf8mb4', 45,  0, 8, 0, 1),
        ('utf8mb4_unicode_ci', 'utf8mb4', 224, 0, 8, 0, 0)
      ) AS v(collation_name, charset, id, is_default, sortlen,
             case_sensitive, accent_sensitive)
    """)) { t =>
      // (collation, charset, mysql collation id, engine collator)
      val rows = Seq(
        ("ascii_bin", "ascii", 65, "UTF8_BINARY"),
        ("binary", "binary", 63, "UTF8_BINARY"),
        ("latin1_bin", "latin1", 47, "UTF8_BINARY"),
        ("utf8_bin", "utf8", 83, "UTF8_BINARY"),
        ("utf8_general_ci", "utf8", 33, "UTF8_LCASE"),
        ("utf8_unicode_ci", "utf8", 192, "UNICODE_CI_AI"),
        ("utf8mb4_bin", "utf8mb4", 46, "UTF8_BINARY"),
        ("utf8mb4_general_ci", "utf8mb4", 45, "UTF8_LCASE"),
        ("utf8mb4_unicode_ci", "utf8mb4", 224, "UNICODE_CI_AI"))
      // ONE 9-row local DataFrame, probes selected per row — not a
      // 9-plan union (the O(n)-plans shape if the list ever widens).
      // Each branch is still a REAL collate comparison through the
      // named engine collator.
      import t.spark.implicits._
      def caseProbe(c: String) =
        (collate(lit("a"), c) =!= collate(lit("A"), c)).cast("int")
      def accentProbe(c: String) =
        (collate(lit("e"), c) =!= collate(lit("é"), c)).cast("int")
      def per(f: String => org.apache.spark.sql.Column) =
        when(col("collator") === "UTF8_BINARY", f("UTF8_BINARY"))
          .when(col("collator") === "UTF8_LCASE", f("UTF8_LCASE"))
          .otherwise(f("UNICODE_CI_AI"))
      // is_default still derives from the ONE shared descriptor
      // table (Charsets), folded to a per-row expression.
      val defExpr = Charsets.defaultCollation.toSeq.sortBy(_._1)
        .foldLeft(lit(null).cast("string")) { case (acc, (cs, coll)) =>
          when(col("charset") === cs, lit(coll)).otherwise(acc)
        }
      rows.toDF("collation_name", "charset", "id", "collator")
        .select(col("collation_name"), col("charset"), col("id"),
          (col("collation_name") === defExpr).cast("int")
            .as("is_default"),
          when(per(caseProbe) === 1, 1).otherwise(8).as("sortlen"),
          per(caseProbe).as("case_sensitive"),
          per(accentProbe).as("accent_sensitive"))
    },

    // SHOW INDEX / information_schema.STATISTICS (reference:
    // executor/show.go:592 fetchShowIndex — one row per index with
    // its key columns and shape). The engine's "indexes" are its
    // PHYSICAL LAYOUTS — the bucketed+sorted pair, the
    // range/hash/list partitioned facts, the z-order layout, the IVF
    // coarse index — and this card is derived by READING each
    // registered layout's on-disk metadata (bucket files, partition
    // directories, persisted centroid rows), never by echoing
    // constants: the oracle restates every partition count as the
    // COUNT the source data dictates, so a layout that lost or
    // doubled a partition fails the hash (the q_ddl_jobs
    // journal-vs-restated-count pattern pointed at index metadata).
    // All listings are driver-side directory metadata — no data
    // files are read.
    Q("q_show_index", Some("""
      SELECT 'embeddings_ivf' AS table_name, 'ivf_cell' AS key_name,
             'IVF' AS index_type, 'embedding' AS key_cols,
             CAST(16 AS INT) AS n_partitions
      UNION ALL SELECT 'events_zorder', 'zorder', 'ZORDER',
             'event_id, ts', 8
      UNION ALL SELECT 'graft_b_customer', 'bucket', 'BUCKETED SORTED',
             'c_custkey', 8
      UNION ALL SELECT 'graft_b_orders', 'bucket', 'BUCKETED SORTED',
             'o_custkey', 8
      UNION ALL SELECT 'lineitem_shipmonth', 'range', 'RANGE COLUMNS',
             'shipmonth',
             (SELECT CAST(COUNT(DISTINCT strftime(l_shipdate, '%Y-%m'))
                     AS INT) FROM lineitem)
      UNION ALL SELECT 'orders_custhash', 'hash', 'HASH', 'o_custkey',
             (SELECT CAST(COUNT(DISTINCT o_custkey % 16) AS INT)
              FROM orders)
      UNION ALL SELECT 'orders_prioritylist', 'list', 'LIST COLUMNS',
             'o_orderpriority',
             (SELECT CAST(COUNT(DISTINCT CASE
                WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'p_urgent'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'p_normal'
                ELSE 'p_low' END) AS INT) FROM orders)
    """)) { t =>
      import t.spark.implicits._
      val B = graft.sources.Bucketing
      val P = graft.sources.PartitionedFact
      def children(dir: String, prefix: String): Int =
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .count(_.getName.startsWith(prefix))
      // Every rendered layout is read through its builder (all
      // lazily built once, fingerprint-keyed — free after first
      // touch).
      B.ordersCustomerBucketed(t.spark, t.dir)
      val ivfDir = graft.ann.IvfIndex.sharedIndex(t)
      val zDir = eventsZOrderDir(t)
      val (oTbl, cTbl) = B.pairTableNames(t.dir)
      val wh = new java.io.File(java.net.URI.create(
        t.spark.conf.get("spark.sql.warehouse.dir")).getPath)
      // Centroid-table cardinality read back from the PERSISTED
      // index (C rows by construction — one per cell, empty or not).
      val ivfCells = t.spark.read.parquet(s"$ivfDir/centroids")
        .count().toInt
      Seq(
        ("embeddings_ivf", "ivf_cell", "IVF", "embedding", ivfCells),
        ("events_zorder", "zorder", "ZORDER", "event_id, ts",
          children(zDir, "part-")),
        ("graft_b_customer", "bucket", "BUCKETED SORTED", "c_custkey",
          children(s"$wh/$cTbl", "part-")),
        ("graft_b_orders", "bucket", "BUCKETED SORTED", "o_custkey",
          children(s"$wh/$oTbl", "part-")),
        ("lineitem_shipmonth", "range", "RANGE COLUMNS", "shipmonth",
          children(P.lineitemShipMonthDir(t.spark, t.dir), "shipmonth=")),
        ("orders_custhash", "hash", "HASH", "o_custkey",
          children(P.ordersCustHashDir(t.spark, t.dir), "pbucket=")),
        ("orders_prioritylist", "list", "LIST COLUMNS",
          "o_orderpriority",
          children(P.ordersPriorityListDir(t.spark, t.dir), "plist=")))
        .toDF("table_name", "key_name", "index_type", "key_cols",
          "n_partitions")
    },

    // ADMIN RECOVER INDEX — the REPAIR leg of the admin story
    // (reference: executor/admin.go:177 RecoverIndexExec — re-ingest
    // the index from the base table; q_admin_check is the :52
    // CheckTableExec DETECT half). The entry injects real corruption
    // into the persisted MV snapshot (one group's money sum
    // perturbed, one group unlinked — the divergent AND missing-key
    // cases), proves the admin check goes RED (require, before any
    // repair), then rebuilds the derived layout FROM BASE through
    // the same maintained-MV build path and returns the re-verified
    // check. The oracle is the base recompute with consistent=TRUE
    // everywhere, so the hash proves the repair lossless — detect →
    // repair → green, driver-visible. Scale: repair cost is the MV
    // build itself (one base scan into |groups| rows), exactly what
    // RecoverIndexExec pays.
    Q("q_admin_recover", Some("""
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             TRUE AS consistent
      FROM orders GROUP BY o_orderpriority
    """)) { t =>
      def base = t.orders
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("revenue"))
      def checked = AdminCheck.check(base, Dml.mvMerged(t),
        Seq("o_orderpriority"))
      val dir = Dml.mvDir(t) // built before it is corrupted
      // Materialize the snapshot BEFORE overwriting its own files.
      val snap = t.spark.read.parquet(dir).localCheckpoint()
      // From the corrupt write onward, ANY failure must not strand
      // the poisoned snapshot: the cache key is the SOURCE
      // fingerprint (unchanged by the corruption), so an abandoned
      // corrupt dir would feed every later q_mv_refresh/q_admin_check
      // with no pointer back to this entry. Deleting the dir on the
      // error path restores the lazily-rebuilt-clean invariant.
      try {
        snap.filter(col("o_orderpriority") =!= "5-LOW")
          .withColumn("rev", when(col("o_orderpriority") === "1-URGENT",
            col("rev") + 100).otherwise(col("rev")))
          .write.mode("overwrite").parquet(dir)
        val red = checked.filter(!col("consistent")).count()
        require(red > 0,
          "repair hole: injected corruption but ADMIN CHECK stayed green")
      } finally {
        // RECOVER: drop the corrupt derived layout (on success AND on
        // failure), rebuild from base through the SAME
        // lazily-maintained MV path, re-verify.
        Formats.deleteRecursively(new java.io.File(dir))
      }
      checked
    },

    // ADMIN CLEANUP INDEX — the DANGLING-entry leg of the admin
    // story (reference: executor/admin.go:521 CleanupIndexExec —
    // scan the index, batch-get each handle from the table, DELETE
    // index entries whose handle has no row; admin.go:570
    // deleteDanglingIdx). Where q_admin_recover re-ingests MISSING
    // entries from base, cleanup only REMOVES orphans — it never
    // rewrites surviving entries (the spec pins that divergent
    // values are NOT repaired by this path). The entry injects
    // phantom groups into the persisted MV snapshot (index rows
    // whose key no base row produces), REQUIREs the admin check
    // goes red, deletes exactly the dangling entries by anti-
    // joining the derived layout against the base key set (the
    // batch-get-miss set), and returns the re-verified check.
    // Scale: cleanup cost is one key-only semi join — the index
    // scan + batched table lookups CleanupIndexExec pays, never a
    // rebuild.
    Q("q_admin_cleanup", Some("""
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             TRUE AS consistent
      FROM orders GROUP BY o_orderpriority
    """)) { t =>
      import t.spark.implicits._
      def base = t.orders
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("revenue"))
      def checked = AdminCheck.check(base, Dml.mvMerged(t),
        Seq("o_orderpriority"))
      val dir = Dml.mvDir(t) // built before it is corrupted
      val snap = t.spark.read.parquet(dir).localCheckpoint()
      // Dangling entries: keys no base row produces (phantom
      // priorities). Values are arbitrary non-null — cleanup must
      // remove them by KEY-MISS alone, never by value compare.
      val phantoms = Seq(("9-PHANTOM", 7L), ("8-GHOST", 3L))
        .toDF("o_orderpriority", "n_orders")
        .select(col("o_orderpriority"), col("n_orders"),
          lit(123.45).cast(snap.schema("rev").dataType).as("rev"))
      // Same stranded-corruption bound as q_admin_recover: if any
      // leg between the phantom write and the healed rewrite throws,
      // drop the poisoned dir so the fingerprint-keyed cache rebuilds
      // clean instead of feeding corrupt data to later entries.
      try {
        snap.unionByName(phantoms).write.mode("overwrite").parquet(dir)
        val red = checked.filter(!col("consistent")).count()
        require(red > 0,
          "cleanup hole: injected dangling entries but ADMIN CHECK " +
            "stayed green")
        // CLEANUP: drop exactly the dangling entries — semi join the
        // derived layout against the base key set (the handles that
        // batch-get finds); surviving rows flow through untouched.
        val baseKeys = t.orders.select("o_orderpriority").distinct()
        val cleaned = t.spark.read.parquet(dir).localCheckpoint()
          .join(baseKeys, Seq("o_orderpriority"), "left_semi")
          .localCheckpoint()
        cleaned.write.mode("overwrite").parquet(dir)
      } catch {
        case e: Throwable =>
          Formats.deleteRecursively(new java.io.File(dir))
          throw e
      }
      checked
    },

    // ALTER TABLE ... DROP PARTITION + TRUNCATE PARTITION (reference:
    // ddl/partition.go onDropTablePartition / onTruncateTablePartition
    // — both are METADATA-ONLY state transitions: the partition's
    // rows cease to be visible without touching any surviving
    // partition; drop removes the partition definition, truncate
    // keeps the definition and swaps in a fresh empty physical
    // partition). The entry builds a private year-partitioned orders
    // layout, DROPs oyear=1996 (directory and definition gone) and
    // TRUNCATEs oyear=1998 (directory stays, data files go), then
    // reads the post-state back THROUGH the partitioned layout. The
    // two ops are directory-level — zero surviving-row rewrite, the
    // spec pins surviving partitions' files untouched. At 100 TB
    // that's the entire point: retiring a day partition is O(1)
    // metadata, never a table rewrite.
    Q("q_partition_mgmt", Some("""
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS oyear,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders
      WHERE YEAR(o_orderdate) NOT IN (1996, 1998)
      GROUP BY 1
    """)) { t =>
      val root = partitionMgmtLayout(t)
      // DROP PARTITION oyear=1996: definition and data both go.
      Formats.deleteRecursively(
        new java.io.File(s"$root/oyear=1996"))
      // TRUNCATE PARTITION oyear=1998: the partition survives empty —
      // only its data files are replaced (with nothing).
      val p95 = new java.io.File(s"$root/oyear=1998")
      Option(p95.listFiles()).getOrElse(Array.empty).foreach(f =>
        Formats.deleteRecursively(f))
      t.spark.read.parquet(root)
        .groupBy(col("oyear").cast("long").as("oyear"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("revenue"))
    },
  )

  /** The private year-partitioned orders layout q_partition_mgmt
    * mutates — rebuilt FRESH each run (the entry drops/truncates
    * partitions in place, so a cached layout would start corrupt).
    * One file per partition: the partition column is the shuffle
    * key, so the write is one exchange. */
  private def partitionMgmtLayout(t: Tables): String = {
    val root = Layouts.root("partmgmt", t.dir)
    Formats.deleteRecursively(new java.io.File(root))
    t.orders
      .withColumn("oyear", year(col("o_orderdate")))
      .repartition(col("oyear"))
      .write.partitionBy("oyear").mode("overwrite").parquet(root)
    root
  }

  /** Z-ordered events layout (event_id × ts) — the physical layout
    * behind q_show_placement's `events_zorder` row, now actually
    * built (lazily, fingerprint-keyed like every warehouse layout)
    * so q_show_index derives its file count from disk. The key
    * bounds fold to one 1-row aggregate (bounded driver scalars, the
    * convergence-scalar discipline). */
  private[operators] def eventsZOrderDir(t: Tables): String = {
    val Z = graft.sources.ZOrder
    Layouts.once(Layouts.root("zorder_events", t.dir,
        s"${t.dir}/events.parquet")) { dir =>
      val r = t.events.agg(max(col("event_id")),
        min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
        .head()
      val (maxId, t0, t1) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Z.write(t.events,
        Z.bucketed(col("event_id"), math.max(maxId, 1L)),
        Z.bucketed(unix_timestamp(col("ts")) - t0,
          math.max(t1 - t0, 1L)),
        dir, nFiles = 8)
    }
  }
}
