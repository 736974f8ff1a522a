package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import graft.tools.Acl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 admin/observability entries: the privilege card (the last
  * uncovered executor/ family) and metrics-schema analogs. */
object Wave15 {

  /** The derived-graph edge CTE (the GraphQueries convention: edges
    * from orders via mod-1000 arithmetic, reproducible in DuckDB). */
  private val edgeCteSql = """
      WITH e AS (
        SELECT DISTINCT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst
        FROM orders)"""

  def all: Seq[Q] = Seq(

    // SHOW GRANTS — the privilege surface (reference:
    // executor/show.go:1497 fetchShowGrants; the scope-by-scope
    // render is privilege/privileges/cache.go:1170 showGrants;
    // executor/grant.go / revoke.go mutate the store). The engine
    // seeds a deterministic ACL scenario in the session store and
    // derives the statements through the REAL resolution machinery —
    // transitive role closure (reader → analyst → alice), per-scope
    // privilege merge across principals, canonical AllGlobalPrivs
    // ordering, ALL-minus-revoked rendering, the USAGE convention for
    // a grantless principal, and WITH GRANT OPTION — while the oracle
    // pins the expected statements as literals (the q_describe
    // pinned-catalog pattern: the hash proves the resolver, not a
    // copy of it). Driver-sized by nature: principals × grants is an
    // admin card, not data.
    Q("q_show_grants", Some("""
      SELECT * FROM (VALUES
        ('alice', 1, 'GRANT SELECT,INSERT ON *.* TO ''alice''@''%'''),
        ('alice', 2, 'GRANT SELECT,SHOW VIEW ON graft.* TO ''alice''@''%'''),
        ('alice', 3, 'GRANT UPDATE ON graft.orders TO ''alice''@''%'''),
        ('alice', 4, 'GRANT ''analyst''@''%'' TO ''alice''@''%'''),
        ('analyst', 1, 'GRANT SELECT,SHOW VIEW ON graft.* TO ''analyst''@''%'''),
        ('analyst', 2, 'GRANT ''reader''@''%'' TO ''analyst''@''%'''),
        ('bob', 1, 'GRANT USAGE ON *.* TO ''bob''@''localhost'''),
        ('carol', 1, 'GRANT SELECT,INSERT,UPDATE,CREATE,DROP,PROCESS,REFERENCES,ALTER,EXECUTE,INDEX,CREATE VIEW,SHOW VIEW,CREATE ROLE ON *.* TO ''carol''@''%'' WITH GRANT OPTION')
      ) AS v(principal, ord, grant_stmt)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      // A user with direct global + table grants, inheriting a
      // db-scope grant through a two-level role chain.
      Acl.grant("alice", Seq("SELECT", "INSERT"))
      Acl.grant("alice", Seq("UPDATE"), db = "graft", tbl = "orders")
      Acl.grantRole("analyst", "alice")
      Acl.grant("analyst", Seq("SELECT"), db = "graft")
      Acl.grantRole("reader", "analyst")
      Acl.grant("reader", Seq("SHOW VIEW"), db = "graft")
      // The USAGE convention: created, never granted.
      Acl.createUser("bob", "localhost")
      // ALL with grant option, then a partial revoke — the render
      // must fall back from the ALL PRIVILEGES literal to the
      // canonical-order list minus the revoked ones.
      Acl.grant("carol", Seq("ALL"), withGrantOption = true)
      Acl.revoke("carol", Seq("DELETE", "DROP ROLE"))
      Seq("alice" -> "%", "analyst" -> "%", "bob" -> "localhost",
        "carol" -> "%")
        .flatMap { case (u, h) =>
          Acl.showGrants(u, h).zipWithIndex.map { case (s, i) =>
            (u, i + 1, s)
          }
        }
        .toDF("principal", "ord", "grant_stmt")
    },

    // METRICS_SCHEMA analog (reference: executor/metrics_reader.go:52
    // MetricRetriever renders PromQL range queries as per-time-bucket
    // metric rows; infoschema/metric_table_def.go holds the table
    // shapes). A Spark session has no Prometheus — the honest source
    // of truth is the PERSISTED statements history, where each
    // rotated batch is one time window: the entry records a pinned
    // workload across two windowId-keyed rotations (w1: q_scan_filter
    // ×2 + q_sort_topn; w2: q_scan_filter ×1) and renders the
    // per-window exec/rows/latency series via
    // StatementsSummary.metricsSeries, with the opaque batch keys
    // mapped back to their window labels. Wall-clock metrics make it
    // rows-only; Wave15Spec proves the series equals an independent
    // fold of the raw batch files and pins the deterministic
    // exec-count series per window.
    Q("q_metrics_schema", None) { t =>
      val dir = Layouts.root("metrics", t.dir, t.dir)
      // Own-dir reset, same reasoning as q_slow_history: stale
      // batches from a previous CODE version would fold in.
      Formats.deleteRecursively(new java.io.File(dir))
      graft.tools.StatementsSummary.clear()
      graft.tools.StatementsSummary.record("q_scan_filter", t)
      graft.tools.StatementsSummary.record("q_scan_filter", t)
      graft.tools.StatementsSummary.record("q_sort_topn", t)
      val k1 = graft.tools.StatementsSummary
        .persistRotate(t.spark, dir, Some("w1"))
      graft.tools.StatementsSummary.record("q_scan_filter", t)
      val k2 = graft.tools.StatementsSummary
        .persistRotate(t.spark, dir, Some("w2"))
      val labels = Seq((k1, "w1"), (k2, "w2"))
      import t.spark.implicits._
      graft.tools.StatementsSummary.metricsSeries(t.spark, dir)
        .join(broadcast(labels.toDF("window_id", "window")), "window_id")
        .select(col("window"), col("entry"), col("metric"), col("value"))
        .orderBy("window", "entry", "metric")
    },

    // Inspection PROFILE (reference: executor/inspection_profile.go:35
    // profileBuilder — the tree-shaped cost profile where every node
    // carries its own cost and percentages roll up the tree). The
    // entry executes a pinned registry workload (q_tpch_q3 — a
    // multi-join aggregate with real exchange structure), walks the
    // FINAL adaptive plan preserving parent/child edges, and renders
    // one row per operator: pre-order id, parent id, depth, the
    // node's own timing-metric cost, its subtree rollup, and the
    // subtree share of total. Wall-clock costs → rows-only;
    // Wave15Spec pins the deterministic tree contract (single root,
    // parent/depth consistency, rollup = self + Σ children, pct of
    // root = 100).
    Q("q_inspection_profile", None) { t =>
      import t.spark.implicits._
      val nodes = graft.tools.Trace.profile("q_tpch_q3", t)
      val total = nodes.head.subtreeMs
      nodes.map { n =>
        (n.id, n.parentId, n.depth, n.name, n.rowsOut.getOrElse(-1L),
          math.round(n.selfMs * 100) / 100.0,
          math.round(n.subtreeMs * 100) / 100.0,
          if (total > 0) math.round(n.subtreeMs / total * 10000) / 100.0
          else 0.0)
      }.toDF("id", "parent_id", "depth", "operator", "rows_out",
        "self_ms", "subtree_ms", "pct_of_total")
    },

    // SET CONFIG — the runtime-config mutation surface (reference:
    // executor/set_config.go SetConfigExec pushes config changes to
    // components at runtime, scoped to the addressed instance, while
    // other sessions keep their settings). The Spark-native analog is
    // SESSION-scoped SQL conf: the entry spawns a child session,
    // flips its join-strategy config (broadcast threshold -1, AQE
    // off), and proves BOTH halves of the contract — the child's
    // planner obeys the scoped value (the same nation⋈region query
    // plans SortMergeJoin in the child, BroadcastHashJoin in the
    // parent) and the mutation does NOT leak into the parent's conf.
    // Every fact is derived live and hash-checked against pinned
    // literals.
    Q("q_set_config", Some("""
      SELECT * FROM (VALUES
        ('child',  'broadcast_threshold', '-1'),
        ('child',  'join_strategy', 'SortMergeJoin'),
        ('parent', 'join_strategy', 'BroadcastHashJoin'),
        ('parent', 'threshold_leak', 'none')
      ) AS v(scope, fact, value)
    """)) { t =>
      import t.spark.implicits._
      val parent = t.spark
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val before = parent.conf.get(key)
      val child = parent.newSession()
      child.conf.set(key, "-1")
      child.conf.set("spark.sql.adaptive.enabled", "false")
      // Each session plans the SAME query over its own scan (a
      // Dataset is bound to its session, so the child re-reads).
      def strategy(s: org.apache.spark.sql.SparkSession): String = {
        val n = s.read.parquet(s"${t.dir}/nation.parquet")
        val r = s.read.parquet(s"${t.dir}/region.parquet")
        val p = n.join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name").agg(count(lit(1)).as("n"))
          .queryExecution.executedPlan.toString
        if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else if (p.contains("SortMergeJoin")) "SortMergeJoin"
        else "other"
      }
      val childStrategy = strategy(child)
      val parentStrategy = strategy(parent)
      val leak = if (parent.conf.get(key) == before) "none" else "LEAKED"
      Seq(
        ("child", "broadcast_threshold", child.conf.get(key)),
        ("child", "join_strategy", childStrategy),
        ("parent", "join_strategy", parentStrategy),
        ("parent", "threshold_leak", leak))
        .toDF("scope", "fact", "value")
    },

    // FLASHBACK TABLE (reference: executor/ddl.go — DROP only unlinks
    // metadata, the data stays until the GC safepoint; FLASHBACK /
    // RECOVER TABLE re-links it within the window). The entry REALLY
    // drops and recovers: seed a dir-table from a deterministic
    // orders subset, DROP it through the recycle bin (an O(1) rename
    // — unlink-not-erase, no data copied), prove the table is gone
    // (a read now fails), FLASHBACK the newest retained entry back,
    // and serve the recovered rows. The oracle recomputes the seed
    // subset straight from orders, so the driver's hash compare IS
    // the proof that drop→flashback is lossless. GC-window error
    // semantics (flashback after gc throws) are spec-pinned.
    Q("q_flashback", Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price
      FROM orders WHERE o_orderkey % 7 = 0
    """)) { t =>
      val root = Layouts.root("flashback", t.dir)
      Formats.deleteRecursively(new java.io.File(root))
      val tableDir = s"$root/fb_orders"
      val binDir = s"$root/bin"
      t.orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          Exact.dec2(col("o_totalprice")).cast("double").as("o_price"))
        .write.parquet(tableDir)
      graft.tools.RecycleBin.drop(tableDir, binDir)
      // The drop is real: the table location no longer exists.
      require(!new java.io.File(tableDir).exists(),
        "drop left the table dir behind")
      graft.tools.RecycleBin.flashback(binDir, "fb_orders", tableDir)
      t.spark.read.parquet(tableDir)
    },

    // INDEX LOOKUP JOIN (reference: executor/index_lookup_join.go —
    // the outer side's join keys are batched in memory and turned
    // into INDEX RANGES probed against the inner table, so the inner
    // side reads only the matching key ranges instead of scanning).
    // The Spark-native spelling of "probe only the matching ranges":
    // collect the small outer side's keys (bounded by the SAME
    // contract that sizes TiDB's in-memory key batch — a require()
    // caps it at 64k keys, loud not silent) and push them into the
    // fact scan as an IN filter, which reaches parquet as
    // PushedFilters In(o_custkey, ...) + row-group bloom/dictionary
    // skipping — the scan-avoidance IS the operator. The join back to
    // the outer row is a broadcast hash join on the same keys.
    // PlanShapeSpec-style assert lives in Wave15Spec: the executed
    // scan must carry the In pushdown. At 100 TB the fact side reads
    // only row groups containing probe keys; a wide outer side fails
    // the require instead of silently degrading the driver.
    Q("q_join_index_lookup", Some("""
      SELECT c.c_custkey, c.c_acctbal, o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS o_price
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal > 9900
    """)) { t =>
      val probe = t.customer.filter(col("c_acctbal") > 9900)
        .select(col("c_custkey"), col("c_acctbal"))
      // Shared key-batch contract (IndexLookup): within the cap the
      // keys push into the fact scan; past it the entry degrades to
      // the plain join instead of aborting.
      val pushed = IndexLookup
        .probeKeys(probe, "c_custkey", "q_join_index_lookup") match {
          case Some(keys) => t.orders.filter(col("o_custkey").isin(keys: _*))
          case None => t.orders
        }
      val inner = pushed
        .select(col("o_custkey"), col("o_orderkey"),
          Exact.dec2(col("o_totalprice")).cast("double").as("o_price"))
      inner.join(broadcast(probe),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_acctbal"),
          col("o_orderkey"), col("o_price"))
    },

    // Histogram MERGE — partitioned ANALYZE (reference:
    // statistics/histogram.go:763 MergeHistograms folds per-region
    // histograms over DISJOINT key ranges into one: concatenate the
    // range-ordered buckets, then halve by merging ADJACENT pairs
    // until the target bucket count — mergeBuckets(i) sums counts and
    // keeps the right bound). This is the operational heart of
    // ANALYZE at 100 TB: every shard builds its histogram
    // independently where the data lives, and the table-level
    // histogram is an O(buckets) merge — NO rescan of any shard. The
    // entry shards orders by key range (the region analog), builds an
    // 8-bucket equi-depth histogram per shard (the q_stats_histogram
    // machinery: one boundary aggregate broadcast, map-side
    // bucketing), and merges 16 range-ordered buckets into 8 by the
    // adjacent-pair rule — pure integer arithmetic on o_orderkey, so
    // every count and bound is hash-exact against the oracle's
    // restatement.
    Q("q_stats_merge", Some("""
      WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      s AS (
        SELECT o_orderkey AS v,
               CASE WHEN o_orderkey < (SELECT m // 2 FROM mx)
                    THEN 0 ELSE 1 END AS shard
        FROM orders),
      b AS (
        SELECT shard,
               [round(quantile_cont(CAST(v AS DOUBLE), 0.125), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.25), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.375), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.5), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.625), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.75), 4),
                round(quantile_cont(CAST(v AS DOUBLE), 0.875), 4)] AS bs
        FROM s GROUP BY shard),
      m AS (
        SELECT s.shard AS shard, v,
               1 + len(list_filter(b.bs, x -> CAST(s.v AS DOUBLE) > x))
                 AS bucket
        FROM s JOIN b ON b.shard = s.shard),
      h AS (
        SELECT shard, bucket, COUNT(*) AS cnt,
               MIN(v) AS lo, MAX(v) AS hi
        FROM m GROUP BY shard, bucket)
      SELECT CAST((shard * 8 + bucket - 1) // 2 AS INT) AS bucket,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MIN(lo) AS lo, MAX(hi) AS hi
      FROM h GROUP BY 1
    """)) { t =>
      val qs = Seq(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)
      val split = t.orders.agg(
        expr("max(o_orderkey) div 2").as("half"))
      // Checkpointed: the boundary aggregate and the bucketing pass
      // both read `s`, and they are SEQUENTIAL by construction (the
      // boundaries broadcast into the bucketing), so without the
      // materialization the orders scan + shard projection runs twice
      // on the critical path — not in parallel stages.
      val s = t.orders.select(col("o_orderkey").as("v"))
        .crossJoin(broadcast(split))
        .select(col("v"),
          when(col("v") < col("half"), 0).otherwise(1).as("shard"))
        .localCheckpoint()
      // Per-shard ANALYZE: ONE boundary aggregate (2 rows — one per
      // shard/region) broadcast back, bucketing map-side. The seven
      // boundaries come from ONE array-percentile call: seven scalar
      // percentile aggregates each build their own value-count map
      // over the identical shard data (7x the buffer work and merge
      // traffic for one sorted walk's worth of answers); the array
      // form builds the map once and reads all seven quantiles off
      // it.
      val bounds = s.groupBy("shard").agg(
          percentile(col("v").cast("double"),
            array(qs.map(lit): _*)).as("bs"))
        .select(col("shard") +: qs.indices.map(i =>
          round(element_at(col("bs"), i + 1), 4).as(s"b$i")): _*)
      val bucket = qs.indices
        .map(i => when(col("v").cast("double") > col(s"b$i"), 1)
          .otherwise(0))
        .reduce(_ + _) + 1
      val perShard = s.join(broadcast(bounds), "shard")
        .select(col("shard"), col("v"), bucket.as("bucket"))
        .groupBy("shard", "bucket")
        .agg(count(lit(1)).as("cnt"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
      // MergeHistograms: 16 range-ordered buckets -> 8 by merging
      // adjacent pairs (count sums, bounds widen) — O(buckets), no
      // shard rescan; n shards merge associatively the same way.
      perShard
        .select(expr("(shard * 8 + bucket - 1) div 2").cast("int")
          .as("bucket"), col("cnt"), col("lo"), col("hi"))
        .groupBy("bucket")
        .agg(sum("cnt").cast("long").as("n_rows"),
          min("lo").as("lo"), max("hi").as("hi"))
    },

    // EXCHANGE PARTITION (reference: ddl/partition.go — swap a
    // partition's data with a standalone staging table atomically,
    // BOTH directions). The 100 TB backfill pattern: correct one
    // partition by writing a staging table on the side, validate,
    // publish with O(1) renames — the fact is never rewritten (the
    // rewrite alternative is q_dynamic_overwrite; the ORACLE here is
    // deliberately that entry's, because exchange must produce the
    // identical corrected table through swap mechanics instead of a
    // write). The entry stages corrected 1996 prices, exchanges them
    // with the yr=1996 partition, and serves the fact; the displaced
    // old partition lands in the staging dir (spec-asserted, with
    // both refusal paths: schema mismatch and predicate violation).
    Q("q_exchange_partition", Some("""
      SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS yr,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE YEAR(o_orderdate) <> 1996
      UNION ALL
      SELECT o_orderkey, 1996 AS yr,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST(0.07 AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE YEAR(o_orderdate) = 1996
    """)) { t =>
      val root = Layouts.root("exchg", t.dir)
      Formats.deleteRecursively(new java.io.File(root))
      val base = s"$root/fact"
      val stage = s"$root/stage"
      val sel = t.orders.select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      sel.write.partitionBy("yr").parquet(base)
      // Staging table: the corrected partition content, WITHOUT the
      // partition column (the dir-layout contract — partitionBy
      // excludes it from data files).
      sel.filter(col("yr") === 1996)
        .select(col("o_orderkey"),
          (col("price") + lit(BigDecimal("0.07")))
            .cast("decimal(18,2)").as("price"))
        .write.parquet(stage)
      graft.sources.ExchangePartition.exchange(
        t.spark, base, "yr=1996", stage)
      t.spark.read.parquet(base)
        .select(col("o_orderkey"), col("yr"),
          col("price").cast("double").as("price"))
    },

    // TTL sweep (reference: TiDB TTL tables — ttl/ttlworker deletes
    // rows past the retention watermark as a bounded background job).
    // The 100 TB shape is the partition split: whole days below the
    // watermark drop by METADATA (one unlink, zero rows read), ONLY
    // the boundary day pays a row-level rewrite (published via
    // temp-write + atomic rename), newer days are not even opened.
    // The entry lays events out by day, sweeps with watermark =
    // max(ts) − 120 hours (deterministic from data, no wall clock),
    // and serves the survivors; the oracle restates the retention
    // filter directly, so the hash proves the sweep dropped exactly
    // the expired rows and nothing else. Spec asserts the mechanics:
    // dropped dirs gone, boundary rewritten, newer days' files
    // byte-stable.
    Q("q_ttl", Some("""
      SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
      FROM events
      WHERE ts >= (SELECT MAX(ts) - INTERVAL 120 HOUR FROM events)
    """)) { t =>
      val root = Layouts.root("ttl", t.dir)
      Formats.deleteRecursively(new java.io.File(root))
      t.events.select(col("event_id"), col("user_id"), col("value"),
          col("ts"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .write.partitionBy("day").parquet(root)
      val wm = t.events
        .agg((max(col("ts")) - expr("INTERVAL 120 HOURS")).as("wm"))
        .head().getTimestamp(0)
      graft.sources.Ttl.sweep(t.spark, root, "ts", wm)
      t.spark.read.parquet(root)
        .select(col("event_id"), col("user_id"),
          col("value").cast("double").as("value"))
    },

    // LOAD STATS as an entry (reference: executor/load_stats.go:32
    // LoadStatsExec — the statement surface over the dump/load
    // machinery LoadStatsSpec plan-proves). The entry runs the full
    // producer→consumer cycle live: ANALYZE a managed copy of
    // customer with column stats, DUMP the artifact, DROP and
    // RECREATE the table (a fresh catalog entry that has never been
    // analyzed), LOAD the artifact — no ANALYZE after the recreate —
    // and render the hash-checked facts: the re-loaded row count and
    // NDV come FROM THE INJECTED ARTIFACT (they equal the data's
    // truth, which the oracle recomputes), plus the
    // stats-present/absent transitions around the cycle.
    Q("q_load_stats", Some("""
      SELECT 'customer_stats' AS fact,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS row_count,
             (SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
              FROM customer) AS seg_ndv,
             CAST(1 AS INT) AS absent_after_recreate,
             CAST(1 AS INT) AS present_after_load
    """)) { t =>
      import t.spark.implicits._
      val spark = t.spark
      val cat = org.apache.spark.sql.GraftSqlShim.sessionCatalog(spark)
      def stats() = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ls_customer")).stats
      // DROP + scrub the managed location: a previous JVM's run leaves
      // the warehouse dir behind while the in-memory catalog forgets
      // the table, and saveAsTable then refuses LOCATION_ALREADY_EXISTS.
      def reset(): Unit = {
        spark.sql("DROP TABLE IF EXISTS ls_customer")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:"), "ls_customer")
        if (loc.exists()) Formats.deleteRecursively(loc)
      }
      reset()
      t.customer.write.saveAsTable("ls_customer")
      graft.sources.Stats.analyze(spark, "ls_customer",
        Seq("c_custkey", "c_mktsegment"))
      val artifact = java.nio.file.Files
        .createTempFile("ls_customer_stats", ".properties").toString
      graft.sources.Stats.dump(spark, "ls_customer", artifact)
      new java.io.File(artifact).deleteOnExit()
      reset()
      t.customer.write.saveAsTable("ls_customer")
      val absent = stats().forall(_.rowCount.isEmpty)
      graft.sources.Stats.load(spark, "ls_customer", artifact)
      val loaded = stats().get
      val rowCount = loaded.rowCount.get.toLong
      val segNdv = loaded.colStats("c_mktsegment")
        .distinctCount.get.toLong
      Seq(("customer_stats", rowCount, segNdv,
          if (absent) 1 else 0, if (loaded.rowCount.isDefined) 1 else 0))
        .toDF("fact", "row_count", "seg_ndv",
          "absent_after_recreate", "present_after_load")
    },

    // GLOBAL temporary view (reference: the temporary-table namespace
    // split — executor/ddl.go temp tables are session-scoped
    // (q_temp_table), while a global temp view lives in the shared
    // `global_temp` database and is visible to EVERY session of the
    // application until all drop it). The entry proves the exact
    // namespace semantics live: registered in one session, read back
    // through global_temp from a DIFFERENT session (where a plain
    // session-temp view of the same name is invisible), both facts
    // hash-checked.
    Q("q_global_temp_view", Some("""
      SELECT 'seg_counts' AS view_name,
             (SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
              FROM customer) AS n_rows,
             'visible' AS other_session,
             'invisible' AS session_temp_elsewhere
    """)) { t =>
      import t.spark.implicits._
      val segs = t.customer.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
      segs.createOrReplaceGlobalTempView("gtv_segs")
      segs.createOrReplaceTempView("stv_segs")
      val other = t.spark.newSession()
      val viaOther = other.table("global_temp.gtv_segs").count()
      val sessionScoped =
        if (other.catalog.tableExists("stv_segs")) "leaked"
        else "invisible"
      Seq(("seg_counts", viaOther,
          if (viaOther > 0) "visible" else "empty", sessionScoped))
        .toDF("view_name", "n_rows", "other_session",
          "session_temp_elsewhere")
    },

    // Named WINDOW clause (reference: parser WindowSpec naming —
    // `WINDOW w AS (PARTITION BY ...)` lets several over-clauses
    // share one spec; planner/core resolves all of them onto a
    // single window operator). The Spark SQL surface is identical;
    // the point worth pinning at scale is the PLAN: three functions
    // over the same named spec must produce ONE Window operator over
    // ONE exchange, not three (spec-asserted). Oracle restates the
    // inline-window spelling.
    Q("q_window_named", Some("""
      SELECT o_custkey, o_orderkey,
             CAST(rnk AS BIGINT) AS rnk,
             CAST(cnt AS BIGINT) AS cnt,
             CAST(share AS DOUBLE) AS share
      FROM (
        SELECT o_custkey, o_orderkey,
               RANK() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderkey) AS rnk,
               COUNT(*) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderkey) AS cnt,
               ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderkey), 4) AS share
        FROM orders) z
      WHERE o_custkey < 50
    """)) { t =>
      t.orders.createOrReplaceTempView("wn_orders")
      t.spark.sql("""
        SELECT o_custkey, o_orderkey,
               CAST(RANK() OVER w AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
               ROUND(PERCENT_RANK() OVER w, 4) AS share
        FROM wn_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      """).filter(col("o_custkey") < 50)
    },

    // Edge RECIPROCITY — the directed-graph symmetry metric (what
    // fraction of directed edges are reciprocated), the first
    // summary any directed-graph engine reports beside degree and
    // assortativity (executor/graph.go edge scans; reciprocity is
    // the directed complement of g_assortativity's card). Engine
    // plan: ONE keyed self-join — the edge list left-semi-joined to
    // its own (dst, src) flip on the composite key — so work is
    // co-partitioned equi-join work, never |E|² (nothing wider than
    // an edge shuffles); both counts ride 1-row broadcast aggregates.
    Q("g_reciprocity", Some(s"""
      $edgeCteSql, d AS (
        SELECT src, dst FROM e WHERE src <> dst),
      r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
            FROM d a JOIN d b ON a.src = b.dst AND a.dst = b.src)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_edges,
             (SELECT n_recip FROM r) AS n_recip,
             ROUND(CAST((SELECT n_recip FROM r) AS DOUBLE) /
                   (SELECT COUNT(*) FROM d), 4) AS reciprocity
    """)) { t =>
      val e = graft.graph.Graph.derived(t.orders).edges
        .filter(col("src") =!= col("dst"))
      val flipped = e.select(col("dst").as("src"), col("src").as("dst"))
      val recip = e.join(flipped, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_recip"))
      val total = e.agg(count(lit(1)).cast("long").as("n_edges"))
      total.crossJoin(broadcast(recip))
        .select(col("n_edges"), col("n_recip"),
          round(col("n_recip").cast("double") / col("n_edges"), 4)
            .as("reciprocity"))
    },

    // SHOW PARTITIONS / information_schema.PARTITIONS (reference:
    // infoschema/tables.go tablePartitions + executor/show.go — one
    // row per physical partition with its cardinality and bounds).
    // Renders the registered ship-month layout's partition card: the
    // partition value, its row count, and the actual day bounds
    // inside it — derived by READING THE LAYOUT (so a layout-builder
    // drift fails the hash), while the oracle recomputes the same
    // card from the base table. Scale: one scan of the partitioned
    // fact, counts map-combined per partition dir; the pruning
    // behavior of the same layout is q_scan_partition's entry.
    Q("q_show_partitions", Some("""
      SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS partition,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(CAST(l_shipdate AS DATE)) AS min_day,
             MAX(CAST(l_shipdate AS DATE)) AS max_day
      FROM lineitem GROUP BY 1
    """)) { t =>
      graft.sources.PartitionedFact
        .lineitemByShipMonth(t.spark, t.dir)
        .groupBy(col("shipmonth").as("partition"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate").cast("date")).as("min_day"),
          max(col("l_shipdate").cast("date")).as("max_day"))
    },

    // OPTIMIZER HINTS (reference: planner/core hint family —
    // HASH_JOIN / MERGE_JOIN / BROADCAST_JOIN / read-from-storage
    // hints steer the planner per statement without touching global
    // config; the q_plan_binding entry persists them, THIS entry is
    // the inline statement surface). The same orders⋈customer query
    // is planned three ways under AQE-off: unhinted (size estimates
    // pick broadcast for the small dim), MERGE-hinted (forces a
    // SortMergeJoin against the estimate), and BROADCAST-hinted on
    // the FACT side (forces the big side to build). Each plan's
    // executed join strategy is derived live and hash-checked — the
    // contract that hints OVERRIDE costing, per hint, per statement.
    Q("q_optimizer_hints", Some("""
      SELECT * FROM (VALUES
        ('unhinted',        'BroadcastHashJoin'),
        ('merge_hint',      'SortMergeJoin'),
        ('broadcast_fact',  'BroadcastHashJoin')
      ) AS v(variant, join_strategy)
    """)) { t =>
      import t.spark.implicits._
      val spark = t.spark
      t.orders.createOrReplaceTempView("oh_orders")
      t.customer.limit(200).createOrReplaceTempView("oh_customer")
      def strategy(hint: String): String = {
        val plan = spark.sql(s"""
          SELECT $hint c.c_mktsegment, COUNT(*) AS n
          FROM oh_orders o JOIN oh_customer c
            ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment""")
          .queryExecution.executedPlan.toString
        if (plan.contains("SortMergeJoin")) "SortMergeJoin"
        else if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else "other"
      }
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try Seq(
        ("unhinted", strategy("")),
        ("merge_hint", strategy("/*+ MERGE(c) */")),
        ("broadcast_fact", strategy("/*+ BROADCAST(o) */")))
        .toDF("variant", "join_strategy")
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    },
  )
}
