package graft

import graft.tools.Acl
import org.apache.spark.sql.functions._

class Wave15Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  // --- ACL store / SHOW GRANTS (show.go:1497, cache.go:1170) ---

  test("Acl: unknown principal renders nothing, created renders USAGE") {
    Acl.clear()
    assert(Acl.showGrants("ghost").isEmpty)
    Acl.createUser("u1")
    assert(Acl.showGrants("u1") ==
      Seq("GRANT USAGE ON *.* TO 'u1'@'%'"))
    Acl.clear()
  }

  test("Acl: revoking every privilege falls back to USAGE, not absence") {
    Acl.clear()
    Acl.grant("u2", Seq("SELECT", "INSERT"))
    assert(Acl.showGrants("u2") ==
      Seq("GRANT SELECT,INSERT ON *.* TO 'u2'@'%'"))
    Acl.revoke("u2", Seq("ALL"))
    // The principal still exists — MySQL renders USAGE (cache.go's
    // hasGlobalGrant convention), never an empty result.
    assert(Acl.showGrants("u2") ==
      Seq("GRANT USAGE ON *.* TO 'u2'@'%'"))
    Acl.clear()
  }

  test("Acl: full scope mask renders the ALL PRIVILEGES literal") {
    Acl.clear()
    Acl.grant("u3", Seq("ALL"))
    assert(Acl.showGrants("u3") ==
      Seq("GRANT ALL PRIVILEGES ON *.* TO 'u3'@'%'"))
    Acl.clear()
  }

  test("Acl: role closure is transitive and cycle-safe") {
    Acl.clear()
    // r1 -> r2 -> u4, plus a back-edge r2 -> r1 forming a cycle: the
    // closure must terminate and still fold both roles' grants.
    Acl.grant("r1", Seq("SELECT"), db = "d")
    Acl.grant("r2", Seq("INSERT"), db = "d")
    Acl.grantRole("r1", "r2")
    Acl.grantRole("r2", "r1")
    Acl.grantRole("r2", "u4")
    val gs = Acl.showGrants("u4")
    assert(gs.contains("GRANT SELECT,INSERT ON d.* TO 'u4'@'%'"), gs)
    assert(gs.contains("GRANT 'r2'@'%' TO 'u4'@'%'"), gs)
    Acl.clear()
  }

  test("Acl: host is part of the principal identity") {
    Acl.clear()
    Acl.grant("u5", Seq("SELECT"), host = "localhost")
    assert(Acl.showGrants("u5", "localhost") ==
      Seq("GRANT SELECT ON *.* TO 'u5'@'localhost'"))
    // Same name at another host is a DIFFERENT principal (the
    // user@host identity model) — unknown here.
    assert(Acl.showGrants("u5", "%").isEmpty)
    Acl.clear()
  }

  // --- METRICS_SCHEMA analog (metrics_reader.go:52) ---

  test("metricsSeries equals an independent fold of the raw batches") {
    import graft.tools.StatementsSummary
    val dir = java.nio.file.Files.createTempDirectory("metrics")
      .toString
    StatementsSummary.clear()
    StatementsSummary.record("q_scan_filter", t)
    StatementsSummary.record("q_scan_filter", t)
    StatementsSummary.record("q_sort_topn", t)
    StatementsSummary.persistRotate(spark, dir, Some("w1"))
    StatementsSummary.record("q_scan_filter", t)
    StatementsSummary.persistRotate(spark, dir, Some("w2"))
    val got = StatementsSummary.metricsSeries(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    // Independent fold: raw batch rows, hand-aggregated per
    // (window, entry) without going through the series code path.
    val raw = spark.read.parquet(dir).collect().map(r =>
      (r.getAs[String]("batch_id"), r.getAs[String]("entry"),
        r.getAs[Long]("exec_count"), r.getAs[Long]("rows_total"),
        r.getAs[Double]("sum_wall_ms"), r.getAs[Double]("max_wall_ms")))
    val expect = raw.groupBy(x => (x._1, x._2)).flatMap {
      case ((w, e), rows) => Seq(
        ((w, e, "exec_count"), rows.map(_._3).max.toDouble),
        ((w, e, "rows_total"), rows.map(_._4).sum.toDouble),
        ((w, e, "sum_wall_ms"), rows.map(_._5).max),
        ((w, e, "max_wall_ms"), rows.map(_._6).max))
    }.toMap
    assert(got == expect, "series diverged from the independent fold")
    // The temp view is the information_schema read path.
    assert(spark.table("metrics_schema").count() == got.size)
    StatementsSummary.clear()
  }

  test("q_metrics_schema pins the deterministic exec-count series") {
    val rows = q("q_metrics_schema").collect()
    def execCount(w: String, e: String): Double = rows.find(r =>
      r.getString(0) == w && r.getString(1) == e &&
        r.getString(2) == "exec_count").get.getDouble(3)
    // w1: scan recorded twice + topn once; w2: scan once, no topn.
    assert(execCount("w1", "q_scan_filter") == 2.0)
    assert(execCount("w1", "q_sort_topn") == 1.0)
    assert(execCount("w2", "q_scan_filter") == 1.0)
    assert(!rows.exists(r => r.getString(0) == "w2" &&
      r.getString(1) == "q_sort_topn"))
    // Four metrics per (window, entry): 3 pairs x 4.
    assert(rows.length == 12)
  }

  // --- inspection profile (inspection_profile.go:35) ---

  test("Trace.profile: tree contract holds on a real multi-join plan") {
    import graft.tools.Trace
    val nodes = Trace.profile("q_tpch_q3", t)
    assert(nodes.nonEmpty)
    // Pre-order ids, one root, every parent precedes its child.
    assert(nodes.map(_.id) == nodes.indices)
    assert(nodes.count(_.parentId == -1) == 1 && nodes.head.parentId == -1)
    val byId = nodes.map(n => n.id -> n).toMap
    for (n <- nodes if n.parentId >= 0) {
      assert(n.parentId < n.id, s"parent after child: $n")
      assert(byId(n.parentId).depth == n.depth - 1,
        s"depth inconsistent with parent: $n")
    }
    // The rollup invariant: subtree = self + sum of child subtrees,
    // exact regardless of the (nondeterministic) timing values.
    val kids = nodes.groupBy(_.parentId)
    for (n <- nodes) {
      val expect = n.selfMs +
        kids.getOrElse(n.id, Nil).map(_.subtreeMs).sum
      assert(math.abs(n.subtreeMs - expect) < 1e-6,
        s"rollup broke at ${n.name}: ${n.subtreeMs} vs $expect")
    }
    // The walk visits the same operators Trace.run reports — compared
    // on a single-stage entry (q_scan_filter), because AQE may add or
    // drop ReusedExchange/coalesce nodes BETWEEN two executions of a
    // multi-exchange plan like q_tpch_q3 (the StatementsSummary
    // caveat), which would flake a name-sequence compare.
    assert(Trace.profile("q_scan_filter", t).map(_.name) ==
      Trace.run("q_scan_filter", t).map(_.name))
  }

  test("q_inspection_profile: root share is 100 and depths are sane") {
    val rows = q("q_inspection_profile").collect()
    assert(rows.nonEmpty)
    val root = rows.find(_.getAs[Int]("parent_id") == -1).get
    assert(root.getAs[Int]("depth") == 0)
    assert(math.abs(root.getAs[Double]("pct_of_total") - 100.0) < 0.01 ||
      root.getAs[Double]("subtree_ms") == 0.0)
    // Every non-root share is within [0, 100].
    assert(rows.forall { r =>
      val p = r.getAs[Double]("pct_of_total"); p >= 0.0 && p <= 100.001
    })
  }

  // --- containment near-dup (Broder's asymmetric measure) ---

  test("containment catches small-in-large pairs that Jaccard misses") {
    import graft.functions.TextFns
    import spark.implicits._
    // A 12-word quote fully embedded in a 60-word container: every
    // shingle of the small doc appears in the big one, so
    // C(small→big) = 1 while Jaccard stays well under the 0.5 gate.
    val quote = (1 to 12).map(i => s"tok$i").mkString(" ")
    val filler = (100 to 147).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, s"$quote $filler"))
      .toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"),
      array_distinct(TextFns.wordShingleHashes(col("text"), 3)).as("hs"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    val inter = (sets(1L) & sets(2L)).size.toDouble
    val cSmallToBig = inter / sets(1L).size
    val cBigToSmall = inter / sets(2L).size
    val jaccard = inter / (sets(1L) ++ sets(2L)).size
    assert(cSmallToBig == 1.0, s"full containment expected: $cSmallToBig")
    assert(jaccard < 0.5, s"Jaccard must miss this pair: $jaccard")
    assert(cBigToSmall < 0.6, "asymmetry: container is not contained")
    // Entry invariants on the real corpus: thresholded, bounded, and
    // direction-consistent with the shared unordered intersection.
    val rows = q("d_dedup_containment").collect()
    assert(rows.forall { r =>
      val c = r.getAs[Double]("containment"); c >= 0.6 && c <= 1.0001
    })
    val byPair = rows.map(r => (r.getAs[Long]("src_id"),
      r.getAs[Long]("dst_id")) -> r.getAs[Long]("n_inter")).toMap
    for (((s, d), n) <- byPair; rev <- byPair.get((d, s)))
      assert(rev == n, s"n_inter asymmetric for pair ($s,$d)")
  }

  // --- dedup-quality evaluation ---

  test("d_dedup_eval confusion counts match a Scala recompute") {
    import graft.functions.TextFns
    val row = q("d_dedup_eval").collect().head
    // Exact truth recomputed independently over the entry's own
    // 200-doc hash-ordered sample: distinct 5-char shingle hash sets
    // per doc, pairwise Jaccard >= 0.35 (no df machinery — brute
    // force over the collected sets).
    val sets = t.documents
      .orderBy(TextFns.knuthCoin(col("doc_id")), col("doc_id"))
      .limit(200)
      .select(col("doc_id"),
        array_distinct(TextFns.charShingleHashes(col("text"), 5))
          .as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty)
    val truth = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.35
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(row.getAs[Long]("n_truth") == truth.size,
      s"truth ${row.getAs[Long]("n_truth")} vs brute ${truth.size}")
    // Arithmetic invariants: tp <= both sides, ratios consistent.
    val (nT, nP, tp) = (row.getAs[Long]("n_truth"),
      row.getAs[Long]("n_pred"), row.getAs[Long]("tp"))
    assert(tp <= nT && tp <= nP)
    assert(math.abs(row.getAs[Double]("precision") -
      tp.toDouble / math.max(nP, 1)) < 1e-4 + 1e-9)
    assert(math.abs(row.getAs[Double]("recall") -
      tp.toDouble / math.max(nT, 1)) < 1e-4 + 1e-9)
    // The banding (16 bands x 4 rows) must catch essentially every
    // true pair at this tau — the recall floor the card exists to
    // watch.
    assert(row.getAs[Double]("recall") >= 0.9,
      s"LSH recall collapsed: ${row.getAs[Double]("recall")}")
  }

  // --- coreness decomposition (h-index fixpoint) ---

  test("g_coreness equals classic min-degree peeling") {
    val got = q("g_coreness").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Classic peeling on the collected edge set: repeatedly remove a
    // minimum-degree vertex; its coreness is the running max of the
    // degree at removal time (Batagelj-Zaversnik).
    val edges = graph.Graph.derived(t.orders).edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val expectDeg = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (v, ns) = adj.minBy { case (_, ns) => ns.size }
      k = math.max(k, ns.size.toLong)
      core(v) = k
      ns.foreach(u => adj.get(u).foreach(_ -= v))
      adj.remove(v)
    }
    assert(got.keySet == core.keySet)
    for ((v, (deg, c)) <- got) {
      assert(deg == expectDeg(v), s"deg mismatch at $v")
      assert(c == core(v), s"coreness mismatch at $v: engine $c, peel ${core(v)}")
    }
  }

  // --- reciprocity + SHOW PARTITIONS ---

  test("g_reciprocity: brute-force parity and bounds") {
    val row = q("g_reciprocity").collect().head
    val (nE, nR, ratio) = (row.getAs[Long]("n_edges"),
      row.getAs[Long]("n_recip"), row.getAs[Double]("reciprocity"))
    assert(nR >= 0 && nR <= nE)
    assert(math.abs(ratio - (nR.toDouble / nE)) < 1e-4 + 1e-9)
    // Brute force on the collected edge set.
    val edges = graph.Graph.derived(t.orders).edges
      .filter(col("src") =!= col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = edges.count { case (a, b) => edges.contains((b, a)) }
    assert(nR == brute, s"engine $nR vs brute $brute")
    assert(nE == edges.size)
  }

  test("q_show_partitions: one row per layout partition dir") {
    val rows = q("q_show_partitions").collect()
    val layout = graft.sources.PartitionedFact
      .lineitemByShipMonth(spark, t.dir)
    val dirs = layout.select("shipmonth").distinct().count()
    assert(rows.length == dirs)
    // Bounds live inside their partition month.
    rows.foreach { r =>
      val p = r.getAs[String]("partition")
      assert(r.getAs[java.sql.Date]("min_day").toString.startsWith(p))
      assert(r.getAs[java.sql.Date]("max_day").toString.startsWith(p))
    }
  }

  // --- named WINDOW clause ---

  test("q_window_named: three functions share ONE window operator") {
    val df = Registry.byName("q_window_named").run(t)
    // All three over-clauses ride the same named spec, so the plan
    // must hold a single Window operator (one sort, one exchange),
    // never three. Counted on the plan TREE, not a string regex — a
    // regex misses branch-nested Window lines and double-counts when
    // AQE prints Final + Initial sections.
    // (AdaptiveSparkPlanExec hides its subtree from collect(), so
    // walk with the Trace-style descent.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case st: QueryStageExec       => Seq(st.plan)
      case o                        => o.children
    }).flatMap(walk)
    val windows = walk(df.queryExecution.executedPlan).count {
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]
    }
    assert(windows == 1, s"expected 1 Window operator, got $windows")
    assert(df.count() > 0)
  }

  // --- LOAD STATS entry (load_stats.go statement surface) ---

  test("q_load_stats: injected NDV equals the artifact's, not a re-scan") {
    val row = q("q_load_stats").collect().head
    assert(row.getAs[Int]("absent_after_recreate") == 1,
      "recreated table unexpectedly had stats before the load")
    assert(row.getAs[Int]("present_after_load") == 1)
    assert(row.getAs[Long]("row_count") == t.customer.count())
  }

  // --- TTL sweep (ttl/ttlworker) ---

  test("Ttl.sweep drops whole days, rewrites only the boundary day") {
    val rows = q("q_ttl").collect()
    val root = graft.sources.Layouts.root("ttl", t.dir)
    // Re-derive the watermark the entry used.
    val wm = t.events
      .agg((max(col("ts")) - expr("INTERVAL 120 HOURS")).as("wm"))
      .head().getTimestamp(0)
    val wmDay = wm.toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val days = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted
    // Every surviving partition is the boundary day or newer; expired
    // days are GONE (dropped by unlink, never scanned).
    assert(days.forall(_.stripPrefix("day=") >= wmDay), days.mkString(","))
    assert(days.head == s"day=$wmDay", "boundary day missing")
    // The boundary rewrite kept exactly the unexpired rows.
    val boundary = spark.read.parquet(s"$root/day=$wmDay")
    assert(boundary.filter(col("ts") < wm).count() == 0)
    assert(boundary.count() ==
      t.events.filter(col("ts") >= wm &&
        date_format(col("ts"), "yyyy-MM-dd") === wmDay).count())
    // A second sweep with the same watermark is a FULL no-op: nothing
    // dropped, and — because the boundary day has no expired rows
    // left — nothing rewritten either; both the newest and the
    // boundary day's files stay byte-stable.
    def fileSet(day: String) = new java.io.File(s"$root/day=$day")
      .listFiles().map(f => (f.getName, f.length)).toSet
    val newest = days.last.stripPrefix("day=")
    val beforeNewest = fileSet(newest)
    val beforeBoundary = fileSet(wmDay)
    val (d2, r2) = graft.sources.Ttl.sweep(spark, root, "ts", wm)
    assert(d2 == 0, "second sweep dropped partitions")
    assert(r2 == 0, "second sweep rewrote a clean boundary day")
    assert(fileSet(newest) == beforeNewest, "sweep touched a newer day")
    assert(fileSet(wmDay) == beforeBoundary,
      "no-op sweep churned the boundary day's files")
    // And the served survivors equal the retention filter.
    assert(rows.length ==
      t.events.filter(col("ts") >= wm).count())
  }

  // --- exchange partition (ddl/partition.go) ---

  test("ExchangePartition swaps both directions and refuses bad stages") {
    import graft.sources.ExchangePartition
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("exch").toString
    Seq((1L, "a"), (2L, "a")).toDF("k", "v")
      .write.parquet(s"$root/fact/p=a")
    Seq((9L, "b")).toDF("k", "v").write.parquet(s"$root/stage")
    val (in, out) = ExchangePartition.exchange(
      spark, s"$root/fact", "p=a", s"$root/stage",
      validatePredicate = Some("k > 0"))
    assert((in, out) == ((1L, 2L)))
    // BOTH directions: the partition now serves the staged row, the
    // staging dir now holds the displaced old partition.
    assert(spark.read.parquet(s"$root/fact/p=a").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.read.parquet(s"$root/stage").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // Predicate violation refused BEFORE anything moves.
    Seq((-1L, "x")).toDF("k", "v").write.parquet(s"$root/stage2")
    intercept[IllegalStateException] {
      ExchangePartition.exchange(spark, s"$root/fact", "p=a",
        s"$root/stage2", validatePredicate = Some("k > 0"))
    }
    assert(spark.read.parquet(s"$root/fact/p=a").collect()
      .map(_.getLong(0)).toSeq == Seq(9L), "refused swap mutated data")
    // Schema mismatch refused.
    Seq((1L, 2L)).toDF("k", "other").write.parquet(s"$root/stage3")
    intercept[IllegalStateException] {
      ExchangePartition.exchange(spark, s"$root/fact", "p=a",
        s"$root/stage3")
    }
  }

  test("q_exchange_partition displaces the old partition into the stage") {
    q("q_exchange_partition").collect()
    val root = graft.sources.Layouts.root("exchg", t.dir)
    // The swap's other direction: the stage dir now holds the
    // ORIGINAL (uncorrected) 1996 partition.
    val displaced = spark.read.parquet(s"$root/stage")
    val origRows = t.orders
      .filter(year(col("o_orderdate")) === 1996).count()
    assert(displaced.count() == origRows)
  }

  // --- retrieve-then-rerank cascade ---

  test("s_retrieve_rerank: rerank output is a candidate subset, cosine-ordered") {
    val rows = q("s_retrieve_rerank").collect()
    assert(rows.length == 5)
    // Cascade contract: every reranked doc carries its stage-1 rank
    // (1..20), i.e. it WAS a BM25 candidate.
    assert(rows.forall { r =>
      val rt = r.getAs[Int]("r_text"); rt >= 1 && rt <= 20
    })
    // Stage-2 order is cosine, not the lexical rank.
    val cos = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
    assert(cos.sliding(2).forall(w => w(0) >= w(1)),
      s"rerank not cosine-ordered: ${cos.mkString(",")}")
    // The candidate list is the broadcast build side of the
    // embeddings join — stage 2 never shuffles the corpus.
    val plan = Registry.byName("s_retrieve_rerank").run(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  // --- histogram merge (statistics/histogram.go:763) ---

  test("q_stats_merge: lossless fold, disjoint ranges, balanced depth") {
    val rows = q("q_stats_merge").collect()
      .sortBy(_.getAs[Int]("bucket"))
    assert(rows.map(_.getAs[Int]("bucket")).toSeq == (0 until 8))
    // Merging loses no rows: the 8 merged counts refold to the table.
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == t.orders.count())
    // Range-ordered and disjoint (the MergeHistograms precondition
    // carried through the merge): each bucket's hi < next bucket's lo
    // on the unique integer key.
    for (w <- rows.sliding(2); Array(a, b) = w)
      assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"),
        s"merged buckets overlap: ${a.mkString(",")} / ${b.mkString(",")}")
    // Equi-depth survives pair-merging of equi-depth halves: every
    // merged bucket holds ~total/8, within the rounding slack of two
    // constituent buckets.
    val target = total / 8.0
    assert(rows.forall(r =>
      math.abs(r.getAs[Long]("n_rows") - target) <= target * 0.05 + 2),
      rows.map(_.getAs[Long]("n_rows")).mkString(","))
  }

  // --- index lookup join (executor/index_lookup_join.go) ---

  test("q_join_index_lookup pushes the probe keys into the fact scan") {
    val df = Registry.byName("q_join_index_lookup").run(t)
    val plan = df.queryExecution.executedPlan.toString
    // The operator's point: the orders scan is keyed, not full — the
    // IN list must reach the parquet reader as a pushed filter.
    // A single surviving key is rewritten In -> EqualTo by the
    // optimizer; both are the keyed pushdown this operator is about.
    assert(plan.contains("PushedFilters") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*" +
        "(In|EqualTo)\\(o_custkey.*"),
      s"probe keys did not reach the scan:\n$plan")
    // And the join back is a broadcast on the tiny probe side.
    assert(plan.contains("BroadcastHashJoin"),
      s"outer re-join should broadcast the probe:\n$plan")
    assert(df.count() > 0)
  }

  // --- FLASHBACK TABLE (executor/ddl.go recover semantics) ---

  test("RecycleBin: drop retains, flashback restores newest, gc forgets") {
    import graft.tools.RecycleBin
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("fb").toString
    val tdir = s"$root/t"
    def write(v: Int): Unit = Seq((1, v)).toDF("k", "v")
      .write.mode("overwrite").parquet(tdir)
    // Drop v1, recreate as v2, drop v2: flashback must restore the
    // NEWEST retained version, decided by sequence, not mtime.
    write(1); RecycleBin.drop(tdir, s"$root/bin")
    write(2); RecycleBin.drop(tdir, s"$root/bin")
    assert(!new java.io.File(tdir).exists())
    RecycleBin.flashback(s"$root/bin", "t", tdir)
    assert(spark.read.parquet(tdir).head().getInt(1) == 2)
    // A live destination must never be clobbered.
    intercept[IllegalStateException] {
      RecycleBin.flashback(s"$root/bin", "t", tdir)
    }
    // GC past the safepoint forgets v1 permanently: nothing left.
    RecycleBin.drop(tdir, s"$root/bin")
    val purged = RecycleBin.gc(s"$root/bin", RecycleBin.currentSeq)
    assert(purged == 2, s"expected v1 + re-dropped v2 purged, got $purged")
    intercept[IllegalStateException] {
      RecycleBin.flashback(s"$root/bin", "t", tdir)
    }
    // Unknown table name is the same error path.
    intercept[IllegalStateException] {
      RecycleBin.flashback(s"$root/bin", "never_existed", s"$root/x")
    }
    // Name matching is EXACT: table "t__v2"'s retained entry must
    // never shadow (or be consumed by) a flashback of table "t".
    val t2 = s"$root/t__v2"
    Seq((9, 9)).toDF("k", "v").write.parquet(t2)
    RecycleBin.drop(t2, s"$root/bin")
    intercept[IllegalStateException] {
      RecycleBin.flashback(s"$root/bin", "t", tdir)
    }
    RecycleBin.flashback(s"$root/bin", "t__v2", t2)
    assert(spark.read.parquet(t2).head().getInt(0) == 9)
  }

  test("q_flashback round-trips the dropped table losslessly") {
    val rows = q("q_flashback").collect()
    val expect = t.orders.filter(col("o_orderkey") % 7 === 0).count()
    assert(rows.length == expect && expect > 0)
  }

  // --- SET CONFIG (set_config.go) ---

  test("q_set_config leaves every parent conf untouched") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val rows = q("q_set_config").collect()
    assert(rows.length == 4)
    assert(rows.exists(r => r.getString(1) == "threshold_leak" &&
      r.getString(2) == "none"))
    assert(keys.map(k => k -> spark.conf.getOption(k)) == before,
      "entry mutated the parent session's conf")
    // Idempotent: a second run sees the same pristine parent.
    assert(q("q_set_config").collect().map(_.toSeq).toSeq ==
      rows.map(_.toSeq).toSeq)
  }

  test("q_show_grants renders the pinned scenario deterministically") {
    val rows = q("q_show_grants").collect()
    assert(rows.length == 8)
    // Re-running re-seeds from clear() — identical output, no
    // accumulation across runs.
    val again = q("q_show_grants").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // The transitive-closure row: alice's graft.* line folds the
    // SELECT granted to analyst with the SHOW VIEW granted to reader.
    assert(rows.exists(r => r.getString(0) == "alice" &&
      r.getString(2) == "GRANT SELECT,SHOW VIEW ON graft.* TO 'alice'@'%'"))
  }
}
