package graft

import org.apache.spark.sql.functions._

/** Session-3 wave: JSON_TABLE round trip, OHLC candles, LPA
  * communities, winnowed substring dup, media quality gate, ANN
  * radius search, PCA scores. */
class Wave11Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  test("q_json_table: nest→shred round trip reproduces the rows in order") {
    val got = q("q_json_table").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("ord")) ->
        (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
          r.getAs[Double]("value"))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val want = t.events.filter(col("user_id") < 40)
      .withColumn("ord", row_number().over(w)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("ord")) ->
        (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
          r.getAs[Double]("value"))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("e_ohlc: candle invariants and windowed open/close parity") {
    val rows = q("e_ohlc").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h); assert(l <= c && c <= h)
      assert(r.getAs[Long]("volume") > 0)
    }
    // open/close agree with the explicit first/last-row formulation.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(date_trunc("day", col("ts")), col("event_type"))
      .orderBy("ts", "event_id")
    val first = t.events
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(date_trunc("day", col("ts")).as("w_start"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    rows.foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(math.abs(first(k) - r.getAs[Double]("open")) < 1e-9)
    }
  }

  test("g_lpa: deterministic, |V|-complete, and splits a barbell") {
    val a = q("g_lpa").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = q("g_lpa").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val nV = graph.Graph.derived(t.orders).oriented("both")
      .select("src").distinct().count()
    assert(a.size == nV)
    // Two triangles bridged by one edge: LPA keeps them as two
    // communities (CC would merge them).
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L)).toDF("src", "dst")
    val lbl = graph.Graph(e).labelPropagation(iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(lbl(0L), lbl(1L)) == Set(0L))
    assert(lbl(11L) == lbl(12L))
    assert(lbl(0L) != lbl(11L))
    // The same labels when the label state may not be broadcast: the
    // planner's own join instead of the hinted one.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    val noBroadcast = try graph.Graph(e).labelPropagation(iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset(key)
    assert(noBroadcast == lbl)
    // Ties go to the smallest label, in the join-free first round and
    // in the joined later ones: on a 6-ring every vertex's two
    // neighbours tie in round 1, and four vertices tie again in round
    // 2; the star's hub ties over its four leaves. 30 has a self-loop,
    // so it is its own neighbour. 60-65 is given twice one way and
    // once the other: each neighbour counts once, so 60 gets 62 in
    // round 1 and 60 in round 2, where counting every given edge
    // would make 65, then 59, its mode. Checked against a direct
    // synchronous LPA over the adjacency lists for 0-5 rounds (an odd
    // count once ended on a single-round checkpoint), with and
    // without the label state broadcast.
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6))
    val star = Seq(7L, 3L, 9L, 5L).map(leaf => (50L, leaf))
    val selfLoop = Seq((30L, 30L), (30L, 31L), (31L, 32L), (32L, 30L))
    val parallel = Seq((60L, 65L), (60L, 65L), (65L, 60L), (65L, 59L),
      (60L, 62L), (60L, 63L))
    val edges = ring ++ star ++ selfLoop ++ parallel
    val adj = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    def reference(iters: Int): Map[Long, Long] =
      (1 to iters).foldLeft(adj.map { case (v, _) => v -> v }) {
        (l, _) => adj.map { case (v, nbrs) =>
          v -> nbrs.groupBy(l).toSeq
            .minBy { case (label, ns) => (-ns.size, label) }._1 }
      }
    assert(reference(1)(60L) == 62L && reference(2)(60L) == 60L &&
      reference(1)(30L) == 30L)
    val g = graph.Graph(edges.toDF("src", "dst"))
    for (threshold <- Seq(None, Some("-1"))) {
      threshold.foreach(spark.conf.set(key, _))
      try for (iters <- 0 to 5) {
        val got = g.labelPropagation(iters).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == reference(iters),
          s"after $iters rounds, broadcast threshold $threshold")
      } finally spark.conf.unset(key)
    }
  }

  test("d_substring_dup: anchors bound dups; identical docs fully flagged") {
    val rows = q("d_substring_dup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_anchors") <= r.getAs[Long]("n_anchors"))
    }
    // Offset invariance — the property strided shingles lack: doc B
    // embeds doc A's text at an arbitrary byte offset, and every one
    // of A's anchors must reappear among B's (content-defined anchor
    // positions don't care about alignment).
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val docs = Seq((1L, base), (2L, "XYZ! unrelated prefix 0123 " + base))
      .toDF("doc_id", "text")
    val byId = dedup.DedupQueries.winnowAnchors(docs).collect()
      .groupBy(_.getLong(0)).map { case (k, v) =>
        k -> v.map(_.getString(1)).toSet }
    assert(byId(1L).nonEmpty)
    assert(byId(1L).subsetOf(byId(2L)))
  }

  test("m_media_quality: verdict matches recomputed metadata gates") {
    val rows = q("m_media_quality").collect()
    assert(rows.length == t.documents.count())
    rows.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val v = r.getAs[String]("verdict")
      if (w < 128 || h < 128) assert(v == "too_small")
      else if (w > 4.0 * h || h > 4.0 * w) assert(v == "bad_aspect")
      else assert(v == "ok" || v == "too_short")
    }
    assert(rows.map(_.getAs[String]("verdict")).toSet.contains("ok"))
  }

  test("s_ann_range: threshold respected; brute top-k hits above τ appear") {
    val range = q("s_ann_range").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos")).toMap
    range.values.foreach(c => assert(c >= 0.2499))
    val brute = q("s_ann_brute").collect().filter(_.getAs[Long]("qid") < 5)
    brute.filter(_.getAs[Double]("cos") >= 0.2501).foreach { r =>
      assert(range.contains(
        (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))))
    }
  }

  test("g_scc: known cycles, chains, and self-loops decompose exactly") {
    import spark.implicits._
    // cycle {1,2,3} → chain → cycle {10,11}; 20 feeds in; 30 self-loops.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (20L, 1L), (30L, 30L)).toDF("src", "dst")
    val scc = graph.Graph(e).stronglyConnectedComponents().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 30L -> 30L))
    // Registry entry: every node labeled, labels are member minima.
    val real = q("g_scc").collect().map(r => r.getLong(0) -> r.getLong(1))
    val byScc = real.groupBy(_._2)
    byScc.foreach { case (s, members) =>
      assert(members.map(_._1).min == s)
    }
    val nV = graph.Graph.derived(t.orders).oriented("both")
      .select("src").distinct().count()
    assert(real.length == nV)
  }

  test("e_window_slide: every event lands in exactly 4 hop windows") {
    val rows = q("e_window_slide").collect()
    val totalN = rows.map(_.getAs[Long]("n")).sum
    assert(totalN == 4 * t.events.count())
    // starts align to the 6 h hop grid
    rows.foreach { r =>
      val ms = r.getTimestamp(0).getTime
      assert(ms % (6L * 3600 * 1000) == 0)
    }
  }

  test("s_ann_dot: matches a hand-computed MIPS top-5 for one query") {
    val got = q("s_ann_dot").collect()
      .filter(_.getAs[Long]("qid") == 0L)
      .sortBy(-_.getAs[Double]("dp"))
      .map(r => r.getAs[Long]("vec_id"))
    val all = t.embeddings.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray).toMap
    val qv = all(0L)
    val want = (all - 0L).view.map { case (id, v) =>
      id -> v.zip(qv).map { case (a, b) => a * b }.sum
    }.toSeq
      .sortBy { case (id, d) =>
        (-BigDecimal(d).setScale(8, BigDecimal.RoundingMode.HALF_UP), id) }
      .take(5).map(_._1)
    assert(got.toSeq == want)
  }

  test("t_boilerplate: ratios consistent; repeated chunks flagged") {
    val rows = q("t_boilerplate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, b) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boiler"))
      assert(b <= n && n > 0)
      assert(math.abs(r.getAs[Double]("boiler_ratio") -
        BigDecimal(b.toDouble / n).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("t_html_clean: markup fully stripped, non-markup docs intact") {
    val byId = q("t_html_clean").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean"), r.getAs[Int]("had_markup"))).toMap
    val texts = t.documents.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    byId.foreach { case (id, (clean, had)) =>
      assert(!clean.contains("<") && !clean.contains(">"))
      assert(!clean.contains("&amp;"))
      assert(had == (if (id % 3 == 0) 1 else 0))
      if (had == 1) {
        assert(clean.startsWith("intro "))
        assert(clean.endsWith("& tail"))
      } else {
        assert(clean ==
          texts(id).replaceAll(" +", " ").trim)
      }
    }
  }

  test("e_dau_cume: cumulative reach reconciles with distinct users") {
    val rows = q("e_dau_cume").collect().sortBy(_.getTimestamp(0).getTime)
    val totalUsers = t.events.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("new_users")).sum == totalUsers)
    assert(rows.last.getAs[Long]("cume_users") == totalUsers)
    var prev = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("cume_users")
      assert(c >= prev); prev = c
      assert(r.getAs[Long]("dau") <= c)
      assert(r.getAs[Long]("new_users") <= r.getAs[Long]("dau"))
    }
  }

  test("e_gaps: per-user gap counts and bounds") {
    val gaps = q("e_gaps").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_gaps"), r.getAs[Double]("avg_gap_s"),
          r.getAs[Long]("max_gap_s"))).toMap
    val counts = t.events.groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    counts.foreach { case (u, n) =>
      if (n >= 2) {
        val (g, avg, mx) = gaps(u)
        assert(g == n - 1)
        assert(mx >= avg - 1e-9)
        assert(avg >= 0)
      } else assert(!gaps.contains(u))
    }
  }

  test("q_agg_mode: argmin tie-break equals a recomputed mode") {
    val got = q("q_agg_mode").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("mode_type"), r.getAs[Long]("mode_n"))).toMap
    val counts = t.events.groupBy("user_id", "event_type").count().collect()
      .groupBy(_.getAs[Long]("user_id"))
    counts.foreach { case (u, rows) =>
      val best = rows.map(r =>
        (r.getAs[String]("event_type"), r.getAs[Long]("count")))
        .minBy { case (ty, n) => (-n, ty) }
      assert(got(u) == best)
    }
  }

  test("g_walks: paths follow real edges, deterministic, dead ends retire") {
    val runs = (1 to 2).map(_ => q("g_walks").collect()
      .map(r => r.getAs[Long]("walk_id") -> r.getAs[String]("path")).toMap)
    assert(runs(0) == runs(1) && runs(0).nonEmpty)
    val edges = graph.Graph.derived(t.orders).oriented("out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    runs(0).values.foreach { p =>
      val hops = p.split("->").map(_.toLong)
      assert(hops.length <= 5)
      hops.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(edges.contains((pair(0), pair(1))))
      }
    }
    // chain 1→2→3→4→5 forces the unique walk; 7→8 dead-ends early.
    import spark.implicits._
    val g = graph.Graph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (7L, 8L)).toDF("src", "dst"))
    val walks = g.randomWalks(maxStart = 10, perStart = 1, steps = 4)
      .collect().map(r => r.getAs[Long]("walk_id") ->
        r.getAs[String]("path")).toMap
    // walk_id = src*perStart + w (collision-free encoding).
    assert(walks(1L) == "1->2->3->4->5")
    assert(walks(7L) == "7->8")
  }

  test("g_betweenness: hand-computed chain and diamond dependencies") {
    import spark.implicits._
    // chain 1→2→3→4: δ(2)=2, δ(3)=1 from root 1
    val chain = graph.Graph(Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst"))
    val c = chain.dependencyScores(Seq(1L), maxDepth = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c == Map(2L -> 2.0, 3L -> 1.0))
    // diamond 1→{2,3}→4: two shortest paths split the dependency
    val diamond = graph.Graph(Seq((1L, 2L), (1L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst"))
    val d = diamond.dependencyScores(Seq(1L), maxDepth = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(2L -> 0.5, 3L -> 0.5))
    // registry entry: deterministic and strictly positive
    val a = q("g_betweenness").collect().map(r =>
      r.getLong(0) -> r.getDouble(1)).toMap
    val b = q("g_betweenness").collect().map(r =>
      r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b && a.nonEmpty)
    assert(a.values.forall(_ > 0))
  }

  test("e_markov: rows normalize per source state; pair count reconciles") {
    val rows = q("e_markov").collect()
    val byFrom = rows.groupBy(_.getAs[String]("t_from"))
    byFrom.foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("prob")).sum - 1.0) < 1e-3)
    }
    val totalPairs = rows.map(_.getAs[Long]("n")).sum
    val perUser = t.events.groupBy("user_id").count().collect()
      .map(r => math.max(0L, r.getAs[Long]("count") - 1)).sum
    assert(totalPairs == perUser)
  }

  test("t_bpe_train: classic low/lowest merge order with lexicographic ties") {
    import spark.implicits._
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lowest"))
      .mkString(" ")
    val merges = text.Bpe.trainMerges(Seq(corpus).toDF("text"), 3)
    assert(merges == Seq((1, "l", "o", 7L), (2, "lo", "w", 7L),
      (3, "e", "s", 2L)))
    val rows = q("t_bpe_train").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    assert(rows.map(_.getAs[Long]("pair_n")).forall(_ > 0))
    // apply the 3 trained merges: low → [low] (1 token), lowest →
    // [low, es, t] (3 tokens); doc of 5 lows + 2 lowests → 11 tokens.
    val counts = text.Bpe.tokenCounts(
      Seq((1L, corpus)).toDF("doc_id", "text"), merges).collect()
    assert(counts.length == 1)
    val r = counts.head
    assert(r.getAs[Long]("n_words") == 7)
    assert(r.getAs[Long]("n_chars") == 5 * 3 + 2 * 6)
    assert(r.getAs[Long]("n_bpe_tokens") == 5 * 1 + 2 * 3)
    // registry entry: compression ≥ 1 (a token is ≥ 1 char)
    val reg = q("t_bpe_apply").collect()
    assert(reg.nonEmpty)
    reg.foreach { row =>
      assert(row.getAs[Double]("compression") >= 1.0)
      assert(row.getAs[Long]("n_bpe_tokens") <= row.getAs[Long]("n_chars"))
    }
  }

  test("q_compact: file count collapses, content survives") {
    val rows = q("q_compact")
    assert(rows.count() ==
      t.lineitem.filter(col("l_orderkey") < 3000).count())
    val base = sources.Layouts.root("compact", t.dir)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/small") == 32)
    assert(parquetFiles(s"$base/compacted") == 2)
  }

  test("q_snapshot_diff: every op class appears and routes correctly") {
    val rows = q("q_snapshot_diff").collect()
    val byOp = rows.groupBy(_.getAs[String]("op"))
    assert(byOp.keySet == Set("INSERT", "UPDATE", "DELETE"))
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      r.getAs[String]("op") match {
        case "INSERT" => // in v2 only: dropped from v1 by the mod-7 cut
          assert(k % 7 == 0 && k % 11 != 0)
          assert(r.isNullAt(r.fieldIndex("old_val")))
        case "DELETE" =>
          assert(k % 11 == 0 && k % 7 != 0)
          assert(r.isNullAt(r.fieldIndex("new_val")))
        case "UPDATE" =>
          assert(k % 5 == 0 && k % 7 != 0 && k % 11 != 0)
          assert(math.abs(r.getAs[Double]("new_val") -
            r.getAs[Double]("old_val") - 1.5) < 1e-9)
      }
    }
  }

  test("q_scd2_join: every order matches exactly one dim version") {
    val joined = q("q_scd2_join").collect()
    assert(joined.map(_.getAs[Long]("n_orders")).sum == t.orders.count())
    // upgraded segment only exists from the v2 validity window on
    joined.filter(_.getAs[String]("seg") == "UPGRADED").foreach { r =>
      assert(r.getAs[Int]("yr") >= 1995)
    }
    assert(joined.exists(_.getAs[String]("seg") == "UPGRADED"))
  }

  test("g_copurchase: pairs ordered, bounded, and share real parts") {
    val rows = q("g_copurchase").collect()
    assert(rows.length <= 50 && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("c1") < r.getAs[Long]("c2"))
      assert(r.getAs[Long]("common") >= 2)
    }
    val commons = rows.map(_.getAs[Long]("common"))
    assert(commons.sameElements(commons.sortBy(-_)))
    // spot-check the top pair really shares that many distinct parts
    val top = rows.head
    val cp = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(t.lineitem.select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey")), "o_orderkey")
      .select(col("o_custkey"), col("l_partkey")).distinct()
    val sets = cp.filter(col("o_custkey").isin(
        top.getAs[Long]("c1"), top.getAs[Long]("c2"))).collect()
      .groupBy(_.getLong(0)).map { case (k, v) =>
        k -> v.map(_.getLong(1)).toSet }
    val shared = sets(top.getAs[Long]("c1"))
      .intersect(sets(top.getAs[Long]("c2")))
    assert(shared.size >= top.getAs[Long]("common"))
  }

  test("e_heatmap: cell bounds and total reconciliation") {
    val rows = q("e_heatmap").collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("dow") >= 0 && r.getAs[Int]("dow") <= 6)
      assert(r.getAs[Int]("hod") >= 0 && r.getAs[Int]("hod") <= 23)
    }
    assert(rows.map(_.getAs[Long]("n")).sum == t.events.count())
  }

  test("q_format_union: three format legs reassemble the whole table") {
    val rows = q("q_format_union").collect()
    assert(rows.length == t.customer.count())
    assert(rows.map(_.getAs[Long]("c_custkey")).distinct.length ==
      rows.length)
    val base = sources.Layouts.root("mixfmt", t.dir)
    Seq("parquet", "orc", "csv").foreach { f =>
      assert(new java.io.File(s"$base/$f").exists())
    }
  }

  test("e_streaks: streaks match a Scala recomputation") {
    val got = q("e_streaks").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("best_streak"), r.getAs[Long]("n_runs"))).toMap
    val days = t.events
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date"))
      .distinct().collect()
      .map(r => r.getAs[Long](0) -> r.getAs[java.sql.Date](1).toLocalDate)
      .groupBy(_._1)
    days.foreach { case (u, pairs) =>
      val ds = pairs.map(_._2.toEpochDay).toSeq.sorted
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur = 1L
      for (i <- 1 until ds.length) {
        if (ds(i) == ds(i - 1) + 1) cur += 1
        else { runs += cur; cur = 1 }
      }
      runs += cur
      assert(got(u) == (runs.max, runs.length.toLong))
    }
  }

  test("t_span_contam: spans are maximal runs with exact gram counts") {
    val rows = q("t_span_contam").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val spans = rs.map(r => (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_grams")))
        .sortBy(_._1)
      spans.foreach { case (s, e, n) =>
        assert(e == s + n + 2) // n consecutive 4-grams cover s..s+n+2
      }
      // maximal: a gap of ≥1 position between consecutive spans
      spans.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1)._1 > w(0)._2 - 3 + 1)
      }
    }
  }

  test("s_ann_mmr: rank-1 is the relevance top-1; near-dups demoted") {
    val mmr = q("s_ann_mmr").collect()
    val byQ = mmr.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4))
    }
    val brute = q("s_ann_brute").collect()
      .filter(_.getAs[Long]("qid") < 5)
      .groupBy(_.getAs[Long]("qid"))
      .map { case (k, v) => k -> v.minBy(r =>
        (-BigDecimal(r.getAs[Double]("cos")).setScale(8,
          BigDecimal.RoundingMode.HALF_UP), r.getAs[Long]("vec_id")))
        .getAs[Long]("vec_id") }
    byQ.foreach { case (qid, rs) =>
      val r1 = rs.find(_.getAs[Int]("rank") == 1).get
      assert(r1.getAs[Long]("vec_id") == brute(qid))
    }
    // constructed demotion: c2 duplicates c1's direction, c3 is
    // orthogonal with lower relevance — MMR ranks c3 ahead of c2.
    import spark.implicits._
    val cands = Seq(
      (0L, 1L, 0.99, Seq(1.0, 0.0), 1.0),
      (0L, 2L, 0.90, Seq(1.0, 0.0), 1.0),
      (0L, 3L, 0.50, Seq(0.0, 1.0), 1.0))
      .toDF("qid", "vec_id", "rel", "v", "nv")
    val picked = ann.AnnQueries.mmrSelect(cands, k = 3, lam = 0.7)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id"))
    assert(picked.toSeq == Seq(1L, 3L, 2L))
  }

  test("d_mix_plan: shares normalize, budget reconciles to half the corpus") {
    val rows = q("d_mix_plan").collect()
    assert(math.abs(rows.map(_.getAs[Double]("share_now")).sum - 1.0)
      < 1e-3)
    assert(math.abs(rows.map(_.getAs[Double]("share_target")).sum - 1.0)
      < 1e-3)
    val total = rows.map(_.getAs[Long]("tokens")).sum
    val planned = rows.map(_.getAs[Long]("planned_tokens")).sum
    assert(math.abs(planned - 0.5 * total) < rows.length + 1.0)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("rate") * r.getAs[Long]("tokens")
        - r.getAs[Long]("planned_tokens")) <
        0.01 * r.getAs[Long]("tokens") + 2)
    }
  }

  test("q_dynamic_overwrite: only the 1996 partition was replaced") {
    val got = q("q_dynamic_overwrite").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[Int]("yr"), r.getAs[Double]("price"))).toMap
    val base = t.orders
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice").cast("double").as("p"))
      .collect().map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[Int]("yr"), r.getAs[Double]("p"))).toMap
    assert(got.size == base.size)
    // The corrected year must actually exist in the data — a year
    // that matches zero rows would silently no-op the overwrite
    // (latent through r11 with 1994).
    assert(base.values.exists(_._1 == 1996))
    base.foreach { case (k, (yr, price)) =>
      val (gyr, gprice) = got(k)
      assert(gyr == yr)
      val want = if (yr == 1996) price + 0.07 else price
      assert(math.abs(gprice - want) < 1e-6)
    }
  }

  test("g_modularity: sizes partition the graph, Q is sane and positive") {
    val rows = q("g_modularity").collect()
    val nV = graph.Graph.derived(t.orders).oriented("both")
      .select("src").distinct().count()
    assert(rows.map(_.getAs[Long]("sz")).sum == nV)
    val qTotal = rows.map(_.getAs[Double]("contrib")).sum
    assert(qTotal >= -0.5 && qTotal <= 1.0)
    rows.foreach { r =>
      assert(r.getAs[Long]("w2") <= r.getAs[Long]("deg_sum"))
    }
  }

  test("t_readability: formula matches a Scala recomputation") {
    val got = q("t_readability").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    t.documents.limit(8).collect().foreach { d =>
      val text = d.getAs[String]("text")
      val words = text.split(" ", -1).length.toLong
      val sents = math.max("[.!?]+".r.findAllIn(text).length, 1).toLong
      val syll = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      val r = got(d.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("words") == words)
      assert(r.getAs[Long]("sents") == sents)
      assert(r.getAs[Long]("syll") == syll)
      val flesch = 206.835 - 1.015 * (words.toDouble / sents) -
        84.6 * (syll.toDouble / words)
      assert(math.abs(r.getAs[Double]("flesch") - flesch) < 1e-3)
    }
  }

  test("e_pattern: regex matches a Scala recomputation per user") {
    val got = q("e_pattern").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Long]("seq_len"))).toMap
    val seqs = t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) =>
        u -> rows.sortBy(r => (r.getAs[java.sql.Timestamp]("ts").getTime,
          r.getAs[Long]("event_id"))).map(_.getAs[String]("ini")).mkString
      }
    seqs.foreach { case (u, s) =>
      val n = "v[^e]*?c[^e]*?p".r.findAllIn(s).length.toLong
      assert(got(u) == (n, s.length.toLong))
    }
    assert(got.values.exists(_._1 > 0))
  }

  test("e_twap: weighted mean sits inside the day's value range") {
    val rows = q("e_twap").collect()
    assert(rows.nonEmpty)
    val ranges = t.events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min("value").as("lo"), max("value").as("hi"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("day")) ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("day"))
      val (lo, hi) = ranges(k)
      val tw = r.getAs[Double]("twap")
      assert(tw >= lo - 1e-6 && tw <= hi + 1e-6)
    }
  }

  test("q_data_quality: all five rules present; clean data passes") {
    val rows = q("q_data_quality").collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("violations"), r.getAs[Long]("total"))).toMap
    assert(rows.keySet == Set("ship_date_complete", "discount_in_range",
      "orders_customer_fk", "lineitem_pk_unique", "quantity_positive"))
    rows.foreach { case (_, (v, tot)) =>
      assert(v >= 0 && v <= tot && tot > 0)
    }
    // the generated data is referentially sound …
    assert(rows("orders_customer_fk")._1 == 0)
    // … but its (orderkey, linenumber) "PK" genuinely collides — the
    // suite's job is to SURFACE that, and it does (cross-checked):
    val dups = t.lineitem.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(sum(col("c") - 1)).head().getLong(0)
    assert(rows("lineitem_pk_unique")._1 == dups && dups > 0)
  }

  test("q_pivot_dynamic: discovered columns complete, totals reconcile") {
    val df = q("q_pivot_dynamic")
    val types = t.events.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    assert(df.columns.toSeq == "user_id" +: types.toSeq)
    val rows = df.collect()
    assert(rows.length == t.events.select("user_id").distinct().count())
    val total = rows.map(r => types.map(c => r.getAs[Long](c)).sum).sum
    assert(total == t.events.count())
  }

  test("q_agg_moments: explicit power-sum form equals Spark's builtins") {
    val got = q("q_agg_moments").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("skew"), r.getAs[Double]("kurt"))).toMap
    val builtin = t.events.groupBy("event_type")
      .agg(round(skewness(col("value")), 4).as("sk"),
        round(kurtosis(col("value")), 4).as("ku"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("sk"), r.getAs[Double]("ku"))).toMap
    got.foreach { case (k, (sk, ku)) =>
      // power-sum arithmetic loses a few low bits vs the one-pass
      // central-moment builtins — 4dp values agree within 1e-3
      assert(math.abs(sk - builtin(k)._1) < 1e-3)
      assert(math.abs(ku - builtin(k)._2) < 1e-3)
    }
    assert(got.nonEmpty)
  }

  test("e_ttc: conversions are after the first view, recomputed") {
    val got = q("e_ttc").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("ttc_s")).toMap
    assert(got.values.forall(_ >= 0))
    val events = t.events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().groupBy(_.getAs[Long]("user_id"))
    def floorSec(us: Long): Long = Math.floorDiv(us, 1000000L)
    events.foreach { case (u, rows) =>
      val views = rows.filter(_.getString(1) == "view").map(_.getLong(2))
      if (views.nonEmpty) {
        val tv = views.min
        val ps = rows.filter(r => r.getString(1) == "purchase" &&
          r.getLong(2) > tv).map(_.getLong(2))
        if (ps.nonEmpty)
          assert(got(u) == floorSec(ps.min) - floorSec(tv))
        else assert(!got.contains(u))
      } else assert(!got.contains(u))
    }
  }

  test("s_embed_pca: recovers a planted axis and is deterministic") {
    import spark.implicits._
    // 40 vectors along (1,2,0,0)/√5 with small deterministic jitter.
    val axis = Array(1.0, 2.0, 0.0, 0.0).map(_ / math.sqrt(5))
    val data = (0 until 40).map { i =>
      val a = (i % 21) - 10.0
      val jit = Array(0.01 * (i % 3 - 1), 0.0, 0.02 * (i % 5 - 2), 0.0)
      axis.zip(jit).map { case (x, j) => a * x + j }.toSeq
    }.toDF("v")
    val (_, pc1) = ann.Pca.principal(data, d = 4)
    val cosAlign = pc1.zip(axis).map { case (a, b) => a * b }.sum
    assert(math.abs(cosAlign) > 0.999)
    val s1 = q("s_embed_pca").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s2 = q("s_embed_pca").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1 == s2)
    assert(s1.size == t.embeddings.count())
    // pc1 maximizes variance: its score spread beats raw axis 0.
    def variance(xs: Iterable[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val axis0 = t.embeddings
      .select(col("embedding").getItem(0).cast("double")).collect()
      .map(_.getDouble(0))
    assert(variance(s1.values) >= variance(axis0.toSeq) - 1e-9)
  }
}
