package graft

import graft.graph.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpecBase {

  private lazy val g = Graph.derived(t.orders)

  test("shortest distances: source at 0, monotone frontier, bounded") {
    val d = g.shortestDistances(0L, "out", maxHops = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d(0L) == 0)
    assert(d.values.forall(x => x >= 0 && x <= 6))
  }

  test("shortest distance agrees with 1-hop edge scan") {
    val oneHop = g.oriented("out").filter(col("src") === 0)
      .select("dst").collect().map(_.getLong(0)).toSet - 0L
    val d = g.shortestDistances(0L, "out", maxHops = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    oneHop.foreach(n => assert(d(n) == 1, s"node $n should be dist 1"))
  }

  test("reach(both, 3) contains reach(out, 1)") {
    val src = spark.range(1).select(lit(0L).as("src"))
    val r3 = g.reach(src, "both", 3).collect().map(_.getLong(0)).toSet
    val r1 = g.reach(src, "out", 1).collect().map(_.getLong(0)).toSet
    assert(r1.subsetOf(r3))
  }

  test("shortest path counts agree with shortest distances") {
    val counts = g.shortestPathCounts(0L, "out", maxHops = 4).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val dists = g.shortestDistances(0L, "out", maxHops = 4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts.keySet == dists.keySet)
    counts.foreach { case (node, (d, n)) =>
      assert(d == dists(node) && n >= 1L, s"node $node d=$d n=$n")
    }
    assert(counts(0L) == ((0, 1L)))
  }

  test("top-k shortest paths are simple, ordered by length") {
    val rows = g.topKShortestPaths(0L, 7L, k = 3, maxHops = 4).collect()
    assert(rows.length <= 3)
    val lens = rows.map(_.getInt(0))
    assert(lens.sameElements(lens.sorted))
    rows.foreach { r =>
      val nodes = r.getString(1).split("->")
      assert(nodes.distinct.length == nodes.length, s"cycle in ${r.getString(1)}")
      assert(nodes.head == "0" && nodes.last == "7")
    }
  }

  test("jaccard degree cap: capped == uncapped restricted to non-hubs") {
    import graft.graph.GraphQueries
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("common"))
    val uncapped = GraphQueries.jaccardPairs(t, Long.MaxValue)
    // Pick a cap that BINDS: the median degree, so real hubs exist.
    val cap = uncapped.agg(
      org.apache.spark.sql.functions.expr("percentile(dega, 0.5)"))
      .head().getDouble(0).toLong
    val capped = GraphQueries.jaccardPairs(t, cap).collect().map(key).toSet
    val expected = uncapped
      .filter(s"dega <= $cap AND degb <= $cap").collect().map(key).toSet
    assert(capped.nonEmpty && capped == expected)
    // The cap must actually have dropped something in this regime.
    assert(expected.size < uncapped.count())
  }

  test("kcore: matches a reference peel; fixpoint within the 8-round bound") {
    import org.apache.spark.sql.functions.col
    val res = graph.Graph.derived(t.orders).kCore(3, 8).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    // Reference peel over the same undirected distinct edge set.
    val und = graph.Graph.derived(t.orders).oriented("both")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var nodes = adj.keySet
    var rounds = 0
    var changed = true
    while (changed) {
      val doomed = nodes.filter(v => adj(v).count(nodes.contains) < 3)
      changed = doomed.nonEmpty
      if (changed) { nodes = nodes -- doomed; rounds += 1 }
    }
    assert(rounds <= 8, s"fixpoint took $rounds rounds — raise the bound")
    val expected = nodes.map(v => v -> adj(v).count(nodes.contains).toLong).toMap
    assert(res == expected)
    // Every survivor keeps >= k neighbors inside the core.
    assert(res.values.forall(_ >= 3) && res.nonEmpty)
  }

  test("kcore: a bound below the fixpoint depth returns the reference " +
      "peel truncated at that bound") {
    val g = graph.Graph.derived(t.orders)
    val adj = g.oriented("both").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    // stages(r): the survivors after r peels, up to the fixpoint.
    var stages = Vector(adj.keySet)
    var peeled = true
    while (peeled) {
      val nodes = stages.last
      val next = nodes.filter(v => adj(v).count(nodes.contains) >= 3)
      peeled = next != nodes
      if (peeled) stages :+= next
    }
    val depth = stages.size - 1
    assert(depth >= 2, s"the fixpoint takes $depth peels: too shallow")
    for (r <- Seq(0, 1, depth - 1)) {
      val res = g.kCore(3, r).collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Long]("deg")).toMap
      // After r peels, a survivor keeps the rows to other survivors;
      // one left with none has no row, so no degree.
      val nodes = stages(r)
      val expected = nodes.map(v => v -> adj(v).count(nodes.contains).toLong)
        .filter(_._2 > 0).toMap
      assert(res == expected, s"maxRounds = $r")
    }
  }

  test("personalized pagerank: mass concentrates on seeds, " +
      "zero off the seed component") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two disjoint chains; seeds = {1}. Component {1,2,3} gains
    // rank, component {7,8} must be absent (exact zero filtered).
    val g = graph.Graph(Seq((1L, 2L), (2L, 3L), (7L, 8L))
      .toDF("src", "dst"))
    val r = g.personalizedPageRank(seedMax = 2, iters = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    // Hand computation: r(1)=0.15 (fixpoint after round 1 — no
    // in-edges, teleport only); r(2)=0.85·r(1); r(3)=0.85·r(2).
    assert(math.abs(r(1L) - 0.15) < 1e-6)
    assert(math.abs(r(2L) - 0.85 * 0.15) < 1e-6)
    assert(math.abs(r(3L) - 0.85 * 0.85 * 0.15) < 1e-6)
    // Registry entry: deterministic, every rank positive, seeds rank
    // highest (teleport mass) on the derived graph.
    val a = Registry.all.find(_.name == "g_ppr").get.run(t).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val b = Registry.all.find(_.name == "g_ppr").get.run(t).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // Ranks are raw-positive but may ROUND to 0.0 at 6dp far from
    // the seeds; the seeds themselves carry the teleport floor.
    assert(a == b && a.nonEmpty)
    assert((0L until 3L).filter(a.contains)
      .forall(s => a(s) >= 0.15 - 1e-6))
  }

  test("k-truss: K4 survives, a lone triangle and bridges peel") {
    import spark.implicits._
    // K4 on {1,2,3,4}: every edge in 2 triangles → 4-truss keeps all
    // 6 edges with support 2. The pendant edge 4→5 (support 0) and
    // the lone triangle {6,7,8} (support 1 each) must peel — exactly
    // what k-core would NOT do (every {6,7,8} vertex has degree 2,
    // and 5 hangs on a high-degree neighbor).
    val g = graph.Graph(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (7L, 8L), (6L, 8L)).toDF("src", "dst"))
    val res = g.kTruss(k = 4, maxRounds = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(res.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(res.values.forall(_ == 2L))
    // Registry entry fixpoint within the oracle's unroll bound: one
    // more peel round changes nothing.
    val e = graph.Graph.derived(t.orders)
    val r6 = e.kTruss(k = 4, maxRounds = 6).collect()
      .map(_.toSeq).toSet
    val r7 = e.kTruss(k = 4, maxRounds = 7).collect()
      .map(_.toSeq).toSet
    assert(r6 == r7, "4-truss not at fixpoint within 6 rounds")
  }

  test("temporal reach: paths must not walk backwards in time") {
    import spark.implicits._
    val te = Seq(
      (1L, 2L, "2024-01-05"), // seed edge at t=5
      (2L, 3L, "2024-01-03"), // BEFORE arrival at 2 — not traversable
      (2L, 4L, "2024-01-07"), // after — traversable
      (4L, 3L, "2024-01-09")  // 3 reachable only the long way
    ).toDF("src", "dst", "s").select(col("src"), col("dst"),
      col("s").cast("timestamp").as("ts"))
    val seeds = Seq(1L).toDF("src")
    val r = graph.Graph(te.select("src", "dst"))
      .temporalReach(te, seeds, maxHops = 3)
      .collect()
      .map(x => x.getLong(0) -> x.getTimestamp(1).toString).toMap
    assert(r.keySet == Set(2L, 4L, 3L))
    assert(r(2L).startsWith("2024-01-05"))
    assert(r(4L).startsWith("2024-01-07"))
    // 3 arrives via 1→2→4→3 at t=9, never via the backwards 2→3 edge.
    assert(r(3L).startsWith("2024-01-09"))
  }

  test("closeness: tagged multi-root chain equals per-root BFS") {
    import org.apache.spark.sql.functions._
    val g = graph.Graph.derived(t.orders)
    val rows = Registry.all.find(_.name == "g_closeness").get.run(t)
      .collect()
      .map(r => r.getAs[Long]("root") ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("sum_dist"),
          r.getAs[Double]("closeness"))).toMap
    assert(rows.keySet == Set(0L, 7L, 13L))
    for (root <- Seq(0L, 7L, 13L)) {
      val dists = g.shortestDistances(root, "out", maxHops = 5)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Int]("dist"))
      val n = dists.length - 1 // excluding the root itself
      val sumD = dists.map(_._2.toLong).sum
      val (gn, gs, gc) = rows(root)
      assert(gn == n, s"root $root reach $gn vs BFS $n")
      assert(gs == sumD)
      assert(math.abs(gc - n.toDouble / sumD) < 1e-5)
    }
  }

  test("pattern MATCH entries equal a brute-force recompute") {
    val edges = g.oriented("out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // g_match_multi: conjunctive triad (a)->(b), (a)->(c), (b)->(c),
    // a < 50, all bindings distinct.
    val expectTriads = (for {
      (a, b) <- edges if a < 50
      (a2, c) <- edges if a2 == a
      if b != c && a != b && a != c && edges.contains((b, c))
    } yield (a, b, c)).toSet
    val gotTriads = Registry.all.find(_.name == "g_match_multi").get
      .run(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotTriads == expectTriads && gotTriads.nonEmpty)
    // g_match_chain: SIMPLE (revisit-free) 3-edge chain with
    // per-variable predicates, aggregated to (a, d).
    val chains = for {
      (a, b) <- edges if a < 5 && b < 500
      (b2, c) <- edges if b2 == b && c < 250
      (c3, d) <- edges if c3 == c
      if Set(a, b, c, d).size == 4
    } yield (a, b, c, d)
    val expectAgg = chains.groupBy(p => (p._1, p._4)).map { case (k, ps) =>
      k -> (ps.size.toLong, ps.map(_._2).toSet.size.toLong)
    }
    val gotAgg = Registry.all.find(_.name == "g_match_chain").get
      .run(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(gotAgg == expectAgg && gotAgg.nonEmpty)
  }

  test("adaptive CC: chain graph triggers compression, dense does not") {
    import spark.implicits._
    // Chain of 48 nodes — diameter 47. Plain 2-round cycles resolve
    // labels at a near-constant rate (d_2*4 >= d_1), so the rate
    // test must enable pointer jumping at cycle 3, and compression
    // must collapse the cycle count well below the ~24 plain cycles
    // the diameter would force.
    val chain = graph.Graph(
      (1L until 48L).map(i => (i, i + 1)).toDF("src", "dst"))
    val (clabels, cstats) = chain.connectedComponentsWithStats()
    val cres = clabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cres.size == 48 && cres.values.forall(_ == 1L))
    assert(cstats.compressFrom == 3,
      s"chain graph should compress from cycle 3, got $cstats")
    assert(cstats.cycles <= 12,
      s"compression should beat the ~24 diameter-bound cycles: $cstats")
    // Two disjoint stars — diameter 2. One cycle resolves every
    // label, the second observes the fixpoint; the decrease rate
    // collapses to zero so compression must never enable.
    val star = graph.Graph(
      ((2L to 40L).map(i => (1L, i)) ++
        (101L to 140L).map(i => (100L, i))).toDF("src", "dst"))
    val (slabels, sstats) = star.connectedComponentsWithStats()
    val sres = slabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sres.filter(_._1 <= 40L).values.forall(_ == 1L))
    assert(sres.filter(_._1 >= 100L).values.forall(_ == 100L))
    assert(sstats.compressFrom == -1,
      s"dense graph must never enable compression, got $sstats")
    assert(sstats.cycles <= 2, s"star converges in 2 cycles: $sstats")
  }

  test("adaptive CC: catalog-shaped mix (big blob + sparse chain) " +
      "engages compression at the FIRST test cycle under the 1/8 rate") {
    import spark.implicits._
    // The shape the r17 A/B decided between 1/4 and 1/8: a large
    // near-converged blob dominates the cycle-1 decrease, so the
    // chain's steady signal reads as a small fraction at the cycle-2
    // test. Constructed exactly: chain 1..48 decreases 97-4k per
    // cycle (d1=93, d2=89); a 30-leaf star adds 465 to d1 only.
    // d2/d1 = 89/558 — between 1/8 and 1/4, so the shipped 1/8 rule
    // fires at the first possible cycle (compressFrom=3) where the
    // r16 1/4 rule burned one more plain cycle (compressFrom=4) —
    // the one-cycle lag the r16 verdict measured on the catalog
    // graph, eliminated by construction.
    val mix = graph.Graph(
      ((1L until 48L).map(i => (i, i + 1)) ++
        (501L to 530L).map(i => (500L, i))).toDF("src", "dst"))
    val (labels, stats) = mix.connectedComponentsWithStats()
    val res = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.filter(_._1 <= 48L).values.forall(_ == 1L))
    assert(res.filter(_._1 >= 500L).values.forall(_ == 500L))
    assert(stats.compressFrom == 3,
      s"1/8 rate must engage at the first test cycle, got $stats")
    assert(stats.cycles <= 12,
      s"compression should beat the ~24 diameter-bound cycles: $stats")
  }
}
