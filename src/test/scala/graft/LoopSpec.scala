package graft

import graft.graph.{Graph, Loop}
import graft.tools.Reliable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three loop drivers of the iterative kernels (graph.Loop) on
  * tiny constructed frames: how many checkpoints and measure jobs they
  * spend, and where they stop. */
class LoopSpec extends SparkSpecBase {
  import spark.implicits._

  private val cpDir = "/tmp/graft_loop_cp"

  private def x(df: DataFrame): Long = df.as[Long].collect().toSeq match {
    case Seq(v) => v
    case other => fail(s"expected one row, got $other")
  }

  test("rounds: n steps from init, two per checkpoint, so ceil(n/2) " +
      "checkpoints for an odd n") {
    graft.sources.Formats.deleteRecursively(new java.io.File(cpDir))
    // Reliable.count counts the checkpoints written to the configured
    // dir, so the dir makes every driver checkpoint countable.
    spark.conf.set("spark.graft.graph.checkpointDir", cpDir)
    try {
      for ((n, cps) <- Seq(5 -> 3, 4 -> 2, 1 -> 1, 0 -> 0)) {
        val before = Reliable.count
        val out = Loop.rounds(Seq(0L).toDF("x"), n)(
          _.select((col("x") + 1).as("x")))
        assert(Reliable.count - before == cps, s"n=$n")
        assert(x(out) == n)
      }
    } finally {
      spark.conf.unset("spark.graft.graph.checkpointDir")
      graft.sources.Formats.deleteRecursively(new java.io.File(cpDir))
    }
  }

  /** x := min(x + 1, 3) from x = 0: measures 0, 1, 2, 3, 3. */
  private def climb(maxCycles: Int) = {
    var measures = 0
    val r = Loop.untilStable(Seq(0L).toDF("x"), maxCycles)(
      _.select(least(col("x") + 1, lit(3L)).as("x"))) { df =>
      measures += 1
      df.agg(sum(col("x"))).head().getLong(0)
    }
    (r, measures)
  }

  test("untilStable stops at the first repeated measure") {
    val (r, measures) = climb(100)
    assert(r.converged && r.cycles == 4 && r.last == 3L, r.toString)
    assert(measures == 5, "init plus one measure per cycle")
    assert(x(r.state) == 3L)
  }

  test("untilStable starts no measure job past its bound") {
    val perMeasure = Run.counts(spark)(
      Seq(0L).toDF("x").agg(sum(col("x"))).head()).jobs
    assert(perMeasure >= 1)
    var out: (Loop.Stable[Long], Int) = null
    val c = Run.counts(spark) { out = climb(2) }
    val (r, measures) = out
    assert(!r.converged && r.cycles == 2 && r.last == 1L, r.toString)
    // init and cycle 1 are measured; the bound cycle is not, and its
    // lazy checkpoint runs no job of its own.
    assert(measures == 2)
    assert(c.jobs == 2 * perMeasure, s"$c with $perMeasure jobs per measure")
    assert(x(r.state) == 2L)
  }

  test("until stops when its test holds, and on a done init runs no " +
      "cycle") {
    var seen = Vector.empty[Long]
    val init = Seq(0L).toDF("x")
    def run(maxCycles: Int)(done: Long => Boolean) =
      Loop.until(init, maxCycles)(
        _.select(least(col("x") + 1, lit(3L)).as("x"))) { df =>
        df.agg(sum(col("x"))).head().getLong(0)
      } { m => seen :+= m; done(m) }
    val r = run(100)(_ >= 2)
    assert(r.converged && r.cycles == 2 && r.last == 2L, r.toString)
    assert(seen == Vector(0L, 1L, 2L) && x(r.state) == 2L)
    seen = Vector.empty
    val d = run(100)(_ == 0L)
    assert(d.converged && d.cycles == 0 && (d.state eq init), d.toString)
    assert(seen == Vector(0L))
    // The bound cycle is not measured, so the test does not see it.
    seen = Vector.empty
    val b = run(2)(_ >= 3)
    assert(!b.converged && b.cycles == 2 && seen == Vector(0L, 1L))
    assert(x(b.state) == 2L)
  }

  /** BFS over the directed chain 0 → 1 → … → last through
    * [[Loop.levels]]; returns node → dist and the number of levels the
    * driver asked for. */
  private def chainBfs(last: Long, maxHops: Int): (Map[Long, Int], Int) = {
    val e = (0L until last).map(i => (i, i + 1)).toDF("src", "dst")
    var calls = 0
    val out = Loop.levels(spark.range(1)
        .select(lit(0L).as("node"), lit(0).as("dist")), maxHops) {
      (frontier, visited, d) =>
        calls += 1
        frontier.select("node").join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .select(col("node"), lit(d).as("dist"))
    }
    (out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap, calls)
  }

  test("levels stops on an empty frontier") {
    // Two levels per batch while the frontier is small: (1, 2), then
    // (3, 4) whose second level is empty — four levels, not ten.
    val (d, calls) = chainBfs(3L, maxHops = 10)
    assert(d == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    assert(calls == 4)
    // A batch whose FIRST level is the last non-empty one.
    val (d1, calls1) = chainBfs(1L, maxHops = 10)
    assert(d1 == Map(0L -> 0, 1L -> 1) && calls1 == 2)
  }

  test("levels stops at maxHops") {
    val (d, calls) = chainBfs(10L, maxHops = 3)
    assert(d == (0 to 3).map(i => i.toLong -> i).toMap)
    // (1, 2) as one batch, then level 3 alone: 2 + 3 > maxHops.
    assert(calls == 3)
    val (d0, calls0) = chainBfs(10L, maxHops = 0)
    assert(d0 == Map(0L -> 0) && calls0 == 0)
  }

  test("SCC on a directed 48-chain with one back edge: CC's kernel " +
      "colours it, pointer jumping included") {
    // 1 → 2 → … → 48 and 40 → 10: {10..40} is one SCC, every other
    // node a singleton. The colouring's label sums fall at a steady
    // rate along the chain, so the adaptive kernel turns pointer
    // jumping on; the min-ancestor labels must stay exact under it.
    val e = ((1L until 48L).map(i => (i, i + 1)) :+ (40L -> 10L))
      .toDF("src", "dst")
    val scc = Graph(e).stronglyConnectedComponents().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 48L)
      .map(n => n -> (if (n >= 10 && n <= 40) 10L else n)).toMap
    assert(scc == expected)
    val (_, stats) = Graph.minLabels(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct(), e)
    assert(stats.compressFrom > 0, s"the chain should compress: $stats")
  }
}
