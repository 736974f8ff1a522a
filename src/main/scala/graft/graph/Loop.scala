package graft.graph

import graft.tools.Reliable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, when}

/** The loop drivers of the iterative kernels — the one place that
  * decides how loop state is materialized and when a loop stops
  * (reference: executor/cte.go loops seed → recursive part until an
  * empty chunk; graph_shortest.go expands BFS one level at a time).
  *
  * Every driver truncates lineage through [[Reliable]], so
  * `spark.graft.graph.checkpointDir` switches all loop state to a
  * reliable checkpoint. Each materialization is one driver-scheduled
  * job (~50 ms on 4 cores), so the policies below exist to spend as
  * few of them as the semantics allow:
  *  - [[rounds]]: a fixed step count, two steps per eager checkpoint;
  *  - [[until]]: a lazy checkpoint per cycle, materialized by the
  *    cycle's own single-row scalar, which also decides the stop — one
  *    job per cycle; [[untilStable]] stops when that scalar repeats;
  *  - [[levels]]: level-synchronous BFS, two levels per job while the
  *    frontier is small.
  * A new kernel picks one of these instead of pairing `cp`/`cpLazy`
  * with its own scalar.
  *
  * Label propagation uses none of them. Its state is |V| rows that
  * the next round reads once, through a broadcast join, so the
  * broadcast job computes each state once and ships it, and when the
  * state does not fit the threshold AQE runs each shuffle stage once.
  * A per-round checkpoint would only add a job, so LPA folds its
  * rounds into one plan and checkpoints the result lazily
  * (`Graph.labelPropagation`). PageRank, PPR and catalog PageRank
  * keep [[rounds]]: their rank state joins through the planner's own
  * choice, and a fully unrolled 10-round PageRank plan measured
  * slower (`Graph.pageRankState`). */
object Loop {

  /** `n` applications of `step` from `init`, TWO per eager checkpoint
    * (an odd `n` ends with one single-step checkpoint, so ⌈n/2⌉
    * checkpoints in all): the two-step lazy plan is joins and
    * aggregates over materialized inputs only, and the state
    * materializes half as often. `init` is used as given. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var i = 0
    while (i + 2 <= n) { state = Reliable.cp(step(step(state))); i += 2 }
    if (i < n) state = Reliable.cp(step(state))
    state
  }

  /** The end of an [[until]] loop: the last state, the cycles run,
    * whether the stop test held (false when the bound stopped the
    * loop) and the last measure taken. */
  final case class Stable[M](state: DataFrame, cycles: Int,
      converged: Boolean, last: M)

  /** Runs `cycle` from `init` until `done` holds for the measure of the
    * current state or `maxCycles` cycles have run. Each cycle's output
    * is a LAZY checkpoint that `measure` materializes, so a cycle costs
    * one job: `measure` must be a single-row scalar that scans every
    * partition (an aggregate or a count, never a limit). `init` is
    * measured as given, and a `done` init runs no cycle — pass a
    * materialized frame, or a `Reliable.cpLazy` one that this first
    * measure materializes. The cycle that reaches the bound is not
    * measured: its state is materialized by the caller's own action.
    * `done` sees the measures in order, once each. */
  def until[M](init: DataFrame, maxCycles: Int)(
      cycle: DataFrame => DataFrame)(measure: DataFrame => M)(
      done: M => Boolean): Stable[M] = {
    var last = measure(init)
    var state = init
    var cycles = 0
    var converged = done(last)
    while (!converged && cycles < maxCycles) {
      cycles += 1
      state = Reliable.cpLazy(cycle(state))
      if (cycles < maxCycles) {
        last = measure(state)
        converged = done(last)
      }
    }
    Stable(state, cycles, converged, last)
  }

  /** [[until]] the measure repeats: the init is never the last state,
    * since its measure has nothing to repeat. A measure that changes
    * until the fixpoint (a strictly monotone sum or count) makes
    * "repeats" mean "converged". */
  def untilStable[M](init: DataFrame, maxCycles: Int)(
      cycle: DataFrame => DataFrame)(measure: DataFrame => M): Stable[M] = {
    var prev: Option[M] = None
    until(init, maxCycles)(cycle)(measure) { m =>
      val repeated = prev.contains(m)
      prev = Some(m)
      repeated
    }
  }

  /** Frontiers below this row count expand TWO levels per job in
    * [[levels]]: small enough that recomputing the unmaterialized
    * first level inside the second level's plan is cheaper than an
    * extra driver round and checkpoint. */
  private val TwoHopFrontierMax = 10000L

  /** Level-synchronous BFS from `seed` (a small frontier, e.g. one
    * source row) for at most `maxHops` levels. `level(frontier,
    * visited, d)` returns the nodes first reached at depth `d`, tagged
    * `dist = d`; it must anti-join `visited.select("node")`, so levels
    * are disjoint. While the frontier is measured-small, two levels
    * expand inside one lazy plan (level d+2 derives from level d+1
    * exactly as two sequential rounds would). ONE full-scan aggregate
    * per batch returns the new-node count and the deepest level's size
    * and materializes the batch's lazy checkpoint in the same job; the
    * loop stops on an empty frontier or at `maxHops`. The result is
    * the seed plus every level: a lazy union over the cached batches,
    * so no per-level union is materialized. */
  def levels(seed: DataFrame, maxHops: Int)(
      level: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    var visited = Reliable.cp(seed)
    var frontier = visited
    var frontierN = 1L
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      val twoHop = hop + 2 <= maxHops && frontierN <= TwoHopFrontierMax
      val l1 = level(frontier, visited, hop + 1)
      val next = Reliable.cpLazy(if (!twoHop) l1 else l1.union(level(l1,
        visited.select("node").union(l1.select("node")), hop + 2)))
      hop += (if (twoHop) 2 else 1)
      val r = next.agg(count(lit(1)),
        count(when(col("dist") === hop, true))).head()
      if (r.getLong(0) == 0L) done = true
      else {
        visited = visited.union(next)
        // Only the deepest level seeds the next expansion; if the
        // second level of a batch came back empty the loop is done.
        frontier = next.filter(col("dist") === hop)
        frontierN = r.getLong(1)
        done = frontierN == 0
      }
    }
    visited
  }
}
