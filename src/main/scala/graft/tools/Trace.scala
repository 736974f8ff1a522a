package graft.tools

import graft.{Registry, Tables}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** EXPLAIN ANALYZE / TRACE analog (reference: executor/trace.go +
  * adapter.go runtime stats): execute a registry entry via its OWN
  * QueryExecution (toRdd) and report per-operator runtime metrics
  * from the FINAL adaptive plan — the plan AQE actually ran, not the
  * static estimate Explain shows. Never "simplify" this to a sink
  * write: df.write wraps the query in a separate write-command
  * QueryExecution and leaves the traced plan's metrics empty. The
  * walk descends through AdaptiveSparkPlanExec and materialized
  * query stages, so exchange-bounded subtrees aren't invisible the
  * way a naive children-walk leaves them. */
object Trace {

  /** One executed operator: node name + its numOutputRows metric
    * (None for nodes without a row counter, e.g. exchanges' reused
    * shells). */
  final case class Node(name: String, rowsOut: Option[Long])

  /** The pre-order operator list of [[profile]]'s tree. */
  def run(name: String, t: Tables): Seq[Node] =
    profile(name, t).map(n => Node(n.name, n.rowsOut))

  /** One node of the execution-time profile tree: pre-order id,
    * parent id (-1 at the root), depth, operator name, output rows,
    * the node's OWN recorded time (every timing-typed metric it
    * carries, in ms), and the subtree rollup self + Σ children. */
  final case class ProfNode(id: Int, parentId: Int, depth: Int,
      name: String, rowsOut: Option[Long], selfMs: Double,
      subtreeMs: Double)

  /** Inspection PROFILE (reference: executor/inspection_profile.go:35
    * profileBuilder — the tree-shaped time rollup over the metrics,
    * where each node carries its own cost and the tree aggregates
    * child costs upward). Spark's runtime twin: execute the entry,
    * walk the FINAL adaptive plan preserving parent/child edges
    * (descending through AQE query stages), take each operator's
    * timing-typed SQLMetrics as its self cost, and roll subtree
    * totals bottom-up. Driver-sized by construction (one row per
    * plan operator). Timing values are wall clock — the q_slow_
    * history family's rows-only contract — but the TREE invariants
    * (pre-order ids, parent/depth consistency, rollup = self +
    * Σ children) are deterministic and spec-pinned. */
  def profile(name: String, t: Tables): Seq[ProfNode] = {
    val df = Registry.byName(name).run(t)
    df.queryExecution.toRdd.count()
    def selfMs(p: SparkPlan): Double = p.metrics.values.map { m =>
      m.metricType match {
        case "timing"   => m.value.toDouble            // ms
        case "nsTiming" => m.value.toDouble / 1e6      // ns -> ms
        case _          => 0.0
      }
    }.sum
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case o                        => o.children
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[ProfNode]
    var nextId = 0
    def build(p: SparkPlan, parentId: Int, depth: Int): Double = {
      val id = nextId
      nextId += 1
      val slot = out.length
      val self = selfMs(p)
      out += ProfNode(id, parentId, depth, p.nodeName,
        p.metrics.get("numOutputRows").map(_.value), self, 0.0)
      val subtree = self + kids(p).map(build(_, id, depth + 1)).sum
      out(slot) = out(slot).copy(subtreeMs = subtree)
      subtree
    }
    build(df.queryExecution.executedPlan, -1, 0)
    out.toSeq
  }
}
