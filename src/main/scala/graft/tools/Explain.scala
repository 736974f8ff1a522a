package graft.tools

import graft.{Registry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CostMode, ExplainMode}

/** EXPLAIN as a first-class capability (reference: executor/
  * explain.go ExplainExec): render the optimizer's plan for any
  * registry entry. The formatted mode is the one used throughout the
  * repo's plan assertions — operator tree first, then per-node
  * detail including PushedFilters/ReadSchema on scans, so both
  * "is the filter pushed down" and "which join strategy" are
  * answerable from the one string. */
object Explain {

  /** Formatted physical plan for registry entry `name` against `t`'s
    * data dir. Throws on an unknown name — a silent empty plan would
    * read as "no work", which is the one wrong answer EXPLAIN can
    * give. */
  def formatted(name: String, t: Tables): String =
    plan(name, t, "formatted")

  /** Any Spark explain mode: simple | extended | codegen | cost |
    * formatted (SQL EXPLAIN's FORMAT= analog). */
  def plan(name: String, t: Tables, mode: String): String =
    Registry.byName(name).run(t).queryExecution
      .explainString(ExplainMode.fromString(mode))

  /** Optimized logical plan with per-operator size/rowCount estimates
    * (reference: TiDB's EXPLAIN rows carry estRows/cost from its
    * stats-driven planner, planner/core/stats.go). rowCount appears
    * once ANALYZE'd stats (sources.Stats) and CBO propagate through
    * the plan, which is how a user audits WHY a join broadcast or
    * reordered. */
  def cost(df: DataFrame): String =
    df.queryExecution.explainString(CostMode)
}
