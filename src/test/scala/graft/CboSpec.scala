package graft

import graft.sources.Stats
import org.apache.spark.sql.functions._

/** Cost-based planning from collected statistics (ANALYZE TABLE +
  * spark.sql.cbo.enabled) — the declarative twin of TiDB's
  * stats-driven planner. The scenario hints can't solve: a dimension
  * whose raw size is ABOVE the broadcast threshold but whose filtered
  * size is far below it. Without column stats Catalyst keeps the
  * child's size estimate through the filter and plans a shuffle join;
  * with histograms the selectivity estimate shrinks the build side
  * and the same query plans a BroadcastHashJoin — no hint anywhere.
  */
class CboSpec extends SparkSpecBase {

  private def joinPlan(): String = {
    val dim = spark.table("cbo_orders")
      .filter(col("o_orderkey") < 10)
    val fact = spark.table("cbo_lineitem")
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
  }

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // A crashed earlier run can leave the managed location behind with
    // no catalog entry; saveAsTable then refuses LOCATION_ALREADY_EXISTS.
    val loc = new java.io.File(s"/tmp/graft_warehouse/$name")
    if (loc.exists()) {
      val walk = java.nio.file.Files.walk(loc.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("column stats flip a filtered dim join to broadcast, no hint") {
    resetTable("cbo_orders")
    resetTable("cbo_lineitem")
    t.orders.write.saveAsTable("cbo_orders")
    t.lineitem.write.saveAsTable("cbo_lineitem")
    // Threshold sits between the filtered dim's true size (~10 rows)
    // and the full table's size (~35 KB on disk, more as estimated
    // rows x row width), so the decision hinges entirely on whether
    // the optimizer can see through the filter. AQE is off so the
    // STATIC plan (what CBO controls) is what's asserted; at runtime
    // AQE would additionally re-plan from observed sizes.
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "8KB",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {

      // Table-level stats only: the filter's output estimate stays at
      // the child's size -> too big to broadcast -> shuffle join.
      Stats.analyze(spark, "cbo_orders")
      Stats.analyze(spark, "cbo_lineitem")
      val noColStats = joinPlan()
      assert(!noColStats.contains("BroadcastHashJoin"),
        s"without column stats the filtered dim should NOT broadcast:\n$noColStats")

      // Column histograms: selectivity of o_orderkey < 10 is
      // estimated from the histogram -> filtered size drops below the
      // threshold -> broadcast, with no broadcast() hint in the query.
      Stats.analyze(spark, "cbo_orders",
        Seq("o_orderkey", "o_orderpriority"))
      val withColStats = joinPlan()
      assert(withColStats.contains("BroadcastHashJoin"),
        s"column stats should flip the filtered dim to broadcast:\n$withColStats")

      // The cost EXPLAIN surface exposes the estimates the decision
      // was made from (TiDB EXPLAIN estRows analog).
      val costPlan = graft.tools.Explain.cost(
        spark.table("cbo_orders").filter(col("o_orderkey") < 10))
      assert(costPlan.contains("Statistics(") &&
        costPlan.contains("rowCount="),
        s"cost explain carries no row estimates:\n$costPlan")
    }
  }
}
