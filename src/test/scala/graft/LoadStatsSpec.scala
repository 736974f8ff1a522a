package graft

import graft.sources.Stats
import org.apache.spark.sql.functions._

/** LOAD STATS (executor/load_stats.go:32 LoadStatsExec): statistics
  * injected from a dumped artifact must drive the SAME cost-based
  * broadcast decision as statistics collected by ANALYZE — the
  * restore leg of the PlanReplayer bundle, with no ANALYZE run in the
  * consuming session. */
class LoadStatsSpec extends SparkSpecBase {

  private def joinPlan(): String = {
    val dim = spark.table("ls_orders")
      .filter(col("o_orderkey") < 10)
    val fact = spark.table("ls_lineitem")
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
    val loc = new java.io.File(s"/tmp/graft_warehouse/$name")
    if (loc.exists()) {
      val walk = java.nio.file.Files.walk(loc.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("stats loaded from a dump flip the join exactly like ANALYZE") {
    resetTable("ls_orders")
    resetTable("ls_lineitem")
    t.orders.write.saveAsTable("ls_orders")
    t.lineitem.write.saveAsTable("ls_lineitem")
    val dumpFile = java.nio.file.Files
      .createTempFile("ls_orders_stats", ".properties").toString
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "8KB",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {

      // Producer side: ANALYZE with column histograms, then dump the
      // artifact and record the plan the analyzed stats produce.
      Stats.analyze(spark, "ls_orders",
        Seq("o_orderkey", "o_orderpriority"))
      Stats.analyze(spark, "ls_lineitem")
      val analyzed = graft.tools.Explain.cost(
        spark.table("ls_orders").filter(col("o_orderkey") < 10))
      val analyzedPlan = joinPlan()
      assert(analyzedPlan.contains("BroadcastHashJoin"),
        s"baseline: analyzed column stats must broadcast:\n$analyzedPlan")
      Stats.dump(spark, "ls_orders", dumpFile)

      // Consumer side: recreate the table — a FRESH catalog entry
      // that has never been analyzed. Without stats the filtered dim
      // keeps its raw size estimate and the join shuffles.
      resetTable("ls_orders")
      t.orders.write.saveAsTable("ls_orders")
      val fresh = joinPlan()
      assert(!fresh.contains("BroadcastHashJoin"),
        s"fresh un-analyzed table must NOT broadcast:\n$fresh")

      // LOAD STATS: inject the artifact — no ANALYZE — and the same
      // query plans the same BroadcastHashJoin.
      Stats.load(spark, "ls_orders", dumpFile)
      val loaded = joinPlan()
      assert(loaded.contains("BroadcastHashJoin"),
        s"stats-from-file must flip the join like stats-from-ANALYZE:\n$loaded")

      // The injected estimates are the analyzed ones, not merely
      // close: the cost-explain row estimate lines match.
      val reloaded = graft.tools.Explain.cost(
        spark.table("ls_orders").filter(col("o_orderkey") < 10))
      // Expression ids (#NNNN) are allocation-order artifacts —
      // normalize them away; the Statistics(...) payloads must match.
      def estLines(p: String) = p.linesIterator
        .filter(_.contains("Statistics("))
        .map(_.replaceAll("#\\d+", "#"))
        .mkString("\n")
      assert(estLines(reloaded) == estLines(analyzed),
        s"loaded estimates diverged:\n${estLines(reloaded)}\nvs\n${estLines(analyzed)}")
    }
  }
}
