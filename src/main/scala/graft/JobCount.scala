package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev tool for the optimization rounds: run a comma-separated list
  * of registry queries (each through the noop sink, after one untimed
  * warmup pass so session memos/layouts are steady-state) and report
  * the DETERMINISTIC execution-shape counters per entry — driver jobs,
  * stages, tasks. Wall-clock on this host drifts 15-50% between
  * windows; job/stage counts do not, so they are the honest evidence
  * for scheduling-shape changes (guide §5 driver round-trips).
  *
  * Usage: runMain graft.JobCount <sfDir> name1,name2,...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, sfDir)
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        synchronized { tasks += 1 }
    })
    val byName = Registry.all.map(q => q.name -> q).toMap
    // Warm each selected entry once (memos, layouts, codegen).
    names.foreach { n =>
      byName(n).run(t).write.format("noop").mode("overwrite").save()
    }
    val out = names.map { n =>
      // Listener events are posted asynchronously — drain before and
      // after each measured entry so counters attribute correctly.
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
      val (j0, s0, t0) = (jobs, stages, tasks)
      byName(n).run(t).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
      s""""$n":{"jobs":${jobs - j0},"stages":${stages - s0},"tasks":${tasks - t0}}"""
    }
    println("JOBCOUNT " + out.mkString("{", ",", "}"))
    spark.stop()
  }
}
