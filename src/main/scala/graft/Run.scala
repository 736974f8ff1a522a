package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** The one run harness behind `Bench`, `Verify`, `JobCount`,
  * `PlanDump` and the specs: the session they all build, how they pick
  * registry entries, how an entry is executed, and how its Spark jobs
  * are counted. */
object Run {

  /** The one graft session: `local[$SPARK_GRAFT_CPUS or defaultCpus]`
    * with as many shuffle partitions, a UTC session zone, the
    * `GraftExtensions` functions and rules, and UI off. AQE is left at
    * Spark's default (on). Bucketed scans expose their sortBy order as
    * plan ordering (the zero-Sort co-located merge join); sound because
    * `Bucketing.writeBucketed` guarantees one file per bucket, and
    * Spark re-verifies that before trusting the order. `overrides` are
    * applied last (the specs pin their master, partitions and
    * warehouse). An existing session is reused, with these runtime
    * confs applied to it. */
  def session(defaultCpus: Int, overrides: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val conf = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.ui.enabled" -> "false") ++ overrides
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registry entries named in `names`, in registry order. An
    * unknown name throws: a typo must not shrink a run, or a check
    * over its output, without a word. */
  def select(names: Iterable[String]): Seq[Q] = {
    val wanted = names.map(Registry.byName(_).name).toSet
    Registry.all.filter(q => wanted(q.name))
  }

  /** Run an entry to completion through the noop sink: every operator
    * fully materialized, where `count()` would let Catalyst prune
    * projections and skip the work being measured. */
  def execute(q: Q, t: Tables): Unit =
    q.run(t).write.format("noop").mode("overwrite").save()

  final case class Counts(jobs: Long, stages: Long, tasks: Long)

  /** The Spark jobs started, and stages and tasks finished, while
    * `body` runs. Listener events are posted asynchronously, so the
    * bus is drained before and after to attribute them exactly. */
  def counts(spark: SparkSession)(body: => Any): Counts = {
    val (jobs, stages, tasks) = (new AtomicLong, new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    GraftSqlShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftSqlShim.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    Counts(jobs.get, stages.get, tasks.get)
  }
}
