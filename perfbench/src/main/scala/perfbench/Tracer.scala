package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced execution of registry entries, from outside the program.
  *
  * Each traced execution is a root span with `construct` (`q.run`),
  * `plan` and `execute` (the noop write) children and one grandchild
  * per Spark job. Jobs are attributed to construct or execute through
  * a local property set around each call, which Spark copies into the
  * job's start event (and into the threads SQL execution spawns);
  * plan time comes from the write's `QueryPlanningTracker`, read
  * through a `QueryExecutionListener` so the plan is never built a
  * second time. Task metrics come from a `SparkListener`. The listener
  * bus is drained before and after every entry so counts attribute
  * exactly. Spans stay in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession, dataDir: String) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val cores = sc.defaultParallelism

  private final class JobRec(val id: Int, val tag: String, val startMs: Long,
      var endMs: Long, val stages: Seq[Int])
  private final class StageAgg {
    var tasks, scanTasks, failedTasks = 0L
    var inputRows, inputBytes, shuffleWrite, shuffleRead, spill = 0L
    var cpuNs, gcMs, waitMs, runMs, outputBytes, peakMem = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stagesDone = mutable.Set[Int]()
  private val stageAgg = mutable.Map[Int, StageAgg]()
  /** (planning start ms, end ms, summed phase ms) per query execution. */
  private val plans = ArrayBuffer[(Long, Long, Long)]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      jobs(e.jobId) = new JobRec(e.jobId, tag.getOrElse(""), e.time, e.time,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stagesDone += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      a.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0)
          a.scanTasks += 1
        a.inputRows += m.inputMetrics.recordsRead
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.runMs += m.executorRunTime
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
          ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  })

  // ---- spans ------------------------------------------------------
  private final case class Span(id: Long, parent: Long, trace: Long,
      name: String, startUs: Long, endUs: Long, attrs: Seq[(String, Double)])
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def usOfNs(ns: Long) = baseMs * 1000 + (ns - baseNs) / 1000

  // ---- per-entry records -------------------------------------------
  /** One traced execution's counters. */
  final case class Row(name: String, pass: Int, m: Map[String, Double])
  val rows = ArrayBuffer[Row]()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcBeans.map(_.getCollectionTime).sum
  private val rootKey = graft.sources.Formats.sanitize(dataDir)

  /** Files under the `/tmp/graft_*` roots keyed to the data dir. */
  private def layoutFiles(): Map[String, (Long, Long)] = {
    val roots = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array())
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(rootKey))
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).iterator.flatMap(walk)
      else Iterator(f)
    roots.iterator.flatMap(walk)
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  /** Run and trace one entry; its latency in ms, or None if it threw. */
  def entry(q: graft.Q, t: graft.Tables, pass: Int,
      failures: ArrayBuffer[String]): Option[Double] = {
    ListenerBusShim.drain(sc)
    val (jobs0, plans0) = synchronized((jobs.keySet.toSet, plans.size))
    val persisted0 = sc.getPersistentRDDs.keySet
    val files0 = layoutFiles()
    val gc0 = gcMs
    val root = newId()
    val s0 = System.nanoTime()
    var s1 = s0
    var e1Ms = System.currentTimeMillis()
    val ok = try {
      sc.setLocalProperty(Prop, s"$root:construct")
      val df = q.run(t)
      s1 = System.nanoTime(); e1Ms = System.currentTimeMillis()
      sc.setLocalProperty(Prop, s"$root:execute")
      df.write.format("noop").mode("overwrite").save()
      true
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] ${q.name} failed: $e")
      failures += q.name
      false
    } finally sc.setLocalProperty(Prop, null)
    val s2 = System.nanoTime()
    val gc1 = gcMs
    ListenerBusShim.drain(sc)
    val files1 = layoutFiles()
    val checkpoints = (sc.getPersistentRDDs.keySet -- persisted0).size

    synchronized {
      val mine = jobs.values.filter(j => !jobs0(j.id)).toSeq
      def phase(j: JobRec) =
        if (j.tag == s"$root:construct") "construct"
        else if (j.tag == s"$root:execute") "execute"
        else if (j.startMs < e1Ms) "construct" else "execute"
      val (cJobs, xJobs) = mine.partition(j => phase(j) == "construct")
      val writePlans = plans.drop(plans0).filter(_._1 >= e1Ms)
      val planMs = writePlans.map(_._3).sum.toDouble
      val constructMs = (s1 - s0) / 1e6
      val writeMs = (s2 - s1) / 1e6
      val executeMs = math.max(0.0, writeMs - planMs)
      def aggOf(js: Seq[JobRec]) =
        js.flatMap(_.stages).distinct.flatMap(stageAgg.get)
      val xa = aggOf(xJobs)
      val all = aggOf(mine)
      val stages = xJobs.flatMap(_.stages).distinct.count(stagesDone)
      def covered(js: Seq[JobRec], fromMs: Double, toMs: Double): Double = {
        val iv = js.map(j => (math.max(j.startMs.toDouble, fromMs),
          math.min(j.endMs.toDouble, toMs))).filter(x => x._2 > x._1).sortBy(_._1)
        var (sum, end) = (0.0, Double.MinValue)
        iv.foreach { case (a, b) =>
          if (b > end) { sum += b - math.max(a, end); end = b }
        }
        sum
      }
      val s0Ms = usOfNs(s0) / 1000.0
      val s1Ms = usOfNs(s1) / 1000.0
      val s2Ms = usOfNs(s2) / 1000.0
      val fresh = files1.filter { case (p, v) => !files0.get(p).contains(v) }
      val runMs = xa.map(_.runMs).sum.toDouble
      val m = Map[String, Double](
        "construct.ms" -> constructMs,
        "construct.jobs" -> cJobs.size.toDouble,
        "construct.self_ms" -> (constructMs - covered(cJobs, s0Ms, s1Ms)),
        "plan.ms" -> planMs,
        "execute.ms" -> executeMs,
        "execute.self_ms" -> math.max(0.0,
          executeMs - covered(xJobs, s1Ms, s2Ms)),
        "execute.jobs" -> xJobs.size.toDouble,
        "execute.stages" -> stages.toDouble,
        "execute.tasks" -> xa.map(_.tasks).sum.toDouble,
        "execute.scan_tasks" -> xa.map(_.scanTasks).sum.toDouble,
        "execute.input_rows" -> xa.map(_.inputRows).sum.toDouble,
        "execute.shuffle_write_bytes" -> xa.map(_.shuffleWrite).sum.toDouble,
        "execute.shuffle_read_bytes" -> xa.map(_.shuffleRead).sum.toDouble,
        "execute.spill_bytes" -> xa.map(_.spill).sum.toDouble,
        "execute.cpu_ms" -> xa.map(_.cpuNs).sum / 1e6,
        "execute.gc_ms" -> xa.map(_.gcMs).sum.toDouble,
        "execute.task_wait_ms" -> xa.map(_.waitMs).sum.toDouble,
        "execute.run_ms" -> runMs,
        "execute.peak_task_mem_bytes" -> (xa.map(_.peakMem) :+ 0L).max.toDouble,
        "execute.failed_tasks" -> xa.map(_.failedTasks).sum.toDouble,
        "tools.checkpoints" -> checkpoints.toDouble,
        "sources.bytes_written" -> all.map(_.outputBytes).sum.toDouble,
        "sources.bytes_read" -> all.map(_.inputBytes).sum.toDouble,
        "sources.files_written" -> fresh.size.toDouble,
        "sources.layout_builds" ->
          fresh.keys.count(p => p.endsWith("/_SUCCESS") && !files0.contains(p)).toDouble,
        "driver.gc_ms" -> (gc1 - gc0).toDouble,
        "jobs" -> mine.size.toDouble,
        "all_stages" -> mine.flatMap(_.stages).distinct.count(stagesDone).toDouble)
      rows += Row(q.name, pass, m)

      val us0 = usOfNs(s0); val us1 = usOfNs(s1); val us2 = usOfNs(s2)
      spans += Span(root, 0, root, q.name, us0, us2,
        Seq("pass" -> pass.toDouble, "ok" -> (if (ok) 1.0 else 0.0)))
      val cId = newId()
      spans += Span(cId, root, root, "construct", us0, us1,
        Seq("jobs" -> cJobs.size.toDouble))
      val xId = newId()
      spans += Span(xId, root, root, "execute", us1, us2,
        Seq("jobs" -> xJobs.size.toDouble, "stages" -> stages.toDouble))
      if (writePlans.nonEmpty)
        spans += Span(newId(), root, root, "plan", writePlans.map(_._1).min * 1000,
          writePlans.map(_._2).max * 1000, Seq("ms" -> planMs))
      mine.foreach { j =>
        val parent = if (cJobs.contains(j)) cId else xId
        spans += Span(newId(), parent, root, s"job ${j.id}", j.startMs * 1000,
          j.endMs * 1000, Seq("stages" -> j.stages.count(stagesDone).toDouble))
      }
      if (ok) Some(constructMs + writeMs) else None
    }
  }

  /** Time one accessor call (`t.lineitem`, ...) per table, three
    * rounds; (median ms per open, median jobs per open). */
  private def tableOpens(t: graft.Tables): (Double, Double) = {
    val accessors = Seq[graft.Tables => org.apache.spark.sql.DataFrame](
      _.region, _.nation, _.customer, _.supplier, _.part, _.orders,
      _.lineitem, _.events, _.documents, _.embeddings)
    val rounds = (1 to 3).map { _ =>
      val opens = accessors.map { open =>
        ListenerBusShim.drain(sc)
        val j0 = synchronized(jobs.size)
        val s = System.nanoTime()
        open(t)
        val ms = (System.nanoTime() - s) / 1e6
        ListenerBusShim.drain(sc)
        (ms, (synchronized(jobs.size) - j0).toDouble)
      }
      (opens.map(_._1).sum / opens.size, opens.map(_._2).sum / opens.size)
    }
    (Stats.median(rounds.map(_._1)), Stats.median(rounds.map(_._2)))
  }

  /** Per-layer metrics: medians over the traced passes of per-pass
    * sums, plus set-up and kernel figures. */
  def report(t: graft.Tables, cold: Seq[Option[Double]],
      traced: Seq[Seq[Option[Double]]], untraced: Seq[Seq[Option[Double]]],
      data: String): String = {
    val passes = rows.groupBy(_.pass)
    def perPass(pass: Int, k: String) = passes(pass).map(_.m(k)).sum
    val warm = traced.indices.map(_ + 1)
    def med(k: String) = Stats.median(warm.map(perPass(_, k)))
    def maxOf(k: String) = warm.map(p => passes(p).map(_.m(k)).max).max
    val (openMs, openJobs) = tableOpens(t)
    val untracedMs = untraced.map(_.flatten.sum)
    val tracedMs = traced.map(_.flatten.sum)
    // An entry's cold cost above its warm median is the first-touch
    // cost (JIT, memo and layout builds) it pays at set-up.
    val warmByEntry = untraced.transpose.map(xs => Stats.median(xs.flatten))
    val firstTouch = cold.zip(warmByEntry).collect {
      case (Some(c), w) if !w.isNaN => c - w }.sum
    // Deterministic-counter self-check: every entry's job and stage
    // counts must repeat exactly between the first two traced passes.
    val counts = warm.take(2).map(p => passes(p).map(r => (r.name, r.m("jobs"), r.m("all_stages"))))
    val mismatches = counts.head.zip(counts(1)).filter { case (a, b) => a != b }
    mismatches.foreach { case (a, b) =>
      System.err.println(s"[perfbench] counters differ for ${a._1}: " +
        s"jobs ${a._2} vs ${b._2}, stages ${a._3} vs ${b._3}")
    }
    val constructMs = med("construct.ms")
    val constructJobs = med("construct.jobs")
    val executeMs = med("execute.ms")
    val kernels = Kernels.time(spark, data).map { k =>
      spans += Span(newId(), 0, 0, s"kernel ${k.name}", usOfNs(k.startNs),
        usOfNs(k.endNs), Seq("ns_per_item" -> k.nsPerItem, "items" -> k.items))
      k.name -> k.nsPerItem
    }
    val metrics = Seq[(String, Double)](
      "tables.open_ms" -> openMs,
      "tables.open_jobs" -> openJobs,
      "construct.ms" -> constructMs,
      "construct.jobs" -> constructJobs,
      "construct.ms_per_job" -> (if (constructJobs > 0) constructMs / constructJobs else 0.0),
      "construct.self_ms" -> med("construct.self_ms"),
      "tools.checkpoints" -> med("tools.checkpoints"),
      "setup.first_touch_ms" -> firstTouch,
      "plan.ms" -> med("plan.ms"),
      "plan.first_ms" -> perPass(0, "plan.ms"),
      "execute.ms" -> executeMs,
      "execute.self_ms" -> med("execute.self_ms"),
      "execute.jobs" -> med("execute.jobs"),
      "execute.stages" -> med("execute.stages"),
      "execute.tasks" -> med("execute.tasks"),
      "execute.scan_tasks" -> med("execute.scan_tasks"),
      "execute.input_rows" -> med("execute.input_rows"),
      "execute.shuffle_write_bytes" -> med("execute.shuffle_write_bytes"),
      "execute.shuffle_read_bytes" -> med("execute.shuffle_read_bytes"),
      "execute.spill_bytes" -> med("execute.spill_bytes"),
      "execute.cpu_ms" -> med("execute.cpu_ms"),
      "execute.gc_ms" -> med("execute.gc_ms"),
      "execute.task_wait_ms" -> med("execute.task_wait_ms"),
      "execute.peak_task_mem_bytes" -> maxOf("execute.peak_task_mem_bytes"),
      "execute.failed_tasks" -> med("execute.failed_tasks"),
      "execute.core_busy_frac" ->
        (if (executeMs > 0) med("execute.run_ms") / (executeMs * cores) else 0.0),
      "sources.bytes_written" -> med("sources.bytes_written"),
      "sources.files_written" -> med("sources.files_written"),
      "sources.write_amp" -> {
        val r = med("sources.bytes_read")
        if (r > 0) med("sources.bytes_written") / r else 0.0
      },
      "sources.layout_builds" -> perPass(0, "sources.layout_builds"),
      "driver.gc_ms" -> med("driver.gc_ms"),
      "trace.wall_s" -> Stats.median(tracedMs) / 1e3,
      "trace.overhead_s" -> (Stats.median(tracedMs) - Stats.median(untracedMs)) / 1e3,
      "trace.counter_mismatches" -> mismatches.size.toDouble,
    ) ++ kernels
    Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*)
  }

  def writeSpans(path: String): Unit = {
    val body = spans.map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "trace" -> Json.num(s.trace), "name" -> Json.str(s.name),
        "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
        "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) }: _*))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      body.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
