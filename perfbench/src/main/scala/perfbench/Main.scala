package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in a fresh JVM.
  *
  * Load model: one closed-loop client issues the workload's registry
  * entries back to back; each execution is `q.run(tables)` followed by
  * the noop-sink write `graft.Bench` uses. The run
  *  1. builds the session and runs one untimed cold pass (set-up),
  *     then untimed warm-up passes for at least [[WarmupS]] seconds,
  *  2. repeats timed passes until `--seconds` have elapsed,
  *  3. with `--trace 1`, alternates traced and untraced passes and
  *     records spans and per-layer counters (see [[Tracer]]),
  *  4. hands the session to `graft.Verify` for the correctness dump.
  * It writes one JSON record to `--out`; `perfbench/run.py` turns it
  * into the benchmark's metrics.
  *
  * Usage: perfbench.Main --data DIR --entries a,b --seconds S
  *   --trace 0|1 --out FILE --verify-out DIR --trace-out FILE
  */
object Main {
  final case class Args(data: String, entries: Seq[String], seconds: Double,
      trace: Boolean, out: String, verifyOut: String, traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--data"), need("--entries").split(",").toSeq,
      need("--seconds").toDouble, need("--trace") == "1", need("--out"),
      need("--verify-out"), need("--trace-out"))
  }

  /** The `graft.Bench` session, pinned to 4 cores and 4 shuffle
    * partitions. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Minimum untimed warm-up after the cold pass, in seconds. */
  val WarmupS = 12.0

  private val heap = ManagementFactory.getMemoryMXBean

  /** The GC the harness runs between entries (as `graft.Bench` does),
    * returning the heap still in use after it, in MB. */
  def collectHeapMb(): Double = {
    System.gc()
    heap.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val tables = graft.Tables(spark, a.data)
    val byName = graft.Registry.all.map(q => q.name -> q).toMap
    val entries = a.entries.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"unknown registry entry $n")))
    val tracer = if (a.trace) Some(new Tracer(spark, a.data)) else None

    val failures = ArrayBuffer[String]()
    var heapMaxMb = 0.0
    /** One execution; its latency in ms, or None if it threw. */
    def execute(q: graft.Q): Option[Double] = {
      heapMaxMb = math.max(heapMaxMb, collectHeapMb())
      val t0 = System.nanoTime()
      try {
        q.run(tables).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e6)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] ${q.name} failed: $e")
        failures += q.name
        None
      }
    }
    def tracedPass(pass: Int): Seq[Option[Double]] = entries.map { q =>
      heapMaxMb = math.max(heapMaxMb, collectHeapMb())
      tracer.get.entry(q, tables, pass, failures)
    }

    // 1. Set-up: the cold pass pays JIT, codegen, memo and layout
    // builds; traced runs trace it too (first-touch and plan.first).
    val cold = if (a.trace) tracedPass(0) else entries.map(execute)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Untimed warm-up: the JIT keeps compiling for several passes
    // after the cold one (pass times fall for about ten seconds), and
    // timing that tail makes runs disagree.
    val w0 = System.nanoTime()
    var warmups = 0
    while (warmups < 2 || (System.nanoTime() - w0) / 1e9 < WarmupS) {
      entries.foreach(execute)
      warmups += 1
    }
    val untimedFailures = failures.size
    heapMaxMb = 0.0

    // 2./3. Timed passes for --seconds, at least two. A traced run
    // alternates traced and untraced passes, with at least two traced
    // (so job and stage counts can be compared) and one untraced (the
    // tracing-overhead baseline).
    val passes = ArrayBuffer[Seq[Option[Double]]]()
    val traced = ArrayBuffer[Seq[Option[Double]]]()
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (elapsedS < a.seconds || passes.size < (if (a.trace) 1 else 2) ||
        (a.trace && traced.size < 2)) {
      if (a.trace && traced.size <= passes.size)
        traced += tracedPass(traced.size + 1)
      else passes += entries.map(execute)
    }
    val perLayer = tracer.map(_.report(tables, cold, traced.toSeq,
      passes.toSeq, a.data))

    // 4. Correctness dump through graft.Verify, outside the timed
    // region. It reuses (and finally stops) this session.
    graft.Verify.main(Array(a.data, a.verifyOut, a.entries.mkString(",")))
    tracer.foreach(_.writeSpans(a.traceOut))

    def ms(p: Seq[Option[Double]]) = Json.arr(p.map(_.fold("null")(Json.num)))
    val json = Json.obj(
      "setup_s" -> Json.num(setupS),
      "cold_ms" -> ms(cold),
      "entry_ms" -> Json.arr(passes.map(ms)),
      "executions" -> Json.num((passes ++ traced).map(_.size).sum),
      "failed_executions" -> Json.num(failures.size - untimedFailures),
      "failed_entries" -> Json.arr(failures.distinct.map(Json.str)),
      "retained_heap_mb" -> Json.num(heapMaxMb),
      "per_layer" -> perLayer.getOrElse("null"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
  }
}
