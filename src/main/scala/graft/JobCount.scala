package graft

/** Dev tool for the optimization rounds: run a comma-separated list
  * of registry queries (each through the noop sink, after one untimed
  * warmup pass so session memos/layouts are steady-state) and report
  * the DETERMINISTIC execution-shape counters per entry — driver jobs,
  * stages, tasks. Wall-clock on this host drifts 15-50% between
  * windows; job/stage counts do not, so they are the honest evidence
  * for scheduling-shape changes (guide §5 driver round-trips).
  * Entries are reported in registry order; an unknown name throws.
  * The session is `local[4]`, like Verify and the benchmark's 4-core
  * runs, unless `SPARK_GRAFT_CPUS` says otherwise.
  *
  * Usage: runMain graft.JobCount <sfDir> name1,name2,...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val spark = Run.session(4)
    val t = Tables(spark, args(0))
    val qs = Run.select(args(1).split(","))
    // Warm each selected entry once (memos, layouts, codegen).
    qs.foreach(Run.execute(_, t))
    val out = qs.map { q =>
      val c = Run.counts(spark)(Run.execute(q, t))
      s""""${q.name}":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}"""
    }
    println("JOBCOUNT " + out.mkString("{", ",", "}"))
    spark.stop()
  }
}
