package graft

/** Dev tool for the optimization rounds: dump `.explain("formatted")`
  * for a comma-separated list of registry queries into an output
  * directory (one `<name>.txt` per query). Plan-only — the DataFrame
  * is built (including any lazy layout construction a query performs
  * while assembling its plan) but the final plan is not executed, so
  * a dump is cheap and safe to run beside nothing else. An unknown
  * name throws.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> name1,name2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(1)
    val spark = Run.session(32)
    val t = Tables(spark, args(0))
    new java.io.File(outDir).mkdirs()
    Run.select(args(2).split(",")).foreach { q =>
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${q.name}.txt"),
          tools.Explain.formatted(q.name, t).getBytes("UTF-8"))
        println(s"[plandump] wrote ${q.name}")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
