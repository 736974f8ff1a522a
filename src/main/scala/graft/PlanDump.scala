package graft

import scala.util.matching.Regex

/** Dev tool for the optimization rounds: dump `.explain("formatted")`
  * for a comma-separated list of registry queries into an output
  * directory (one `<name>.txt` per query). Plan-only — the DataFrame
  * is built (including any lazy layout construction a query performs
  * while assembling its plan) but the final plan is not executed, so
  * a dump is cheap and safe to run beside nothing else. An unknown
  * name throws. Plans are written [[normalize]]d, with the data dir
  * shown as `<sfDir>` and the session's warehouse dir as
  * `<warehouse>` ([[redact]]), so dumps of two checkouts compare with
  * a plain `diff -r`.
  * The session is `local[4]`, like Verify and the benchmark's 4-core
  * runs, unless `SPARK_GRAFT_CPUS` says otherwise. Without a name list
  * every registry entry is dumped, in registry order.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [name1,name2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(1)
    val spark = Run.session(4)
    val t = Tables(spark, args(0))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    new java.io.File(outDir).mkdirs()
    val entries =
      if (args.length > 2) Run.select(args(2).split(",")) else Registry.all
    entries.foreach { q =>
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${q.name}.txt"),
          redact(tools.Explain.formatted(q.name, t), args(0), warehouse)
            .getBytes("UTF-8"))
        println(s"[plandump] wrote ${q.name}")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** [[normalize]]d `plan` with the paths that differ between two
    * checkouts shown as placeholders: the warehouse dir (a `file:` URI
    * or a plain path; tables saved there, such as a bucketed
    * customer copy, are scanned from it) as `<warehouse>` and the
    * data dir as `<sfDir>`. */
  def redact(plan: String, sfDir: String, warehouse: String): String =
    normalize(plan)
      .replace(warehouse.stripPrefix("file:").stripSuffix("/"), "<warehouse>")
      .replace(sfDir, "<sfDir>")

  /** `plan` without the numbers that differ between two runs of the
    * same program: expression ids (`#12`), plan ids (`[plan_id=7]`)
    * and RDD ids (`RDD[28]`) are renumbered in order of first
    * appearance, so ids that are equal stay equal, and call-site line
    * numbers (`at Graph.scala:214`) are dropped. */
  def normalize(plan: String): String = {
    def renumber(s: String, id: Regex, render: Int => String): String = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      id.replaceAllIn(s, m => Regex.quoteReplacement(
        render(seen.getOrElseUpdate(m.group(1), seen.size + 1))))
    }
    val ids = renumber(plan, """#(\d+)""".r, n => s"#$n")
    val plans = renumber(ids, """\[plan_id=(\d+)\]""".r, n => s"[plan_id=$n]")
    renumber(plans, """RDD\[(\d+)\]""".r, n => s"RDD[$n]")
      .replaceAll("""(\w\.scala):\d+""", "$1")
  }
}
