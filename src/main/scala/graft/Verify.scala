package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (dev-only): comma-separated query-name filter
    // for a fast inner loop on a subset; an unknown name throws.
    val keep: String => Boolean = args.lift(2) match {
      case Some(names) => Run.select(names.split(',')).map(_.name).toSet
      case None => _ => true
    }
    val spark = Run.session(4)
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a LOUD artifact, not just vanish
    // from the output set (r6: 21 events queries silently disappeared
    // from CORRECTNESS because their dirs were never written).
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape (shared tools.JsonText): a tab or CR in
    // builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    def q(s: String): String = tools.JsonText.quote(s)
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written ({} when clean) so its PRESENCE proves the check
    // ran and its contents make any breakage impossible to miss.
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    // Full attempted-id manifest: lets any downstream check detect a
    // query that vanished from the output set entirely (dir never
    // written, name absent from the correctness file) — the silent
    // failure mode the r6 breakage hid behind.
    val expected = SparkEntry.queries.keys.filter(keep).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/_expected.json"),
      expected.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
