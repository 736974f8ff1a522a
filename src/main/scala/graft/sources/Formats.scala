package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink format support. The reference engine owns its storage
  * (TiKV row store / TiFlash column store); the Spark-native engine
  * instead speaks the open formats a 100 TB lake actually uses —
  * parquet (primary, pushdown + pruning), orc (same), csv/json
  * (ingest interchange). Writers partition by any column set so a
  * cluster write produces partition-pruned layouts.
  */
object Formats {

  val supported = Seq("parquet", "orc", "json", "csv")

  def write(df: DataFrame, format: String, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    require(supported.contains(format), s"unsupported sink: $format")
    val w = df.write.format(format).mode(SaveMode.Overwrite)
      .option("header", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }

  def read(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None): DataFrame = {
    require(supported.contains(format), s"unsupported source: $format")
    val r = spark.read.format(format)
      .option("header", "true").option("inferSchema", "false")
    schema.fold(r)(s => r.schema(s)).load(path)
  }

  /** Whole-file binary ingestion (`binaryFile` source) — the real
    * entry point for multimodal corpora stored as loose files: one
    * row per file with (path, modificationTime, length, content),
    * the payload arriving as the opaque binary column the media
    * pipeline (graft.media) consumes. Files larger than
    * `spark.sql.sources.binaryFile.maxLength` fail fast instead of
    * OOMing a task; pushdown on length/path works because the
    * metadata columns come from the file listing, not the bytes. */
  def readBinaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Line-oriented text ingestion (one `value` column per line) —
    * raw-corpus landing format before any schema exists. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** 8-byte hex content fingerprint of a local file or directory
    * (absolute path + leaf names/sizes/mtimes). Keys derived layouts
    * ([[Layouts.root]]) and bucketed tables so regenerated
    * source data — or two paths whose String.hashCode collides — get
    * distinct cache dirs instead of silently serving stale derived
    * state. */
  def contentFingerprint(path: String): String = {
    val f = new java.io.File(path)
    val leaves = (if (f.isDirectory) f.listFiles().toSeq else Seq(f))
      .map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${f.getAbsolutePath}|$leaves".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Path component safe for embedding a source path in a layout
    * root name (see [[Layouts.root]]). */
  def sanitize(path: String): String =
    path.replaceAll("[^A-Za-z0-9.]+", "-").stripPrefix("-")

  private val parquetSchemas = new graft.tools.SessionMemo[
    (String, Seq[(String, String)]), StructType]

  /** `spark.read.parquet(path)` without its per-call schema-inference
    * job: the footer schema is inferred once per (content
    * fingerprint, the session's explicitly set `*.parquet.*` confs —
    * nanosAsLong, binaryAsString and friends change what inference
    * returns) and then handed to the reader. The schema is the one
    * inference gives (both paths make it `asNullable`), so plans,
    * pushdown and pruning are unchanged; a file replaced at the same
    * path gets a new fingerprint and is re-inferred; a failed
    * inference is not cached. Every call still builds a fresh
    * relation, file listing and expression ids — a memoized
    * DataFrame would trip Spark's ambiguous-self-join check and
    * serve stale listings. The fingerprint covers only the top
    * level of a directory, so an incremental layout that appends into
    * nested dirs must read through `spark.read.parquet` /
    * [[readParquetOr]] instead. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.contains(".parquet.") }.sorted
    val schema = parquetSchemas.get(spark,
      (contentFingerprint(path), conf))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Parquet read that degrades to `empty` on EXACTLY the two
    * analysis-time absent-layout conditions (missing path, dir with
    * no data files) — any other read failure (permissions, listing
    * errors) propagates, because treating it as an empty layout
    * silently breaks whatever exactly-once or novelty invariant the
    * caller built on the read. ONE spelling for every incremental
    * layout consumer (dedup/vector ingest fences, the retrain gate,
    * delta-aware probes). */
  def readParquetOr(spark: SparkSession, dir: String)(
      empty: => DataFrame): DataFrame =
    try spark.read.parquet(dir)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
    }

  /** Recursive local delete. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
