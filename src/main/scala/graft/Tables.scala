package graft

import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Table registry over the driver-generated parquet dirs.
  *
  * Mirrors the reference's schema surface (tigraph/tidb `infoschema/`):
  * a fixed catalog of typed tables. On a real cluster these readers
  * point at partitioned/bucketed warehouse paths; locally they read
  * the single-file parquet from TESTDATA.md. Every reader is
  * [[graft.sources.Formats.readParquet]]: `spark.read.parquet` with
  * the footer schema memoized per file content, so opening a table
  * starts no Spark job (inferring the schema ran one per call). The
  * schema handed to the reader is the one inference returns and the
  * relation is built fresh per call, so Catalyst gets the same plan:
  * filter pushdown, column pruning and partition pruning are
  * unchanged.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // The engine's timestamp policy (NTZ files cast to session-UTC
  // TimestampType) and every oracle's date/time rendering assume a
  // UTC session. A non-UTC session would silently shift events.ts by
  // the zone offset — wrong-but-plausible results with no error —
  // so refuse it loudly here instead. Any spelling of zero-offset
  // passes ("UTC", "Etc/UTC", "GMT", "+00:00" — the driver's own
  // session may carry the JVM default, Etc/UTC on this image).
  {
    require(Tables.isUtcSession(spark),
      s"graft.Tables requires a UTC session timezone, got " +
        s"'${spark.conf.get("spark.sql.session.timeZone", "jvm-default")}'" +
        " (timestamp policy + oracle parity depend on it)")
  }
  functions.GraftFunctions.register(spark)

  private def t(name: String): DataFrame =
    Formats.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  /** Engine-wide timestamp policy: every table's timestamp columns are
    * session-UTC `TimestampType` at the reader boundary, regardless of
    * how the file encodes them. The driver has shipped `events.ts` as
    * parquet TIMESTAMP(NANOS) (which Spark's reader rejects outright)
    * and later as TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark reads as TIMESTAMP_NTZ) — so branch on the LOADED schema:
    *  - LongType      → nanos read raw via the legacy conf, which is
    *                    set on the session only when the file's footer
    *                    has a TIMESTAMP(NANOS) column; the generator is
    *                    microsecond-aligned, so `div 1000` is a
    *                    lossless rebuild;
    *  - TIMESTAMP_NTZ → cast; under the UTC session zone this keeps
    *                    the wall-clock micros DuckDB sees;
    *  - TimestampType → already the policy type, pass through. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    if (Tables.hasNanosTimestamp(spark, s"$dir/events.parquet"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Run ANSI SQL against the catalog: registers the named tables as
    * temp views (same readers as the typed accessors, so pushdown /
    * pruning behave identically) and hands the text to Catalyst. */
  def sql(query: String, tables: String*): DataFrame = {
    tables.foreach {
      case "events" => events.createOrReplaceTempView("events")
      case name => t(name).createOrReplaceTempView(name)
    }
    spark.sql(query)
  }

  /** Decouple map-side parallelism from source file layout.
    *
    * Per-row-CPU-heavy pipelines (sketching, hashing, shingling,
    * vector scoring) are bottlenecked by the number of SCAN splits,
    * not by the shuffle width: the local testdata is one row group
    * per table, i.e. one task, and even on a production warehouse
    * file splits can be far coarser than cores (a 128 MB split of
    * compressed text is minutes of sketching work). A round-robin
    * repartition right after the scan pays one narrow exchange of the
    * input rows and spreads the expensive map work across the full
    * executor width; it also evens out document-size skew. Use only
    * where downstream per-row cost dominates the exchange (dedup,
    * ANN, sessionization) — plain relational scans stay unfanned so
    * filters/pruning keep reaching parquet. */
  def fan(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** The full registered-table catalog as (name, reader) pairs — the
    * ONE list the runtime-facts cards (q_memtable_info,
    * q_inspection) and catalog tooling iterate, so adding a table
    * can't silently skew one card and not the other. Sorted by name
    * (the cards' render order). */
  def registered: Seq[(String, DataFrame)] = Seq(
    "customer" -> customer, "documents" -> documents,
    "embeddings" -> embeddings, "events" -> events,
    "lineitem" -> lineitem, "nation" -> nation,
    "orders" -> orders, "part" -> part,
    "region" -> region, "supplier" -> supplier)
}

object Tables {

  private val nanosMemo = new graft.tools.SessionMemo[String, Boolean]

  /** True when the parquet file (or a data file of the parquet dir)
    * at `path` has a TIMESTAMP(NANOS) column, which Spark's reader
    * rejects unless `nanosAsLong` is on. Decided once per content
    * fingerprint from the footers, read on the driver: no Spark job. */
  private def hasNanosTimestamp(spark: SparkSession, path: String): Boolean =
    nanosMemo.get(spark, Formats.contentFingerprint(path)) {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation.{
        TimeUnit, TimestampLogicalTypeAnnotation}
      import scala.jdk.CollectionConverters._
      val f = new java.io.File(path)
      val files = if (f.isDirectory)
        f.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      else Seq(f)
      files.exists { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toURI),
          spark.sparkContext.hadoopConfiguration))
        try reader.getFileMetaData.getSchema.getColumns.asScala.exists {
          _.getPrimitiveType.getLogicalTypeAnnotation match {
            case ts: TimestampLogicalTypeAnnotation =>
              ts.getUnit == TimeUnit.NANOS
            case _ => false
          }
        } finally reader.close()
      }
    }

  /** True when the session timezone is a fixed zero-offset zone
    * (any spelling: "UTC", "Etc/UTC", "GMT", "+00:00") — the ONE
    * predicate behind the Tables constructor guard and the
    * q_memtable_info / q_inspection runtime cards. */
  def isUtcSession(spark: SparkSession): Boolean = {
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    val rules = java.time.ZoneId.of(tz,
      java.time.ZoneId.SHORT_IDS).getRules
    rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }
}
