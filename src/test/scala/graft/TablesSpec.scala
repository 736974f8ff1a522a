package graft

import graft.sources.Formats
import java.nio.file.Files
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Table opens read the memoized footer schema: no Spark job per
  * accessor call, the same schema inference gives, and a re-inference
  * when the file at a path changes. */
class TablesSpec extends SparkSpecBase {

  test("after a first open, reopening each of the 10 tables starts " +
    "no Spark job") {
    assert(t.registered.size == 10)
    // The counter sees the job a bare inferring read starts.
    assert(Run.counts(spark)(
      spark.read.parquet(s"${t.dir}/region.parquet")).jobs == 1)
    t.registered
    for (open <- Seq[Tables => Any](_.region, _.nation, _.customer,
        _.supplier, _.part, _.orders, _.lineitem, _.events, _.documents,
        _.embeddings))
      assert(Run.counts(spark)(open(t)).jobs == 0)
  }

  test("each accessor's schema equals a fresh inferring read's") {
    for ((name, df) <- t.registered) {
      val fresh = spark.read.parquet(s"${t.dir}/$name.parquet").schema
      // events normalizes ts to TimestampType at the reader boundary.
      val expected = if (name != "events") fresh else StructType(
        fresh.map(f => if (f.name == "ts") f.copy(dataType = TimestampType)
          else f))
      assert(df.schema == expected, name)
    }
  }

  test("a parquet file rewritten at the same path with another schema " +
    "is re-inferred") {
    val path = Files.createTempDirectory("tables_spec").resolve("t").toString
    try {
      spark.range(3).toDF("a").write.parquet(path)
      assert(Formats.readParquet(spark, path).columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c")
        .write.mode("overwrite").parquet(path)
      val back = Formats.readParquet(spark, path)
      assert(back.schema == spark.read.parquet(path).schema)
      assert(back.columns.toSeq == Seq("b", "c"))
      assert(back.orderBy("b").collect().map(_.getString(1)).toSeq ==
        Seq("0", "1", "2"))
    } finally Formats.deleteRecursively(new java.io.File(path).getParentFile)
  }

  test("events leaves nanosAsLong unset on MICROS data and still " +
    "yields a TimestampType ts") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val path = s"${t.dir}/events.parquet"
    // The data's premise: ts is TIMESTAMP(MICROS) NTZ, not NANOS.
    assert(spark.read.parquet(path).schema("ts").dataType ==
      TimestampNTZType)
    spark.conf.unset(key)
    val ts = t.events.schema("ts").dataType
    assert(!spark.conf.getAll.contains(key))
    assert(ts == TimestampType)
  }

  test("events on TIMESTAMP(NANOS) data turns nanosAsLong on and " +
    "rebuilds ts losslessly") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("tables_spec_nanos")
    val schema = MessageTypeParser.parseMessageType("message events " +
      "{ required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        dir.resolve("events.parquet").toUri))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1500000000123456000L))
    finally writer.close()
    try {
      spark.conf.unset(key)
      val ev = Tables(spark, dir.toString).events
      assert(spark.conf.get(key) == "true")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) ==
        1500000000123456L)
    } finally {
      spark.conf.unset(key)
      Formats.deleteRecursively(dir.toFile)
    }
  }
}
