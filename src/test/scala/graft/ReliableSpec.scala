package graft

import org.apache.spark.sql.functions._

/** The shared reliable-checkpoint discipline (tools.Reliable): one
  * conf key switches the loop state of the iterative kernels (every
  * graph.Loop driver and the per-Graph edge tables), the streaming
  * ingest sinks' novel sets and the IVF build's centroid table from
  * executor-memory localCheckpoint to a re-readable parquet
  * checkpoint. Memoized session inputs (Graph.derived's edge list,
  * the catalog edge lists) stay local checkpoints, and the per-Graph
  * src-keyed BOTH table of LPA, k-core and modularity
  * (Graph.bothKeyed) is a persisted session input whose lost blocks
  * recompute from lineage, so the conf does not cover it. */
class ReliableSpec extends SparkSpecBase {

  private val cpDir = "/tmp/graft_reliable_cp"

  private def withCpDir[A](body: => A): A = {
    graft.sources.Formats.deleteRecursively(new java.io.File(cpDir))
    spark.conf.set("spark.graft.graph.checkpointDir", cpDir)
    try body
    finally {
      spark.conf.unset("spark.graft.graph.checkpointDir")
      graft.sources.Formats.deleteRecursively(new java.io.File(cpDir))
    }
  }

  private def cpFiles(): Int = {
    val d = new java.io.File(cpDir)
    if (d.exists()) d.listFiles().count(_.getName.startsWith("cp-"))
    else 0
  }

  test("Reliable.cp round-trips through the configured dir and " +
      "falls back to localCheckpoint without it") {
    val df = t.orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val plain = df.collect().toSet
    withCpDir {
      val cped = graft.tools.Reliable.cp(df)
      assert(cpFiles() == 1, "one cp-N dir per checkpoint")
      assert(cped.collect().toSet == plain)
      // A second checkpoint gets its OWN dir (the JVM-unique seq).
      graft.tools.Reliable.cp(df)
      assert(cpFiles() == 2)
    }
    // Without the conf: localCheckpoint semantics, no files.
    val local = graft.tools.Reliable.cp(df)
    assert(local.collect().toSet == plain)
    assert(cpFiles() == 0)
  }

  test("the graph loops route through Reliable: with the dir set, " +
      "g_coreness and g_catalog_pagerank checkpoint into it and " +
      "return the same rows") {
    for (name <- Seq("g_coreness", "g_catalog_pagerank")) {
      val q = Registry.byName(name)
      // Built without the dir first: the memoized inputs (derived
      // graph, catalog tables) must not live in the dir this test
      // deletes.
      val plain = q.run(t).collect().toSet
      val (cps, reliable) = withCpDir {
        val before = graft.tools.Reliable.count
        val rows = q.run(t).collect().toSet
        (graft.tools.Reliable.count - before, rows)
      }
      assert(cps > 0, s"$name took no reliable checkpoint")
      assert(reliable == plain, name)
    }
  }

  test("the streaming ingest loop honors the reliable-checkpoint " +
      "conf: dedupIngestSink's novel set round-trips the configured " +
      "dir, is CLEANED per batch, and the index built is unchanged") {
    val indexDir = "/tmp/graft_reliable_ingest_idx"
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
    import spark.implicits._
    val b0 = Seq(("a", 1L), ("b", 2L), ("a", 3L))
      .toDF("fp", "doc_id")
    val b1 = Seq(("b", 4L), ("c", 5L)).toDF("fp", "doc_id")
    withCpDir {
      val before = graft.tools.Reliable.count
      streaming.Streams.dedupIngestSink(indexDir)(b0, 0L)
      assert(graft.tools.Reliable.count > before,
        "the novel set must checkpoint through the configured dir")
      // SCOPED cleanup: an unbounded stream must not leak one cp dir
      // per micro-batch — the artifact dies with the batch.
      assert(cpFiles() == 0,
        "per-batch cp artifacts must be deleted at batch end")
      streaming.Streams.dedupIngestSink(indexDir)(b1, 1L)
      assert(cpFiles() == 0)
    }
    // Exactly-once membership holds identically under the reliable
    // path: one row per fingerprint, the batch-1 novel set is {c}.
    val idx = spark.read.parquet(indexDir)
    assert(idx.select("fp").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c"))
    assert(idx.where(col("batch_id") === 1).select("fp")
      .as[String].collect().toSeq == Seq("c"))
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
  }
}
