package graft

import graft.ann.IvfIndex
import graft.functions.VectorFns
import org.apache.spark.sql.functions._

/** Persisted IVF index: the cell-partitioned layout must return the
  * same neighbors as the in-memory build, and probing must prune to
  * the probed cell partitions (not scan the whole corpus).
  */
class IvfIndexSpec extends SparkSpecBase {

  private val dir = "/tmp/graft_ivf_index"

  private lazy val corpus = t.embeddings
    .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
  private lazy val queries = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("v").as("qv"))

  private lazy val written = {
    IvfIndex.writeIndex(corpus, dir, c = 16, iters = 2)
    true
  }

  test("persisted index returns the in-memory probe results") {
    assert(written)
    val fromDisk = IvfIndex.probeIndex(spark, dir, queries,
      nprobe = 4, topk = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = Registry.all.find(_.name == "s_ann_ivf").get.run(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == inMem && fromDisk.nonEmpty)
  }

  test("s_ann_ivf_probe registry entry equals the in-query build") {
    val probe = Registry.all.find(_.name == "s_ann_ivf_probe").get.run(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = Registry.all.find(_.name == "s_ann_ivf").get.run(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == inMem && probe.nonEmpty)
  }

  test("probe prunes to the probed cell partitions") {
    assert(written)
    val plan = IvfIndex.probeIndex(spark, dir, queries,
      nprobe = 4, topk = 3).queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cell scan:\n$plan")
  }

  test("s_ann_ivfpq_probe equals the in-query IVFPQ build and " +
    "prunes the code scan") {
    val probeDf = Registry.all.find(_.name == "s_ann_ivfpq_probe").get
      .run(t)
    val probe = probeDf
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = Registry.all.find(_.name == "s_ann_ivfpq").get.run(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == inMem && probe.nonEmpty)
    // The cell-partitioned code scan must be dynamically pruned by
    // the broadcast probe side — the nprobe/C read is the entry's
    // whole scale story. Inspect the plan of the DataFrame that
    // actually executed.
    val plan = probeDf.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the code scan:\n$plan")
  }

  test("incremental append: probe-after-append equals a rebuild at " +
      "the same fixed centroids; drift card arithmetic is exact") {
    val rootA = "/tmp/graft_ivf_inc_a"
    val rootB = "/tmp/graft_ivf_inc_b"
    Seq(rootA, rootB).foreach(d =>
      graft.sources.Formats.deleteRecursively(new java.io.File(d)))
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val batch = corpus.filter(col("vec_id") % 5 === 0)
    // Index A: train on the base, append the batch incrementally.
    IvfIndex.writeIndex(base, rootA, c = 16, iters = 2)
    IvfIndex.appendToIndex(spark, rootA, batch)
    // Index B: the SAME centroids, the whole corpus assigned from
    // scratch (what a rebuild at fixed centroids produces).
    spark.read.parquet(s"$rootA/centroids")
      .write.parquet(s"$rootB/centroids")
    IvfIndex.appendToIndex(spark, rootB, corpus)
    // Append really appended: every corpus vector is in index A once.
    assert(spark.read.parquet(s"$rootA/cells").count() == corpus.count())
    // Probe parity — append is indistinguishable from the rebuild.
    def probe(d: String) = IvfIndex.probeIndex(spark, d, queries,
      nprobe = 4, topk = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (pa, pb) = (probe(rootA), probe(rootB))
    assert(pa == pb && pa.nonEmpty)
    // Drift card: growth = inertia_after / inertia_base per cell,
    // retrain flags exactly the cells past the cap (or base-less
    // ones); base/new counts partition each cell.
    val card = IvfIndex.driftCard(spark, rootA,
      isNew = col("vec_id") % 5 === 0, growthCap = 1.5).collect()
    assert(card.nonEmpty)
    val nTotal = card.map(r =>
      r.getAs[Long]("n_base") + r.getAs[Long]("n_new")).sum
    assert(nTotal == corpus.count())
    card.foreach { r =>
      val nNew = r.getAs[Long]("n_new")
      val ib = Option(r.getAs[java.lang.Double]("inertia_base"))
      val inew = Option(r.getAs[java.lang.Double]("inertia_new"))
      val growth = Option(r.getAs[java.lang.Double]("growth"))
      val retrain = r.getAs[Int]("retrain")
      if (nNew == 0L) assert(retrain == 0,
        "an untouched cell must never flag retrain")
      else (ib, inew, growth) match {
        case (Some(b), Some(nv), Some(g)) if b > 0 =>
          assert(math.abs(g - nv / b) < 1e-4,
            s"growth mismatch on cell ${r.getAs[Int]("cell")}")
          assert(retrain == (if (g > 1.5) 1 else 0))
        case _ => assert(retrain == 1,
          "an appended-to cell without a healthy base yardstick " +
            "must flag retrain")
      }
    }
    // The card is the RETRAIN decision: on this near-uniform append
    // (a 20% slice of the same distribution) most cells must NOT
    // demand a retrain — the signal has a quiet zero state.
    assert(card.count(_.getAs[Int]("retrain") == 0) > card.length / 2)
    // vec_id contract: an append never deduplicates. An id already
    // indexed, appended again in a batch that repeats it, lands as two
    // more rows.
    val again = corpus.filter(col("vec_id") === 5)
    IvfIndex.appendToIndex(spark, rootA, again.union(again))
    assert(spark.read.parquet(s"$rootA/cells")
      .filter(col("vec_id") === 5).count() == 3)
  }

  test("retrain-and-swap: drifted append flags red; the swap is a " +
      "generation flip with probe continuity; the post-retrain card " +
      "is green and recall is no worse than the drifted index's") {
    val root = "/tmp/graft_ivf_retrain_spec"
    graft.sources.Formats.deleteRecursively(new java.io.File(root))
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
      .select("vec_id", "v")
    def shifted(offset: Long) = corpus.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + offset).as("vec_id"),
        expr("transform(v, x -> x + 3.0d)").as("v"))
    IvfIndex.initServing(base, root, c = 16, iters = 2)
    assert(IvfIndex.currentGen(root) == "gen_1")
    IvfIndex.appendToServing(spark, root, shifted(1000000L))
    // RED: the +3.0-shifted batch is a distribution the gen_1
    // centroids cannot summarize — cells that took new rows flag.
    def flagged(dir: String, isNew: org.apache.spark.sql.Column) = {
      val card = IvfIndex.driftCard(spark, dir, isNew, 1.5).collect()
      (card.count(_.getAs[Long]("n_new") > 0),
        card.map(_.getAs[Int]("retrain").toLong).sum)
    }
    val (redCells, redFlags) = flagged(IvfIndex.servingDir(root),
      col("vec_id") >= 1000000L)
    assert(redCells > 0 && redFlags > 0,
      s"drifted append did not flag ($redCells cells, $redFlags flags)")
    // Probe handle resolved BEFORE the swap — continuity means it
    // keeps serving the old generation's exact results after.
    val oldDir = IvfIndex.servingDir(root)
    def probe(dir: String) = IvfIndex.probeIndex(spark, dir, queries,
      nprobe = 4, topk = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val preSwap = probe(oldDir)
    val gen2 = IvfIndex.retrainAndSwap(spark, root, c = 16, iters = 2)
    assert(gen2 == "gen_2" && IvfIndex.currentGen(root) == "gen_2")
    assert(IvfIndex.servingDir(root).endsWith("gen_2"))
    // Continuity: the old generation is retained and immutable — the
    // pre-swap handle returns bit-identical neighbors; and a reader
    // resolves exactly ONE generation (old or new), never a mix,
    // because resolution is one pointer read.
    assert(probe(oldDir) == preSwap && preSwap.nonEmpty)
    // The new generation serves the SAME corpus (row-complete swap).
    val newDir = IvfIndex.servingDir(root)
    assert(spark.read.parquet(s"$newDir/cells").count() ==
      spark.read.parquet(s"$oldDir/cells").count())
    // Recall vs exact brute-force cosine over the current corpus:
    // retraining must not lose recall relative to the drifted index.
    val pool = spark.read.parquet(s"$newDir/cells")
      .select(col("vec_id"), col("v"))
      .withColumn("nv", VectorFns.norm(col("v")))
    val exact = VectorFns.rerankTopK(
      pool.crossJoin(broadcast(queries
        .withColumn("nq", VectorFns.norm(col("qv"))))),
      topk = 3, dedup = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(dir: String) =
      probe(dir).intersect(exact).size.toDouble / exact.size
    assert(recall(newDir) >= recall(oldDir),
      s"retrain lost recall: ${recall(newDir)} < ${recall(oldDir)}")
    // GREEN, twice over: (1) epoch rule — nothing appended since the
    // retrain, so the card with an empty new-set flags nothing;
    // (2) the SAME class of drifted append that flagged red against
    // gen_1 is quiet against the retrained centroids, which now
    // summarize the shifted region.
    val epoch = IvfIndex.driftCard(spark, newDir, lit(false), 1.5)
      .collect()
    assert(epoch.forall(_.getAs[Int]("retrain") == 0))
    IvfIndex.appendToServing(spark, root, shifted(2000000L))
    val (greenCells, greenFlags) = flagged(IvfIndex.servingDir(root),
      col("vec_id") >= 2000000L)
    assert(greenCells > 0 && greenFlags < redFlags,
      s"retrain did not absorb the drift ($greenFlags vs $redFlags)")
    assert(greenFlags <= greenCells / 2,
      s"post-retrain card still mostly red: $greenFlags/$greenCells")
  }

  test("generation GC keeps the newest generations and ALWAYS the " +
      "serving one; the retained index keeps probing; bad keep refuses") {
    val root = "/tmp/graft_ivf_gc_spec"
    graft.sources.Formats.deleteRecursively(new java.io.File(root))
    IvfIndex.initServing(corpus.select("vec_id", "v"), root,
      c = 16, iters = 2)
    // Two retrains → three generations on disk, serving gen_3.
    IvfIndex.retrainAndSwap(spark, root, c = 16, iters = 2)
    IvfIndex.retrainAndSwap(spark, root, c = 16, iters = 2)
    assert(IvfIndex.currentGen(root) == "gen_3")
    def gens() = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("gen_")).sorted.toSeq
    assert(gens() == Seq("gen_1", "gen_2", "gen_3"))
    // keep=5 is a no-op; keep=0 refuses.
    assert(IvfIndex.gcGenerations(root, keep = 5).isEmpty)
    intercept[IllegalArgumentException] {
      IvfIndex.gcGenerations(root, keep = 0)
    }
    // keep=1 retires gen_1 and gen_2; the serving generation stays
    // probe-complete (full top-k per query on the retained index).
    assert(IvfIndex.gcGenerations(root, keep = 1) ==
      Seq("gen_1", "gen_2"))
    assert(gens() == Seq("gen_3") &&
      IvfIndex.currentGen(root) == "gen_3")
    val probed = IvfIndex.probeIndex(spark, IvfIndex.servingDir(root),
      queries, nprobe = 4, topk = 3).collect()
    assert(probed.length == queries.count() * 3)
    // GC is idempotent once at the retention floor.
    assert(IvfIndex.gcGenerations(root, keep = 1).isEmpty)
  }

  test("seeding is id-range-agnostic: a corpus whose ids start far " +
      "from zero trains a full index (the old vec_id<c rule trained " +
      "an empty one) and probes return complete top-k") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    val corpus = t.embeddings
      .select((col("vec_id") + 1000000L).as("vec_id"),
        VectorFns.toDouble(col("embedding")).as("v"))
    val (cells, cents) = IvfIndex.build(corpus, c = 16, iters = 2)
    assert(cents.count() > 0, "offset-id corpus must still seed")
    // Every corpus row lands in exactly one cell.
    assert(cells.count() == corpus.count())
    val queries = corpus.filter(col("vec_id") < 1000010L)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val dir = "/tmp/graft_ivf_offset_ids"
    graft.sources.Formats.deleteRecursively(new java.io.File(dir))
    IvfIndex.writeIndex(corpus, dir, c = 16, iters = 2)
    val probed = IvfIndex.probeIndex(spark, dir, queries,
      nprobe = 4, topk = 3).collect()
    assert(probed.length == queries.count() * 3)
    graft.sources.Formats.deleteRecursively(new java.io.File(dir))
  }

  test("seeding on dense 0-based ids matches the historical rule: " +
      "cell ids are exactly the first c vec_ids") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    val (_, cents) = IvfIndex.build(corpus, c = 16, iters = 2)
    // 16 cells numbered 0..15 — byte-compatible with every persisted
    // layout built under the old vec_id<c seed rule.
    assert(cents.select("cell").collect().map(_.getInt(0)).sorted
      .toSeq == (0 until 16))
  }
}
