package graft.ann

import graft.functions.VectorFns.dot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed IVF×PQ index — [[IvfIndex]] coarse cells plus
  * [[PqIndex]] codebooks trained on the RESIDUALS v − c(v). ONE
  * spelling of the composition (residual arithmetic, training
  * parameters threading, the dot(q,c) probe constant) shared by the
  * in-query build (s_ann_ivfpq) and the persisted-index probe
  * (s_ann_ivfpq_probe) so the two can never diverge.
  *
  * Query-time decomposition (exact, not an approximation of the
  * ranking key): dot(q, v) = dot(q, c(v)) + dot(q, v − c(v)). The
  * first term is one number per (query, probed cell); the second is
  * ADC'd from the query's LUT over the residual codebooks.
  *
  * On-disk serving layout: codes partitioned BY CELL (a probe reads
  * nprobe/C of the code directories via dynamic partition pruning —
  * and each code row is M small ints, 64× under the float vector),
  * plus the two broadcast-sized codebook/centroid tables. At 100 TB
  * the float corpus is touched only to fetch the ≤topn·|queries|
  * re-rank candidates by vec_id.
  */
object IvfPqIndex {

  /** Train both quantizers.
    * @return (cells: (vec_id, cell, v) — checkpointed one-pass
    *         assignment, centroids, codes: (vec_id, m, cid),
    *         codebooks) */
  def build(corpus: DataFrame, c: Int, iters: Int, m: Int, s: Int,
      k: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (cells0, centroids) = IvfIndex.build(corpus, c, iters)
    // The cell assignment feeds both the residual build and the
    // candidate cell restriction — materialize the one corpus pass
    // (only the columns downstream reads).
    val cells = cells0.select("vec_id", "cell", "v").localCheckpoint()
    val (codes, cent) = residualPq(cells, centroids, m, s, k, iters)
    (cells, centroids, codes, cent)
  }

  /** The COMPOSED leg alone: PQ codebooks trained on the residuals
    * v − c(v) of an already-trained coarse quantizer. Residuals
    * rounded to 6dp — the IvfIndex/PqIndex float-order rule, so a
    * re-run cannot flip a code assignment. */
  def residualPq(cells: DataFrame, centroids: DataFrame, m: Int,
      s: Int, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val resid = cells.join(broadcast(centroids), "cell")
      .select(col("vec_id"),
        expr("transform(zip_with(v, cv, (a, b) -> a - b)," +
          " x -> round(x, 6))").as("v"))
    PqIndex.build(resid, m, s, k, iters)
  }

  /** The coarse quantizer from [[IvfIndex.sharedIndex]] (the same
    * layout as s_ann_ivf_probe): (cells with vectors, centroids). One
    * coarse training serves every index variant composed over it. */
  def coarseFromSharedCache(t: graft.Tables): (DataFrame, DataFrame) = {
    val dir = IvfIndex.sharedIndex(t)
    (t.spark.read.parquet(s"$dir/cells")
       .select(col("vec_id"), col("cell"), col("v")),
     t.spark.read.parquet(s"$dir/centroids"))
  }

  /** The per-(query, probed cell) exact dot(q, c) term; doubles as
    * the cell restriction for [[PqIndex.adcCandidates]]. */
  def probeConst(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    IvfIndex.probes(queries.select("qid", "qv"), centroids, nprobe)
      .join(broadcast(centroids), "cell")
      .select(col("qid"), col("cell"),
        round(dot(col("qv"), col("cv")), 6).as("qc"))

  /** Persist the serving index: cell-partitioned codes + the tiny
    * codebook and centroid tables. */
  def writeIndex(corpus: DataFrame, dir: String, c: Int, iters: Int,
      m: Int, s: Int, k: Int): Unit = {
    val (cells, centroids, codes, cent) = build(corpus, c, iters, m, s, k)
    codes.join(cells.select("vec_id", "cell"), "vec_id")
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes")
    cent.write.mode("overwrite").parquet(s"$dir/codebooks")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Top-k cosine search against a persisted index. `queries` carries
    * (qid, qv); `corpus` supplies (vec_id, v, nv) for the exact
    * re-rank of the ADC top-`topn` candidates only. */
  def probeIndex(spark: SparkSession, dir: String, queries: DataFrame,
      corpus: DataFrame, s: Int, nprobe: Int, topn: Int,
      topk: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val cent = spark.read.parquet(s"$dir/codebooks")
    val codes = spark.read.parquet(s"$dir/codes")
    val adcTop = PqIndex.adcCandidates(codes, cent, queries, s, topn,
      cellConst = Some(probeConst(queries, centroids, nprobe)))
    graft.functions.VectorFns.rerankTopK(
      adcTop.join(corpus, "vec_id")
        .join(queries.withColumn("nq",
          graft.functions.VectorFns.norm(col("qv"))), "qid"),
      topk, dedup = false)
  }
}
