package graft.ann

import graft.functions.VectorFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF coarse quantizer: deterministic distributed k-means over an
  * embedding DataFrame (`vec_id`, `v: array<double>`).
  *
  * Scale design: centroids are O(C·dim) — always broadcast; the
  * corpus is only ever touched by map-side assignment passes (cross
  * join against the broadcast centroid table + per-row argmin), and
  * the Lloyd update is one posexplode + (cell, dim) aggregation, so
  * each iteration is a single shuffle of (cell, dim, component)
  * triples. Determinism: seeds are the first C vec_ids, every
  * distance is ranked on round(·, 6) with the cell id as tiebreak,
  * and updated centroid components are rounded to 6dp so float
  * summation order cannot flip an assignment between runs.
  *
  * Reference analog: tigraph/tidb has no vector index; this is the
  * pipeline-mandate ANN scale path (SURVEY §2) modeled on the
  * classic IVF-flat layout.
  */
object IvfIndex {

  /** Squared-L2 ranking key (monotone in true distance for fixed
    * query): |c|^2 - 2 v·c. The |c|^2 term is constant per centroid,
    * so callers precompute it once into a `cc` column ([[withCC]]) —
    * paying C dot products instead of |corpus|·C per assignment pass
    * (the rounding happens on the same doubles, so assignments and
    * hashes are unchanged). */
  private def distKey(v: org.apache.spark.sql.Column,
      cv: org.apache.spark.sql.Column,
      cc: org.apache.spark.sql.Column) =
    round(cc - lit(2.0) * dot(v, cv), 6)

  private def withCC(centroids: DataFrame): DataFrame =
    centroids.withColumn("cc", dot(col("cv"), col("cv")))

  /** Nearest-cell assignment of `points`: the centroid table is
    * O(C·dim) — collected once to the driver (the graph loops'
    * bounded-scalar contract) and embedded as LITERAL candidate
    * structs, so the per-point argmin runs as a pure whole-stage-
    * codegen expression and the corpus NEVER shuffles. The previous
    * crossJoin(broadcast) + groupBy(idCol) shape partial-aggregated
    * the C candidate rows map-side but still pushed every corpus row
    * through a vec_id exchange — a full-corpus shuffle per
    * assignment pass (once per Lloyd iteration plus the final
    * assignment) for an argmin that never needed to leave the row.
    * Equivalence: the distance key (round(cc − 2·v·cv, 6)), the cc
    * precompute and the cell tiebreak are the same expressions over
    * the same doubles (cc is collected from the same withCC column),
    * and array_min over struct(key, cell) selects exactly
    * min_by(cell, struct(key, cell)) — assignments are bit-identical,
    * so every persisted layout, probe ranking and pinned recall is
    * unchanged (IvfIndexSpec re-proves the equalities).
    *
    * `vec_id` contract: `idCol` is NOT a uniqueness key. Every input
    * row yields exactly one output row, so a repeated `vec_id` is
    * kept as separate rows (possibly in different cells); nothing
    * here deduplicates. Callers that need unique ids dedup first. */
  private def assign(points: DataFrame, centroids: DataFrame,
      idCol: String, vCol: String): DataFrame = {
    val cents = withCC(centroids)
      .select(col("cell"), col("cv"), col("cc")).collect()
    require(cents.nonEmpty,
      "assign: empty centroid table (corrupt or untrained index)")
    val candidates = cents.toSeq.map { r =>
      struct(
        round(lit(r.getDouble(2)) -
          lit(2.0) * dot(col(vCol), lit(r.getSeq[Double](1).toArray)), 6)
          .as("k"),
        lit(r.getInt(0)).as("cell"))
    }
    val others = points.columns.filter(_ != idCol).map(c => col(c))
    points.select(col(idCol) +:
      array_min(array(candidates: _*)).getField("cell").as("cell") +:
      others: _*)
  }

  /** Build the index: (corpus with `cell` column, centroid table). */
  def build(corpus: DataFrame, c: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    // Lloyd iterations only consume (vec_id, v) — strip any extra
    // caller columns (e.g. precomputed norms) so the per-iteration
    // crossJoin/aggregation doesn't drag them through; the FINAL
    // assignment below carries the full row set into the cells.
    val lean = corpus.select(col("vec_id"), col("v"))
    // Deterministic seeding, two tiers. The historical rule — rows
    // with vec_id < c seed cells AT their id values — is kept
    // whenever it applies, so every persisted layout and pinned
    // recall stays byte-identical. But on a corpus whose ids ALL
    // exceed c (production keys starting at 10^6), that filter is
    // EMPTY and the old code trained an empty index — silent total
    // loss for the serving layout: every later append crossJoined an
    // empty broadcast and vanished. The fallback seeds from the c
    // SMALLEST ids, renumbered to cells 0..c−1 (the window runs on
    // ≤ c rows). A corpus with zero rows is refused loudly either way.
    val inRange = lean.filter(col("vec_id") < c)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
    var centroids =
      if (!inRange.isEmpty) inRange
      else {
        val seed = lean.orderBy("vec_id").limit(c)
        require(!seed.isEmpty,
          "cannot train an IVF index from an empty corpus")
        seed.select((row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .as("cell"), col("v").as("cv"))
      }
    for (_ <- 1 to iters) {
      val assigned = assign(lean, centroids, "vec_id", "v")
      centroids = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy("cell", "j").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(j, m)))," +
          " s -> round(s.m, 6))").as("cv"))
    }
    // The returned centroid table is C rows but its PLAN is the whole
    // Lloyd chain — callers reference it several times (final assign,
    // probe ranking, residual joins), and each action would re-run
    // every iteration. Materialize the tiny table once.
    // Caller-managed cp (not scoped): the centroid table outlives
    // build() in every caller. Under a reliable checkpoint dir this
    // leaves one C-row file per (re)train — bounded by generation
    // count, cleaned with the checkpoint dir like the graph loops.
    val finalCents = graft.tools.Reliable.cp(centroids)
    (assign(corpus, finalCents, "vec_id", "v"), finalCents)
  }

  /** The persisted IVF index over a warehouse's embeddings (16 cells,
    * 2 Lloyd iterations), built once per source fingerprint and
    * returned as its dir — the ONE spelling shared by every reader of
    * the coarse quantizer (s_ann_ivf_probe, s_knn_graph_ivf,
    * d_dedup_semantic, q_show_index,
    * IvfPqIndex.coarseFromSharedCache), so none can key or build the
    * same index differently. */
  def sharedIndex(t: graft.Tables): String =
    graft.sources.Layouts.once(graft.sources.Layouts.root(
        "ivf_c16_i2", t.dir, s"${t.dir}/embeddings.parquet")) {
      writeIndex(t.fan(t.embeddings)
        .select(col("vec_id"), toDouble(col("embedding")).as("v")), _,
        16, 2)
    }

  /** Persist the index as a warehouse layout: corpus vectors
    * partitioned BY CELL (so a probe touches only its cells'
    * directories) plus the broadcast-sized centroid table. This is
    * the on-disk shape of the IVF inverted lists — at 100 TB each
    * cell directory is a self-contained shard and probing k of C
    * cells reads k/C of the bytes. */
  def writeIndex(corpus: DataFrame, dir: String, c: Int,
      iters: Int): Unit = {
    val (cells, centroids) = build(corpus, c, iters)
    // Norms are cheap to recompute at probe time (probeIndex does,
    // unconditionally) — persisting them would grow every cell shard
    // by a double per vector for a column the probe scan never reads.
    cells.drop("nv").write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/cells")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Top-k cosine search against a persisted index: queries pick
    * their `nprobe` cells, and the cell-partitioned corpus is read
    * with dynamic partition pruning from the broadcast probe side —
    * non-probed cell directories are never scanned (spec-asserted). */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, nprobe: Int, topk: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    // Vector norms are computed once per side in a projection — the
    // index deliberately does not persist them (writeIndex), so the
    // read stays schema-stable and the re-rank still pays exactly one
    // dot product per (query, candidate) pair.
    val cells = spark.read.parquet(s"$dir/cells")
      .withColumn("nv", norm(col("v")))
    val probed = probes(
      queries.withColumn("nq", norm(col("qv"))), centroids, nprobe)
    rerankTopK(cells.join(broadcast(probed), "cell"), topk, dedup = true)
  }

  /** Top-k probe over the serving generation PLUS a streaming delta
    * layout ([[graft.streaming.Streams.vectorIngestSink]]'s
    * exactly-once `ingest_batch=`/`cell=` partitions): candidates
    * are gathered from EACH cell-partitioned scan separately — so
    * dynamic partition pruning applies to base and delta
    * independently — and re-ranked through the one shared exact
    * kernel. Equal by construction to probing an index the deltas
    * were physically appended into (assignment at fixed centroids is
    * per-row; re-rank is exact within the probed cells) — the
    * stream-equals-batch-append property StreamingSpec pins. */
  def probeWithDeltas(spark: org.apache.spark.sql.SparkSession,
      dir: String, deltaDir: String, queries: DataFrame, nprobe: Int,
      topk: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val probed = probes(
      queries.withColumn("nq", norm(col("qv"))), centroids, nprobe)
    def cands(cells: DataFrame) =
      cells.select(col("cell"), col("vec_id"), col("v"))
        .withColumn("nv", norm(col("v")))
        .join(broadcast(probed), "cell")
    val baseCells = spark.read.parquet(s"$dir/cells")
    // An absent delta layout is the NORMAL post-compaction steady
    // state (autoRetrainSink retires absorbed deltas after a swap) —
    // the serving read path degrades to base-only, not to a crash.
    val deltaCells = graft.sources.Formats.readParquetOr(
      spark, deltaDir)(
      baseCells.select("cell", "vec_id", "v").limit(0))
    rerankTopK(cands(baseCells).unionByName(cands(deltaCells)),
      topk, dedup = true)
  }

  /** Incremental maintenance: ADD-BATCH WITHOUT RETRAIN. New vectors
    * are assigned to the EXISTING centroid table (one broadcast
    * argmin pass over the batch only) and appended to the cell
    * partitions — a production serving index takes vector deltas
    * hourly, and retraining per batch would re-read the whole
    * corpus; retraining is a DRIFT-gated decision ([[driftCard]]),
    * not a per-batch cost. Because probing ranks candidates by
    * exact dot products within the probed cells, a probe after
    * append returns exactly what a full rebuild AT THE SAME
    * CENTROIDS would return (IvfIndexSpec proves the equality);
    * what degrades as the data distribution drifts is cell BALANCE
    * and residual size — which is what the drift card watches.
    * Appends follow [[assign]]'s `vec_id` contract: a batch id that
    * repeats within the batch, or is already indexed, lands as one
    * more row — an append never deduplicates (IvfIndexSpec pins it). */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): Unit = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val assigned = assign(batch, centroids, "vec_id", "v").drop("nv")
    // Align to the on-disk column set when cells already exist (an
    // appended generation must not fork the schema); a fresh dir —
    // assignment-at-fixed-centroids from scratch — takes the batch
    // columns as the schema.
    val cellsPath = s"$dir/cells"
    val aligned =
      if (new java.io.File(cellsPath).exists())
        assigned.select(spark.read.parquet(cellsPath).columns.map(col): _*)
      else assigned
    aligned.write.partitionBy("cell").mode("append").parquet(cellsPath)
  }

  // ----- Serving generations: retrain-and-swap (the drift card's
  // second half). Layout: root/gen_N/{cells,centroids} — immutable
  // once trained — plus root/CURRENT, a one-line pointer file that
  // names the serving generation and is flipped by an ATOMIC rename.
  // Probe continuity falls out of the layout: a probe resolves
  // CURRENT once (at plan time) and then reads only that
  // generation's files, so queries in flight across a swap see
  // either the old or the new generation in full — never a mix —
  // and old generations are RETAINED (a reader holding a resolved
  // dir keeps working; GC is a separate safepoint decision, the
  // time-travel discipline). Appends land in the serving generation
  // (appendToIndex semantics unchanged); retrain reads the serving
  // generation's WHOLE current corpus (base + appended), trains
  // fresh centroids, writes gen_N+1, and flips the pointer — after
  // which nothing has been appended since training, so the drift
  // card's "new since last (re)train" epoch resets to empty.

  /** The serving generation name (e.g. "gen_2") from the pointer. */
  def currentGen(root: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "CURRENT")), "UTF-8").trim

  /** The serving generation's index dir — resolve ONCE per probe. */
  def servingDir(root: String): String = s"$root/${currentGen(root)}"

  /** Atomic pointer flip: write aside, rename over. rename(2) on one
    * filesystem replaces the target atomically — a concurrent
    * [[currentGen]] read sees the old or the new pointer, never a
    * torn write. */
  private def writePointer(root: String, gen: String): Unit = {
    new java.io.File(root).mkdirs()
    val tmp = java.nio.file.Paths.get(root, ".CURRENT.tmp")
    java.nio.file.Files.write(tmp, s"$gen\n".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(root, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Train generation 1 from `corpus` and point CURRENT at it. The
    * training parameters persist beside the pointer so every later
    * compaction retrains at the layout's DECLARED capacity: deriving
    * c from the serving centroid count would ratchet the cluster
    * count down monotonically (Lloyd drops empty cells, the next
    * retrain reads the shrunken count, and so on — no floor). */
  def initServing(corpus: DataFrame, root: String, c: Int,
      iters: Int): Unit = {
    writeIndex(corpus, s"$root/gen_1", c, iters)
    new java.io.File(root).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "PARAMS"),
      s"$c $iters\n".getBytes("UTF-8"))
    writePointer(root, "gen_1")
  }

  /** The layout's declared (c, iters), or None for a pre-PARAMS
    * layout (callers fall back to observed counts). */
  def servingParams(root: String): Option[(Int, Int)] = {
    val p = java.nio.file.Paths.get(root, "PARAMS")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val parts = new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8").trim.split("\\s+")
      Some((parts(0).toInt, parts(1).toInt))
    }
  }

  /** Append a batch to the SERVING generation at fixed centroids. */
  def appendToServing(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame): Unit =
    appendToIndex(spark, servingDir(root), batch)

  /** Generation GC — the serving layout's janitor (retention over
    * root/gen_N; without it every retrain leaves a full corpus copy
    * forever — the time-travel discipline without its safepoint).
    * Keeps the newest `keep` generations AND always the one CURRENT
    * points at (a rolled-back pointer must never have its target
    * collected under it); deletes the rest and returns their names.
    * GC IS the safepoint decision: a reader that resolved a retired
    * generation before the GC fails after it, so run it only when no
    * in-flight reader can hold a handle older than `keep` swaps —
    * exactly the contract of dropping time-travel versions past the
    * GC safepoint. */
  def gcGenerations(root: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"gcGenerations needs keep >= 1 (got $keep): " +
      "collecting every generation would leave nothing to serve")
    val cur = currentGen(root)
    val gens = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .map(_.getName)
      .filter(_.matches("gen_\\d+"))
      .sortBy(_.stripPrefix("gen_").toInt)
      .toSeq
    require(gens.contains(cur),
      s"serving pointer names $cur but the generation dir is absent")
    val retained = gens.takeRight(keep).toSet + cur
    val victims = gens.filterNot(retained)
    victims.foreach(g => graft.sources.Formats.deleteRecursively(
      new java.io.File(s"$root/$g")))
    victims
  }

  /** Nearest-cell assignment of `batch` at an index's FIXED
    * centroids WITHOUT writing — one broadcast argmin pass over the
    * batch; the streaming ingest sink's building block (it owns the
    * exactly-once write discipline itself). */
  def assignAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    assign(batch, spark.read.parquet(s"$dir/centroids"), "vec_id", "v")

  /** Retrain-and-swap: re-read the serving generation's full current
    * corpus (ONE scan of its cell shards — at 100 TB this is the
    * one unavoidable full pass a retrain is), run the same
    * deterministic k-means from scratch, write the rebuilt index
    * under gen_N+1, and atomically flip CURRENT. Returns the new
    * generation name. The old generation stays on disk untouched —
    * probes that resolved it before the flip finish against it. */
  def retrainAndSwap(spark: org.apache.spark.sql.SparkSession,
      root: String, c: Int, iters: Int): String =
    retrainAndSwapFrom(root,
      spark.read.parquet(s"${servingDir(root)}/cells")
        .select("vec_id", "v"), c, iters)

  /** [[retrainAndSwap]] with the training corpus provided explicitly
    * — the streaming COMPACTION path: the auto-retrain loop trains
    * gen_N+1 from base ∪ the un-absorbed ingest deltas, so the new
    * generation's base covers every streamed vector and the delta
    * layout can retire after the flip. */
  def retrainAndSwapFrom(root: String, corpus: DataFrame, c: Int,
      iters: Int): String = {
    val next = s"gen_${currentGen(root).stripPrefix("gen_").toInt + 1}"
    writeIndex(corpus, s"$root/$next", c, iters)
    writePointer(root, next)
    next
  }

  /** Per-cell inertia card over a (possibly appended) index: cell
    * size and mean squared L2 distance to the cell centroid, split
    * by generation (`is_new` = the append marker predicate), plus
    * the per-cell RETRAIN signal — inertia of the appended
    * generation ALONE over the base generation's (a whole-cell
    * average would dilute a drifted 5% append under 95% healthy
    * base mass). Rising new-generation inertia means the fixed
    * centroids no longer summarize what is arriving (assignment
    * stays exact-by-rerank, but probes read more bytes per recall
    * point) — the classic "retrain when inertia grows" IVF
    * maintenance rule. Retrain fires only where appended rows
    * exist: growth > cap, or a base-less / zero-inertia-base cell
    * (no healthy yardstick to compare against); untouched cells are
    * never flagged. One scan of the cell shards, map-combined per
    * (cell, generation); centroids broadcast. */
  def driftCard(spark: org.apache.spark.sql.SparkSession, dir: String,
      isNew: org.apache.spark.sql.Column,
      growthCap: Double): DataFrame =
    driftCardOf(spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/centroids"), isNew, growthCap)

  /** [[driftCard]] over in-plan frames — the streaming-metric form:
    * the ingest sink's consumers hand it base ∪ delta cells so the
    * card watches a LIVE streamed index without a physical append
    * (same arithmetic, one definition). */
  def driftCardOf(cellRows: DataFrame, centroids: DataFrame,
      isNew: org.apache.spark.sql.Column,
      growthCap: Double): DataFrame = {
    val cells = cellRows
    val cents = withCC(centroids)
    cells.join(broadcast(cents), "cell")
      .select(col("cell"), isNew.as("is_new"),
        // Squared L2 = |v|^2 - 2 v·c + |c|^2, rounded like distKey
        // so the card is deterministic across runs.
        round(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv"))
          + col("cc"), 6).as("d2"))
      .groupBy("cell")
      .agg(
        sum(when(col("is_new"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        round(avg(when(!col("is_new"), col("d2"))), 6)
          .as("inertia_base"),
        round(avg(when(col("is_new"), col("d2"))), 6)
          .as("inertia_new"))
      .withColumn("growth",
        round(col("inertia_new") /
          nullif(col("inertia_base"), lit(0.0)), 6))
      .withColumn("retrain",
        when(col("n_new") === 0L, 0)
          .when(col("growth").isNull, 1)
          .otherwise((col("growth") > growthCap).cast("int")))
  }

  /** The `nprobe` nearest cells per query: every query column is
    * passed through (callers carry precomputed norms alongside qv). */
  def probes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(distKey(col("qv"), col("cv"), col("cc")), col("cell"))
    val passthrough = queries.columns.map(col).toSeq :+ col("cell")
    queries.crossJoin(broadcast(withCC(centroids)))
      .withColumn("rnc", row_number().over(w))
      .filter(col("rnc") <= nprobe)
      .select(passthrough: _*)
  }
}
