package graft.dedup

import graft.{Q, Tables}
import graft.functions.TextFns
import graft.sources.Layouts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication suite for LLM training-data pipelines (SURVEY §2).
  *
  * Scale design: every variant reduces a document to a short
  * fingerprint / signature map-side, then shuffles only
  * (signature, doc_id) pairs — full text never crosses the network.
  * Candidate generation is banded (LSH) so pair enumeration is
  * bounded per bucket, never corpus².
  */
object DedupQueries {

  /** Per-JVM memo of d_dedup_cluster's blocking-key Graph — the
    * Graph.derived pattern for the dedup-finalization graph: the
    * three blocking keys are built in ONE text scan (explode over a
    * key array — the union-of-three-selects shape read and hashed
    * the full text three times; gapped r13 re-measures pinned that
    * at ~4.0 s, all of it ahead of the CC loop), the (doc, rep)
    * edges checkpoint once per (session, dir), and the memoized
    * INSTANCE shares its bothCp materialization across runs — a
    * fresh Graph(edges) per run re-ran the scan AND rebuilt the
    * undirected table every time. Pure derivation of the immutable
    * documents table; stopped sessions evicted on access. */
  private val clusterGraphMemo =
    new graft.tools.SessionMemo[String, graft.graph.Graph]

  private def clusterGraph(t: Tables): graft.graph.Graph =
    clusterGraphMemo.get(t.spark, t.dir) {
      val k = t.documents.select(col("doc_id"), explode(array(
          md5(col("text").cast("binary")),
          md5(TextFns.normalize(col("text")).cast("binary")),
          concat_ws(":", col("lang"), col("n_chars")))).as("key"))
      val rep = k.groupBy("key").agg(min(col("doc_id")).as("rep"))
      graft.graph.Graph(k.join(rep, "key")
        .select(col("doc_id").as("src"), col("rep").as("dst"))
        .localCheckpoint())
    }

  /** MinHash signatures, k=64 permutations over 5-char shingles,
    * fused into a single kernel pass per document
    * (functions/ShingleHashes.scala MinHashKernel): the k running
    * minima never leave the row, so signature building is pure
    * map-side work — no exploded (doc, shingle) rows, no k aggregate
    * columns, no shuffle until banding. (History: nested HOF lambdas
    * cost 96 s at sf0.1; explode + 64 codegen'd mins cost ~5 s; the
    * fused kernel is sub-second.) */
  private def minhashSigs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        TextFns.minhashSignature(col("text"), 5, 64).as("sigs"))
      .filter(size(col("sigs")) > 0)
      // Deliberate materialization point: the signature table feeds
      // three consumers (banding + both sides of the candidate-pair
      // join); the exchange makes them share ONE kernel pass via
      // ReusedExchange instead of re-hashing the corpus per branch.
      // Shuffle payload is (doc_id, 64 longs) — tiny at any scale.
      .repartition(col("doc_id"))

  /** 64-bit SimHash over tokens: majority vote per bit position of
    * each token's xxhash64 — same explode + 64-codegen-aggregate
    * shape as minhashSigs (the nested-HOF form cost 1009 s at sf0.1;
    * this runs in seconds and scales map-side). */
  private[graft] def simhash(docs: DataFrame): DataFrame = {
    val tokHash = docs
      .select(col("doc_id"),
        explode(TextFns.wordShingleHashes(col("text"), 1)).as("h"))
    // Per-bit ONES counts, not ±1 votes: sum((h>>i)&1) drops the
    // per-token-per-bit conditional from the 64 aggregate update
    // expressions (64 branches/row → 64 shift-and-adds/row, §4
    // cheaper codegen in the kernel every consumer pays). The
    // majority test is algebraically identical in exact integer
    // arithmetic: old vote b_i = ones−(n−ones) = 2·ones−n, and
    // b_i >= 0 ⟺ 2·ones_i >= n — same bits, same hashes.
    val votes: Seq[org.apache.spark.sql.Column] = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1)).as(s"b_$i"))
    tokHash.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), votes: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b_$i") * 2 >= col("n"), lit(1L << i))
            .otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** MinHash-LSH candidate pairs with signature-estimated Jaccard —
    * the d_dedup_minhash pipeline body, shared with d_dedup_eval so
    * the evaluated detector IS the shipped detector. Candidates via
    * banded self-join (codegen hash join on the band hash) carrying
    * the signatures along — no per-bucket nested-lambda pair
    * expansion, no re-join back to the signature table. Agreement
    * scoring is the codegen SigAgreement kernel (the interpreted
    * zip_with fold was ~3 s of the sf0.1 bench). */
  /** Banded k=64 signatures — (doc_id, sigs, band, bhash), 16 rows
    * per doc (16 bands × 4 sig rows): ONE spelling of the
    * d_dedup_minhash LSH layout, shared by the batch pair generator
    * and the streaming near-dup index
    * ([[graft.streaming.Streams.neardupIngestSink]]) so the two can
    * never band the same signature differently. */
  private[graft] def bandedSigs(docs: DataFrame): DataFrame =
    minhashSigs(docs).select(col("doc_id"), col("sigs"),
        posexplode(expr(
          "transform(sequence(0, 15), j -> xxhash64(j, slice(sigs, j * 4 + 1, 4)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")

  /** Signature-agreement estimate of Jaccard — `|matching rows| / 64`
    * via the codegen'd SigAgreement kernel; one spelling for every
    * consumer of banded candidates. */
  private[graft] def estJaccard(s1: org.apache.spark.sql.Column,
      s2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.SigAgreement(
        org.apache.spark.sql.GraftSqlShim.expr(s1),
        org.apache.spark.sql.GraftSqlShim.expr(s2))) / 64.0

  private def minhashPairs(docs: DataFrame): DataFrame = {
    val banded = bandedSigs(docs)
    val a = banded.select(col("band"), col("bhash"),
      col("doc_id").as("id1"), col("sigs").as("s1"))
    val b = banded.select(col("band"), col("bhash"),
      col("doc_id").as("id2"), col("sigs").as("s2"))
    a.join(b, Seq("band", "bhash")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(estJaccard(col("s1"), col("s2")), 4).as("est_jaccard"))
      .distinct()
  }

  /** EXACT Jaccard over the same 5-char shingle-hash sets the MinHash
    * signatures sketch — the ground truth for d_dedup_eval. Same
    * df-capped posting-list pairing shape as [[shinglePairs]], on
    * char-5 hashes instead of word 3-grams. */
  private def exactCharJaccard(docs: DataFrame): DataFrame = {
    val kept = docs
      .select(col("doc_id"),
        explode(array_distinct(
          TextFns.charShingleHashes(col("text"), 5))).as("h"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("df") <= 1000)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val pairGen = kept.filter(col("df") > 1).select("h", "doc_id")
    val inter = pairGen.select(col("h"), col("doc_id").as("id1"))
      .join(pairGen.select(col("h"), col("doc_id").as("id2")), "h")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("id1"),
        col("set_size").as("sz1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"),
        col("set_size").as("sz2")), "id2")
      .select(col("id1"), col("id2"),
        (col("n_inter") /
          (col("sz1") + col("sz2") - col("n_inter"))).as("jaccard"))
  }

  /** Shared df-capped 3-gram posting-list pairing behind
    * d_ngram_jaccard (symmetric) and d_dedup_containment
    * (asymmetric): per-doc distinct shingle-hash sets, df per shingle
    * via ONE h-partitioned window exchange shared by every consumer
    * (sizes and both self-join sides ride ReusedExchange), posting
    * lists pruned at df ≤ 1000 with df = 1 skipped for pairing.
    * Returns (sizes: doc_id → set_size, inter: unordered candidate
    * pair → |A∩B|). One definition, so a cap/width tweak cannot
    * silently diverge between the two entries. */
  /** Per-session memo of the [[shinglePairs]] result — (sizes,
    * inter), both checkpointed: d_ngram_jaccard and
    * d_dedup_containment each re-ran the full shingle + df-window +
    * posting-list self-join build before their own scoring math,
    * and both tables are pure derivations of the immutable source
    * dir (the tfMemo discipline, one family over). */
  private val shingleMemo = new graft.tools.SessionMemo[
    String, (DataFrame, DataFrame)]

  private def shinglePairs(t: Tables): (DataFrame, DataFrame) =
    shingleMemo.get(t.spark, t.dir) {
      val withSets = t.fan(t.documents)
        .select(col("doc_id"),
          array_distinct(TextFns.wordShingleHashes(col("text"), 3))
            .as("hs"))
      val kept = withSets.select(col("doc_id"), explode(col("hs")).as("h"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .filter(col("df") <= 1000)
      val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
      val pairGen = kept.filter(col("df") > 1).select("h", "doc_id")
      val inter = pairGen.select(col("h"), col("doc_id").as("id1"))
        .join(pairGen.select(col("h"), col("doc_id").as("id2")), "h")
        .filter(col("id1") < col("id2"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
      (sizes.localCheckpoint(), inter.localCheckpoint())
    }

  /** The oracle twin of [[shinglePairs]]: the shared DuckDB CTE
    * prefix (raw 3-gram strings — the hash-as-bandwidth argument at
    * d_ngram_jaccard) ending in `sizes` and `inter`. */
  private val shinglePairsSql = """
      toks AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(ws) - 2),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END))
          AS h
        FROM toks),
      kept AS (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM g),
      k2 AS (SELECT doc_id, h, df FROM kept WHERE df <= 1000),
      sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM k2
                GROUP BY doc_id),
      pair_gen AS (SELECT h, doc_id FROM k2 WHERE df > 1),
      inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
        FROM pair_gen a JOIN pair_gen b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  lazy val all: Seq[Q] = Seq(

    // Exact dedup: group by content hash, keep the smallest id.
    // Shuffles (md5, doc_id) only.
    Q("d_dedup_exact", Some("""
      SELECT MD5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY MD5(text)
    """)) { t =>
      t.documents
        .select(md5(col("text").cast("binary")).as("fp"), col("doc_id"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // Normalized dedup: case/punctuation/whitespace-insensitive.
    Q("d_dedup_norm", Some("""
      SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM (SELECT doc_id,
              MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
            FROM documents) d
      GROUP BY fp
    """)) { t =>
      t.documents
        .select(col("doc_id"),
          md5(TextFns.normalize(col("text")).cast("binary")).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // Document fingerprinting: content + normalized digests + shape.
    Q("d_fingerprint", Some("""
      SELECT doc_id, MD5(text) AS fp_raw,
             MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_norm,
             CAST(LENGTH(text) AS INT) AS n_chars_fp
      FROM documents
    """)) { t =>
      t.documents.select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_raw"),
        md5(TextFns.normalize(col("text")).cast("binary")).as("fp_norm"),
        length(col("text")).as("n_chars_fp"))
    },

    // MinHash + LSH near-dup: 16 bands × 4 rows; candidate pairs
    // scored by signature agreement. Signature arithmetic is
    // engine-specific (xxhash64) → rows-only; the spec cross-checks
    // estimates against exact shingle Jaccard on a sample.
    Q("d_dedup_minhash", None) { t =>
      minhashPairs(t.fan(t.documents)).filter(col("est_jaccard") >= 0.35)
    },

    // DEDUP-QUALITY EVALUATION — precision/recall of the MinHash-LSH
    // detector against exact ground truth, the measurement every
    // production dedup pipeline ships with its threshold choice (you
    // tune bands/rows/τ against THIS card). Truth = exact Jaccard
    // over the SAME 5-char shingle sets the signatures sketch
    // (distinct-hash posting lists, df-capped like every pairing
    // pass), predicted = the d_dedup_minhash pipeline at the same
    // τ = 0.35; the full-outer pair join scores tp/fp/fn. At scale
    // both sides are the bounded pairing passes they already are —
    // the eval adds one ≤pairs-sized join. Signature arithmetic is
    // engine-specific → rows-only; the spec recomputes exact truth in
    // Scala and reproduces the confusion counts.
    Q("d_dedup_eval", None) { t =>
      import t.spark.implicits._
      // Evaluate on a deterministic CONSTANT-SIZE doc sample (the
      // 200 smallest by the Knuth hash coin — the q_stats_correlation
      // TakeOrdered cap): the truth side is an exact all-pairs
      // Jaccard, quadratic in sample size by nature, so the eval cost
      // must not grow with the corpus — at any real scale this card
      // runs on a fixed-size sample, and the sampled detector IS the
      // shipped pipeline applied to the sampled docs.
      val sample = t.fan(t.documents
        .orderBy(TextFns.knuthCoin(col("doc_id")), col("doc_id"))
        .limit(200))
      val pred = minhashPairs(sample).filter(col("est_jaccard") >= 0.35)
        .select(col("id1"), col("id2"), lit(1).as("p"))
      val truth = exactCharJaccard(sample).filter(col("jaccard") >= 0.35)
        .select(col("id1"), col("id2"), lit(1).as("tr"))
      val joined = pred.join(truth, Seq("id1", "id2"), "full_outer")
      joined.agg(
          sum(coalesce(col("tr"), lit(0))).cast("long").as("n_truth"),
          sum(coalesce(col("p"), lit(0))).cast("long").as("n_pred"),
          sum(when(col("p").isNotNull && col("tr").isNotNull, 1)
            .otherwise(0)).cast("long").as("tp"))
        .select(col("n_truth"), col("n_pred"), col("tp"),
          round(col("tp").cast("double") /
            greatest(col("n_pred"), lit(1L)), 4).as("precision"),
          round(col("tp").cast("double") /
            greatest(col("n_truth"), lit(1L)), 4).as("recall"))
    },

    // SimHash near-dup: hamming ≤ 3 found via 4×16-bit bands
    // (pigeonhole: ≤3 differing bits leave ≥1 band intact).
    Q("d_dedup_simhash", None) { t =>
      val sh = simhash(t.fan(t.documents))
      val banded = sh.select(col("doc_id"), col("simhash"),
          posexplode(expr(
            "transform(sequence(0, 3), j -> shiftright(simhash, j * 16) & 65535)")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")
      val a = banded.select(col("band"), col("bhash"),
        col("doc_id").as("id1"), col("simhash").as("h1"))
      val b = banded.select(col("band"), col("bhash"),
        col("doc_id").as("id2"), col("simhash").as("h2"))
      a.join(b, Seq("band", "bhash")).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          expr("bit_count(h1 ^ h2)").as("hamming")).distinct()
        .filter(col("hamming") <= 3)
    },

    // Exact n-gram Jaccard over hashed word-3-gram sets: explode →
    // inverted index → in-bucket pair counts → |A∩B|/(|A|+|B|-|A∩B|).
    // Scale controls (measured: unigrams give a 448M-row pair join at
    // sf0.1, 3-grams 2.8M): (a) 3-gram shingles keep buckets small;
    // (b) document-frequency pruning drops ubiquitous shingles
    // (df > 1000 carries no near-dup signal at any corpus size);
    // (c) df=1 singletons skip pair-gen entirely (can't intersect).
    // Shuffle carries (shingle_hash, doc_id) pairs only — never text.
    // Oracled since r8: the engine's jaccard is over xxhash64'd
    // shingles purely as a bandwidth optimization — set arithmetic
    // on 8-byte hashes instead of n-gram strings — so DuckDB
    // recomputes the IDENTICAL numbers over the raw 3-gram strings
    // (equal modulo 64-bit hash collisions: ~1e-9 at the gate's
    // corpus size; a collision would surface as a hash diff and be
    // investigated, which is exactly what an oracle is for).
    Q("d_ngram_jaccard", Some(s"""
      WITH $shinglePairsSql,
      scored AS (
        SELECT id1, id2,
               ROUND(CAST(n_inter AS DOUBLE) /
                 (s1.set_size + s2.set_size - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2)
      SELECT id1, id2, jaccard FROM scored WHERE jaccard >= 0.5
    """)) { t =>
      val (sizes, inter) = shinglePairs(t)
      inter
        .join(sizes.select(col("doc_id").as("id1"), col("set_size").as("sz1")), "id1")
        .join(sizes.select(col("doc_id").as("id2"), col("set_size").as("sz2")), "id2")
        .select(col("id1"), col("id2"),
          round(col("n_inter") /
            (col("sz1") + col("sz2") - col("n_inter")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },

    // CONTAINMENT near-dup — the asymmetric companion to
    // d_ngram_jaccard: C(A→B) = |A∩B| / |A| detects a document
    // mostly CONTAINED in another (quote inclusion, boilerplate
    // wrappers, page-in-crawl duplicates) that symmetric Jaccard
    // misses whenever the container is much larger (|A∩B|/|A∪B|
    // stays small while |A∩B|/|A| ≈ 1 — the Broder containment
    // measure). Identical scale machinery as d_ngram_jaccard — ONE
    // shingle exchange shared by df, sizes and both self-join sides
    // via ReusedExchange, df≤1000-capped posting lists — with the
    // unordered intersection computed ONCE (id1 < id2) and both
    // directions derived from it, so the asymmetric score costs no
    // extra pairing shuffle. Oracle recomputes over raw 3-gram
    // strings (the hash-as-bandwidth-optimization argument at
    // d_ngram_jaccard applies verbatim).
    Q("d_dedup_containment", Some(s"""
      WITH $shinglePairsSql,
      dirs AS (
        SELECT id1 AS src_id, id2 AS dst_id, n_inter FROM inter
        UNION ALL SELECT id2, id1, n_inter FROM inter),
      scored AS (
        SELECT src_id, dst_id, CAST(n_inter AS BIGINT) AS n_inter,
               ROUND(CAST(n_inter AS DOUBLE) / s.set_size, 4)
                 AS containment
        FROM dirs JOIN sizes s ON s.doc_id = src_id)
      SELECT src_id, dst_id, n_inter, containment
      FROM scored WHERE containment >= 0.6
    """)) { t =>
      val (sizes, inter) = shinglePairs(t)
      val both = inter.select(col("id1").as("src_id"),
          col("id2").as("dst_id"), col("n_inter"))
        .unionByName(inter.select(col("id2").as("src_id"),
          col("id1").as("dst_id"), col("n_inter")))
      both
        .join(sizes.select(col("doc_id").as("src_id"),
          col("set_size")), "src_id")
        .select(col("src_id"), col("dst_id"),
          col("n_inter").cast("long").as("n_inter"),
          round(col("n_inter") / col("set_size"), 4).as("containment"))
        .filter(col("containment") >= 0.6)
    },

    // Embedding-cosine near-dup: pairs above a cosine threshold
    // (0.4 fits the synthetic embedding distribution; real near-dup
    // corpora use ~0.95+). Semantics are EXACT — and an exact
    // cosine-threshold join is inherently O(n²) compute, so the plan
    // shape is what must scale: triangular block replication
    // (1-bucket-theta, Okcan & Riedewald SIGMOD'11) turns the
    // comparison space into a co-partitioned EQUI-join on the block
    // id — bounded build side (n/B vectors per task), no
    // CartesianProduct / BroadcastNestedLoopJoin anywhere
    // (plan-asserted in PlanShapeSpec), AQE-splittable tasks. Each
    // unordered pair is compared exactly once: a vector in block i
    // is replicated to blocks i..B-1 and meets block j's residents
    // there; same-block duplicates die on the id residual before the
    // cosine is evaluated. Sub-quadratic compute requires dropping
    // exactness — the LSH/IVF buckets (s_ann_lsh / s_ann_ivf) are
    // that path, and on this synthetic distribution (max pair cos
    // ≈ 0.51, smooth tail — no separable dup cluster) no bucketing
    // can be exact at τ=0.4. Ranking and output rounded like
    // s_ann_brute so float noise can't flip the threshold.
    Q("d_dedup_embed", Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                 FROM embeddings)
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             ROUND(list_cosine_similarity(a.ve, b.ve), 4) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.ve, b.ve), 8) >= 0.4
    """)) { t =>
      import graft.functions.VectorFns
      val B = 32
      // Norm precomputed once per VECTOR (one extra double through
      // the block replication) — the O(n²/2) pair scoring then runs
      // one dot product per pair instead of three, bit-identically.
      val v = t.fan(t.embeddings)
        .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("ve"),
          pmod(col("vec_id"), lit(B)).cast("int").as("blk"))
        .withColumn("nrm", VectorFns.norm(col("ve")))
      val left = v
        .withColumn("pj", explode(sequence(col("blk"), lit(B - 1))))
        .select(col("vec_id").as("idl"), col("ve").as("vl"),
          col("nrm").as("nl"), col("blk").as("bl"), col("pj"))
      val right = v.select(col("vec_id").as("idr"), col("ve").as("vr"),
        col("nrm").as("nr"), col("blk").as("br"))
      left.join(right, col("pj") === col("br") &&
          (col("bl") < col("br") || col("idl") < col("idr")))
        .select(least(col("idl"), col("idr")).as("id1"),
          greatest(col("idl"), col("idr")).as("id2"),
          VectorFns.cosinePre(col("vl"), col("vr"), col("nl"), col("nr"))
            .as("c"))
        .filter(round(col("c"), 8) >= 0.4)
        .select(col("id1"), col("id2"), round(col("c"), 4).as("cos"))
    },

    // Dedup FINALIZATION: multiple blocking keys (raw hash,
    // normalized hash, (lang, length) shape) each link a document to
    // the key's minimum doc id; connected components over the union
    // of those links merge overlapping blocks into clusters, and the
    // cluster minimum becomes the canonical document — the standard
    // last stage of a production dedup pipeline (blocking → union
    // edges → CC → canonical pick). Scale: edges are (doc_id, rep_id)
    // pairs keyed by fingerprints — text never shuffles; the CC label
    // state is |docs| rows (Graph.connectedComponents, label-sum
    // convergence). Oracle reproduces the closure with a recursive
    // CTE (quadratic — oracle-scale only).
    Q("d_dedup_cluster", Some("""
      WITH RECURSIVE k AS (
        SELECT doc_id, MD5(text) AS key FROM documents
        UNION ALL
        SELECT doc_id,
               MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        FROM documents
        UNION ALL
        SELECT doc_id, lang || ':' || CAST(n_chars AS VARCHAR)
        FROM documents),
      e AS (
        SELECT k.doc_id AS src, m.rep AS dst
        FROM k JOIN (SELECT key, MIN(doc_id) AS rep FROM k GROUP BY key) m
        USING (key)),
      u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      r(a, b) AS (
        SELECT src, src FROM u
        UNION
        SELECT r.a, u.dst FROM r JOIN u ON u.src = r.b)
      SELECT a AS doc_id, MIN(b) AS cluster_id,
             CAST(a = MIN(b) AS INT) AS is_canonical
      FROM r GROUP BY a
    """)) { t =>
      clusterGraph(t).connectedComponents()
        .select(col("node").as("doc_id"),
          col("component").as("cluster_id"),
          (col("node") === col("component")).cast("int")
            .as("is_canonical"))
    },

    // Train/test CONTAMINATION check: which training documents share a
    // word 4-gram with the held-out set (source 'src19') — the
    // standard n-gram-overlap decontamination pass before an
    // evaluation split ships. Scale: grams are generated AND hashed
    // map-side (md5 truncated to 128/8=16 hex chars — computable
    // identically in both engines, so the oracle stays exact); only
    // the 16-byte fingerprints cross the shuffle, mirroring the
    // d_dedup_lines fix. COUNT(DISTINCT hash) == COUNT(DISTINCT gram)
    // up to md5-collision odds (~2^-64 at this cardinality). At
    // 100 TB the held-out fingerprint set additionally broadcasts
    // when it fits.
    Q("d_contamination", Some("""
      WITH w AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS ws
                 FROM documents),
      g AS (SELECT doc_id, source,
              substr(md5(UNNEST(list_transform(
                generate_series(1, GREATEST(LEN(ws) - 3, 0)),
                i -> ARRAY_TO_STRING(ws[i:i+3], ' ')))), 1, 16) AS gh
            FROM w),
      test_grams AS (SELECT DISTINCT gh FROM g WHERE source = 'src19')
      SELECT g.doc_id, CAST(COUNT(DISTINCT g.gh) AS BIGINT) AS n_shared
      FROM g JOIN test_grams USING (gh)
      WHERE g.source <> 'src19'
      GROUP BY g.doc_id
    """)) { t =>
      val words = split(col("text"), " ")
      val grams = when(size(words) >= 4,
        transform(sequence(lit(1), size(words) - 3),
          i => concat_ws(" ", slice(words, i, lit(4)))))
        .otherwise(array().cast("array<string>"))
      val g = t.fan(t.documents)
        .select(col("doc_id"), col("source"), explode(grams).as("gram"))
        .select(col("doc_id"), col("source"),
          substring(md5(col("gram")), 1, 16).as("gh"))
      val testGrams = g.filter(col("source") === "src19")
        .select("gh").distinct()
      g.filter(col("source") =!= "src19")
        .join(testGrams, "gh")
        .groupBy("doc_id")
        .agg(countDistinct(col("gh")).as("n_shared"))
    },

    // Domain-MIXING sampler: per-source keep rates (the training-mix
    // weights step — upsample curated sources, downsample crawl) with
    // a fully DETERMINISTIC per-doc coin: Knuth's multiplicative hash
    // of doc_id reduced mod 2^32, kept iff below rate·2^32. Pure
    // integer arithmetic, so the oracle reproduces the exact sample —
    // no engine RNG involved — and any re-run (or a resumed 100 TB
    // job) selects the identical subset. Map-side only; the output
    // aggregates realized rates per source.
    Q("d_mix_sample", Some(s"""
      WITH rated AS (
        SELECT doc_id, source,
               CASE WHEN source IN ('src0','src1','src2','src3') THEN 0.9
                    WHEN source IN ('src4','src5','src6','src7') THEN 0.5
                    ELSE 0.2 END AS rate,
               ${TextFns.knuthCoinSql("doc_id")} AS coin
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN coin < rate * 4294967296 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             ROUND(SUM(CASE WHEN coin < rate * 4294967296 THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 4) AS realized_rate
      FROM rated GROUP BY source
    """)) { t =>
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"), 0.9)
        .when(col("source").isin("src4", "src5", "src6", "src7"), 0.5)
        .otherwise(0.2)
      val coin = TextFns.knuthCoin(col("doc_id"))
      t.documents
        .select(col("doc_id"), col("source"), rate.as("rate"),
          coin.as("coin"))
        .withColumn("keep",
          when(col("coin") < col("rate") * 4294967296L, 1L).otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"), sum(col("keep")).as("n_kept"),
          round(sum(col("keep")) / count(lit(1)).cast("double"), 4)
            .as("realized_rate"))
    },

    // Per-document WEIGHTED (importance) sampling — the quality-
    // proportional companion of d_mix_sample's per-source rates
    // (FineWeb/DCLM-style ablations resample docs with probability
    // proportional to a quality proxy instead of flat per-domain
    // rates). Acceptance is the deterministic multiplicative-hash
    // coin against weight·2³², weight = min(1, n_chars/2000) (chars
    // as the budget proxy; the real pipelines plug a classifier
    // score into the same slot). Pure map-side at any scale; the
    // oracle restates the identical integer/double arithmetic, so
    // the EXACT acceptance set hash-matches, not just the counts.
    Q("d_weighted_sample", Some(s"""
      WITH rated AS (
        SELECT doc_id, source,
               LEAST(1.0, n_chars / 2000.0) AS w,
               ${TextFns.knuthCoinSql("doc_id")} AS coin
        FROM documents)
      SELECT doc_id, source, ROUND(w, 6) AS w
      FROM rated WHERE coin < w * 4294967296
    """)) { t =>
      val w = least(lit(1.0), col("n_chars") / 2000.0)
      t.documents
        .select(col("doc_id"), col("source"), w.as("w"),
          TextFns.knuthCoin(col("doc_id")).as("coin"))
        .filter(col("coin") < col("w") * 4294967296L)
        .select(col("doc_id"), col("source"), round(col("w"), 6).as("w"))
    },

    // Best-first TOKEN-BUDGET selection — "train on the best N
    // tokens": docs ranked by quality (chars-as-token proxy; longer
    // first, doc_id tie-break) are taken while the budget (¼ of the
    // corpus) lasts — i.e. a doc is kept iff the chars BEFORE it in
    // rank order stay under the budget (greedy prefix, one overshoot
    // doc allowed — the standard cut). The global ordered cumsum is
    // the two-phase PrefixSum (range-partial + broadcast range
    // offsets), NEVER a single-partition window — the q_id_assign
    // machinery pointed at a ranking, which is exactly how a 100 TB
    // corpus cut runs.
    Q("d_token_budget", Some("""
      WITH b AS (SELECT CAST(SUM(n_chars) AS BIGINT) // 4 AS budget
                 FROM documents),
      r AS (
        SELECT doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER (
                 ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS before
        FROM documents)
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
      FROM r, b WHERE before < budget
    """)) { t =>
      val docs = t.documents.select(col("doc_id"), col("n_chars"),
        (-col("n_chars")).as("neg"),
        (-col("n_chars")).cast("long").as("negb"))
        .withColumn("rng", expr("negb div 500"))
      val cum = graft.operators.PrefixSum.sumBefore(docs,
        rangeCol = "rng", orderCols = Seq("neg", "doc_id"),
        valueCol = "n_chars", out = "before")
      val budget = t.documents
        .agg((sum(col("n_chars")) / 4).cast("long").as("budget"))
      cum.crossJoin(broadcast(budget))
        .filter(col("before") < col("budget"))
        .select(col("doc_id"), col("n_chars"))
    },

    // Deterministic TRAIN/VAL/TEST split — the dataset-card step
    // every training corpus needs: the same multiplicative-hash coin
    // buckets each doc 80/10/10, so the assignment is reproducible
    // across re-runs and engines (no RNG), leakage-free by
    // construction (a doc_id can land in exactly one split), and
    // map-side at any scale. The output fingerprints each
    // (source, split) membership so the oracle checks the EXACT
    // assignment, not just the counts. The fingerprint is the
    // q_table_checksum fold — per-doc md5 top-60-bits BIT_XOR'd —
    // which is commutative and map-side-combined: constant memory
    // per group, no sorted id array ever materializes (a train
    // split of one source is billions of ids at 100 TB).
    Q("d_split", Some(s"""
      WITH c AS (SELECT doc_id, source,
                        ${TextFns.knuthCoinSql("doc_id")} AS coin
                 FROM documents),
      s AS (SELECT doc_id, source,
              CASE WHEN coin < 0.8 * 4294967296 THEN 'train'
                   WHEN coin < 0.9 * 4294967296 THEN 'val'
                   ELSE 'test' END AS split
            FROM c)
      SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n,
             BIT_XOR(CAST(('0x' || substr(MD5(CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT)) AS member_fp
      FROM s GROUP BY source, split
    """)) { t =>
      val coin = TextFns.knuthCoin(col("doc_id"))
      t.documents
        .select(col("doc_id"), col("source"), coin.as("coin"))
        .withColumn("split",
          when(col("coin") < 0.8 * 4294967296L, "train")
            .when(col("coin") < 0.9 * 4294967296L, "val")
            .otherwise("test"))
        .withColumn("__h", conv(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("member_fp"))
    },

    // STRATIFIED exact-k sampling: exactly k docs per source, picked
    // by the deterministic coin order (reproducible across runs and
    // engines). The scale crux is the per-group top-k: a single
    // window PARTITION BY source is one task per source at 100 TB
    // (a crawl source can be billions of docs), so the engine runs
    // the SALTED two-phase shape — phase 1 takes the top k inside
    // each (source, salt) sub-partition, leaving ≤ k·|salts| rows
    // per source, phase 2 takes the true top k from those. Result is
    // provably identical to the single window (every global top-k
    // row wins its own salt bucket); the oracle states the plain
    // single-window form.
    Q("d_stratified_k", Some(s"""
      WITH c AS (SELECT doc_id, source,
                        ${TextFns.knuthCoinSql("doc_id")} AS coin
                 FROM documents),
      r AS (SELECT doc_id, source,
              ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY coin, doc_id) AS rn
            FROM c)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
             MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS sample_fp
      FROM r WHERE rn <= 20 GROUP BY source
    """)) { t =>
      val k = 20
      val coin = TextFns.knuthCoin(col("doc_id"))
      val c = t.documents
        .select(col("doc_id"), col("source"), coin.as("coin"))
      graft.operators.TopKPerGroup.salted(c,
          keys = Seq(col("source")),
          order = Seq(col("coin"), col("doc_id")),
          k = k, salt = (col("doc_id") % 32).cast("int"), rnCol = "rn")
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          md5(array_join(transform(
            array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",").cast("binary")).as("sample_fp"))
    },

    // Cross-document LINE/paragraph dedup (the CCNet recipe): split
    // each document into fixed 10-word chunks (this corpus has no
    // newlines, so the chunker is positional; real text splits on
    // '\n'), count chunk occurrences across the corpus, and drop
    // every occurrence outside the chunk's first (minimum-doc_id)
    // document — boilerplate (headers, nav bars, license blocks)
    // disappears corpus-wide while one copy survives. Scale: the
    // first-doc window partitions on a 128-bit chunk hash (two
    // xxhash64 seeds), so its exchange carries (doc_id, idx, h1, h2)
    // — never chunk text; the keep flags then pack to one int array
    // per doc, and the rebuild joins them back to a map-side re-chunk
    // of documents on doc_id. Text therefore crosses AT MOST one
    // exchange (the doc_id rebuild join; AQE broadcasts the flag side
    // when it is measured-small, and then text never shuffles at
    // all). The per-doc rebuild sorts only that doc's ≤len/10 chunks.
    Q("d_dedup_lines", Some("""
      WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
      c AS (SELECT doc_id, i AS idx,
              ARRAY_TO_STRING(ws[(i-1)*10+1:i*10], ' ') AS chunk
            FROM w, UNNEST(generate_series(1, CAST(CEIL(LEN(ws)/10.0) AS INT))) AS t(i)),
      f AS (SELECT chunk, MIN(doc_id) AS first_doc FROM c GROUP BY chunk),
      k AS (SELECT c.doc_id, c.idx, c.chunk,
              CAST(c.doc_id = f.first_doc AS INT) AS keep
            FROM c JOIN f USING (chunk))
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(1 - keep) AS BIGINT) AS n_dropped,
             MD5(COALESCE(STRING_AGG(CASE WHEN keep = 1 THEN chunk END, ' ' ORDER BY idx), '')) AS clean_fp
      FROM k GROUP BY doc_id
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val ws = split(col("text"), " ")
      val chunkArr = when(size(ws) >= 1,
        transform(sequence(lit(1), ceil(size(ws) / 10.0).cast("int")),
          i => concat_ws(" ", slice(ws, (i - 1) * 10 + 1, lit(10)))))
        .otherwise(array().cast("array<string>"))
      // Window input: ids + the 128-bit chunk hash only. Chunk text is
      // dropped before the exchange.
      val hashed = t.fan(t.documents)
        .select(col("doc_id"), posexplode(chunkArr).as(Seq("idx0", "chunk")))
        .select(col("doc_id"), (col("idx0") + 1).as("idx"),
          xxhash64(col("chunk")).as("h1"),
          xxhash64(lit(20260813L), col("chunk")).as("h2"))
      val flags = hashed
        .withColumn("keep",
          (col("doc_id") ===
            min(col("doc_id")).over(Window.partitionBy("h1", "h2")))
            .cast("int"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_chunks"),
          sum(lit(1) - col("keep")).as("n_dropped"),
          sort_array(collect_list(when(col("keep") === 1, col("idx"))))
            .as("kept_idxs"))
      // Rebuild: re-chunk map-side and pick kept chunks by index.
      t.documents.select(col("doc_id"), chunkArr.as("chunks"))
        .join(flags, Seq("doc_id"))
        .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
          md5(array_join(transform(col("kept_idxs"),
            i => element_at(col("chunks"), i)), " ").cast("binary"))
            .as("clean_fp"))
    },

    // INCREMENTAL dedup across snapshots (reference analog: TiDB's
    // incremental stats maintenance, statistics/handle/ — never
    // recompute the world). The steady-state pipeline op: the corpus'
    // normalized fingerprints are PERSISTED once (16-byte fp per doc —
    // at 100 TB of text that's a ~0.1% index, written bucketed by fp);
    // each incoming snapshot fingerprints map-side, anti-joins the
    // index, and dedups only within itself. Nothing re-reads corpus
    // text. Here the "snapshot" is the doc_id%10==0 slice, the corpus
    // the rest; the index is lazily materialized under /tmp keyed by a
    // content fingerprint of the source (stale-data-safe), exactly
    // like the IVF serving index. At cluster scale the anti-join
    // broadcasts when the index fits, else shuffles (fp, doc_id)
    // pairs only.
    Q("d_dedup_incremental", Some("""
      WITH fp AS (
        SELECT doc_id,
               MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        FROM documents),
      corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0),
      snap AS (SELECT fp, doc_id FROM fp WHERE doc_id % 10 = 0)
      SELECT s.fp AS fp, MIN(s.doc_id) AS keep_id, COUNT(*) AS n_new
      FROM snap s
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = s.fp)
      GROUP BY s.fp
    """)) { t =>
      val fp = md5(TextFns.normalize(col("text")).cast("binary"))
      val idxDir = Layouts.once(Layouts.root("corpusfp", t.dir,
          s"${t.dir}/documents.parquet")) { dir =>
        t.documents.filter(col("doc_id") % 10 =!= 0)
          .select(fp.as("fp")).distinct()
          .write.mode("overwrite").parquet(dir)
      }
      val corpusIndex = t.spark.read.parquet(idxDir)
      t.documents.filter(col("doc_id") % 10 === 0)
        .select(fp.as("fp"), col("doc_id"))
        .join(corpusIndex, Seq("fp"), "left_anti")
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_new"))
    },

    // NEAR-DUP ADMIT GATE — the registry-visible leg of
    // e_stream_neardup (Streams.neardupIngestSink): the corpus
    // arrives as two ingest batches (doc_id parity) and each batch
    // is admitted through the MinHash-LSH gate — identity dedup,
    // then (band, bhash)-bucketed query against the PRIOR index
    // (pairs bounded by shared posting lists, never batch × corpus),
    // then the order-free within-batch smaller-id rule; survivors'
    // banded signatures append under the batch's own partition.
    // Staging is marker-gated + content-fingerprint-keyed (the sink
    // is exactly-once but not idempotent across layout deletion);
    // the per-batch ticks persist beside the index and the entry
    // reads them back joined with the index's OWN per-batch admitted
    // counts — the two agree by construction (spec-pinned), so the
    // card cross-checks the gate against the layout it built.
    // Signature arithmetic is engine-specific (xxhash64) →
    // rows-only; StreamingSpec drives the same gate live.
    Q("d_dedup_admit", None) { t =>
      val root = Layouts.once(Layouts.root("ndadmit", t.dir,
          s"${t.dir}/documents.parquet")) { root =>
        val docs = t.documents.select("doc_id", "text")
        val sink = graft.streaming.Streams
          .neardupIngestSink(s"$root/index", tau = 0.5) _
        val ticks = Seq(
          sink(docs.filter(col("doc_id") % 2 === 0), 0L),
          sink(docs.filter(col("doc_id") % 2 === 1), 1L))
        import t.spark.implicits._
        ticks.map(k =>
            (k.batchId, k.nIn, k.nNovel, k.nNearDup, k.nIndexed))
          .toDF("batch_id", "n_in", "n_novel", "n_neardup", "n_indexed")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$root/ticks")
      }
      val indexDir = s"$root/index"
      val ticks = t.spark.read.parquet(s"$root/ticks")
      val inIndex = t.spark.read.parquet(indexDir)
        .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"))
        .distinct()
        .groupBy("batch_id").agg(count(lit(1)).as("n_in_index"))
      ticks.join(inIndex, Seq("batch_id"), "left")
        .na.fill(0L, Seq("n_in_index"))
        .orderBy("batch_id")
    },

    // BLOOM-gated membership dedup — the ingest fast path in front of
    // d_dedup_incremental's exact index. The base corpus' fingerprint
    // SET is one row per doc, but its BLOOM FILTER is ~1.2 GB per 10^9
    // docs at 1% fpp: built once, broadcast, probed map-side. A
    // bloom-NEGATIVE probe (the vast majority of genuinely new docs)
    // PROVES absence — no false negatives — so those rows never reach
    // a join at all; only bloom-positive candidates (true dups + the
    // fpp sliver) hit the exact join that clears false positives. The
    // result is therefore EXACT — bit-identical to the plain left join
    // the oracle states — while the joined volume drops from
    // |incoming| to |dups| + fpp·|new|. Splits overlap (doc_id %2 vs
    // %3 → %6 = true dups) so both probe outcomes are exercised; the
    // spec additionally proves the no-false-negative invariant and
    // result parity with the un-gated join.
    Q("d_dedup_bloom", Some("""
      WITH fp AS (SELECT doc_id, MD5(text) AS fp FROM documents),
      base AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
      inc AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 0)
      SELECT i.doc_id, (b.fp IS NOT NULL) AS is_dup
      FROM inc i LEFT JOIN base b USING (fp)
    """)) { t =>
      val docs = t.documents
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val baseSet = docs.filter(col("doc_id") % 2 === 0)
        .select("fp").distinct()
      val inc = t.fan(docs.filter(col("doc_id") % 3 === 0))
      // Index build: the driver holds only the filter bytes (the
      // index, not the data) — same legitimacy class as the IVF
      // centroid build. Capacity comes from a count of the actual
      // base set (one cheap job): a hardcoded guess that the corpus
      // outgrows would saturate the filter, push fpp toward 1, and
      // silently degenerate the gate into the un-gated join plus a
      // useless broadcast.
      val estItems = math.max(baseSet.count(), 1000L)
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(estItems, 0.01)
      // Build with Spark's native BloomFilterAggregate (exposed as
      // graft_bloom_agg — see GraftFunctions), probe with the
      // codegen'd BloomFilterMightContain: the whole gate stays
      // inside whole-stage codegen, no Scala UDF in the plan. The
      // serialized filter bytes live as a broadcast-sized Literal —
      // the index, not the data, same legitimacy class as the IVF
      // centroid build. Null guard: xxhash64(NULL) is the seed, a
      // real probe key; a bloom-positive NULL fingerprint then fails
      // the exact fp equi-join (NULL matches nothing), so NULL text
      // flows through as is_dup=false exactly like the oracle's join.
      val filterBytes = baseSet
        .agg(call_function("graft_bloom_agg", col("fp"),
          lit(estItems), lit(numBits)).as("f"))
        .head.getAs[Array[Byte]]("f")
      // An EMPTY base yields a null aggregate; the gate then proves
      // every probe negative (nothing can be a member of nothing) —
      // a null literal instead would null out `maybe` and silently
      // drop every row from both arms.
      val probed = inc.withColumn("maybe",
        if (filterBytes == null) lit(false)
        else call_function("graft_bloom_contains",
          lit(filterBytes), col("fp")))
      val pos = probed.filter(col("maybe"))
        .join(baseSet.withColumn("hit", lit(1)), Seq("fp"), "left")
        .select(col("doc_id"), col("hit").isNotNull.as("is_dup"))
      val neg = probed.filter(!col("maybe"))
        .select(col("doc_id"), lit(false).as("is_dup"))
      pos.union(neg)
    },

    // URL-level dedup with keep-best — the crawl-side companion of
    // the content dedups (CCNet/RefinedWeb pattern: the same page
    // fetched many times under tracking-parameter variants collapses
    // to ONE canonical URL, keeping the best fetch). Canonicalization
    // strips the volatile query params map-side; the keep-best pick
    // is a single max_by AGGREGATION on (n_chars, -doc_id) — one
    // shuffle of (canon, id, chars) triples, no per-group window, no
    // text movement — so a hot URL fetched a billion times costs a
    // map-side partial max, not a one-task sort.
    Q("d_dedup_url", Some("""
      WITH u AS (
        SELECT doc_id, n_chars,
               'https://' || source || '.example.com/item/'
                 || (doc_id % 120) AS canon_url
        FROM documents),
      r AS (
        SELECT canon_url, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY canon_url
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY canon_url) AS n_fetches,
               MAX(n_chars) OVER (PARTITION BY canon_url) AS best_chars
        FROM u)
      SELECT canon_url, doc_id AS keep_id,
             CAST(n_fetches AS BIGINT) AS n_fetches,
             CAST(best_chars AS BIGINT) AS best_chars
      FROM r WHERE rn = 1
    """)) { t =>
      // The full fetched URL would carry utm_/session noise; canon is
      // host+path only — doc_id%120 makes ~4 fetch variants per page
      // at sf0.01 so the keep-best branch is really exercised.
      t.documents
        .select(col("doc_id"), col("n_chars"),
          concat(lit("https://"), col("source"), lit(".example.com/item/"),
            col("doc_id") % 120).as("canon_url"))
        .groupBy("canon_url")
        .agg(
          max(struct(col("n_chars"), -col("doc_id"), col("doc_id")))
            .getField("doc_id").as("keep_id"),
          count(lit(1)).as("n_fetches"),
          max(col("n_chars")).as("best_chars"))
        .select(col("canon_url"), col("keep_id"), col("n_fetches"),
          col("best_chars"))
    },

    // Duplication-rate card — the dedup REPORT a curation run ends
    // with (per source: docs, distinct contents, duplicate share —
    // the number a data card publishes and a mix rebalancer reads).
    // Two map-combined aggregations on 16-byte fingerprints: text
    // never crosses an exchange, shuffle carries (source, fp) then
    // |sources| rows.
    Q("d_dup_stats", Some("""
      WITH fp AS (SELECT source, MD5(text) AS fp FROM documents),
      g AS (SELECT source, fp, COUNT(*) AS c FROM fp GROUP BY 1, 2)
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dups,
             ROUND((SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE), 6)
               AS dup_share
      FROM g GROUP BY source
    """)) { t =>
      t.documents
        .select(col("source"), md5(col("text").cast("binary")).as("fp"))
        .groupBy("source", "fp").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_docs"),
          count(lit(1)).as("n_distinct"),
          (sum("c") - count(lit(1))).as("n_dups"),
          round((sum("c") - count(lit(1))) / sum("c").cast("double"), 6)
            .as("dup_share"))
    },

    // FUZZY entity-resolution join (record-linkage dedup of titles /
    // names — the edit-distance companion of the n-gram Jaccard
    // near-dup): candidate pairs are generated ONLY inside prefix
    // blocks (first 8 normalized chars), then scored with
    // levenshtein — the classic blocking→compare shape. Candidates
    // are bounded by block sizes, never corpus²; at 100 TB hot
    // blocks get the same df-cap treatment as the posting-list
    // dedups. levenshtein is the identical DP edit distance on both
    // engines, so the whole pipeline hash-oracles.
    Q("d_fuzzy_join", Some("""
      WITH t AS (
        SELECT doc_id,
               SUBSTR(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 24) AS title
        FROM documents),
      g AS (SELECT SUBSTR(title, 1, 8) AS bk FROM t
            GROUP BY 1 HAVING COUNT(*) <= 200)
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(levenshtein(a.title, b.title) AS INT) AS lev
      FROM t a
      JOIN t b ON SUBSTR(a.title, 1, 8) = SUBSTR(b.title, 1, 8)
              AND a.doc_id < b.doc_id
      JOIN g ON g.bk = SUBSTR(a.title, 1, 8)
      WHERE levenshtein(a.title, b.title) <= 8
    """)) { t =>
      val titles = t.fan(t.documents)
        .select(col("doc_id"),
          substring(graft.functions.TextFns.normalize(col("text")), 1, 24)
            .as("title"))
        .withColumn("bk", substring(col("title"), 1, 8))
      val okBlocks = titles.groupBy("bk").agg(count(lit(1)).as("n"))
        .filter(col("n") <= 200).select("bk")
      val a = titles.join(okBlocks, "bk")
        .select(col("bk"), col("doc_id").as("id1"), col("title").as("t1"))
      val b = titles
        .select(col("bk"), col("doc_id").as("id2"), col("title").as("t2"))
      a.join(b, Seq("bk"))
        .filter(col("id1") < col("id2"))
        // Threshold-bounded edit distance: the banded DP aborts as
        // soon as a row of the matrix exceeds the bound (returns -1)
        // — O(k·n) per pair instead of O(n²), the form that matters
        // when blocks are large. -1 (= "beyond bound") must be
        // filtered explicitly; it would pass a naive <= 8.
        .withColumn("lev", levenshtein(col("t1"), col("t2"), 8))
        .filter(col("lev") >= 0)
        .select(col("id1"), col("id2"), col("lev"))
    },

    // SEMANTIC dedup, cluster-scoped (the SemDeDup recipe: k-means
    // the corpus first, then threshold cosine pairs ONLY inside each
    // cluster — at 100 TB the pair space is Σ|cell|², not corpus²,
    // and cells parallelize independently). Clustering reuses the
    // deterministic IVF Lloyd build; pair scoring inside a cell is
    // the same precomputed-norm single-dot form as d_dedup_embed.
    // Lloyd arithmetic is engine-specific → rows-only; the spec
    // proves soundness (every pair truly ≥ τ, co-clustered) and
    // measures recall against the exact all-pairs entry.
    Q("d_dedup_semantic", None) { t =>
      import graft.functions.VectorFns
      val corpus = t.fan(t.embeddings)
        .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
      // Centroids come from the SHARED persisted IVF layout (same
      // corpus, same c/iters, same deterministic Lloyd — the
      // s_ann_ivf_probe cache), lazily built on first touch: this
      // entry only ever consumed build()'s centroid table (soft
      // assignment below re-derives cells via probes), so re-running
      // the full Lloyd per entry was pure rebuild cost. One 16-row
      // read replaces two corpus-wide iteration passes.
      val ivfDir = graft.ann.IvfIndex.sharedIndex(t)
      val centroids = t.spark.read.parquet(s"$ivfDir/centroids")
      // SOFT assignment (2 nearest cells per vector): a near-dup pair
      // split by a hard cell boundary still co-occurs in one of the
      // probed cells — the multi-probe recall trick at 2× state cost.
      // Pairs co-occurring in both shared cells dedup via groupBy.
      val probed = graft.ann.IvfIndex.probes(
        corpus.select(col("vec_id").as("qid"), col("v").as("qv")),
        centroids, nprobe = 2)
      // Pair join keyed on `cell` alone has only C distinct keys — C
      // tasks do all the scoring. Sub-block each cell (d_dedup_embed's
      // triangular scheme, per cell): join key (cell, pj) spreads the
      // same pair set over C·B keys with every pair generated exactly
      // once.
      val B = 8
      val withNorm = probed
        .select(col("cell"), col("qid").as("vec_id"), col("qv").as("v"))
        .withColumn("nrm", VectorFns.norm(col("v")))
        .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
      val l = withNorm
        .withColumn("pj", explode(sequence(col("blk"), lit(B - 1))))
        .select(col("cell"), col("vec_id").as("id1"), col("v").as("vl"),
          col("nrm").as("nl"), col("blk").as("bl"), col("pj"))
      val r = withNorm.select(col("cell"), col("vec_id").as("id2"),
        col("v").as("vr"), col("nrm").as("nr"), col("blk").as("br"))
      l.join(r, l("cell") === r("cell") && col("pj") === col("br") &&
          (col("bl") < col("br") || col("id1") < col("id2")))
        .filter(col("id1") =!= col("id2"))
        .select(l("cell"),
          least(col("id1"), col("id2")).as("a"),
          greatest(col("id1"), col("id2")).as("b"),
          VectorFns.cosinePre(col("vl"), col("vr"), col("nl"), col("nr"))
            .as("c"))
        .filter(round(col("c"), 8) >= 0.4)
        .groupBy(col("a").as("id1"), col("b").as("id2"))
        .agg(min("cell").as("cell"), round(max("c"), 4).as("cos"))
        .select(col("cell"), col("id1"), col("id2"), col("cos"))
    },

    // EXACT repeated-substring detection by content-defined anchors
    // (winnowing) — the substring-granular sibling of d_dedup_lines,
    // after the suffix-array exact-substring dedup of the dedup
    // literature, re-expressed shuffle-friendly. Every 24-char gram
    // is hashed IN-ROW (one HOF over the doc, no per-position rows
    // in any exchange); a gram is an ANCHOR iff its own hash starts
    // with hex '0' — content-defined, so the same substring anchors
    // at the same relative offsets in every doc that contains it,
    // regardless of alignment (the fix for why strided shingles miss
    // cross-doc repeats). Only the ~1/16 anchor fingerprints (16-byte
    // md5, identical on both engines) ever shuffle; the dup test is
    // one groupBy(fp) distinct-doc count. Output: per doc, how many
    // of its anchors also occur verbatim elsewhere — the span-level
    // duplication profile driving trim/drop decisions.
    Q("d_substring_dup", Some("""
      WITH pos AS (
        SELECT doc_id,
               unnest(generate_series(1, length(text) - 23)) AS p,
               text
        FROM documents WHERE length(text) >= 24),
      a AS (SELECT doc_id, md5(substr(text, p, 24)) AS fp
            FROM pos WHERE substr(md5(substr(text, p, 24)), 1, 1) = '0'),
      d AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM a GROUP BY fp)
      SELECT a.doc_id, COUNT(*) AS n_anchors,
             COUNT(*) FILTER (d.nd >= 2) AS dup_anchors
      FROM a JOIN d USING (fp) GROUP BY a.doc_id
    """)) { t =>
      val anchors = winnowAnchors(t.fan(t.documents))
      val dupFp = anchors.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("nd"))
      anchors.join(dupFp, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_anchors"),
          count(when(col("nd") >= 2, lit(1))).as("dup_anchors"))
    },

    // CROSS-SOURCE dedup with source priority — when several crawls/
    // dumps are merged, exact duplicates keep the copy from the
    // PREFERRED source (here: lexicographically smallest source name,
    // standing in for the crawl-priority map), tie-broken by min
    // doc_id — the standard "dedup across snapshots, prefer the
    // curated dump" pipeline pass. Two-level plan: fingerprint
    // aggregate picks the winning source per hash, then ONE keyed
    // join selects the kept doc — only 32-hex fingerprints cross the
    // exchanges, text never moves, state is |distinct hashes| rows.
    Q("d_cross_dedup", Some("""
      WITH k AS (SELECT doc_id, source, MD5(text) AS fp FROM documents),
      agg AS (
        SELECT fp, MIN(source) AS src,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM k GROUP BY fp)
      SELECT agg.fp AS fp, agg.src AS src, MIN(k.doc_id) AS kept_doc,
             agg.n_copies AS n_copies, agg.n_sources AS n_sources
      FROM agg JOIN k ON k.fp = agg.fp AND k.source = agg.src
      GROUP BY 1, 2, 4, 5
    """)) { t =>
      // k feeds BOTH the winner aggregate and the kept-doc join on
      // different shuffle keys (no exchange reuse) — checkpoint the
      // two-narrow-column frame so the text is read and hashed ONCE
      // (the d_dedup_cluster single-scan lesson).
      val k = t.documents.select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("fp")).localCheckpoint()
      val agg = k.groupBy("fp").agg(min(col("source")).as("src"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"))
      agg.join(k, agg("fp") === k("fp") && agg("src") === k("source"))
        .groupBy(agg("fp").as("fp"), agg("src").as("src"),
          col("n_copies"), col("n_sources"))
        .agg(min(col("doc_id")).as("kept_doc"))
        .select("fp", "src", "kept_doc", "n_copies", "n_sources")
    },

    // LSH banding TUNER — the parameter card behind d_dedup_minhash's
    // (bands, rows) choice: for n = b·r minhashes, a pair with true
    // Jaccard s becomes a candidate with p = 1 − (1 − s^r)^b, and the
    // curve's threshold sits at (1/b)^(1/r). The card evaluates the
    // S-curve over the (b, r) splits of a 64-hash budget × a Jaccard
    // grid — how an operator picks banding for a recall/cost target
    // BEFORE burning a corpus pass. Pure arithmetic on a constant
    // grid (zero table scans); 4dp rounding absorbs pow()'s
    // engine-specific libm tails.
    Q("d_lsh_tune", Some("""
      SELECT b, r, CAST(s AS DOUBLE) AS s,
             ROUND(1 - POWER(1 - POWER(CAST(s AS DOUBLE), r), b), 4)
               AS p_cand,
             ROUND(POWER(1.0 / b, 1.0 / r), 4) AS threshold
      FROM (VALUES (32, 2), (16, 4), (8, 8), (4, 16)) v(b, r),
           (VALUES (0.1), (0.2), (0.3), (0.4), (0.5), (0.6), (0.7),
                   (0.8), (0.9)) g(s)
    """)) { t =>
      import t.spark.implicits._
      val grid = Seq((32, 2), (16, 4), (8, 8), (4, 16)).toDF("b", "r")
        .crossJoin((1 to 9).map(_ / 10.0).toDF("s"))
      grid.select(col("b"), col("r"), col("s"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("s"), col("r")),
          col("b")), 4).as("p_cand"),
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 4)
          .as("threshold"))
    },
  ) :+ spanContam :+ mixPlan :+ mixTemperature

  /** Span-level decontamination — d_contamination's surgical sibling:
    * instead of a per-doc hit COUNT, emit the merged WORD-SPAN ranges
    * that overlap the held-out set, so the pipeline can TRIM the
    * contaminated spans and keep the rest of the document (the
    * modern decontamination recipe). Hit positions come from the
    * same hashed-4-gram join; consecutive positions merge into
    * spans via gaps-and-islands (pos − row_number is constant within
    * a run) — the window is per-doc over HIT positions only (tiny),
    * and everything else is the map-combined gram machinery. */
  val spanContam: Q = Q("t_span_contam", Some("""
      WITH w AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS ws
                 FROM documents),
      g AS (SELECT doc_id, source, i AS pos,
              substr(md5(ARRAY_TO_STRING(ws[i:i+3], ' ')), 1, 16) AS gh
            FROM w, UNNEST(generate_series(1,
              GREATEST(LEN(ws) - 3, 0))) AS t(i)),
      test AS (SELECT DISTINCT gh FROM g WHERE source = 'src19'),
      hits AS (SELECT g.doc_id, g.pos FROM g JOIN test USING (gh)
               WHERE g.source <> 'src19'),
      isl AS (SELECT doc_id, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS grp
              FROM hits)
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + 3 AS BIGINT) AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM isl GROUP BY doc_id, grp
    """)) { t =>
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ")
    val grams = when(size(words) >= 4,
      transform(sequence(lit(1), size(words) - 3),
        i => substring(md5(concat_ws(" ", slice(words, i, lit(4)))), 1, 16)))
      .otherwise(array().cast("array<string>"))
    val g = t.fan(t.documents)
      .select(col("doc_id"), col("source"),
        posexplode(grams).as(Seq("pos0", "gh")))
      .select(col("doc_id"), col("source"),
        (col("pos0") + 1).cast("long").as("pos"), col("gh"))
    val testGrams = g.filter(col("source") === "src19")
      .select("gh").distinct()
    val hits = g.filter(col("source") =!= "src19")
      .join(testGrams, "gh").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + 3).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("grp")
  }

  /** Training-mix PLANNING — the arithmetic between t_dataset_card
    * (what we have) and d_mix_sample (what we execute): given pinned
    * per-source target weights and a token budget of half the
    * corpus, emit each source's sampling rate and planned token
    * count. One map-combined token count per source + a 1-row total
    * broadcast; rates >1 mean epoch repeats, exposed rather than
    * clamped. All arithmetic on ROUND(·,6) shares so the plan is
    * engine-exact. */
  val mixPlan: Q = Q("d_mix_plan", Some("""
      WITH tok AS (
        SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
               AS tokens
        FROM documents GROUP BY source),
      w AS (SELECT source, tokens,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN 2.0 ELSE 1.0 END AS wt
            FROM tok),
      tot AS (SELECT SUM(tokens) AS t_all, SUM(wt) AS w_all FROM w)
      SELECT source, tokens,
             ROUND(tokens / t_all, 6) AS share_now,
             ROUND(wt / w_all, 6) AS share_target,
             ROUND((0.5 * t_all * wt / w_all) / tokens, 6) AS rate,
             CAST(FLOOR(0.5 * t_all * wt / w_all) AS BIGINT)
               AS planned_tokens
      FROM w, tot
    """)) { t =>
    val tok = t.documents
      .groupBy("source")
      .agg(sum(size(split(col("text"), " "))).as("tokens"))
    val w = tok.withColumn("wt",
      when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 2.0)
        .otherwise(1.0))
    val tot = w.agg(sum("tokens").as("t_all"), sum("wt").as("w_all"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        round(col("tokens") / col("t_all"), 6).as("share_now"),
        round(col("wt") / col("w_all"), 6).as("share_target"),
        round((lit(0.5) * col("t_all") * col("wt") / col("w_all"))
          / col("tokens"), 6).as("rate"),
        floor(lit(0.5) * col("t_all") * col("wt") / col("w_all"))
          .cast("long").as("planned_tokens"))
  }

  /** Temperature-scaled mixing weights — the multilingual-sampling
    * convention (mT5/XLM-R: sample source i with p_i ∝ share_i^α,
    * α = 0.3): low-resource sources are up-sampled toward uniform
    * without the hard per-source weights d_mix_plan pins by hand.
    * One map-combined token count per source, two 1-row broadcasts —
    * O(|sources|) rows end to end. POWER is a transcendental, so
    * both engines round the scaled shares to 4dp (the repo's
    * transcendental convention); the upsample factor reports how
    * hard each source is boosted relative to its natural share. */
  val mixTemperature: Q = Q("d_mix_temperature", Some("""
      WITH tok AS (
        SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
               AS tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS t_all FROM tok),
      a AS (SELECT source, tokens, tokens / t_all AS p,
                   POWER(tokens / t_all, 0.3) AS pa
            FROM tok, tot),
      z AS (SELECT SUM(pa) AS z_all FROM a)
      SELECT source, tokens,
             ROUND(p, 6) AS share_now,
             ROUND(pa / z_all, 4) AS share_temp,
             ROUND(pa / z_all / p, 4) AS upsample
      FROM a, z
    """)) { t =>
    val tok = t.documents
      .groupBy("source")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("tokens"))
    val tot = tok.agg(sum("tokens").cast("double").as("t_all"))
    val a = tok.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        (col("tokens") / col("t_all")).as("p"),
        pow(col("tokens") / col("t_all"), 0.3).as("pa"))
    val z = a.agg(sum("pa").as("z_all"))
    a.crossJoin(broadcast(z))
      .select(col("source"), col("tokens"),
        round(col("p"), 6).as("share_now"),
        round(col("pa") / col("z_all"), 4).as("share_temp"),
        round(col("pa") / col("z_all") / col("p"), 4).as("upsample"))
  }

  /** Content-defined 24-gram anchors of `docs(doc_id, text)`: every
    * position's gram is md5'd in-row; grams whose hash starts with
    * hex '0' are the anchors (≈1/16 of positions, offset-invariant).
    * docs shorter than the gram are excluded on BOTH engines —
    * Spark's sequence(1, 0) is a DESCENDING two-element sequence,
    * not empty like DuckDB's generate_series. */
  def winnowAnchors(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(length(col("text")) >= 24)
      .select(col("doc_id"), explode(expr(
        """filter(
             transform(sequence(1, length(text) - 23),
                       p -> md5(substring(text, p, 24))),
             h -> substring(h, 1, 1) = '0')""")).as("fp"))
}
