package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training — the tokenizer-construction
  * step of a training-data pipeline (the merge table IS the
  * tokenizer artifact).
  *
  * Scale design: BPE trains on the (word, freq) VOCABULARY, not the
  * corpus — the corpus is touched exactly once (one map-combined
  * word count), after which every iteration runs over distinct words
  * only (heavy-tailed: a bounded vocab even at 100 TB of text). Per
  * merge step: one map-combined adjacent-pair count weighted by word
  * freq, ONE driver-side row (the argmax pair — same O(1) contract
  * as the graph loops' convergence scalars), and a map-side
  * left-to-right merge rewrite of the symbol arrays (a single
  * HOF aggregate, no shuffle). Ties break lexicographically so the
  * merge table is deterministic on any cluster.
  */
object Bpe {

  /** Left-to-right single-pass merge of adjacent (a, b) into ab —
    * the classic BPE apply, as one higher-order aggregate over the
    * symbol array (consumed elements are skipped via carried state). */
  private def applyMerge(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(
      sequence(lit(1), size(syms)),
      struct(array().cast("array<string>").as("acc"),
        lit(false).as("skip")),
      (st, i) => {
        val cur = element_at(syms, i)
        // try_: the lookahead runs past the array end on the last
        // element, which ANSI element_at turns into a runtime error.
        val nxt = try_element_at(syms, i + 1)
        val isPair = !st.getField("skip") && cur === lit(a) &&
          nxt.isNotNull && nxt === lit(b)
        struct(
          when(st.getField("skip"), st.getField("acc"))
            .when(isPair, concat(st.getField("acc"), array(lit(merged))))
            .otherwise(concat(st.getField("acc"), array(cur))).as("acc"),
          when(st.getField("skip"), lit(false)).otherwise(isPair)
            .as("skip"))
      },
      st => st.getField("acc"))
  }

  /** Per-session memo of trained merge tables keyed by (data dir, k)
    * — training is deterministic, so t_bpe_apply reuses t_bpe_train's
    * table instead of re-running the merge loop when both run in one
    * session (bench/verify do).
    *
    * ASSUMES the documents table at a dir is immutable for the
    * session's lifetime (true for the shipped testdata and any
    * warehouse snapshot path). */
  private val memo = new graft.tools.SessionMemo[
    (String, Int), Seq[(Int, String, String, Long)]]
  def mergesFor(t: graft.Tables, k: Int): Seq[(Int, String, String, Long)] =
    memo.get(t.spark, (t.dir, k))(trainMerges(t.fan(t.documents), k))

  /** Tokenize with a trained merge table: per DISTINCT word, chars →
    * the merge sequence applied in training order (map-side HOF
    * chain over the vocabulary, never the corpus); per-doc token
    * counts come from joining the (word → n_tokens) table back to
    * the doc word counts — the corpus-side work is one word-count
    * shuffle, identical to training's. */
  def tokenCounts(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val vocab = docWords.select("w").distinct()
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val tokenized = merges.foldLeft(vocab) { case (v, (_, a, b, _)) =>
      v.withColumn("syms", applyMerge(col("syms"), a, b))
    }.select(col("w"), size(col("syms")).as("n_tok"),
      length(col("w")).as("n_chr"))
    docWords.join(tokenized, "w")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_chr")).as("n_chars"),
        sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_chars") / (lit(1.0) * col("n_bpe_tokens")), 4)
          .as("compression"))
  }

  /** DuckDB oracle for the k-round merge chain, shared by the train
    * and apply entries. The merge REWRITE uses a delimiter trick
    * instead of a per-element fold: encode each word's symbols as
    * `\x1f sym \x1e` cells, so SQL `replace()` — left-to-right,
    * non-overlapping, no rescan of replaced output — has EXACTLY the
    * classic single-pass BPE merge semantics ([a,a,a] with merge
    * (a,a) → [aa, a]; [a,b,a,b] → [ab, ab]); the testdata contains
    * neither delimiter byte. Every per-round CTE is MATERIALIZED:
    * round r is read by both round r+1's pair count and its rewrite,
    * so DuckDB's default inlining would re-evaluate the base corpus
    * scan 2^k times. Tie-breaks are (n DESC, a, b) binary-collation
    * on both engines. */
  private[text] def oracleChain(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""
      p$r AS MATERIALIZED (
        SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS n FROM (
          SELECT unnest(list_transform(range(1, len(syms)),
                   i -> {'a': syms[i], 'b': syms[i + 1]})) AS p, freq
          FROM v${r - 1} WHERE len(syms) >= 2) z
        GROUP BY 1, 2),
      b$r AS MATERIALIZED (
        SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
      v$r AS MATERIALIZED (
        SELECT w, string_split(substring(s2, 2, len(s2) - 2),
                 chr(30) || chr(31)) AS syms, freq
        FROM (
          -- LEFT JOIN, not a cross join: if the argmax round is EMPTY
          -- (vocabulary exhausted productive merges before round k),
          -- the rewrite must be a no-op — a cross join with an empty
          -- b$r would annihilate the vocabulary and zero the apply
          -- oracle while the engine keeps tokenizing.
          SELECT v.w AS w, CASE WHEN m.a IS NULL THEN
              chr(31) || array_to_string(v.syms, chr(30) || chr(31))
                || chr(30)
            ELSE replace(
              chr(31) || array_to_string(v.syms, chr(30) || chr(31))
                || chr(30),
              chr(31) || m.a || chr(30) || chr(31) || m.b || chr(30),
              chr(31) || m.a || m.b || chr(30)) END AS s2,
            v.freq AS freq
          FROM v${r - 1} v LEFT JOIN b$r m ON TRUE) z)"""
    }.mkString(",")
    s"""
      WITH docw AS MATERIALIZED (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents) z
        WHERE len(w) > 0 GROUP BY doc_id, w),
      v0 AS MATERIALIZED (
        SELECT w, string_split_regex(w, '') AS syms,
               CAST(SUM(cnt) AS BIGINT) AS freq
        FROM docw GROUP BY w),$rounds"""
  }

  /** Oracle for t_bpe_train: the ranked (step, left, right, pair_n)
    * merge table from the unrolled chain. */
  private[text] def trainOracle(k: Int): String =
    oracleChain(k) + s"""
      SELECT CAST(step AS INTEGER) AS step, a AS "left", b AS "right",
             n AS pair_n
      FROM (${(1 to k).map(r =>
        s"SELECT $r AS step, a, b, n FROM b$r").mkString(" UNION ALL ")}) u
      ORDER BY step"""

  /** Oracle for t_bpe_apply: per-doc token counts from the final
    * merged vocabulary joined back to the doc word counts. */
  private[text] def applyOracle(k: Int): String =
    oracleChain(k) + s""",
      tok AS MATERIALIZED (
        SELECT w, len(syms) AS n_tok, len(w) AS n_chr FROM v$k)
      SELECT docw.doc_id AS doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(SUM(cnt * n_chr) AS BIGINT) AS n_chars,
             CAST(SUM(cnt * n_tok) AS BIGINT) AS n_bpe_tokens,
             ROUND(CAST(SUM(cnt * n_chr) AS DOUBLE) /
                   SUM(cnt * n_tok), 4) AS compression
      FROM docw JOIN tok ON docw.w = tok.w
      GROUP BY docw.doc_id"""

  /** Train `k` merges over `docs(text)`; returns (step, left, right,
    * pair_n) — the ranked merge table. */
  def trainMerges(docs: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("freq"))
      // LAZY checkpoints throughout the merge loop: each step's
      // best-pair TakeOrdered computes every vocab partition anyway,
      // so that one job materializes the state too — one job per
      // merge instead of a checkpoint job plus the ranking job (and
      // the final post-merge vocab, which trainMerges never reads,
      // is never materialized at all).
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var step = 1
    while (step <= k) {
      // size >= 2: a single-symbol word has no pairs, and Spark's
      // sequence(1, 0) is a DESCENDING two-element sequence whose
      // indices blow up ANSI element_at.
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(syms) - 1),
               i -> struct(element_at(syms, i) AS a,
                           element_at(syms, i + 1) AS b))"""))
          .as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) { step = k + 1 }
      else {
        val r = best.head
        val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
        out += ((step, a, b, n))
        vocab = vocab
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(false)
        step += 1
      }
    }
    out.toSeq
  }
}
