package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Mode, Sum}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.DecimalType

/** Plan-quality assertions: the scale story only holds if Catalyst
  * actually produces the intended physical shapes — pushed filters,
  * pruned scans, broadcast dims, fused TopN.
  */
class PlanShapeSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    Registry.all.find(_.name == name).get.run(t)
      .queryExecution.executedPlan.toString

  test("q_scan_filter pushes predicates into the parquet scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters") && p.contains("l_discount"),
      s"no pushed filters in:\n$p")
  }

  test("q_scan_filter prunes the read schema to selected columns") {
    val p = plan("q_scan_filter")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_tax") && !read.contains("l_returnflag"),
      s"scan reads unneeded columns: $read")
  }

  test("q_join_broadcast uses broadcast hash joins for dims") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join should not sort-merge")
  }

  test("q_join_merge honors the merge hint") {
    assert(plan("q_join_merge").contains("SortMergeJoin"))
  }

  test("q_sort_topn fuses into TakeOrderedAndProject (no global sort)") {
    val p = plan("q_sort_topn")
    assert(p.contains("TakeOrderedAndProject"), s"TopN not fused:\n$p")
  }

  test("q_tpch_q5 broadcasts all dimension tables") {
    val p = plan("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins in:\n$p")
  }

  test("q_delete broadcasts the doomed-key set into the anti join") {
    val p = plan("q_delete")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"doomed set should broadcast-anti-join:\n$p")
    // The predicate arm reaches the scan.
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"predicate arm not pushed:\n$p")
  }

  test("q_update broadcasts the derived update-key set") {
    val p = plan("q_update")
    assert(p.contains("BroadcastHashJoin"),
      s"update key set should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "fact side must not sort for a dim-derived key set")
  }

  test("m_media_dedup joins inside posting lists, never cartesian") {
    val p = plan("m_media_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay keyed on frame_fp:\n$p")
  }

  test("s_embed_centroid partial-aggregates dims before the shuffle") {
    val p = plan("s_embed_centroid")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected map-side partial dim sums:\n$p")
  }

  test("d_doc_outlier broadcasts the centroid table") {
    val p = plan("d_doc_outlier")
    assert(p.contains("BroadcastHashJoin"),
      s"label centroids must broadcast:\n$p")
  }

  test("q_agg_hash aggregates partially before the shuffle") {
    val p = plan("q_agg_hash")
    assert(p.contains("HashAggregate"),
      s"expected hash aggregation in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation")
  }

  test("q_window_grouplimit plans a WindowGroupLimit below the shuffle") {
    // rank<=k predicates must become a per-partition group limit
    // (Spark's InferWindowGroupLimit), not a full window + filter —
    // at 100 TB the pre-shuffle limit is the difference between
    // shuffling k rows per group and shuffling the whole table.
    val p = plan("q_window_grouplimit")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("q_cte_recursive and its twin run on Spark's UnionLoop operator") {
    for (name <- Seq("q_cte_recursive_native", "q_cte_recursive")) {
      val p = plan(name)
      assert(p.contains("UnionLoop"), s"no UnionLoop in $name:\n$p")
    }
  }

  test("q_tpch_q9 broadcasts every dimension side") {
    val p = plan("q_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins in:\n$p")
  }

  test("q_tpch_q8 keeps the fact spine shuffled and dims broadcast") {
    val p = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected >=4 broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("e_range_join plans on the custom broadcast range join") {
    val p = plan("e_range_join")
    assert(p.contains("BroadcastRangeJoin"), s"no range join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("t_tokens stays inside whole-stage codegen (kernel path)") {
    // executedPlan.toString renders codegen spans as "*(n)".
    val p = plan("t_tokens")
    assert(p.contains("*(1)"), s"no codegen span in:\n$p")
    assert(!p.toLowerCase.contains("regexp_extract_all"),
      "token counters still fall back to regex scans")
  }

  test("d_dedup_embed plans as an equi-join (no cartesian / nested loop)") {
    // Exact pair generation must ride the triangular block equi-join,
    // never a BroadcastNestedLoopJoin over the corpus — at 100 TB the
    // block join is memory-bounded per task; a nested loop is not.
    val p = plan("d_dedup_embed")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
  }

  test("q_tpch_q6 pushes every predicate into the parquet scan") {
    // The PushedFilters render truncates long lists, so assert the
    // prefix: all three filter columns reach the scan (IsNotNull is
    // emitted per pushed column) and pushdown has begun on shipdate.
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"q6 filters did not reach the scan:\n$p")
  }

  test("new join-heavy queries stay free of cartesian plans") {
    for (name <- Seq("q_tpch_q16", "q_tpch_q20", "d_contamination",
        "d_dedup_cluster")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested loop in $name:\n$p")
    }
  }

  test("q_tpch_q11 materializes the derived relation once") {
    // ps feeds both the per-part groups and the global threshold;
    // without materialization Catalyst plans TWO full lineitem join
    // pipelines (no common-subplan reuse across aggregates). After the
    // checkpoint the plan reads the derived relation, not parquet.
    val p = plan("q_tpch_q11")
    assert("FileScan parquet".r.findAllIn(p).size == 0 &&
      p.contains("Scan ExistingRDD"),
      s"q11 recomputes the derived relation from parquet:\n$p")
  }

  test("q_scan_partition prunes statically AND via dynamic partition pruning") {
    // The ship-month-partitioned lineitem must (a) turn the BETWEEN on
    // the partition column into PartitionFilters (directories outside
    // 1996 are never listed) and (b) carry a dynamicpruning subquery
    // from the filtered month dim, narrowing the scan to the months
    // the dim produces at runtime — the reference's two pruning modes
    // (rule_partition_processor.go / partition_prune.go).
    val p = plan("q_scan_partition")
    assert(p.contains("PartitionFilters"), s"no partition filters in:\n$p")
    assert(p.contains("1996-01") && p.contains("1996-12"),
      s"static month bounds did not reach the partition filters:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$p")
  }

  test("q_view: pushdown and pruning penetrate the view boundary") {
    // The stored view exposes 6 columns of the lineitem⋈orders join;
    // the outer query filters on l_shipdate and needs only 4 of them.
    // Catalyst must inline the definition so the filter reaches the
    // lineitem scan as PushedFilters and neither scan reads columns
    // only the VIEW mentions (o_orderdate) or neither mentions.
    val p = plan("q_view")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate filter did not cross the view boundary:\n$p")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      !r.contains("o_orderdate") && !r.contains("l_quantity")),
      s"view-only/unused columns read at the scan:\n${reads.mkString("\n")}")
  }

  test("correlated scalar subquery decorrelates to one aggregate join") {
    // executor/apply_cache.go memoizes the inner result per
    // correlated key because the reference's APPLY executor re-runs
    // the subquery per outer row. The Spark-native realization makes
    // the cache unnecessary: Catalyst's subquery decorrelation
    // rewrites the correlated scalar subquery into ONE aggregate
    // joined on the correlation key — every group computed exactly
    // once, no per-row re-execution to memoize.
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    val df = spark.sql("""
      SELECT c_custkey,
             (SELECT AVG(CAST(o.o_totalprice AS DOUBLE))
              FROM orders o WHERE o.o_custkey = c.c_custkey) AS avg_p
      FROM customer c WHERE c_custkey < 100""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"),
      s"no aggregate in decorrelated plan:\n$p")
    assert(p.contains("Join"), s"no join in decorrelated plan:\n$p")
    assert(!p.contains("ScalarSubquery"),
      s"per-row scalar subquery survived decorrelation:\n$p")
    assert(df.collect().length == df.select("c_custkey").distinct()
      .collect().length, "outer row multiplicity changed")
  }

  test("q_analyze_sample: the only un-sampled orders read is column-less") {
    // Sample-ANALYZE exists to avoid full-scan stats (row_sampler.go);
    // after the Duj1 swap the one remaining full-table input is
    // COUNT(*), whose scan must read ZERO columns — a full-scan
    // distinct would surface o_totalprice in an orders ReadSchema
    // with no sample coin above it.
    val p = plan("q_analyze_sample")
    val reads = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("orders")).toSeq
    assert(reads.nonEmpty, s"no orders scans found in:\n$p")
    val columnless = reads.count(_.contains("ReadSchema: struct<>"))
    assert(columnless == 1,
      s"expected exactly one column-less orders scan:\n${reads.mkString("\n")}")
    // Every other orders scan is the 20% hash-coin sample: key +
    // analyzed value only.
    reads.filterNot(_.contains("ReadSchema: struct<>")).foreach { r =>
      assert(r.contains("o_orderkey") && r.contains("o_totalprice") &&
        !r.contains("o_orderdate"),
        s"sampled scan reads unexpected columns: $r")
    }
  }

  test("q_scan_partition_hash prunes to the key-derived buckets") {
    // The IN predicate on the partition KEY must become a
    // PartitionFilters entry on the derived bucket column — 3 of 16
    // directories listed, the hash-prune rewrite of
    // rule_partition_processor.go:635.
    val p = plan("q_scan_partition_hash")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("pbucket"),
      s"no bucket partition filter in:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_custkey"),
      s"key predicate not pushed to the data filter:\n$p")
  }

  test("q_scan_partition_list locates the single named partition") {
    // IN ('1-URGENT','2-HIGH') ⊆ p_urgent's value list → exactly one
    // of the three plist directories is listed.
    val p = plan("q_scan_partition_list")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("plist") && pf.contains("p_urgent"),
      s"list predicate did not locate the named partition:\n$p")
    assert(!pf.contains("p_normal") && !pf.contains("p_low"),
      s"pruning kept partitions outside the located list:\n$pf")
  }

  test("q_generated_col: stored generated column filter is pushed") {
    // STORED generation's whole point: o_year physically exists, so
    // the equality lands in PushedFilters with row-group stats.
    val p = plan("q_generated_col")
    assert(p.contains("PushedFilters") && p.contains("o_year"),
      s"stored generated column not pushed to the scan:\n$p")
  }

  test("q_sequence: rank window is session-partitioned, leases broadcast") {
    val p = plan("q_sequence")
    // The per-row numbering must be partitioned by session — the only
    // unpartitioned window allowed is the 4-row lease prefix ABOVE the
    // per-session count aggregate.
    assert(p.contains("windowspecdefinition(session_id"),
      s"row numbering lost its session partitioning:\n$p")
    // The 4-row lease table reaches the fact rows by broadcast.
    assert(p.contains("BroadcastHashJoin"),
      s"lease join not broadcast:\n$p")
    // No window over the FACT rows (ordering by o_orderkey) may be
    // partitioned solely by the 4-value session key — the two-phase
    // prefix sum co-partitions it with the orderkey-range bucket, so
    // parallelism scales with the data instead of capping at 4 tasks.
    val factSpecs = "windowspecdefinition\\([^)]*o_orderkey[^)]*".r
      .findAllIn(p).toList
    assert(factSpecs.nonEmpty && factSpecs.forall(_.contains("okbkt")),
      s"fact window not co-partitioned with the range bucket:\n$p")
  }

  test("q_auto_random: per-shard sequence is two-phase, never 16 tasks") {
    val p = plan("q_auto_random")
    // Same contract as q_sequence: the window that sorts the fact by
    // o_orderkey must be partitioned by (shard, okbkt) — a window
    // partitioned solely by the 16-value shard key caps the sort at
    // 16 tasks no matter the cluster size.
    val factSpecs = "windowspecdefinition\\([^)]*o_orderkey[^)]*".r
      .findAllIn(p).toList
    assert(factSpecs.nonEmpty && factSpecs.forall(_.contains("okbkt")),
      s"fact window not co-partitioned with the range bucket:\n$p")
    // The per-(shard, bucket) offset table reaches the fact rows by
    // broadcast, not a shuffled join.
    assert(p.contains("BroadcastHashJoin"),
      s"offset join not broadcast:\n$p")
  }

  test("s_hard_negatives: broadcast anchors, top-k limited pre-shuffle") {
    val p = plan("s_hard_negatives")
    // Anchor set broadcast against one corpus scan — never a shuffled
    // or sort-merge pair join.
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"hard negatives shuffled the corpus:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"anchors not broadcast:\n$p")
    // The per-anchor top-k is bounded BEFORE the window exchange.
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed below the shuffle:\n$p")
  }

  test("d_token_budget: two-phase prefix sum, no global window") {
    // The budget cut ranks the WHOLE corpus — the naive spelling is
    // one unpartitioned cumsum window (one task at 100 TB). The plan
    // must show only PARTITIONED windows (the range-bucketed phase).
    val p = plan("d_token_budget")
    // The table-wide cumsum phase is partitioned by the range bucket
    // (windowspecdefinition(rng#...)); the only unpartitioned work
    // allowed is PrefixSum's one-row-per-range offset phase.
    assert(p.contains("windowspecdefinition(rng#"),
      s"range-bucketed cumsum phase missing — global window?\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"range offsets / budget not broadcast:\n$p")
  }

  test("t_entropy stays map-side: only the fan exchange, no agg shuffle") {
    // The kernel's whole point vs the oracle's explode+aggregate
    // spelling: the entropy column is computed in-row, so the only
    // exchange is fan()'s round-robin spread of the scan.
    val p = plan("t_entropy")
    assert("Exchange".r.findAllIn(p).size == 1 &&
      p.contains("RoundRobinPartitioning"),
      s"t_entropy grew a shuffle:\n$p")
    assert(!p.contains("HashAggregate"),
      s"t_entropy should aggregate nothing:\n$p")
    // The kernel must run exactly once per row — a pushed filter on
    // the struct output would double-evaluate it at the scan.
    assert("graft_entropy_stats".r.findAllIn(p).size == 1,
      s"entropy kernel evaluated more than once:\n$p")
  }

  test("g_pagerank rounds carry no mandatory broadcast of the rank state") {
    // A forced broadcast() of the |V|-row rank/contribution state is a
    // scale ceiling (OOMs executors at 1e8+ vertices). The round plan
    // must be hint-free — AQE may still choose a broadcast at runtime
    // while the state is measured-small, but nothing may promise it.
    val g = graph.Graph.derived(t.orders)
    val (edeg, nodes, init) = g.pageRankState()
    val round = g.pageRankRound(edeg, nodes, init, 0.85)
    // ResolvedHint only survives in the ANALYZED plan (the optimizer's
    // EliminateResolvedHint folds it into the Join's hint field, where
    // it renders as "strategy=broadcast") — check both forms so a
    // re-added broadcast() cannot slip past this test.
    val analyzed = round.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"broadcast hint in pagerank round:\n$analyzed")
    val optimized = round.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"),
      s"broadcast join hint survived optimization:\n$optimized")
  }

  test("q_subquery_select decorrelates both scalar subqueries") {
    val p = plan("q_subquery_select")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated scalar subqueries not decorrelated:\n$p")
  }

  test("q_lateral decorrelates the per-row LIMIT into a ranked join") {
    val p = plan("q_lateral")
    assert(!p.contains("CartesianProduct"), s"lateral not decorrelated:\n$p")
    assert(p.contains("Window") || p.contains("WindowGroupLimit"),
      s"expected rank-based rewrite in:\n$p")
  }

  test("q_keyset_page fuses ORDER+LIMIT and pushes the cursor predicate") {
    val p = plan("q_keyset_page")
    // The page itself must be a TopK, not a global sort.
    assert(p.contains("TakeOrderedAndProject"),
      s"keyset page not fused into TopN:\n$p")
    // The 1-row cursor reaches the fact side by broadcast.
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"cursor not broadcast:\n$p")
    // The cursor arm must be TopK-derived, never a global
    // single-partition window numbering the whole table.
    assert(!p.contains("Window"),
      s"cursor derivation regressed to a global window:\n$p")
  }

  test("q_agg_bitmap keeps map-side partial bitmap aggregation") {
    val p = plan("q_agg_bitmap")
    // Two-phase hash aggregation on the bitmap agg: partial_ on the
    // map side before the exchange (the re-aggregatable property the
    // entry exists for).
    assert(p.contains("partial_bitmap_construct_agg") ||
      p.contains("partial_first") || p.contains("HashAggregate"),
      s"no partial aggregation in:\n$p")
    assert(!p.contains("SortMergeJoin"), "bitmap rollup must not sort-merge")
  }

  test("q_split_region classifies map-side against broadcast boundaries") {
    val p = plan("q_split_region")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"boundary array must broadcast, not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"region assignment must stay map-side:\n$p")
  }

  test("t_dataset_card aggregates with map-side partials, one shuffle") {
    val p = plan("t_dataset_card")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"dataset card should shuffle at most twice (distinct+group):\n$p")
  }

  test("e_ohlc is one map-combined aggregation — no window, one shuffle") {
    val p = plan("e_ohlc")
    assert(!p.contains("Window"), s"candles must not window:\n$p")
    assert(p.contains("partial_min_by"),
      s"min_by must partial-aggregate before the exchange:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"candles need exactly one shuffle:\n$p")
  }

  test("t_readability and m_media_quality stay shuffle-free") {
    Seq("t_readability", "m_media_quality").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Exchange"), s"$n should be map-side only:\n$p")
    }
  }

  test("q_scd2_join plans an equi-join with the range as residual") {
    val p = plan("q_scd2_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"SCD2 must plan a hash/merge equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"validity range must stay residual, not the join driver:\n$p")
  }

  test("g_copurchase pairs only inside posting lists (no cartesian)") {
    val p = plan("g_copurchase")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair join must key on the part:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-50 should fuse, not sort:\n$p")
    // r18: pairs expand in-place from the per-part posting arrays
    // (one groupBy(p) exchange + a codegen double-explode) — the old
    // posting SELF-JOIN shuffled the postings twice for the same
    // pairs. No join of any kind should remain in the pair plan.
    assert(p.contains("Generate explode"),
      s"pairs must expand from posting arrays:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      s"the posting self-join should be gone:\n$p")
  }

  test("s_ann_range scans once with a broadcast query side, no shuffle") {
    val p = plan("s_ann_range")
    assert(p.contains("BroadcastExchange"),
      s"query set must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"radius search needs no shuffle:\n$p")
  }

  test("d_substring_dup shuffles fingerprints, not document text") {
    val p = plan("d_substring_dup")
    // the exchanges hash on the 32-hex md5 fingerprint / doc id —
    // never on a raw text column
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text"),
        s"text crossed an exchange: $l"))
  }

  test("pattern MATCH entries plan keyed joins, never a cartesian") {
    for (name <- Seq("g_match_multi", "g_match_chain")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to an unkeyed join:\n$p")
      // Every hop is an equi-join on a pattern variable.
      assert(p.contains("Join"), s"$name lost its joins:\n$p")
    }
  }

  test("t_colloc broadcasts marginals; text never crosses an exchange") {
    val p = plan("t_colloc")
    // The unigram marginal join onto the bigram table must broadcast
    // (vocab-sized side), and the final cut must be a TakeOrdered.
    assert(p.contains("BroadcastHashJoin"),
      s"marginals not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 not fused:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text"),
        s"text crossed an exchange: $l"))
  }

  test("t_zipf's global window runs over the aggregated vocab only") {
    val p = plan("t_zipf")
    // The single-partition window must sit ABOVE the count
    // aggregation: no Window may appear below a HashAggregate in the
    // plan tree (the window input is the vocab table, not the token
    // stream).
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0, s"no window found:\n$p")
    assert(winIdx < aggIdx,
      s"window must consume the aggregated vocab, not raw tokens:\n$p")
  }

  test("q_update_multi's matched-key dedup folds map-side: partial " +
    "aggregate below the exchange, 1:1 join above it") {
    val p = plan("q_update_multi")
    // The HandleMap analog is a distinct on the already-filtered
    // lineitem keys: partial_ mode must appear (map-side combine
    // before the shuffle), and the fix-up join must not be a
    // nested-loop (keyed 1:1 by construction).
    assert(p.contains("partial_") || p.contains("HashAggregate"),
      s"no map-side combine for the matched-key distinct:\n$p")
    assert(!p.contains("NestedLoop"), s"fix-up join degraded:\n$p")
    // The returnflag prune reaches the lineitem scan.
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"returnflag not pushed to the scan:\n$p")
  }

  test("q_delete_multi broadcasts the dims and keeps the fact joins " +
    "keyed semi joins") {
    val p = plan("q_delete_multi")
    assert(p.contains("BroadcastHashJoin"),
      s"dims should broadcast into the orders scan:\n$p")
    assert(p.contains("LeftSemi"), s"cascade should semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"unkeyed join in the cascade:\n$p")
  }

  test("q_table_status folds fixed widths to constants — scans read " +
    "only the variable-width columns") {
    // q_cached_table leaves t.nation cached; the cache's internal
    // build plan renders an all-column FileScan inside any later
    // nation plan, which is cache mechanics, not a pruning failure —
    // unpersist exactly that one plan (never clearCache: other
    // suites' warm layouts must survive) so the assertion sees THIS
    // entry's own scan.
    t.nation.unpersist(blocking = true)
    val p = plan("q_table_status")
    // The nation scan needs n_name (string width) but never the two
    // int columns, whose widths folded to literals.
    val nationRead = p.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("n_name"))
    assert(nationRead.isDefined, s"nation scan missing:\n$p")
    assert(!nationRead.get.contains("n_nationkey") &&
      !nationRead.get.contains("n_regionkey"),
      s"fixed-width columns read from parquet: ${nationRead.get}")
  }

  test("q_load_outfile parses distributedly — no collect, no " +
    "cartesian, one text scan") {
    val p = plan("q_load_outfile")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"load parse must be a map:\n$p")
    // The whole parse is map-side: no exchange between the text scan
    // and the projection.
    assert(!p.contains("Exchange"), s"load parse should not shuffle:\n$p")
  }

  test("q_stats_buckets exchanges (bucket, value) partials, never " +
    "the data rows") {
    val p = plan("q_stats_buckets")
    // Map-side partial aggregation before the one shuffle.
    assert(p.contains("partial"), s"no map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("q_alter_sequence: both epochs keep the q_sequence plan " +
      "contract — session-partitioned fact windows co-partitioned " +
      "with the range bucket, leases broadcast") {
    val p = plan("q_alter_sequence")
    assert(p.contains("windowspecdefinition(sid"),
      s"row numbering lost its session partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"lease join not broadcast:\n$p")
    // The same co-partitioning rule as q_sequence, enforced in BOTH
    // epoch subplans: no fact-ordering window may cap parallelism at
    // the 4 sessions.
    val factSpecs = "windowspecdefinition\\([^)]*o_orderkey[^)]*".r
      .findAllIn(p).toList
    assert(factSpecs.nonEmpty && factSpecs.forall(_.contains("okbkt")),
      s"fact window not co-partitioned with the range bucket:\n$p")
  }

  test("media resize + feature extraction are keyed-shuffle-free " +
      "map-side passes") {
    // The SURVEY rows claim map-side-only work: in-row HOFs /
    // string passes, output staying with its input partition. The
    // only Exchange allowed is fan()'s round-robin input spread —
    // nothing KEYED (no hash/range partitioning, no aggregation or
    // join shuffle) may appear.
    Seq("m_media_resize", "m_media_features").foreach { name =>
      val p = plan(name)
      assert(!p.contains("hashpartitioning"),
        s"$name has a keyed shuffle — the map-side claim is false:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"$name sorts globally:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
    }
  }

  test("money sums accumulate in longs: no SUM/AVG buffer wider than " +
      "DECIMAL(18,x) in any entry routed through Exact") {
    // Every registry entry is routed through Exact.Sums, which rewrites
    // each narrow decimal SUM; a wide buffer left over a narrow input
    // is one BigDecimal add per row. Inputs wider than 18 digits keep
    // Spark's buffer: the entries with one are named, with the reason.
    val wideInput = Map(
      "q_view" -> "SUM(dec * dec): a DECIMAL(37,4) product",
      "q_mv_refresh" -> "the merge re-sums the MV's DECIMAL(28,2) `rev`",
      "q_admin_check" -> "reads the MV merge (q_mv_refresh)",
      "q_admin_recover" -> "reads the MV merge (q_mv_refresh)",
      "q_admin_cleanup" -> "reads the MV merge (q_mv_refresh)")
    val found = Registry.all.map(q => q.name -> wideSums(q.name))
      .filter(_._2.nonEmpty)
    val narrow = for ((name, fs) <- found; f <- fs
        if f.children.forall(_.dataType match {
          case d: DecimalType => d.precision <= 18
          case _ => true
        }))
      yield s"$name: $f"
    assert(narrow.isEmpty, narrow.distinct.mkString("\n"))
    assert(found.map(_._1).toSet == wideInput.keySet,
      found.map { case (n, fs) => s"$n: ${fs.mkString(", ")}" }
        .mkString("\n"))
  }

  test("q_mv_refresh: the merge over the MV's `rev` is its only SUM " +
      "buffer wider than DECIMAL(18,x)") {
    // The snapshot and delta partials sum on long limbs (Exact.Sums);
    // the merge re-sums at most one partial row per priority and
    // source in DECIMAL.
    val wide = wideSums("q_mv_refresh")
    assert(wide.nonEmpty &&
      wide.forall(_.references.toSeq.map(_.name) == Seq("rev")),
      wide.mkString("\n"))
  }

  test("the derived graph's keyed BOTH table is partitioned on src: " +
      "no LPA round moves it") {
    val g = graph.Graph.derived(t.orders)
    val grouped = g.bothKeyed.groupBy("src").count()
      .queryExecution.executedPlan
    assert(collect(grouped) { case x: ShuffleExchangeLike => x }.isEmpty,
      s"groupBy(src) shuffles the table:\n$grouped")
    // Two rounds, so one joins the label state: memoizes the node count.
    g.labelPropagation(iters = 2).collect()
    def lpa(): Unit = g.labelPropagation(iters = 4)
      .write.format("noop").mode("overwrite").save()
    // The four rounds are one lazy plan under the result's checkpoint:
    // rounds 2-4 each broadcast the |V|-row state of the round before,
    // and nothing moves the edge table.
    val plans = actions(lpa()).map(_._2)
    val shown = plans.mkString("\n")
    val nodes = plans.flatMap(collect(_) { case n => n })
    assert(nodes.collect { case x: ShuffleExchangeLike => x }.isEmpty,
      s"an LPA round shuffles:\n$shown")
    val bcast = nodes.collect { case b: BroadcastExchangeLike => b }
    assert(bcast.size == 3 &&
      bcast.forall(_.output.map(_.name) == Seq("node", "lbl")),
      s"LPA broadcasts other than the three label states:\n$shown")
    // The mode is a count and a struct min, not Mode's per-vertex map.
    assert(nodes.collect { case a: ObjectHashAggregateExec => a }.isEmpty &&
      !nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[Mode]))),
      s"an LPA round aggregates with Mode:\n$shown")
    // Three broadcasts and the write, which materializes the checkpoint.
    assert(Run.counts(spark)(lpa()).jobs == 4)
  }

  test("no k-core peel exchanges the keyed BOTH table: the degree " +
      "aggregate and both semi-joins stream it") {
    val g = graph.Graph.derived(t.orders)
    g.kCore(3, 8).collect()  // memoizes the node count
    val plans = actions(g.kCore(3, 8))
    // One lazy checkpoint per peel, after the one of the initial
    // degrees; this graph needs at least two peels.
    val peels = plans.collect { case ("localCheckpoint", p) => p }
      .filter(_.toString.contains("LeftSemi"))
    assert(peels.size >= 2, s"${plans.map(_._1)}")
    peels.foreach { p =>
      assert(collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"a peel that does not scan the keyed table:\n$p")
    }
    for ((_, p) <- plans; x <- collect(p) {
        case x: ShuffleExchangeLike => x
        case x: BroadcastExchangeLike => x }) {
      assert(collect(x) { case s: InMemoryTableScanExec => s }.isEmpty,
        s"a k-core action exchanges the edge table:\n$p")
    }
  }

  test("g_nhop broadcasts the filtered first hop, not the edge table") {
    val p = Registry.byName("g_nhop").run(t).queryExecution.executedPlan
    val bcasts = collect(p) { case b: BroadcastExchangeLike => b }
    assert(bcasts.size == 1, s"$p")
    assert(collect(bcasts.head) { case f: FilterExec => f }
      .exists(_.condition.sql.contains("< 20")),
      s"the broadcast side is not the `src < 20` hop:\n$p")
  }

  /** The (action name, executed plan) of every action `body` runs. */
  private def actions(body: => Unit): Seq[(String, SparkPlan)] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += f -> qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.toSeq
  }

  /** The SUM/AVG functions of `name`'s executed plan (subqueries
    * included) with a DecimalType buffer wider than 18 digits: one
    * BigDecimal add per row in the hash aggregate. */
  private def wideSums(name: String) = {
    val p = Registry.byName(name).run(t).queryExecution.executedPlan
    collectWithSubqueries(p) { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction })
      .collect { case f @ (_: Sum | _: Average) => f }
      .filter(_.aggBufferAttributes.exists(_.dataType match {
        case d: DecimalType => d.precision > 18
        case _ => false
      }))
  }
}
