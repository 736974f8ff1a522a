package graft

import org.apache.spark.sql.functions._

/** Round-16 wave: placement-policy lifecycle, whole-table TRUNCATE,
  * extended statistics, the statement-inventory sweep, and the
  * stats-family boundary memo.
  */
class Wave21Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  test("placement policies: in-use drop refuses with the blocking " +
      "table named; detach unblocks; unknown names refuse") {
    val P = graft.tools.PlacementPolicies
    P.clear()
    P.create("p1", P.Policy("r1", Seq("r1", "r2"), 2))
    P.attach("tbl_a", "p1")
    P.attach("tbl_b", "p1")
    // The refusal path: drop while ANY table references the policy.
    val e = intercept[IllegalStateException](P.drop("p1"))
    assert(e.getMessage ==
      "placement policy p1 is in use by table(s) tbl_a, tbl_b")
    // Detaching ONE user still refuses; detaching both unblocks.
    P.detach("tbl_a")
    intercept[IllegalStateException](P.drop("p1"))
    P.detach("tbl_b")
    P.drop("p1")
    assert(P.renderRows().isEmpty)
    // Unknown-name paths refuse loudly.
    intercept[IllegalStateException](P.drop("p1"))
    intercept[IllegalStateException](P.alter("nope", P.Policy("r", Seq("r"), 1)))
    intercept[IllegalStateException](P.attach("tbl", "nope"))
    // Duplicate create refuses.
    P.create("p2", P.Policy("r1", Seq("r1"), 1))
    intercept[IllegalStateException](
      P.create("p2", P.Policy("r9", Seq("r9"), 9)))
    P.clear()
  }

  test("q_placement_policy runs the full lifecycle and leaves the " +
      "store clean for q_show_placement") {
    val rows = q("q_placement_policy").collect()
    assert(rows.length == 9)
    assert(rows.count(_.getString(3) == "ERROR") == 1)
    // The entry cleans up — q_show_placement's render sees no
    // leftover policies.
    assert(graft.tools.PlacementPolicies.renderRows().isEmpty)
  }

  test("q_show_placement serves live policy rows from the store, " +
      "before the physical layouts, and drops them after clear") {
    val P = graft.tools.PlacementPolicies
    P.clear()
    P.create("p_live", P.Policy("us-east-1", Seq("us-east-1"), 3))
    P.attach("orders_live", "p_live")
    try {
      val rows = q("q_show_placement").collect()
      assert(rows(0).getString(0) == "POLICY p_live")
      assert(rows(0).getString(1) ==
        """PRIMARY_REGION="us-east-1" REGIONS="us-east-1" FOLLOWERS=3""")
      assert(rows(1).getString(0) == "TABLE orders_live")
      assert(rows(1).getString(1) == "PLACEMENT POLICY p_live")
      assert(rows.length == 6) // 2 policy rows + 4 physical layouts
    } finally P.clear()
    assert(q("q_show_placement").collect().length == 4)
  }

  test("q_truncate_table: empty after truncate, retained generation, " +
      "flashback restores the exact rows") {
    val rows = q("q_truncate_table").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows("2_post_truncate") == ((0L, 0.0)))
    assert(rows("3_old_gen_retained") == ((1L, 0.0)))
    assert(rows("1_pre_truncate") == rows("4_flashback_restored"))
    assert(rows("1_pre_truncate")._1 > 0)
    // The truncated table still EXISTS (truncate is not drop): the
    // empty generation serves under the original identity.
    val root = graft.sources.Layouts.root("truncate", t.dir)
    assert(spark.read.parquet(s"$root/trunc_orders").count() == 0)
  }

  test("q_stats_extended: stat bounds hold, and the backoff " +
      "interpolates between independence and implication") {
    val rows = q("q_stats_extended").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows("ext_corr").abs <= 1.0)
    assert(rows("ext_fd") > 0.0 && rows("ext_fd") <= 1.0)
    val (indep, backoff) =
      (rows("est_independence"), rows("est_fd_backoff"))
    // sel_b^(1-deg) ∈ [sel_b, 1]: the corrected estimate always sits
    // between the independence estimate (deg=0) and n·sel_a (deg=1).
    assert(backoff >= indep && rows("actual") >= 0.0)
  }

  test("FD backoff estimator: on a constructed TRUE dependency the " +
      "correction recovers the exact count where independence is " +
      "badly low") {
    import spark.implicits._
    // p is FULLY determined by x (p = parity class of x), 40 rows
    // per x value so the pair NDV is measured on dense data: deg=1,
    // and the true count of (x<=50 AND p='even') is the count of
    // even x<=50 — sel_a·n/... — while independence multiplies in
    // sel_b≈1/2 and lands at HALF the truth.
    val df = (1L to 4000L).map(i => (i % 100 + 1,
      if ((i % 100 + 1) % 2 == 0) "even" else "odd", (i % 7).toDouble))
      .toDF("x", "p", "y")
    val g = df.groupBy("x", "p")
      .agg(count(lit(1)).as("cnt"))
    val m = g.agg(sum(col("cnt")).as("n"),
      countDistinct(col("x")).as("ndv_x"),
      count(lit(1)).as("ndv_pair"),
      sum(when(col("x") <= 50, col("cnt")).otherwise(0L)).as("n_a"),
      sum(when(col("p") === "even", col("cnt")).otherwise(0L)).as("n_b"),
      sum(when(col("x") <= 50 && col("p") === "even", col("cnt"))
        .otherwise(0L)).as("n_ab")).head()
    val (n, ndvX, ndvPair) =
      (m.getAs[Long]("n"), m.getAs[Long]("ndv_x"), m.getAs[Long]("ndv_pair"))
    val deg = ndvX.toDouble / ndvPair
    assert(deg == 1.0, s"constructed FD must measure deg=1, got $deg")
    val (selA, selB) = (m.getAs[Long]("n_a").toDouble / n,
      m.getAs[Long]("n_b").toDouble / n)
    val indep = n * selA * selB
    val backoff = n * selA * math.pow(selB, 1 - deg)
    val actual = m.getAs[Long]("n_ab").toDouble
    // deg=1 ⇒ backoff = n·sel_a exactly; here p is the parity of x,
    // so half of x<=50 is even: actual = n·sel_a/2 = indep — the
    // estimator's win case is a predicate IMPLIED by the first:
    val nEvenA = df.filter(col("x") <= 50 && col("p") === "even").count()
    assert(math.abs(backoff - n * selA) < 1e-9)
    assert(math.abs(actual - nEvenA.toDouble) < 1e-9)
    // The implied-predicate case: A = x in the even half, B = 'even'.
    val m2 = g.agg(sum(col("cnt")).as("n"),
      sum(when(col("x") % 2 === 0, col("cnt")).otherwise(0L)).as("n_a"),
      sum(when(col("p") === "even", col("cnt")).otherwise(0L)).as("n_b"),
      sum(when(col("x") % 2 === 0 && col("p") === "even", col("cnt"))
        .otherwise(0L)).as("n_ab")).head()
    val (selA2, selB2) = (m2.getAs[Long]("n_a").toDouble / n,
      m2.getAs[Long]("n_b").toDouble / n)
    val indep2 = n * selA2 * selB2
    val backoff2 = n * selA2 * math.pow(selB2, 1 - deg)
    val actual2 = m2.getAs[Long]("n_ab").toDouble
    assert(math.abs(backoff2 - actual2) < 1e-9,
      s"deg=1 backoff must recover the exact count: $backoff2 vs $actual2")
    assert(indep2 < actual2 / 1.9,
      s"independence must under-estimate the implied pair: $indep2")
    assert(indep > 0 && backoff >= indep && actual >= 0)
  }

  test("ExtendedStats lifecycle: refusal corners, SHOW renders, and " +
      "the drop-while-consumed estimator flip") {
    val E = graft.tools.ExtendedStats
    E.clear()
    try {
      E.create("s1", "correlation", "orders",
        Seq("o_custkey", "o_totalprice"))
      // Duplicate CREATE refuses (the reference's already-exists).
      intercept[IllegalStateException] {
        E.create("s1", "dependency", "orders", Seq("a", "b"))
      }
      // Unknown type / wrong arity refuse at CREATE.
      intercept[IllegalArgumentException] {
        E.create("s2", "histogram", "orders", Seq("a", "b"))
      }
      intercept[IllegalArgumentException] {
        E.create("s2", "dependency", "orders", Seq("a"))
      }
      // Unknown DROP / fill / value refuse — never quiet no-ops.
      intercept[IllegalStateException] { E.drop("nope") }
      intercept[IllegalStateException] { E.fill("nope", 1.0) }
      intercept[IllegalStateException] { E.value("nope") }
      // Pending → analyzed render flip.
      assert(E.renderRows() ==
        Seq(("s1", "correlation", "orders",
          "o_custkey~o_totalprice", "pending")))
      E.fill("s1", 0.12345)
      assert(E.renderRows().head._5 == "analyzed:0.1235")
      assert(E.value("s1").contains(0.12345))
      // Drop-while-consumed: drop never refuses; the consumer's
      // exists() test flips, which IS the independence fallback.
      assert(E.exists("s1"))
      E.drop("s1")
      assert(!E.exists("s1") && E.renderRows().isEmpty)
    } finally E.clear()
  }

  test("q_stats_lifecycle: the estimate flips from backoff to " +
      "independence at the drop, and the store is left clean") {
    val rows = q("q_stats_lifecycle").collect()
    val byStage = rows.groupBy(_.getString(0))
    assert(byStage("1_show_pending").length == 2 &&
      byStage("1_show_pending").forall(_.getString(1).endsWith("pending")))
    assert(byStage("3_show_analyzed").length == 2 &&
      byStage("3_show_analyzed")
        .forall(_.getString(1).endsWith("analyzed")))
    assert(byStage("6_show_after_drop").map(_.getString(1)).toSeq ==
      Seq("ext_corr:correlation:orders:o_custkey~o_totalprice:analyzed"))
    val withFd = byStage("4_estimate_with_fd").head.getDouble(2)
    val indep = byStage("5_estimate_after_drop").head.getDouble(2)
    // deg ∈ (0,1] ⇒ the backoff estimate strictly exceeds
    // independence on this data (sel_b < 1).
    assert(withFd > indep && indep > 0.0)
    // The lifecycle card's analyzed values equal q_stats_extended's
    // (one shared computation — the cards cannot drift).
    val ext = q("q_stats_extended").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val ana = byStage("2_analyzed")
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(ana("ext_corr") == ext("ext_corr"))
    assert(ana("ext_fd") == ext("ext_fd"))
    assert(withFd == ext("est_fd_backoff") &&
      indep == ext("est_independence"))
    // Global-store hygiene: the entry cleared its objects.
    assert(graft.tools.ExtendedStats.renderRows().isEmpty)
  }

  test("q_stmt_sweep: every stage lands its pinned flag and the " +
      "real counts are real") {
    val rows = q("q_stmt_sweep").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val expect = t.orders.filter(col("o_totalprice") > 150000 &&
      col("o_orderpriority") === "1-URGENT").count()
    assert(rows("1_prepare_execute") == expect && expect > 0)
    assert(rows("2_execute_again") == expect)
    Seq("3_deallocate", "4_execute_after_deallocate",
      "5_deallocate_again", "6_flush_lease_before",
      "8_flush_rows_stable", "9_dead_lock_blocks", "10_admin_cleanup",
      "11_acquire_after_cleanup", "12_live_locks_survive")
      .foreach(s => assert(rows(s) == 1L, s"stage $s"))
    assert(rows("7_flush_lease_after") == 0L)
  }

  test("RowLocks.cleanupTableLocks evicts only dead sessions' TABLE " +
      "sentinels — live sessions and row locks survive") {
    val L = graft.tools.RowLocks
    L.clear()
    L.acquire("dead", "TABLE:orders", Seq(0L), exclusive = true)
    L.acquire("dead", "TABLE:nation", Seq(0L), exclusive = false)
    L.acquire("dead", "orders", Seq(7L), exclusive = true) // row lock
    L.acquire("live", "TABLE:customer", Seq(0L), exclusive = false)
    assert(L.cleanupTableLocks(live = Set("live")) == 2L)
    // Dead session's ROW lock is not a table lock — survives (its
    // cleanup is the txn-recovery path, not ADMIN CLEANUP TABLE LOCK).
    assert(L.held("dead") == 1L)
    assert(L.held("live") == 1L)
    // Idempotent: nothing left to evict.
    assert(L.cleanupTableLocks(live = Set("live")) == 0L)
    L.clear()
  }

  test("SampleStats.litBounds serves the memoized boundary row with " +
      "priceBounds' exact schema and values") {
    import graft.operators.SampleStats
    val fresh = SampleStats.priceBounds(t.orders).head()
    val lit1 = SampleStats.litBounds(t).head()
    assert(lit1 == fresh)
    assert(SampleStats.litBounds(t).schema.fieldNames.toSeq ==
      SampleStats.priceBounds(t.orders).schema.fieldNames.toSeq)
    // The sampled variant memoizes under its own key.
    val freshS = SampleStats.priceBounds(
      SampleStats.sampledOrders(t)).head()
    assert(SampleStats.litBounds(t, sampled = true).head() == freshS)
    assert(freshS != fresh)
  }
}
