package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import org.apache.spark.sql.functions._

/** Round-16 wave: the placement-policy DDL lifecycle, whole-table
  * TRUNCATE with flashback, extended statistics (multi-column
  * correlation + functional dependency feeding a selectivity
  * estimate), and the final statement-inventory sweep (DEALLOCATE,
  * FLUSH TABLES, ADMIN CLEANUP TABLE LOCK).
  */
object Wave21 {

  /** A fresh dir-table root for the truncate card (truncate mutates
    * the layout, so the entry rebuilds its fixtures per run — the
    * q_rename_table discipline). */
  private def truncRoot(t: Tables): String =
    Layouts.root("truncate", t.dir)

  /** ONE spelling of the extended-stats oracle algebra — shared by
    * q_stats_extended and q_stats_lifecycle so the two cards cannot
    * drift: (x, p) grouped partials over orders, then the Pearson /
    * FD-degree / selectivity scalars over those. */
  private val extCtes: String = """
      WITH o AS (
        SELECT o_custkey AS x, o_orderpriority AS p,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS y
        FROM orders),
      g AS (
        SELECT x, p, COUNT(*) AS cnt, SUM(y) AS sy, SUM(y*y) AS syy
        FROM o GROUP BY x, p),
      m AS (
        SELECT SUM(cnt) AS n,
               SUM(x * cnt) AS sx, SUM(CAST(x AS DOUBLE) * x * cnt) AS sxx,
               SUM(sy) AS sy, SUM(syy) AS syy, SUM(x * sy) AS sxy,
               CAST(COUNT(DISTINCT x) AS BIGINT) AS ndv_x,
               CAST(COUNT(*) AS BIGINT) AS ndv_pair,
               SUM(CASE WHEN x <= 500 THEN cnt ELSE 0 END) AS n_a,
               SUM(CASE WHEN p = '1-URGENT' THEN cnt ELSE 0 END) AS n_b,
               SUM(CASE WHEN x <= 500 AND p = '1-URGENT'
                   THEN cnt ELSE 0 END) AS n_ab
        FROM g),
      f AS (
        SELECT *,
          (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
            SQRT((CAST(n AS DOUBLE) * sxx
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * syy - sy * sy)) AS corr,
          CAST(ndv_x AS DOUBLE) / ndv_pair AS deg,
          CAST(n_a AS DOUBLE) / n AS sel_a,
          CAST(n_b AS DOUBLE) / n AS sel_b
        FROM m)"""

  /** The engine twin of [[extCtes]]'s `f`: ONE map-combined pass
    * over orders — the (x, p) grouped partials, then every scalar as
    * algebra over ~NDV(pair) rows. Shared by q_stats_extended (the
    * computation card) and q_stats_lifecycle (ANALYZE's write-back
    * into the [[graft.tools.ExtendedStats]] store). */
  private def extStatsFrame(t: Tables)
      : org.apache.spark.sql.DataFrame = {
    val g = t.orders
      .select(col("o_custkey").as("x"),
        col("o_orderpriority").as("p"),
        SampleStats.price.as("y"))
      .groupBy("x", "p")
      .agg(count(lit(1)).as("cnt"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("syy"))
    val m = g.agg(
      sum(col("cnt")).as("n"),
      sum(col("x") * col("cnt")).as("sx"),
      sum(col("x").cast("double") * col("x") * col("cnt")).as("sxx"),
      sum(col("sy")).as("sy"),
      sum(col("syy")).as("syy"),
      sum(col("x") * col("sy")).as("sxy"),
      countDistinct(col("x")).as("ndv_x"),
      count(lit(1)).as("ndv_pair"),
      sum(when(col("x") <= 500, col("cnt")).otherwise(0L)).as("n_a"),
      sum(when(col("p") === "1-URGENT", col("cnt")).otherwise(0L))
        .as("n_b"),
      sum(when(col("x") <= 500 && col("p") === "1-URGENT",
        col("cnt")).otherwise(0L)).as("n_ab"))
    m.withColumn("corr",
        (col("n").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sy")) /
          sqrt((col("n").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy") -
              col("sy") * col("sy"))))
      .withColumn("deg",
        col("ndv_x").cast("double") / col("ndv_pair"))
      .withColumn("sel_a", col("n_a").cast("double") / col("n"))
      .withColumn("sel_b", col("n_b").cast("double") / col("n"))
  }

  val all: Seq[Q] = Seq(

    // CREATE / ALTER / DROP PLACEMENT POLICY (reference:
    // ddl/ddl_api.go:6611 CreatePlacementPolicy /
    // AlterPlacementPolicy / DropPlacementPolicy). The policy store
    // (tools.PlacementPolicies) is the same catalog q_show_placement
    // renders from; this entry drives the WHOLE lifecycle through it
    // and hash-pins every SHOW PLACEMENT render flip: create shows
    // the policy row, attach shows the table row, ALTER flips the
    // option string in place (attached tables reference by name —
    // exactly why in-use drop must refuse), drop-while-attached
    // REFUSES (ErrPlacementPolicyInUse, the error path is a pinned
    // row), and detach+drop removes the rows. Wave21Spec pins the
    // refusal exception type and message.
    Q("q_placement_policy", Some("""
      SELECT * FROM (VALUES
        ('1_create', 'POLICY p_hot',
         'PRIMARY_REGION="us-east-1" REGIONS="us-east-1,us-west-2" FOLLOWERS=2',
         'SCHEDULED'),
        ('2_attach', 'POLICY p_cold',
         'PRIMARY_REGION="eu-west-1" REGIONS="eu-west-1" FOLLOWERS=1',
         'SCHEDULED'),
        ('2_attach', 'POLICY p_hot',
         'PRIMARY_REGION="us-east-1" REGIONS="us-east-1,us-west-2" FOLLOWERS=2',
         'SCHEDULED'),
        ('2_attach', 'TABLE orders_archive', 'PLACEMENT POLICY p_cold',
         'SCHEDULED'),
        ('3_alter', 'POLICY p_cold',
         'PRIMARY_REGION="eu-west-1" REGIONS="eu-west-1" FOLLOWERS=1',
         'SCHEDULED'),
        ('3_alter', 'POLICY p_hot',
         'PRIMARY_REGION="us-east-1" REGIONS="us-east-1,us-west-2,ap-south-1" FOLLOWERS=4',
         'SCHEDULED'),
        ('3_alter', 'TABLE orders_archive', 'PLACEMENT POLICY p_cold',
         'SCHEDULED'),
        ('4_drop_refused', 'POLICY p_cold',
         'REFUSED: in use by table(s) orders_archive', 'ERROR'),
        ('5_detach_drop', 'POLICY p_hot',
         'PRIMARY_REGION="us-east-1" REGIONS="us-east-1,us-west-2,ap-south-1" FOLLOWERS=4',
         'SCHEDULED')
      ) AS v(stage, target, placement, scheduling_state)
    """)) { t =>
      import t.spark.implicits._
      val P = graft.tools.PlacementPolicies
      P.clear()
      val out = Seq.newBuilder[(String, String, String, String)]
      def snap(stage: String): Unit =
        P.renderRows().foreach { case (tg, pl, st) =>
          out += ((stage, tg, pl, st))
        }
      // The store is GLOBAL (q_show_placement renders it): clear in
      // a finally so one mid-entry failure cannot leak policies into
      // every later q_show_placement render of this session.
      try {
        P.create("p_hot", P.Policy("us-east-1",
          Seq("us-east-1", "us-west-2"), 2))
        snap("1_create")
        P.create("p_cold", P.Policy("eu-west-1", Seq("eu-west-1"), 1))
        P.attach("orders_archive", "p_cold")
        snap("2_attach")
        P.alter("p_hot", P.Policy("us-east-1",
          Seq("us-east-1", "us-west-2", "ap-south-1"), 4))
        snap("3_alter")
        // DROP of an in-use policy refuses — the error IS the row.
        try { P.drop("p_cold"); out += (("4_drop_refused",
          "POLICY p_cold", "BUG: drop succeeded", "ERROR")) }
        catch { case e: IllegalStateException =>
          out += (("4_drop_refused", "POLICY p_cold",
            "REFUSED: " + e.getMessage
              .stripPrefix("placement policy p_cold is "),
            "ERROR"))
        }
        P.detach("orders_archive")
        P.drop("p_cold")
        snap("5_detach_drop")
      } finally P.clear()
      out.result()
        .toDF("stage", "target", "placement", "scheduling_state")
    },

    // TRUNCATE TABLE (reference: ddl/ddl_api.go:5174
    // ActionTruncateTable — an O(1) METADATA swap: the table gets a
    // fresh empty table ID, the old data keeps its ID and stays
    // readable to the GC safepoint, so FLASHBACK TABLE can recover
    // it). The warehouse twin composes tools.RecycleBin with the
    // dir-table discipline: truncate = move the data generation into
    // the recycle bin (O(1) same-filesystem rename — no data
    // touched at ANY SF) + write an empty generation with the same
    // schema (a LocalRelation limit(0) write — schema footer only).
    // The card proves the four contract points: pre-truncate rows
    // served, post-truncate the SAME path serves zero rows (but the
    // table still EXISTS — truncate is not drop), the old
    // generation is retained (not erased), and FLASHBACK brings the
    // pre-truncate rows back byte-exact (restored under a recover
    // name, the FLASHBACK TABLE ... TO ... form — the truncated
    // table keeps serving its empty generation).
    Q("q_truncate_table", Some("""
      WITH s AS (
        SELECT o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders WHERE o_orderkey % 9 = 0)
      SELECT '1_pre_truncate' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(p) AS DOUBLE) AS total
      FROM s
      UNION ALL SELECT '2_post_truncate', 0, 0.0
      UNION ALL SELECT '3_old_gen_retained', 1, 0.0
      UNION ALL SELECT '4_flashback_restored', COUNT(*),
                       CAST(SUM(p) AS DOUBLE)
      FROM s
    """)) { t =>
      import t.spark.implicits._
      val root = truncRoot(t)
      Formats.deleteRecursively(new java.io.File(root))
      val tableDir = s"$root/trunc_orders"
      val binDir = s"$root/bin"
      val seed = t.orders.filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"),
          Exact.dec2(col("o_totalprice")).as("p"))
      seed.write.parquet(tableDir)
      def card(dir: String): (Long, Double) = {
        val r = t.spark.read.parquet(dir)
          .agg(count(lit(1)).as("n"),
            coalesce(sum(Exact.dec2(col("p"))).cast("double"), lit(0.0))
              .as("s")).head()
        (r.getLong(0), r.getDouble(1))
      }
      val (n0, s0) = card(tableDir)
      // TRUNCATE: recycle-bin the data generation (O(1) rename),
      // then a fresh EMPTY generation under the same identity.
      graft.tools.RecycleBin.drop(tableDir, binDir)
      seed.limit(0).write.parquet(tableDir)
      val (n1, s1) = card(tableDir) // the table EXISTS and is empty
      val retained = Option(new java.io.File(binDir).listFiles())
        .getOrElse(Array.empty)
        .count(_.getName.startsWith("trunc_orders__"))
      // FLASHBACK TABLE trunc_orders TO trunc_orders_recovered.
      graft.tools.RecycleBin.flashback(binDir, "trunc_orders",
        s"$root/trunc_orders_recovered")
      val (n2, s2) = card(s"$root/trunc_orders_recovered")
      Seq(
        ("1_pre_truncate", n0, s0),
        ("2_post_truncate", n1, s1),
        ("3_old_gen_retained", retained.toLong, 0.0),
        ("4_flashback_restored", n2, s2))
        .toDF("stage", "n_rows", "total")
    },

    // Extended statistics (reference: parser/ast/misc.go:1702
    // CreateStatisticsStmt — CREATE STATISTICS s (correlation|
    // dependency) ON t(a, b); statistics' extended-stats handle
    // stores the cross-COLUMN objects single-column histograms
    // cannot express). Built in ONE map-combined data pass: orders
    // groups by (o_custkey, o_orderpriority) — every downstream
    // number is algebra over those grouped partials (o_custkey is IN
    // the group key, so Σxy = Σ_g x·sy_g etc.; the second aggregate
    // runs over ~NDV(pair) rows, never the table). The card stores
    // the two objects — Pearson correlation(o_custkey, o_totalprice)
    // and the functional-dependency degree of
    // o_custkey→o_orderpriority (ndv(x)/ndv(x,p): 1.0 iff each
    // customer uses one priority) — and CONSUMES the dependency the
    // way q_selectivity consumes histograms: the conjunctive
    // predicate's row estimate under independence vs the
    // degree-weighted exponential backoff est = n·sel_a·sel_b^(1-d)
    // (d=1 ⇒ the second predicate is implied; d=0 ⇒ independence),
    // with the true count next to both so the card shows what the
    // correction bought.
    Q("q_stats_extended", Some(s"""
      $extCtes
      SELECT 'ext_corr' AS stat_name, 'correlation' AS stat_type,
             'o_custkey~o_totalprice' AS columns,
             ROUND(corr, 4) AS value
      FROM f
      UNION ALL SELECT 'ext_fd', 'dependency',
                       'o_custkey->o_orderpriority', ROUND(deg, 4)
      FROM f
      UNION ALL SELECT 'est_independence', 'selectivity',
                       'o_custkey<=500 AND o_orderpriority=1-URGENT',
                       ROUND(n * sel_a * sel_b, 4)
      FROM f
      UNION ALL SELECT 'est_fd_backoff', 'selectivity',
                       'o_custkey<=500 AND o_orderpriority=1-URGENT',
                       ROUND(n * sel_a * POWER(sel_b, 1 - deg), 4)
      FROM f
      UNION ALL SELECT 'actual', 'selectivity',
                       'o_custkey<=500 AND o_orderpriority=1-URGENT',
                       CAST(n_ab AS DOUBLE)
      FROM f
    """)) { t =>
      val f = extStatsFrame(t)
      val pred = "o_custkey<=500 AND o_orderpriority=1-URGENT"
      f.selectExpr(s"""stack(5,
          'ext_corr', 'correlation', 'o_custkey~o_totalprice',
            round(corr, 4),
          'ext_fd', 'dependency', 'o_custkey->o_orderpriority',
            round(deg, 4),
          'est_independence', 'selectivity', '$pred',
            round(n * sel_a * sel_b, 4),
          'est_fd_backoff', 'selectivity', '$pred',
            round(n * sel_a * power(sel_b, 1 - deg), 4),
          'actual', 'selectivity', '$pred',
            cast(n_ab as double))
          AS (stat_name, stat_type, columns, value)""")
    },

    // Extended-statistics LIFECYCLE (reference: parser/ast/misc.go:1702
    // CreateStatisticsStmt + DropStatisticsStmt): CREATE registers the
    // named objects in the tools.ExtendedStats catalog (duplicate
    // CREATE refuses — Wave21Spec pins the error), ANALYZE fills them
    // with the REAL q_stats_extended computation (the shared
    // extStatsFrame pass — write-back via fill), SHOW STATS_EXTENDED
    // renders the catalog at every stage (pending → analyzed →
    // post-drop), and the estimator CONSUMES the store live: the
    // conjunctive predicate's row estimate uses the FD-degree backoff
    // exactly while ext_fd exists, and the SAME estimate call falls
    // back to independence the moment DROP removes it — the
    // reference's drop-while-consumed semantics (drop never refuses;
    // consumers just stop seeing the object). Every stage row is
    // recomputed by the oracle from the same algebra.
    Q("q_stats_lifecycle", Some(s"""
      $extCtes
      SELECT '1_show_pending' AS stage,
             'ext_corr:correlation:orders:o_custkey~o_totalprice:pending'
               AS item,
             CAST(NULL AS DOUBLE) AS value
      UNION ALL SELECT '1_show_pending',
        'ext_fd:dependency:orders:o_custkey~o_orderpriority:pending',
        NULL
      UNION ALL SELECT '2_analyzed', 'ext_corr', ROUND(corr, 4) FROM f
      UNION ALL SELECT '2_analyzed', 'ext_fd', ROUND(deg, 4) FROM f
      UNION ALL SELECT '3_show_analyzed',
        'ext_corr:correlation:orders:o_custkey~o_totalprice:analyzed',
        NULL
      UNION ALL SELECT '3_show_analyzed',
        'ext_fd:dependency:orders:o_custkey~o_orderpriority:analyzed',
        NULL
      UNION ALL SELECT '4_estimate_with_fd',
        'o_custkey<=500 AND o_orderpriority=1-URGENT',
        ROUND(n * sel_a * POWER(sel_b, 1 - deg), 4) FROM f
      UNION ALL SELECT '5_estimate_after_drop',
        'o_custkey<=500 AND o_orderpriority=1-URGENT',
        ROUND(n * sel_a * sel_b, 4) FROM f
      UNION ALL SELECT '6_show_after_drop',
        'ext_corr:correlation:orders:o_custkey~o_totalprice:analyzed',
        NULL
    """)) { t =>
      import t.spark.implicits._
      val E = graft.tools.ExtendedStats
      def round4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      E.clear()
      val out = Seq.newBuilder[(String, String, Option[Double])]
      // The store is GLOBAL: clear in a finally (the
      // q_placement_policy discipline) so a mid-entry failure cannot
      // leak objects into later renders.
      try {
        E.create("ext_corr", "correlation", "orders",
          Seq("o_custkey", "o_totalprice"))
        E.create("ext_fd", "dependency", "orders",
          Seq("o_custkey", "o_orderpriority"))
        def show(stage: String): Unit =
          E.renderRows().foreach { case (n, ty, tb, cols, st) =>
            out += ((stage, s"$n:$ty:$tb:$cols:${st.split(':')(0)}",
              None))
          }
        show("1_show_pending")
        // ANALYZE: the one shared map-combined pass; write-back.
        val f = extStatsFrame(t).head()
        E.fill("ext_corr", f.getAs[Double]("corr"))
        E.fill("ext_fd", f.getAs[Double]("deg"))
        out += (("2_analyzed", "ext_corr",
          Some(round4(E.value("ext_corr").get))))
        out += (("2_analyzed", "ext_fd",
          Some(round4(E.value("ext_fd").get))))
        show("3_show_analyzed")
        // The estimator consumes the STORE, not a local: the degree
        // is read (or not) at estimate time — that is what makes the
        // post-drop flip the store's semantics rather than staging.
        val (n, selA, selB) = (f.getAs[Long]("n"),
          f.getAs[Double]("sel_a"), f.getAs[Double]("sel_b"))
        val pred = "o_custkey<=500 AND o_orderpriority=1-URGENT"
        def estimate(): Double = {
          val d = if (E.exists("ext_fd")) E.value("ext_fd").get
            else 0.0 // independence: the object is gone
          n * selA * math.pow(selB, 1 - d)
        }
        out += (("4_estimate_with_fd", pred, Some(round4(estimate()))))
        E.drop("ext_fd")
        out += (("5_estimate_after_drop", pred,
          Some(round4(estimate()))))
        show("6_show_after_drop")
      } finally E.clear()
      out.result().toDF("stage", "item", "value")
    },

    // Statement-inventory sweep — the last three uncovered statement
    // classes, one card (reference: executor/compiler.go:380
    // DeallocateStmt; executor/simple.go:1553 executeFlush — FLUSH
    // TABLES invalidates cached table readers; parser/ast/ddl.go:1812
    // CleanupTableLockStmt — ADMIN CLEANUP TABLE LOCK evicts table
    // locks whose owning session is GONE). Each section drives the
    // REAL store the covered statements already use:
    // PREPARE/EXECUTE/DEALLOCATE against tools.Prepared (EXECUTE
    // counts real orders rows; EXECUTE-after-DEALLOCATE and a double
    // DEALLOCATE both refuse — the pinned error rows);
    // FLUSH TABLES against q_cached_table's lease analog (the
    // cache() storage level IS the lease: held before, released
    // after, the data identical across the flush); ADMIN CLEANUP
    // TABLE LOCK against RowLocks' table-lock sentinels (a dead
    // session's WRITE lock blocks a live acquirer until cleanup
    // evicts exactly the dead session's sentinels — row locks and
    // live sessions' locks survive).
    Q("q_stmt_sweep", Some("""
      WITH n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
        WHERE o_totalprice > 150000 AND o_orderpriority = '1-URGENT')
      SELECT '1_prepare_execute' AS stage, 'n_rows' AS fact, c AS value
      FROM n
      UNION ALL SELECT '2_execute_again', 'n_rows', c FROM n
      UNION ALL
      SELECT * FROM (VALUES
        ('3_deallocate', 'ok', CAST(1 AS BIGINT)),
        ('4_execute_after_deallocate', 'refused', 1),
        ('5_deallocate_again', 'refused', 1),
        ('6_flush_lease_before', 'cached', 1),
        ('7_flush_lease_after', 'cached', 0),
        ('8_flush_rows_stable', 'equal', 1),
        ('9_dead_lock_blocks', 'conflicts', 1),
        ('10_admin_cleanup', 'evicted', 1),
        ('11_acquire_after_cleanup', 'acquired', 1),
        ('12_live_locks_survive', 'held', 1)
      ) AS v(stage, fact, value)
    """)) { t =>
      import t.spark.implicits._
      val out = Seq.newBuilder[(String, String, Long)]
      // --- PREPARE / EXECUTE / DEALLOCATE ---------------------------
      val Pr = graft.tools.Prepared
      val L = graft.tools.RowLocks
      Pr.clear()
      try {
      t.orders.createOrReplaceTempView("orders")
      Pr.prepare("stmt1", """
        SELECT COUNT(*) AS n FROM orders
        WHERE o_totalprice > :minp AND o_orderpriority = :prio""")
      def exec(): Long = t.spark.sql(Pr.template("stmt1"),
        Map("minp" -> 150000, "prio" -> "1-URGENT")).head().getLong(0)
      out += (("1_prepare_execute", "n_rows", exec()))
      out += (("2_execute_again", "n_rows", exec()))
      Pr.deallocate("stmt1")
      out += (("3_deallocate", "ok", 1L))
      def refused(body: => Any): Long =
        try { body; 0L } catch { case _: IllegalStateException => 1L }
      out += (("4_execute_after_deallocate", "refused",
        refused(Pr.template("stmt1"))))
      out += (("5_deallocate_again", "refused",
        refused(Pr.deallocate("stmt1"))))
      // --- FLUSH TABLES --------------------------------------------
      val dim = t.nation.cache()
      val nBefore = dim.count() // materialize the lease
      out += (("6_flush_lease_before", "cached",
        if (dim.storageLevel.useMemory) 1L else 0L))
      dim.unpersist(blocking = true) // FLUSH TABLES
      out += (("7_flush_lease_after", "cached",
        if (dim.storageLevel.useMemory) 1L else 0L))
      out += (("8_flush_rows_stable", "equal",
        if (t.nation.count() == nBefore) 1L else 0L))
      // --- ADMIN CLEANUP TABLE LOCK --------------------------------
      L.clear()
      L.acquire("dead_session", "TABLE:orders", Seq(0L),
        exclusive = true)
      L.acquire("live_session", "TABLE:customer", Seq(0L),
        exclusive = false)
      // A live row lock on orders must SURVIVE table-lock cleanup.
      L.acquire("live_session", "orders", Seq(42L), exclusive = true)
      val (_, c1) = L.acquire("B", "TABLE:orders", Seq(0L),
        exclusive = true)
      out += (("9_dead_lock_blocks", "conflicts", c1))
      val evicted = L.cleanupTableLocks(live = Set("live_session", "B"))
      out += (("10_admin_cleanup", "evicted", evicted))
      val (a2, _) = L.acquire("B", "TABLE:orders", Seq(0L),
        exclusive = true)
      out += (("11_acquire_after_cleanup", "acquired", a2))
      out += (("12_live_locks_survive", "held",
        if (L.held("live_session") == 2L) 1L else 0L))
      // Global stores: release in a finally so a mid-entry failure
      // cannot leak locks/statements into later entries.
      } finally { L.clear(); Pr.clear() }
      out.result().toDF("stage", "fact", "value")
    },
  )
}
