package graft.operators

import graft.{Q, Tables}
import graft.sources.Layouts
import org.apache.spark.sql.functions._

/** Batch DML analogs of the reference's write executors
  * (reference: executor/insert.go ON DUPLICATE KEY UPDATE,
  * executor/replace.go REPLACE INTO). In a Spark warehouse the same
  * semantics run as a snapshot MERGE: matched keys take the update's
  * columns, unmatched update rows append, untouched base rows flow
  * through unchanged.
  *
  * Scale: one full-outer join co-partitioned on the key — both sides
  * shuffle once, nothing touches the driver, and the result is
  * directly writable as the next snapshot. At 100 TB the base table
  * is date/key-partitioned and the merge overwrites only the
  * partitions the update set touches (the update side is typically
  * orders of magnitude smaller and broadcast by AQE).
  */
object Dml {

  val all: Seq[Q] = Seq(

    // INSERT ... ON DUPLICATE KEY UPDATE / REPLACE semantics: the
    // update set changes every 7th order's status+price and appends
    // fresh keys derived from every 97th order. The oracle states the
    // same merge as LEFT JOIN (matched/passthrough) ∪ ANTI JOIN
    // (appends); the engine runs the single full-outer form.
    Q("q_upsert", Some("""
      WITH upd AS (
        SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus,
               o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N', 0.0
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT b.o_orderkey,
             COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
             COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
      FROM orders b LEFT JOIN upd u USING (o_orderkey)
      UNION ALL
      SELECT u.o_orderkey, u.o_custkey, u.o_orderstatus, u.o_totalprice
      FROM upd u ANTI JOIN orders b USING (o_orderkey)
    """)) { t =>
      val base = t.orders
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val upd = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("P").as("o_orderstatus"),
          (col("o_totalprice") + 100.0).as("o_totalprice"))
        .union(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), lit("N").as("o_orderstatus"),
            lit(0.0).as("o_totalprice")))
      base.as("b").join(upd.as("u"), Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("u.o_custkey"), col("b.o_custkey")).as("o_custkey"),
          coalesce(col("u.o_orderstatus"), col("b.o_orderstatus"))
            .as("o_orderstatus"),
          coalesce(col("u.o_totalprice"), col("b.o_totalprice"))
            .as("o_totalprice"))
    },

    // INSERT IGNORE (reference: executor/insert.go +
    // batch_checker.go getKeysNeedCheck — the THIRD conflict policy
    // beside q_replace's delete-then-insert and q_upsert's ON
    // DUPLICATE KEY UPDATE: a conflicting incoming row is silently
    // SKIPPED and the stored row survives untouched). The incoming
    // batch restates every 7th key with poisoned values — which must
    // NOT surface — and appends fresh keys from every 97th. The
    // conflict check is ONE key anti-join (the batch side broadcasts
    // when small), never a per-row constraint probe; at 100 TB the
    // snapshot streams through untouched and only the batch pays.
    Q("q_insert_ignore", Some("""
      WITH ins AS (
        SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
               0.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 2000000000000, o_custkey, 'I', o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders
      UNION ALL
      SELECT i.o_orderkey, i.o_custkey, i.o_orderstatus, i.o_totalprice
      FROM ins i ANTI JOIN orders b USING (o_orderkey)
    """)) { t =>
      val base = t.orders
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val ins = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("X").as("o_orderstatus"), lit(0.0).as("o_totalprice"))
        .union(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 2000000000000L).as("o_orderkey"),
            col("o_custkey"), lit("I").as("o_orderstatus"),
            col("o_totalprice")))
      base.union(
        ins.join(base.select("o_orderkey"), Seq("o_orderkey"),
          "left_anti"))
    },

    // Dense row-id ALLOCATION (reference: TiDB assigns _tidb_rowid /
    // AUTO_INCREMENT batches per insert — ddl/ + tablecodec rowid
    // allocators). The distributed analog hands every row a gapless
    // global ordinal WITHOUT a global window: (1) per-range
    // row_number over a PARTITIONed window (range = source here, any
    // bounded key works), (2) range COUNTS — one row per range —
    // prefix-summed in the tiny phase and broadcast back. Same
    // two-phase prefix shape as t_pack; monotonically_increasing_id
    // can't do this (its ids are sparse per-partition blocks). The
    // oracle is the naive single-task ROW_NUMBER.
    Q("q_id_assign", Some("""
      SELECT doc_id, source,
             ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS row_id
      FROM documents
    """)) { t =>
      PrefixSum.rowNumberBefore(
          t.documents.select(col("doc_id"), col("source")),
          rangeCol = "source", orderCols = Seq("doc_id"), out = "row_id")
        .select("doc_id", "source", "row_id")
    },

    // DELETE as a snapshot rewrite (reference: executor/delete.go —
    // single-table predicate DELETE and the multi-table `DELETE t1
    // FROM t1 JOIN t2` form). Both arms in one pass over lineitem:
    // the predicate arm drops rows directly (a filter — fully pushed
    // to the scan), the multi-table arm drops rows whose parent order
    // is in a doomed-key set (an ANTI join on the key). At 100 TB the
    // doomed set (a GDPR/TTL key list) is orders of magnitude smaller
    // than the fact and broadcasts; survivors stream straight to the
    // next snapshot, nothing is ever materialized driver-side.
    Q("q_delete", Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem l
      WHERE NOT (l_quantity < 3)
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_orderkey = l.l_orderkey
            AND o.o_orderstatus = 'F'
            AND o.o_orderdate < TIMESTAMP '1997-01-01')
    """)) { t =>
      val doomed = t.orders
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"))
      t.lineitem
        .filter(!(col("l_quantity") < 3))
        .join(doomed, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
    },

    // Full MERGE INTO — all three arms in one pass (WHEN MATCHED
    // UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT; the
    // lakehouse superset of q_upsert's update+insert and q_delete's
    // delete). ONE co-partitioned full-outer join of snapshot ×
    // staged batch, then a conditional projection routes every row:
    // matched+D drops, matched+U takes the update, unmatched-source
    // inserts, everything else passes through. The staged batch is
    // tiny vs the fact (AQE broadcasts it); the fact flows exactly
    // once, no per-arm re-scan. The oracle states the same routing
    // declaratively.
    Q("q_merge_into", Some("""
      WITH stage AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS act,
               CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(2,1)), 2) AS DECIMAL(18,2))
                    AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 97 = 0 OR o_orderkey % 7 = 0
        UNION ALL
        SELECT (SELECT MAX(o_orderkey) FROM orders) + s AS k, 'I',
               CAST(1000 + s AS DOUBLE)
        FROM UNNEST(generate_series(1, 50)) AS t(s))
      SELECT COALESCE(o.o_orderkey, st.k) AS o_orderkey,
             CAST(CASE WHEN st.act IN ('U', 'I') THEN st.new_price
                       ELSE o.o_totalprice END AS DOUBLE) AS o_totalprice,
             CASE WHEN st.act = 'U' THEN 'updated'
                  WHEN st.act = 'I' THEN 'inserted'
                  ELSE 'kept' END AS merge_action
      FROM orders o FULL JOIN stage st ON o.o_orderkey = st.k
      WHERE st.act IS NULL OR st.act <> 'D'
    """)) { t =>
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      val maxK = t.orders.agg(max("o_orderkey").as("mx"))
      val changes = t.orders
        .filter(col("o_orderkey") % 97 === 0 || col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 97 === 0, "D").otherwise("U").as("act"),
          // Decimal-exact price bump (double ROUND(x*1.1) is
          // half-way-unstable across engines — see Exact.scala).
          expr("cast(cast(round(cast(o_totalprice as decimal(18,2)) " +
            "* cast(1.1 as decimal(2,1)), 2) as decimal(18,2)) as double)")
            .as("new_price"))
      val inserts = t.spark.range(1, 51)
        .crossJoin(broadcast(maxK))
        .select((col("mx") + col("id")).as("k"), lit("I").as("act"),
          (lit(1000.0) + col("id")).as("new_price"))
      val staged = changes.union(inserts)
      base.join(staged, col("o_orderkey") === col("k"), "full_outer")
        .filter(col("act").isNull || col("act") =!= "D")
        .select(coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
          when(col("act") === "U" || col("act") === "I", col("new_price"))
            .otherwise(col("o_totalprice")).cast("double")
            .as("o_totalprice"),
          when(col("act") === "U", "updated")
            .when(col("act") === "I", "inserted")
            .otherwise("kept").as("merge_action"))
    },

    // DELETE ... ORDER BY ... LIMIT — the reference's bounded delete
    // (executor/delete.go + the TiDB LIMIT-on-DML extension): retire
    // exactly the N oldest rows under a total order. The doomed set
    // is a TakeOrderedAndProject of KEYS ONLY (N rows — broadcasts at
    // any fact size) anti-joined against the base; the fact is never
    // sorted. This is the TTL/retention primitive: "purge the oldest
    // 100" without a full-table ORDER BY.
    Q("q_delete_limit", Some("""
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_orderkey NOT IN (
        SELECT o_orderkey FROM orders
        ORDER BY o_orderdate, o_orderkey LIMIT 100)
    """)) { t =>
      val doomed = t.orders
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey").as("k"))
      t.orders
        .join(broadcast(doomed), col("o_orderkey") === col("k"), "left_anti")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    },

    // UPDATE as a snapshot rewrite (reference: executor/update.go —
    // single-table `UPDATE ... SET ... WHERE` and the multi-table
    // `UPDATE t1 JOIN t2 SET` form). An update-only MERGE: no insert
    // arm, every base row flows through exactly once with a
    // conditional projection. The multi-table arm marks orders of
    // customers in one nation (dim⋈dim derives the key set, then a
    // LEFT join against the fact — the set is small and broadcasts);
    // the predicate arm rewrites a column from the row's own fields.
    // Same shape as q_upsert minus the anti-join append arm.
    Q("q_update", Some("""
      WITH g AS (
        SELECT c_custkey FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name = 'NATION_7')
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM g)
                  THEN 'G' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM g)
                  THEN o_totalprice * 1.1 ELSE o_totalprice
             END AS o_totalprice,
             CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                  THEN '5-LOW' ELSE o_orderpriority
             END AS o_orderpriority
      FROM orders
    """)) { t =>
      val gcust = t.customer
        .join(t.nation.filter(col("n_name") === "NATION_7"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), lit(1).as("hit"))
      t.orders
        .join(gcust, col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("hit") === 1, "G").otherwise(col("o_orderstatus"))
            .as("o_orderstatus"),
          when(col("hit") === 1, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderdate") < lit("1996-01-01").cast("timestamp"),
            "5-LOW").otherwise(col("o_orderpriority"))
            .as("o_orderpriority"))
    },

    // Incremental MATERIALIZED-VIEW refresh: a persisted aggregate
    // over the historical slice is combined with a partial aggregate
    // of only the NEW slice — algebraic aggregates (count, sum) merge
    // by summation, so the refresh never rescans history (reference
    // analog: statistics/handle's incremental stats maintenance; the
    // warehouse version of TiFlash's delta-tree merging base + delta).
    // The MV is lazily materialized under /tmp keyed by a content
    // fingerprint of the source (same stale-safe layout as the IVF
    // index / corpus fingerprints). At 100 TB the delta is a day
    // partition and the merge touches |groups| + |delta| rows. Money
    // sums run in DECIMAL and surface as DOUBLE (exact — 2dp values
    // well under 2^53), the suite's money convention. The oracle
    // recomputes the aggregate from scratch: merged == full is the
    // correctness statement.
    Q("q_mv_refresh", Some("""
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY o_orderpriority
    """)) { t => mvMerged(t) },

    // Multi-table UPDATE with matched-once semantics (reference:
    // executor/update.go:123-132 — "Each matched row is updated once,
    // even if it matches the conditions multiple times"; the
    // HandleMap dedup). `UPDATE orders o JOIN lineitem l ON
    // o_orderkey = l_orderkey AND l_returnflag = 'R' SET
    // o_totalprice = o_totalprice - 50, o_orderstatus = 'R'`: an
    // order with k matching lineitems joins k times but the price
    // drops ONCE. q_update's join arm matches on a UNIQUE key set,
    // so this dedup never fires there — here the join side is a
    // multi-matching fact and the engine must collapse it. Spark leg:
    // the matched key set is DISTINCT-reduced (map-side combine — the
    // HandleMap analog) BEFORE the left join back into the base, so
    // the fix-up join is 1:1 by construction; at 100 TB both sides
    // shuffle once on the order key and the distinct folds inside the
    // same exchange. SET references only the updated row's own
    // columns — values pulled from one of SEVERAL matching join rows
    // are engine-order-dependent in MySQL/TiDB and un-oracle-able.
    Q("q_update_multi", Some("""
      SELECT o.o_orderkey,
             CASE WHEN EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey
                                 AND l.l_returnflag = 'R')
                  THEN 'R' ELSE o.o_orderstatus END AS o_orderstatus,
             CASE WHEN EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey
                                 AND l.l_returnflag = 'R')
                  THEN o.o_totalprice - 50.0 ELSE o.o_totalprice
             END AS o_totalprice
      FROM orders o
    """)) { t =>
      val matched = t.lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k")).distinct()
        .withColumn("hit", lit(1))
      t.orders
        .join(matched, col("o_orderkey") === col("k"), "left")
        .select(col("o_orderkey"),
          when(col("hit") === 1, "R").otherwise(col("o_orderstatus"))
            .as("o_orderstatus"),
          when(col("hit") === 1, col("o_totalprice") - 50.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
    },

    // Multi-table DELETE — one statement deletes from SEVERAL tables
    // (reference: executor/delete.go:159 composeTblRowMap — the
    // joined row is split per-table into handle maps, each table's
    // rows removed once). `DELETE o, l FROM orders o JOIN lineitem l
    // ON o_orderkey = l_orderkey JOIN customer/nation WHERE n_name =
    // 'NATION_3' AND o_orderdate < 1996-06` — both the order and ALL its
    // lineitems go; an order with NO lineitems never joins, so it
    // survives (inner-join semantics, exactly the reference's joined-
    // row source). Output = the per-table deleted handle sets (tbl,
    // k1, k2), the engine-neutral statement of the cascade. Scale:
    // dims broadcast into the orders scan, ONE orderkey-partitioned
    // semi/inner join pair against lineitem, handle dedup folds into
    // the exchange (distinct on the already-partitioned key).
    Q("q_delete_multi", Some("""
      WITH doomed AS (
        SELECT o.o_orderkey FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
          AND o.o_orderdate < TIMESTAMP '1996-06-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey))
      SELECT 'orders' AS tbl, o_orderkey AS k1, CAST(0 AS BIGINT) AS k2
      FROM doomed
      UNION ALL
      SELECT 'lineitem', l_orderkey, CAST(l_linenumber AS BIGINT)
      FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM doomed)
    """)) { t =>
      val dim = t.customer
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_3")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val doomed = t.orders
        .filter(col("o_orderdate") < lit("1996-06-01").cast("timestamp"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select("o_orderkey")
        .join(t.lineitem.select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
      val delLines = t.lineitem
        .join(doomed, col("l_orderkey") === col("o_orderkey"),
          "left_semi")
        .select(lit("lineitem").as("tbl"), col("l_orderkey").as("k1"),
          col("l_linenumber").cast("long").as("k2"))
      doomed.select(lit("orders").as("tbl"),
          col("o_orderkey").as("k1"), lit(0L).as("k2"))
        .unionByName(delLines)
    },
  )

  /** Pre-aggregated partial of `orders` per priority — the MV's
    * snapshot and its delta share one definition. `rev` is Spark's
    * DECIMAL(28,2) `sum(dec2(x))`, summed on long limbs by `Exact.Sums`;
    * the merge's re-sum of `rev` is wider than 18 digits and stays a
    * decimal sum. */
  private def mvPartial(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(Exact.dec2(col("o_totalprice"))).as("rev"))

  private val mvSplit = "1997-01-01"

  /** The incrementally-maintained MV behind q_mv_refresh: a lazily
    * materialized base-partial snapshot (built once per source
    * fingerprint) merged with the post-split delta. The snapshot
    * dir is ONE spelling shared with q_admin_check (which
    * cross-verifies this DERIVED layout against its base table — the
    * executor/admin.go index↔table consistency analog) and
    * q_admin_recover / q_admin_cleanup, which corrupt and repair this
    * exact layout. */
  def mvDir(t: Tables): String =
    Layouts.once(Layouts.root("mv", t.dir, s"${t.dir}/orders.parquet")) {
      dir => mvPartial(t.orders.filter(col("o_orderdate") < mvSplit))
        .write.mode("overwrite").parquet(dir)
    }

  def mvMerged(t: Tables): org.apache.spark.sql.DataFrame = {
    val mv = t.spark.read.parquet(mvDir(t))
    val delta = mvPartial(t.orders.filter(col("o_orderdate") >= mvSplit))
    mv.union(delta)
      .groupBy("o_orderpriority")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
  }
}
