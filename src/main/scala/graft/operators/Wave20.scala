package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import org.apache.spark.sql.functions._

/** Round-15 second batch: table-level locks and table renames — the
  * last two statement classes from the parser's statement inventory
  * with real analyzable semantics (LockTablesStmt, RenameTableStmt).
  */
object Wave20 {

  /** A dir-table root for the rename card, fresh per run (renames
    * mutate the layout, so the entry rebuilds its fixtures instead
    * of trusting a previous run's moved directories). */
  private def renameRoot(t: Tables): String =
    Layouts.root("rename", t.dir)

  val all: Seq[Q] = Seq(

    // LOCK TABLES ... READ / WRITE + UNLOCK TABLES (reference:
    // parser/ast/misc.go LockTablesStmt; TiDB's table-lock feature —
    // WRITE excludes every other holder, READ coexists with READ,
    // UNLOCK releases the session's set). Table-level locks are the
    // table-granularity instance of the SelectLockExec lattice, so
    // they ride the SAME RowLocks store (one sentinel key per
    // table-lock scope — the lock table cannot disagree with the row
    // locks about lattice semantics). Every cell is a real
    // acquire/commit call, same discipline as q_select_lock; the
    // card pins WRITE-blocks-READ, READ-coexists, READ-blocks-WRITE,
    // and release-then-acquire.
    Q("q_lock_tables", Some("""
      SELECT * FROM (VALUES
        ('1_a_write_orders',    'A', 'WRITE', 1, 0),
        ('2_b_read_orders',     'B', 'READ',  0, 1),
        ('3_b_read_customer',   'B', 'READ',  1, 0),
        ('4_c_read_customer',   'C', 'READ',  1, 0),
        ('5_c_write_customer',  'C', 'WRITE', 0, 1),
        ('6_b_read_after_unlock', 'B', 'READ', 1, 0)
      ) AS v(stage, txn, mode, acquired, conflicts)
    """)) { t =>
      import t.spark.implicits._
      val L = graft.tools.RowLocks
      L.clear()
      def row(stage: String, txn: String, tbl: String, write: Boolean)
          : (String, String, String, Int, Int) = {
        val (a, c) = L.acquire(txn, s"TABLE:$tbl", Seq(0L),
          exclusive = write)
        (stage, txn, if (write) "WRITE" else "READ", a.toInt, c.toInt)
      }
      val out = Seq.newBuilder[(String, String, String, Int, Int)]
      out += row("1_a_write_orders", "A", "orders", write = true)
      out += row("2_b_read_orders", "B", "orders", write = false)
      out += row("3_b_read_customer", "B", "customer", write = false)
      out += row("4_c_read_customer", "C", "customer", write = false)
      out += row("5_c_write_customer", "C", "customer", write = true)
      L.commit("A") // UNLOCK TABLES releases A's whole set
      out += row("6_b_read_after_unlock", "B", "orders", write = false)
      L.clear()
      out.result().toDF("stage", "txn", "mode", "acquired", "conflicts")
    },

    // RENAME TABLE a TO b [, ...] (reference: ddl/ddl_api.go
    // RenameTable — a metadata-only identity move; the classic
    // atomic-swap idiom `RENAME a TO tmp, b TO a, tmp TO b` is why
    // the statement takes a LIST). The warehouse analog: a dir-table
    // rename is ONE filesystem move — no data copied, any SF — and
    // the card proves (a) the moved table serves its exact rows
    // under the new name (oracle recomputes them from orders), (b)
    // the old name is GONE (a read under it throws — recorded as a
    // flag, the error path in the hash), and (c) the swap leg really
    // exchanged the two tables' contents.
    Q("q_rename_table", Some("""
      WITH a AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
                        AS p
                 FROM orders WHERE o_orderkey % 11 = 0),
      b AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders WHERE o_orderkey % 13 = 0)
      SELECT 'renamed_serves' AS fact,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(p) AS DOUBLE) AS total
      FROM a
      UNION ALL SELECT 'old_name_gone', 1, 0.0
      UNION ALL SELECT 'swap_a_is_b',
             (SELECT COUNT(*) FROM b),
             (SELECT CAST(SUM(p) AS DOUBLE) FROM b)
      UNION ALL SELECT 'swap_b_is_a',
             (SELECT COUNT(*) FROM a),
             (SELECT CAST(SUM(p) AS DOUBLE) FROM a)
    """)) { t =>
      import t.spark.implicits._
      val root = renameRoot(t)
      Formats.deleteRecursively(new java.io.File(root))
      def seed(name: String, pred: org.apache.spark.sql.Column): Unit =
        t.orders.filter(pred)
          .select(col("o_orderkey"),
            Exact.dec2(col("o_totalprice")).as("p"))
          .write.parquet(s"$root/$name")
      // RENAME = one filesystem move of the table directory —
      // metadata-only, no data copied, identical at any SF.
      def rename(from: String, to: String): Unit = {
        val ok = new java.io.File(s"$root/$from")
          .renameTo(new java.io.File(s"$root/$to"))
        require(ok, s"RENAME TABLE $from TO $to failed")
      }
      def read(name: String) = t.spark.read.parquet(s"$root/$name")
      def card(name: String) = {
        val r = read(name)
          .agg(count(lit(1)).as("n"),
            sum(Exact.dec2(col("p"))).cast("double").as("s")).head()
        (r.getLong(0), r.getDouble(1))
      }
      seed("rt_src", col("o_orderkey") % 11 === 0)
      rename("rt_src", "rt_dst")
      val (n1, s1) = card("rt_dst")
      // The old identity is gone: a read under it must throw.
      val oldGone =
        try { read("rt_src").count(); 0 }
        catch { case _: Exception => 1 }
      // The swap leg: a <-> b through the tmp name, one statement's
      // worth of chained renames.
      seed("rt_a", col("o_orderkey") % 11 === 0)
      seed("rt_b", col("o_orderkey") % 13 === 0)
      rename("rt_a", "rt_tmp"); rename("rt_b", "rt_a")
      rename("rt_tmp", "rt_b")
      val (na, sa) = card("rt_a") // now B's contents
      val (nb, sb) = card("rt_b") // now A's contents
      Seq(
        ("renamed_serves", n1, s1),
        ("old_name_gone", oldGone.toLong, 0.0),
        ("swap_a_is_b", na, sa),
        ("swap_b_is_a", nb, sb))
        .toDF("fact", "n_rows", "total")
    },

    // EXPLAIN FOR CONNECTION <id> (reference: parser/ast/misc.go
    // ExplainForStmt; executor/explain.go — render the plan of the
    // statement another connection is CURRENTLY running, resolved
    // through the session manager). The card drives a connection
    // through SessionManager mid-statement and renders the
    // operator-class census of that statement's OPTIMIZED logical
    // plan — the q_index_advise discipline (analyzed/optimized plan
    // facts promoted into the hash-checked gate): a Catalyst upgrade
    // that changes how q_tpch_q3 optimizes flips a count and fails
    // the oracle. Node classes outside the pinned census set fold
    // into 'Other' so the card never silently drops a node.
    Q("q_explain_for", Some("""
      SELECT * FROM (VALUES
        (1, 'q_tpch_q3', 'Aggregate',   1),
        (1, 'q_tpch_q3', 'Filter',      3),
        (1, 'q_tpch_q3', 'GlobalLimit', 1),
        (1, 'q_tpch_q3', 'Join',        2),
        (1, 'q_tpch_q3', 'LocalLimit',  1),
        (1, 'q_tpch_q3', 'Project',     5),
        (1, 'q_tpch_q3', 'Relation',    3),
        (1, 'q_tpch_q3', 'Sort',        1)
      ) AS v(conn_id, statement, operator, n_nodes)
    """)) { t =>
      import t.spark.implicits._
      val SM = graft.tools.SessionManager
      SM.clear()
      val c = SM.connect("ana", "10.0.0.8:52100", "graft")
      SM.begin(c, "q_tpch_q3")
      val plan = graft.Registry.byName("q_tpch_q3").run(t)
        .queryExecution.optimizedPlan
      val classes = Set("Join", "Aggregate", "Filter", "Project",
        "Sort", "GlobalLimit", "LocalLimit", "Relation")
      val census = plan.collect { case n =>
        // LogicalRelation is the scan leaf's class name; render it
        // under the census class 'Relation' like EXPLAIN does.
        val nn = if (n.nodeName == "LogicalRelation") "Relation"
        else n.nodeName
        if (classes(nn)) nn else "Other"
      }.groupBy(identity).view.mapValues(_.size).toSeq.sorted
      SM.finish(c)
      census.map { case (op, n) => (c.toInt, "q_tpch_q3", op, n) }
        .toDF("conn_id", "statement", "operator", "n_nodes")
    },
  )
}
