package graft

import org.apache.spark.sql.functions._

class Wave12Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  test("q_view equals the inlined query (view adds no semantics)") {
    val through = q("q_view").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val inlined = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        operators.Exact.sumProd2(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(through == inlined)
  }

  test("q_scan_partition_hash: bucket-pruned result equals plain filter") {
    val keys = Seq(1L, 20L, 35L, 100L)
    val pruned = q("q_scan_partition_hash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = t.orders.filter(col("o_custkey").isin(keys: _*))
      .groupBy("o_custkey").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pruned == plain, "hash pruning changed the answer")
    // The derived bucket set really is smaller than the table: 4 keys
    // span 3 of the 16 buckets.
    assert(keys.map(_ % 16).distinct.size == 3)
  }

  test("q_scan_partition_list: pruned result equals plain filter") {
    val vals = Seq("1-URGENT", "2-HIGH")
    val pruned = q("q_scan_partition_list").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = t.orders.filter(col("o_orderpriority").isin(vals: _*))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned == plain, "list pruning changed the answer")
    // The value→partition map is total and 3-valued.
    assert(sources.PartitionedFact.PriorityLists.values.toSet.size == 3)
  }

  test("q_sequence: lease arithmetic invariants") {
    val rows = q("q_sequence").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    rows.foreach { case (_, n, blocks, base, minSeq, maxSeq, nDist, gaps) =>
      // blocks = ceil(n/100); discarded tail of the last block.
      assert(blocks == (n + 99) / 100)
      assert(gaps == blocks * 100 - n)
      // CYCLE: values live in [1000, 11000); distinct count collapses
      // to the cycle length once a session wraps.
      assert(minSeq >= 1000 && maxSeq < 11000)
      assert(nDist == math.min(n, 10000L))
    }
    // Leases are disjoint and session-ordered: each base is the
    // previous session's base + blocks·100.
    rows.sliding(2).foreach { w =>
      val (a, b) = (w(0), w(1))
      assert(b._4 == a._4 + a._3 * 100, "overlapping block leases")
    }
  }

  test("q_generated_col: stored column equals the generating expression") {
    val stored = q("q_generated_col").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val virtual = t.orders.filter(year(col("o_orderdate")) === 1995)
      .groupBy(substring(col("o_orderpriority"), 1, 1).as("prio_class"))
      .agg(count(lit(1)).as("n"),
        sum(operators.Exact.dec2(col("o_totalprice"))).cast("double")
          .as("spend"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stored == virtual,
      "stored generated column diverged from its expression")
  }

  test("q_func_json6: shape invariants + null quarantine") {
    val rows = q("q_func_json6").collect()
    assert(rows.length == 600)
    rows.foreach { r =>
      val branch = r.getLong(0) % 5
      val depth = r.getInt(1)
      assert(depth == Seq(3, 3, 1, 1, 2)(branch.toInt))
      // pretty minifies back to exactly ssize bytes: pretty and
      // minify agree on content, ssize counts the minified text.
      assert(r.getLong(5) > 0)
    }
    // Both overlap outcomes occur across the 600-row slice.
    val flags = rows.filter(_.getLong(0) % 5 == 4)
      .map(r => Option(r.get(3)).map(_.asInstanceOf[Int])).flatten.toSet
    assert(flags == Set(0, 1), s"overlaps7 outcomes: $flags")
    // pretty∘minify round-trip + invalid-JSON quarantine, through the
    // registered expressions themselves.
    val probe = spark.range(1).select(
      call_function("graft_json_minify",
        call_function("graft_json_pretty",
          lit("""{ "a": [1, {"b": 2}], "c": 3 }"""))).as("roundtrip"),
      call_function("graft_json_depth", lit("nope{")).as("bad_depth"),
      call_function("graft_json_pretty", lit("nope{")).as("bad_pretty"))
      .collect().head
    assert(probe.getString(0) == """{"a":[1,{"b":2}],"c":3}""")
    assert(probe.isNullAt(1) && probe.isNullAt(2))
    // Strict-parse + key-escaping edges: empty input and trailing
    // garbage quarantine to NULL (Jackson alone would return
    // MissingNode / silently accept '5 6'); keys with quotes render
    // escaped so pretty output stays valid JSON.
    val edge = spark.range(1).select(
      call_function("graft_json_minify", lit("")).as("empty"),
      call_function("graft_json_depth", lit("5 6")).as("trailing"),
      call_function("graft_json_pretty",
        lit("""{"a\"b": 1}""")).as("esc"))
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    assert(edge.getString(2) == "{\n  \"a\\\"b\": 1\n}")
  }

  test("q_plan_binding steers the plan, never the answer") {
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    val stmt = """
      SELECT o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""
    val unbound = spark.sql(stmt)
    assert(unbound.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "baseline should broadcast")
    plans.Bindings.create(stmt,
      """
      SELECT /*+ MERGE(orders) */ o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")
    try {
      // Dispatch matches modulo case/whitespace, flips the join, and
      // preserves the answer bit-for-bit.
      val bound = plans.Bindings.run(spark,
        stmt.toUpperCase.replace("O_ORDERPRIORITY, COUNT",
          "o_orderpriority,   COUNT"))
      assert(bound.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"), "binding did not force merge join")
      assert(bound.collect().map(_.toSeq).toSet ==
        unbound.collect().map(_.toSeq).toSet)
    } finally plans.Bindings.drop(stmt)
    // Dropped binding restores the optimizer's plan.
    assert(plans.Bindings.run(spark, stmt).queryExecution.executedPlan
      .toString.contains("BroadcastHashJoin"))
    // A USING text that differs beyond hints is rejected.
    intercept[IllegalArgumentException] {
      plans.Bindings.create(stmt, stmt + " LIMIT 1")
    }
    // String literals are part of statement identity: neither case
    // nor internal spacing inside quotes is normalized away, so a
    // binding can never redirect a query with a different literal.
    intercept[IllegalArgumentException] {
      plans.Bindings.create("SELECT * FROM orders WHERE o_orderstatus = 'F'",
        "SELECT /*+ MERGE(orders) */ * FROM orders WHERE o_orderstatus = 'f'")
    }
    assert(plans.Bindings.normalize("SELECT  'A  B' FROM t") ==
      "select 'A  B' from t")
    assert(plans.Bindings.normalize("SELECT 'a b' FROM t") !=
      plans.Bindings.normalize("SELECT 'a  b' FROM t"))
    // A hint whose body contains '*' must still strip cleanly — the
    // comment closes at the first '*/'.
    plans.Bindings.create(stmt,
      stmt.replaceFirst("SELECT", "SELECT /*+ BROADCAST(lineitem) ** */ "))
    plans.Bindings.drop(stmt)
    // '/*+' and '*/' INSIDE string literals are data: stripping must
    // never open a comment in one literal and close it in another
    // (which would delete the real column between them and reject
    // this legitimate binding).
    val litStmt = "SELECT '/*+' AS a, o_orderkey, '*/' AS b FROM orders"
    plans.Bindings.create(litStmt,
      litStmt.replaceFirst("SELECT", "SELECT /*+ BROADCAST(orders) */ "))
    plans.Bindings.drop(litStmt)
    // Backtick identifiers are statement identity, preserved
    // verbatim like string literals: case/spacing differences inside
    // backticks are DIFFERENT statements.
    assert(plans.Bindings.normalize("SELECT `A  b` FROM t") ==
      "select `A  b` from t")
    assert(plans.Bindings.normalize("SELECT `Col` FROM t") !=
      plans.Bindings.normalize("SELECT `col` FROM t"))
  }

  test("baseline capture: second execution auto-creates the binding") {
    // bindinfo/handle.go's capture path: an unbound digest executed
    // at the frequency floor gets a baseline built from the plan
    // that actually ran, and the NEXT run dispatches through it.
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    val stmt = """
      SELECT o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""
    plans.Bindings.drop(stmt)
    plans.Bindings.clearCapture()
    try {
      val first = plans.Bindings.capturedRun(spark, stmt)
      assert(!plans.Bindings.isBound(stmt),
        "captured below the frequency floor")
      val second = plans.Bindings.capturedRun(spark, stmt)
      assert(plans.Bindings.isBound(stmt),
        "second execution did not capture a baseline")
      val hinted = plans.Bindings.bound(stmt).get
      // The baseline freezes the strategy the execution used, named
      // on the join's right side.
      assert(hinted.contains("/*+") && hinted.contains("(orders)"),
        s"captured text lacks a join hint: $hinted")
      assert(hinted.contains("BROADCAST"),
        s"expected the observed broadcast frozen, got: $hinted")
      // The next run matches the captured binding: same rows, and
      // the frozen strategy appears in the executed plan.
      val next = plans.Bindings.run(spark, stmt)
      assert(next.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(next.collect().map(_.toSeq).toSet ==
        second.map(_.toSeq).toSet &&
        first.map(_.toSeq).toSet == second.map(_.toSeq).toSet)
      // An already-bound digest is not re-captured (text unchanged).
      plans.Bindings.capturedRun(spark, stmt)
      assert(plans.Bindings.bound(stmt).contains(hinted))
    } finally {
      plans.Bindings.drop(stmt)
      plans.Bindings.clearCapture()
    }
    // A joinless statement is never captured — no plan to freeze.
    val flat = "SELECT COUNT(*) AS n FROM orders WHERE o_custkey > 0"
    plans.Bindings.capturedRun(spark, flat)
    plans.Bindings.capturedRun(spark, flat)
    plans.Bindings.capturedRun(spark, flat)
    assert(!plans.Bindings.isBound(flat))
    // A WITH statement is never captured: hint placement after the
    // first inner SELECT would be the wrong scope (and 'selected_o'
    // exercises the identifier-contains-select hazard).
    val cte = """
      WITH selected_o AS (SELECT o_orderkey FROM orders)
      SELECT COUNT(*) AS n
      FROM lineitem JOIN selected_o ON l_orderkey = o_orderkey"""
    plans.Bindings.capturedRun(spark, cte)
    plans.Bindings.capturedRun(spark, cte)
    plans.Bindings.capturedRun(spark, cte)
    assert(!plans.Bindings.isBound(cte),
      "WITH statement must not be captured")
    // A multi-join statement is never captured: position-based
    // strategy/alias pairing is only sound for a single join.
    t.customer.createOrReplaceTempView("customer")
    val multi = """
      SELECT COUNT(*) AS n
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey"""
    plans.Bindings.capturedRun(spark, multi)
    plans.Bindings.capturedRun(spark, multi)
    plans.Bindings.capturedRun(spark, multi)
    assert(!plans.Bindings.isBound(multi),
      "multi-join statement must not be captured")
    plans.Bindings.clearCapture()
  }

  test("q_show_create renders the pinned catalog as DDL") {
    val ddl = q("q_show_create").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ddl.size == 10)
    assert(ddl("region") ==
      "CREATE TABLE region (r_regionkey int, r_name string)")
    // Every rendered DDL must list exactly the pinned columns in
    // pinned order — the q_describe schema policy, as text.
    operators.Catalog.pinned.groupBy(_._1).foreach { case (name, cols) =>
      val expected = cols.sortBy(_._2)
        .map(c => s"${c._3} ${c._4}")
        .mkString(s"CREATE TABLE $name (", ", ", ")")
      assert(ddl(name) == expected, s"DDL drift for $name")
    }
  }

  test("t_entropy: kernel matches a brute-force recompute") {
    val got = q("t_entropy").collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toMap
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty && got.size == docs.size)
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def entropy(counts: Iterable[Int]): Double = {
      val n = counts.sum
      log2(n.toDouble) - counts.map(c => c * log2(c.toDouble)).sum / n
    }
    docs.take(25).foreach { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val wc = toks.groupBy(identity).map(_._2.length)
      val cc = text.toLowerCase.toCharArray.groupBy(identity).map(_._2.length)
      val (nTok, nTyp, ttr, we, ce) = got(id)
      assert(nTok == toks.length && nTyp == wc.size)
      assert(math.abs(ttr - nTyp.toDouble / nTok) < 1e-3)
      assert(math.abs(we - entropy(wc)) < 1e-3, s"word entropy doc $id")
      assert(math.abs(ce - entropy(cc)) < 1e-3, s"char entropy doc $id")
    }
    // The signal discriminates: entropies vary across the corpus.
    assert(got.values.map(_._4).toSet.size > 10)
    // Non-ASCII safety: the kernel walks code points, so a
    // multi-byte-ending string must neither crash nor misalign.
    val multi = spark.range(1).select(
      call_function("graft_entropy_stats", lit("ab αβγ AB")).as("s"))
      .select(col("s.n_tokens"), col("s.n_types")).collect().head
    assert(multi.getInt(0) == 3 && multi.getInt(1) == 2,
      "lowercase fold should merge 'ab' and 'AB', keep 'αβγ'")
  }

  test("PlanReplayer bundle carries plan, schemas, stats and confs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_replayer").toString
    val files = tools.PlanReplayer.dump("q_tpch_q3", t, dir)
    assert(files.length == 4 && files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    val plan = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/plan.txt"))
    // The full planning story: all four plan phases + a join.
    assert(plan.contains("== Parsed Logical Plan ==") &&
      plan.contains("== Physical Plan ==") && plan.contains("Join"))
    val schema = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/schema.sql"))
    assert(operators.Catalog.pinned.map(_._1).distinct
      .forall(tn => schema.contains(s"CREATE TABLE $tn (")))
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/stats.json"))
    // Footer-derived count equals the scan count, read metadata-only.
    assert(stats.contains(
      "\"orders\": {\"rows\": " + t.orders.count() + ", \"scanned\": false}"))
    val conf = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/conf.json"))
    assert(conf.contains("spark.sql.shuffle.partitions"))
    // Both hand-assembled JSON artifacts must PARSE — the shared
    // escaper's whole contract (a quote/control char in a conf or
    // table name must not break the bundle). The rows VALUE is
    // already pinned by the substring assert above.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(stats).isObject &&
      mapper.readTree(conf).isObject)
    // Unknown entries throw, never dump an empty bundle.
    intercept[IllegalArgumentException] {
      tools.PlanReplayer.dump("no_such_query", t, dir)
    }
  }

  test("g_reach_vpred: every reported vertex satisfies the predicate " +
      "and is reachable in the unfiltered graph") {
    val qualifying = t.customer
      .groupBy((col("c_custkey") % 1000).as("node"))
      .agg(min(col("c_nationkey")).as("nk"))
      .filter(col("nk") < 15).select("node")
      .collect().map(_.getLong(0)).toSet
    val res = q("g_reach_vpred").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(res.nonEmpty)
    assert(res.forall { case (n, _) => qualifying(n) },
      "traversal escaped the vertex predicate")
    // Restricting the graph can only shrink reach: every (node, hops)
    // must also appear in the SAME traversal over unfiltered edges
    // from the same roots.
    import spark.implicits._
    val roots = qualifying.filter(_ < 5)
    val sources = roots.toSeq.toDF("src")
    val full = graph.Graph.derived(t.orders)
      .reachLevels(sources, "out", minHops = 1, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(res.forall(full), "filtered reach not a subset of full reach")
  }
}
