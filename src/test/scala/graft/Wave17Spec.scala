package graft

import graft.tools.Acl
import org.apache.spark.sql.functions._

class Wave17Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  // --- SET ROLE activation (executor/simple.go:154/:158) ---

  test("setRole: activating an un-granted role throws, store unchanged") {
    Acl.clear()
    Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("readers", "u1")
    intercept[IllegalArgumentException] {
      Acl.setRole("u1", "%", Seq("admins"))
    }
    // The failed SET ROLE must not have half-applied: activation
    // state is still "never set" -> nothing active.
    assert(!Acl.verify("u1", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    // ...while the fold-all compat default still sees the grant.
    assert(Acl.verify("u1", "%", "graft", "customer", "SELECT"))
    Acl.clear()
  }

  test("setDefaultRole validates grants and applies at LOGIN only") {
    Acl.clear()
    Acl.grant("writers", Seq("SELECT"), db = "graft", tbl = "orders")
    Acl.grantRole("writers", "u2")
    intercept[IllegalArgumentException] {
      Acl.setDefaultRole("u2", "%", Seq("nosuch"))
    }
    Acl.setDefaultRole("u2", "%", Seq("writers"))
    // Stored default does NOT touch the live session (the
    // reference's semantics: defaults apply at authentication).
    assert(!Acl.verify("u2", "%", "graft", "orders", "SELECT",
      honorActiveRoles = true))
    Acl.login("u2", "%")
    assert(Acl.verify("u2", "%", "graft", "orders", "SELECT",
      honorActiveRoles = true))
    Acl.clear()
  }

  test("activation closure: SET ROLE on a chain head folds inherited " +
    "roles; deactivation flips verify") {
    Acl.clear()
    Acl.grant("r_base", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("r_base", "r_mid") // role-to-role edge
    Acl.grantRole("r_mid", "u3")     // only r_mid granted directly
    Acl.setRole("u3", "%", Seq("r_mid"))
    // Activating r_mid activates everything it inherits (r_base).
    assert(Acl.verify("u3", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    Acl.setRoleNone("u3", "%")
    assert(!Acl.verify("u3", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    Acl.clear()
  }

  test("showGrants honoring activation: scopes follow the active set, " +
    "role lines render regardless") {
    Acl.clear()
    Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("readers", "u4")
    Acl.login("u4", "%") // activate-none default
    val inactive = Acl.showGrants("u4", "%", honorActiveRoles = true)
    assert(inactive.exists(_.startsWith("GRANT USAGE ON *.*")),
      s"deactivated role still folded: $inactive")
    assert(inactive.exists(_.contains("GRANT 'readers'@'%' TO 'u4'@'%'")))
    Acl.setRoleAll("u4", "%")
    val active = Acl.showGrants("u4", "%", honorActiveRoles = true)
    assert(active.exists(_.contains(
      "GRANT SELECT ON graft.customer TO 'u4'@'%'")), active.toString)
    // The fold-all compat default is unchanged by activation state.
    Acl.setRoleNone("u4", "%")
    assert(Acl.showGrants("u4", "%").exists(_.contains(
      "GRANT SELECT ON graft.customer TO 'u4'@'%'")))
    Acl.clear()
  }

  // --- SHOW COLLATION / SHOW INDEX / ADMIN RECOVER cards ---

  test("q_show_collation: sensitivity flags derive from real " +
    "comparators and agree with the collate entries' semantics") {
    val rows = q("q_show_collation").collect()
    assert(rows.length == 9)
    val byName = rows.map(r =>
      r.getAs[String]("collation_name") -> r).toMap
    // _bin collations: case and accent sensitive, sortlen 1.
    for (c <- Seq("utf8mb4_bin", "ascii_bin", "binary")) {
      assert(byName(c).getAs[Int]("case_sensitive") == 1, c)
      assert(byName(c).getAs[Int]("accent_sensitive") == 1, c)
      assert(byName(c).getAs[Int]("sortlen") == 1, c)
    }
    // general_ci: case-folds, accent-sensitive (the q_func_collate
    // UTF8_LCASE contract); unicode_ci: folds both (UNICODE_CI_AI).
    assert(byName("utf8mb4_general_ci").getAs[Int]("case_sensitive") == 0)
    assert(byName("utf8mb4_general_ci").getAs[Int]("accent_sensitive") == 1)
    assert(byName("utf8mb4_unicode_ci").getAs[Int]("accent_sensitive") == 0)
    // Exactly one default collation per charset, and it matches the
    // SHARED descriptor table q_show_charset renders.
    val defaults = rows.filter(_.getAs[Int]("is_default") == 1)
      .map(r => r.getAs[String]("charset") ->
        r.getAs[String]("collation_name")).toMap
    assert(defaults == graft.operators.Charsets.defaultCollation)
  }

  test("q_show_index: partition counts come from the layouts on disk") {
    val rows = q("q_show_index").collect()
    val byTable = rows.map(r =>
      r.getAs[String]("table_name") -> r.getAs[Int]("n_partitions")).toMap
    // One file per bucket (the repartition-before-bucketBy contract
    // the zero-Sort merge join depends on).
    assert(byTable("graft_b_orders") ==
      graft.sources.Bucketing.PairBuckets)
    assert(byTable("graft_b_customer") ==
      graft.sources.Bucketing.PairBuckets)
    assert(byTable("orders_custhash") ==
      graft.sources.PartitionedFact.HashBuckets)
    // List layout: one directory per NAMED partition.
    assert(byTable("orders_prioritylist") ==
      graft.sources.PartitionedFact.PriorityLists.values.toSet.size)
    // Drift detection is real: the range layout's count equals the
    // distinct ship months in the source data, recomputed here.
    val months = t.lineitem
      .select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    assert(byTable("lineitem_shipmonth") == months)
  }

  test("q_admin_recover leaves the MV byte-consistent: a fresh admin " +
    "check after the entry is all-green") {
    val rows = q("q_admin_recover").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("consistent")))
    // The repair really landed: the persisted snapshot now merges to
    // the base recompute (the q_admin_check machinery, re-run cold).
    val again = q("q_admin_check").collect()
    assert(again.forall(_.getAs[Boolean]("consistent")))
  }

  // --- ADMIN CLEANUP INDEX (executor/admin.go:521) ---

  test("q_admin_cleanup removes the dangling entries and leaves the " +
    "MV byte-consistent: fresh check after the entry is all-green") {
    val rows = q("q_admin_cleanup").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("consistent")))
    assert(!rows.exists(
      _.getAs[String]("o_orderpriority").contains("PHANTOM")))
    val again = q("q_admin_check").collect()
    assert(again.forall(_.getAs[Boolean]("consistent")))
  }

  test("cleanup repairs dangling entries ONLY — a divergent value " +
    "survives the cleanup pass (that repair is RECOVER's job)") {
    import graft.operators.Dml
    val F = graft.sources.Formats
    val dir = Dml.mvDir(t)
    Dml.mvMerged(t).count() // materialize a clean snapshot
    val snap = spark.read.parquet(dir).localCheckpoint()
    // Divergent value (key exists in base, value wrong) — the
    // corruption class CleanupIndexExec does NOT touch.
    snap.withColumn("rev",
        when(col("o_orderpriority") === "1-URGENT", col("rev") + 42)
          .otherwise(col("rev")))
      .write.mode("overwrite").parquet(dir)
    val res = q("q_admin_cleanup").collect()
    // The entry's detect leg fired on the divergence, its cleanup
    // leg removed only its own phantoms — the divergent 1-URGENT
    // row is still red after cleanup.
    assert(res.exists(r => !r.getAs[Boolean]("consistent") &&
      r.getAs[String]("o_orderpriority") == "1-URGENT"))
    assert(res.filter(!_.getAs[Boolean]("consistent")).length == 1)
    // Repair for the next suite: drop the corrupt snapshot (it is
    // lazily rebuilt clean on next touch).
    F.deleteRecursively(new java.io.File(dir))
    val green = q("q_admin_check").collect()
    assert(green.forall(_.getAs[Boolean]("consistent")))
  }

  // --- DROP / TRUNCATE PARTITION (ddl/partition.go) ---

  test("q_partition_mgmt: DROP removes the partition directory, " +
    "TRUNCATE leaves it present but empty, survivors keep their rows") {
    val res = q("q_partition_mgmt").collect()
    val root = graft.sources.Layouts.root("partmgmt", t.dir)
    assert(!new java.io.File(s"$root/oyear=1996").exists())
    val p95 = new java.io.File(s"$root/oyear=1998")
    assert(p95.isDirectory)
    assert(Option(p95.listFiles()).getOrElse(Array.empty)
      .forall(f => f.getName.startsWith(".") || f.getName.startsWith("_")))
    val years = res.map(_.getAs[Long]("oyear")).toSet
    assert(!years.contains(1996L) && !years.contains(1998L))
    // Surviving partitions are intact: per-year counts equal the
    // base table's, recomputed independently.
    val base = t.orders.groupBy(year(col("o_orderdate")).as("y"))
      .count().collect()
      .map(r => r.getAs[Int]("y").toLong -> r.getAs[Long]("count"))
      .toMap
    res.foreach { r =>
      assert(r.getAs[Long]("n_orders") == base(r.getAs[Long]("oyear")))
    }
    assert(years == base.keySet -- Set(1996L, 1998L))
  }

  // --- multi-table DML (executor/update.go:132, delete.go:159) ---

  test("q_update_multi: an order with several matching lineitems is " +
    "updated ONCE; unmatched orders flow through unchanged") {
    val res = q("q_update_multi")
    val multi = t.lineitem.filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey").count().filter(col("count") >= 2)
      .agg(min("l_orderkey")).head().getLong(0)
    val before = t.orders.filter(col("o_orderkey") === multi)
      .head().getAs[Double]("o_totalprice")
    val after = res.filter(col("o_orderkey") === multi).head()
    assert(after.getAs[String]("o_orderstatus") == "R")
    assert(math.abs(
      after.getAs[Double]("o_totalprice") - (before - 50.0)) < 1e-6)
    // An order with NO matching lineitem keeps status and price.
    val unmatched = t.orders.join(
        t.lineitem.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(min("o_orderkey")).head().getLong(0)
    val kept = res.filter(col("o_orderkey") === unmatched).head()
    val base = t.orders.filter(col("o_orderkey") === unmatched).head()
    assert(kept.getAs[String]("o_orderstatus") ==
      base.getAs[String]("o_orderstatus"))
    assert(kept.getAs[Double]("o_totalprice") ==
      base.getAs[Double]("o_totalprice"))
  }

  test("q_delete_multi: the cascade is exact — every deleted lineitem " +
    "belongs to a deleted order, and every lineitem of a deleted " +
    "order is deleted") {
    val res = q("q_delete_multi").localCheckpoint()
    val doomed = res.filter(col("tbl") === "orders")
      .select(col("k1").as("dk"))
    assert(doomed.count() > 0)
    // No ORDER handle deleted twice (the HandleMap dedup). The
    // lineitem side is a bag on purpose: the synthetic data has
    // duplicate (l_orderkey, l_linenumber) pairs (1401 at sf0.001),
    // so that pair is NOT a unique handle — every physical row of a
    // doomed order is its own delete.
    assert(doomed.distinct().count() == doomed.count())
    val delLines = res.filter(col("tbl") === "lineitem")
    assert(delLines.join(doomed, col("k1") === col("dk"), "left_anti")
      .count() == 0)
    val expected = t.lineitem.join(doomed,
      col("l_orderkey") === col("dk"), "left_semi").count()
    assert(delLines.count() == expected)
  }
}
