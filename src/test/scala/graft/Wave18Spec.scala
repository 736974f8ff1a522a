package graft

import graft.tools.Acl

class Wave18Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  // --- REVOKE (executor/revoke.go, executor/simple.go revoke role) ---

  test("revoke of an un-held privilege is a no-op, never an error") {
    Acl.clear()
    Acl.grant("u", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.revoke("u", Seq("DELETE"), db = "graft", tbl = "customer")
    assert(Acl.verify("u", "%", "graft", "customer", "SELECT"))
    // Revoking at a DIFFERENT scope leaves the held scope alone.
    Acl.revoke("u", Seq("SELECT"), db = "graft", tbl = "orders")
    assert(Acl.verify("u", "%", "graft", "customer", "SELECT"))
    Acl.clear()
  }

  test("revokeRole scrubs the role from ACTIVE and DEFAULT sets — a " +
    "revoked role stops contributing mid-session") {
    Acl.clear()
    Acl.grant("r1", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("r1", "u")
    Acl.setRole("u", "%", Seq("r1"))
    Acl.setDefaultRole("u", "%", Seq("r1"))
    assert(Acl.verify("u", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    Acl.revokeRole("r1", "u")
    assert(!Acl.verify("u", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    assert(!Acl.verify("u", "%", "graft", "customer", "SELECT"))
    // The stored default no longer re-activates it at login either.
    Acl.login("u", "%")
    assert(!Acl.verify("u", "%", "graft", "customer", "SELECT",
      honorActiveRoles = true))
    Acl.clear()
  }

  // --- CREATE/ALTER/DROP USER (executor/simple.go:137-142) ---

  test("duplicate CREATE USER throws; the original credentials survive") {
    Acl.clear()
    Acl.createUser("dup", "%", "first")
    intercept[IllegalArgumentException] {
      Acl.createUser("dup", "%", "second")
    }
    assert(Acl.checkPassword("dup", "%", "first"))
    assert(!Acl.checkPassword("dup", "%", "second"))
    Acl.clear()
  }

  test("dropUser cascades: privileges, role edges, auth, and session " +
    "state all go; a re-created principal starts FRESH") {
    Acl.clear()
    Acl.createUser("vic", "%", "pw1")
    Acl.grant("vic", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grant("r1", Seq("SELECT"), db = "graft", tbl = "orders")
    Acl.grantRole("r1", "vic")
    Acl.setRole("vic", "%", Seq("r1"))
    Acl.dropUser("vic", "%")
    assert(!Acl.verify("vic", "%", "graft", "customer", "SELECT"))
    assert(Acl.showGrants("vic", "%").isEmpty) // unknown principal
    assert(!Acl.checkPassword("vic", "%", "pw1"))
    // Re-created: registered again, but with NONE of the old grants.
    Acl.createUser("vic", "%", "pw2")
    assert(!Acl.verify("vic", "%", "graft", "customer", "SELECT"))
    assert(!Acl.verify("vic", "%", "graft", "orders", "SELECT"))
    assert(Acl.checkPassword("vic", "%", "pw2"))
    Acl.clear()
  }

  test("dropping a ROLE severs every grantee's inheritance through it") {
    Acl.clear()
    Acl.grant("shared_r", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("shared_r", "u1")
    Acl.grantRole("shared_r", "u2")
    assert(Acl.verify("u1", "%", "graft", "customer", "SELECT"))
    Acl.dropUser("shared_r", "%") // DROP ROLE
    assert(!Acl.verify("u1", "%", "graft", "customer", "SELECT"))
    assert(!Acl.verify("u2", "%", "graft", "customer", "SELECT"))
    // The edge itself is gone from the grantees' renders.
    assert(!Acl.showGrants("u1", "%").exists(_.contains("shared_r")))
    Acl.clear()
  }

  test("encodePassword matches the MySQL-documented digest form") {
    // SHA1(SHA1('password')) is the RFC-checkable MySQL doc example:
    // PASSWORD('password') = *2470C0C06DEE42FD1618BB99005ADCA2EC9D1E19
    assert(Acl.encodePassword("password") ==
      "*2470C0C06DEE42FD1618BB99005ADCA2EC9D1E19")
  }

  test("q_revoke and q_user_admin cards run end-to-end with rows") {
    assert(q("q_revoke").count() == 4)
    assert(q("q_user_admin").count() == 2)
  }

  // --- RowLocks (executor/executor.go:881 SelectLockExec) ---

  test("RowLocks: sole share holder upgrades S->X; another txn's " +
    "share blocks the upgrade") {
    import graft.tools.RowLocks
    RowLocks.clear()
    assert(RowLocks.acquire("t1", "orders", Seq(1L, 2L),
      exclusive = false) == (2L, 0L))
    // Sole holder: own shares never conflict, upgrade lands.
    assert(RowLocks.acquire("t1", "orders", Seq(1L, 2L),
      exclusive = true) == (2L, 0L))
    // After the upgrade the keys are exclusively held.
    assert(RowLocks.acquire("t2", "orders", Seq(2L),
      exclusive = false) == (0L, 1L))
    // S on own X is subsumed, not double-registered: the statement
    // succeeds but held() still counts each key once.
    assert(RowLocks.acquire("t1", "orders", Seq(1L),
      exclusive = false) == (1L, 0L))
    assert(RowLocks.held("t1") == 2L)
    RowLocks.clear()
    RowLocks.acquire("t1", "orders", Seq(5L), exclusive = false)
    RowLocks.acquire("t2", "orders", Seq(5L), exclusive = false)
    // t2's share blocks t1's upgrade.
    assert(RowLocks.acquire("t1", "orders", Seq(5L),
      exclusive = true) == (0L, 1L))
    RowLocks.clear()
  }

  test("RowLocks.collectKeys aborts loudly past the KeyBatchCap — " +
    "a pathological FOR UPDATE cannot OOM the driver") {
    import graft.tools.RowLocks
    // Within the cap: the buffered keys come back.
    val small = RowLocks.collectKeys(
      t.orders.filter(org.apache.spark.sql.functions
        .col("o_orderkey") % 97 === 0), "o_orderkey", cap = 100000)
    assert(small.nonEmpty)
    // Past a tiny cap the statement errors — no silent partial lock.
    val e = intercept[IllegalArgumentException] {
      RowLocks.collectKeys(t.orders, "o_orderkey", cap = 10)
    }
    assert(e.getMessage.contains("lock-buffer quota"))
  }

  test("RowLocks: duplicate keys in a statement's list count once — " +
    "acquired/conflict totals agree with held()") {
    import graft.tools.RowLocks
    RowLocks.clear()
    // A non-unique scan can emit the same row key twice; the lock
    // unit is the key, so the dup contributes one acquire.
    assert(RowLocks.acquire("t1", "orders", Seq(7L, 7L, 8L),
      exclusive = true) == (2L, 0L))
    assert(RowLocks.held("t1") == 2L)
    // ...and one conflict on the other side.
    assert(RowLocks.acquire("t2", "orders", Seq(7L, 7L),
      exclusive = true) == (0L, 1L))
    RowLocks.clear()
  }

  test("RowLocks: NOWAIT is all-or-nothing and commit releases only " +
    "the committer's locks") {
    import graft.tools.RowLocks
    RowLocks.clear()
    RowLocks.acquire("a", "orders", Seq(10L), exclusive = true)
    // b requests {10 (conflicting), 11 (free)}: acquires NOTHING.
    assert(RowLocks.acquire("b", "orders", Seq(10L, 11L),
      exclusive = true) == (0L, 1L))
    // 11 stayed free: c takes it.
    assert(RowLocks.acquire("c", "orders", Seq(11L),
      exclusive = true) == (1L, 0L))
    RowLocks.commit("a")
    // a's lock on 10 is gone; c's on 11 survives.
    assert(RowLocks.acquire("b", "orders", Seq(10L),
      exclusive = true) == (1L, 0L))
    assert(RowLocks.acquire("b", "orders", Seq(11L),
      exclusive = true) == (0L, 1L))
    assert(RowLocks.held("a") == 0L)
    RowLocks.clear()
  }

  test("q_select_lock: stage counts tie to the key predicates") {
    val rows = q("q_select_lock").collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("acquired"), r.getAs[Long]("conflicts"))).toMap
    val ka = t.orders.filter(org.apache.spark.sql.functions
      .col("o_orderkey") % 97 === 0).count()
    assert(rows("1_a_for_update") == (ka, 0L))
    assert(rows("2_b_share_blocked")._1 == 0L)
    assert(rows("5_c_upgrade_blocked")._1 == 0L)
    assert(rows("6_b_x_after_commit")._2 == 0L)
  }

  test("grantAs honorActiveRoles: an option held through an ACTIVATED " +
    "role delegates; deactivation or the compat default deny it") {
    Acl.clear()
    Acl.grant("optrole", Seq("SELECT"), db = "graft", tbl = "customer",
      withGrantOption = true)
    Acl.grantRole("optrole", "mid2")
    // Granted but NOT activated: even the role-honoring path denies.
    intercept[IllegalArgumentException] {
      Acl.grantAs("mid2", "%", "leaf2", Seq("SELECT"),
        db = "graft", tbl = "customer", honorActiveRoles = true)
    }
    Acl.setRole("mid2", "%", Seq("optrole"))
    // Activated + honorActiveRoles: MySQL semantics — delegation lands.
    Acl.grantAs("mid2", "%", "leaf2", Seq("SELECT"),
      db = "graft", tbl = "customer", honorActiveRoles = true)
    assert(Acl.verify("leaf2", "%", "graft", "customer", "SELECT"))
    // The compat default stays direct-only even while activated —
    // existing q_grant_option hashes rely on it.
    intercept[IllegalArgumentException] {
      Acl.grantAs("mid2", "%", "leaf3", Seq("SELECT"),
        db = "graft", tbl = "customer")
    }
    // Deactivation flips the role-honoring path back to denied.
    Acl.setRoleNone("mid2", "%")
    intercept[IllegalArgumentException] {
      Acl.grantAs("mid2", "%", "leaf4", Seq("SELECT"),
        db = "graft", tbl = "customer", honorActiveRoles = true)
    }
    Acl.clear()
  }

  test("grantAs denial is atomic and revokeGrantOption keeps the " +
    "privileges themselves") {
    Acl.clear()
    Acl.grant("mid", Seq("SELECT"), db = "graft", tbl = "customer",
      withGrantOption = true)
    // Mixed statement where one privilege lacks the option: NOTHING
    // lands (executor/grant.go checks before writing records).
    intercept[IllegalArgumentException] {
      Acl.grantAs("mid", "%", "leaf", Seq("SELECT", "DELETE"),
        db = "graft", tbl = "customer")
    }
    assert(!Acl.verify("leaf", "%", "graft", "customer", "SELECT"))
    // Option at a COVERING scope delegates a narrower one.
    Acl.grant("dba", Seq("SELECT"), db = "graft",
      withGrantOption = true)
    Acl.grantAs("dba", "%", "leaf", Seq("SELECT"),
      db = "graft", tbl = "customer")
    assert(Acl.verify("leaf", "%", "graft", "customer", "SELECT"))
    // Stripping the option keeps the privilege itself.
    Acl.revokeGrantOption("mid", db = "graft", tbl = "customer")
    assert(Acl.verify("mid", "%", "graft", "customer", "SELECT"))
    intercept[IllegalArgumentException] {
      Acl.grantAs("mid", "%", "x", Seq("SELECT"),
        db = "graft", tbl = "customer")
    }
    Acl.clear()
  }

  test("q_select_into renders the reference's OUTFILE byte format " +
    "and writes the stream") {
    import org.apache.spark.sql.functions._
    val res = q("q_select_into")
    // Hand-computed probe: key%4==2 embeds backslash+newline, %7!=0
    // keeps the balance. Pick such a key and rebuild its line.
    val row = res.filter(col("c_custkey") % 4 === 2 &&
      col("c_custkey") % 7 =!= 0).orderBy("c_custkey").head()
    val k = row.getAs[Long]("c_custkey")
    val base = t.customer.filter(col("c_custkey") === k).head()
    val nm = base.getAs[String]("c_name") + "\\x\ny"
    val esc = nm.replace("\\", "\\\\").replace("\n", "\\\n")
    val bal = new java.math.BigDecimal(base.getAs[Double]("c_acctbal"))
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    assert(row.getAs[String]("line") == s"""$k;"$esc";$bal""")
    // The ENCLOSE byte is escaped inside an enclosed field
    // (select_into.go:103 `case b == Escaped || b == Enclosed`):
    // the %4==1 probe embeds a bare quote, which must render as
    // backslash+quote — and the line must round-trip (exactly two
    // UNESCAPED quotes: the open and close of the field).
    val rowQ = res.filter(col("c_custkey") % 4 === 1 &&
      col("c_custkey") % 7 =!= 0).orderBy("c_custkey").head()
    val kQ = rowQ.getAs[Long]("c_custkey")
    val nmQ = t.customer.filter(col("c_custkey") === kQ).head()
      .getAs[String]("c_name") + "\"q"
    val balQ = new java.math.BigDecimal(
      t.customer.filter(col("c_custkey") === kQ).head()
        .getAs[Double]("c_acctbal"))
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    assert(rowQ.getAs[String]("line") ==
      s"""$kQ;"${nmQ.replace("\"", "\\\"")}";$balQ""")
    assert(rowQ.getAs[String]("line")
      .replace("\\\"", "").count(_ == '"') == 2)
    // NUL always renders as backslash + the CHARACTER '0'
    // (select_into.go:100) — the %4==3 probe's rendered line must
    // contain \0 and no raw NUL byte.
    val rowN = res.filter(col("c_custkey") % 4 === 3).head()
      .getAs[String]("line")
    assert(rowN.contains("\\0z") && !rowN.contains("\u0000"))
    // NULL renders as backslash-N, unquoted.
    val n7 = res.filter(col("c_custkey") % 7 === 0).head()
      .getAs[String]("line")
    assert(n7.endsWith(";\\N"))
    // The OUTFILE byte stream is on disk.
    val dir = graft.sources.Layouts.root("outfile", t.dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
  }

  test("q_txn_rollback: committed section re-reads the persisted " +
    "snapshot and equals the in-txn view; rollback equals pure base") {
    import org.apache.spark.sql.functions._
    val res = q("q_txn_rollback").collect()
    def section(s: String) = res.filter(_.getAs[String]("stage") == s)
      .map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("cnt"), r.getAs[Double]("total"))).toSet
    assert(section("1_in_txn") == section("3_after_commit"))
    assert(section("1_in_txn") != section("2_after_rollback"))
    // The rollback section is the untouched base table, recomputed
    // independently.
    val base = t.orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .collect().map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("cnt"), r.getAs[Double]("total"))).toSet
    assert(section("2_after_rollback") == base)
    // Durability: the commit snapshot really is on disk.
    val dir = graft.sources.Layouts.root("txn", t.dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
  }
}
