package graft

import graft.tools.Acl
import org.apache.spark.sql.functions._

class Wave16Spec extends SparkSpecBase {

  test("verify: scope lattice — global covers db covers table, exactly") {
    Acl.clear()
    Acl.grant("g", Seq("SELECT"))
    Acl.grant("d", Seq("SELECT"), db = "graft")
    Acl.grant("t1", Seq("SELECT"), db = "graft", tbl = "orders")
    assert(Acl.verify("g", "%", "anydb", "anytbl", "SELECT"))
    assert(Acl.verify("d", "%", "graft", "orders", "SELECT"))
    assert(!Acl.verify("d", "%", "other", "orders", "SELECT"))
    assert(Acl.verify("t1", "%", "graft", "orders", "SELECT"))
    assert(!Acl.verify("t1", "%", "graft", "customer", "SELECT"))
    // privilege kind matters, not just scope
    assert(!Acl.verify("t1", "%", "graft", "orders", "INSERT"))
    Acl.clear()
  }

  test("verify: transitive role closure grants access, cycle-safe") {
    Acl.clear()
    Acl.grant("r_base", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("r_base", "r_mid")
    Acl.grantRole("r_mid", "u9")
    // cycle between roles must not hang
    Acl.grantRole("r_mid", "r_base")
    assert(Acl.verify("u9", "%", "graft", "customer", "SELECT"))
    assert(!Acl.verify("u9", "%", "graft", "orders", "SELECT"))
    Acl.clear()
  }

  test("host is part of the grantee identity for roles") {
    Acl.clear()
    Acl.grant("readers", Seq("SELECT"), db = "graft", tbl = "customer")
    Acl.grantRole("readers", "ana", "10.0.0.1")
    assert(Acl.verify("ana", "10.0.0.1", "graft", "customer", "SELECT"))
    assert(!Acl.verify("ana", "%", "graft", "customer", "SELECT"))
    assert(!Acl.verify("ana", "10.0.0.2", "graft", "customer", "SELECT"))
    // SHOW GRANTS renders the role line only for the granted host
    assert(Acl.showGrants("ana", "10.0.0.1")
      .exists(_.contains("GRANT 'readers'@'%' TO 'ana'@'10.0.0.1'")))
    assert(!Acl.showGrants("ana", "10.0.0.2")
      .exists(_.contains("'readers'")))
    Acl.clear()
  }

  test("guardedRead: denied throws, granted returns identical rows") {
    Acl.clear()
    Acl.grant("ok", Seq("SELECT"), db = "graft", tbl = "customer")
    intercept[SecurityException] {
      Acl.guardedRead("nobody", "%", "graft", "customer")(t.customer)
    }
    val guarded = Acl.guardedRead("ok", "%", "graft", "customer")(t.customer)
      .orderBy("c_custkey").collect()
    val plain = t.customer.orderBy("c_custkey").collect()
    assert(guarded.sameElements(plain))
    Acl.clear()
  }

  test("modify-column widening: gen 1 served by cast, never rewritten") {
    // Entry run writes the two generations (gen 1 INT32, gen 2 INT64).
    Registry.byName("q_modify_column").run(t)
      .write.format("noop").mode("overwrite").save()
    val dir = graft.sources.Layouts.root("widen", t.dir)
    // Generation 1 is NARROW on disk...
    val gen1Raw = spark.read.parquet(s"$dir/gen=1")
    assert(gen1Raw.schema("val").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // ...and the widened READ must serve it without rewriting a byte.
    def footprint() = new java.io.File(s"$dir/gen=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1).toSeq
    val before = footprint()
    // The merged frame is WIDE everywhere, with gen-2 values that
    // cannot fit INT32 — the promotion is load-bearing.
    val merged = spark.read.schema("o_orderkey BIGINT, val BIGINT, gen INT")
      .parquet(dir)
    assert(merged.schema("val").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(merged.filter(col("gen") === 2 &&
      col("val") > Int.MaxValue.toLong).count() > 0)
    // gen-1 rows round-trip exactly through the widening cast
    val viaWide = merged.filter(col("gen") === 1)
      .select("o_orderkey", "val").orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val viaNarrow = gen1Raw.select("o_orderkey", "val")
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong))
    assert(viaWide.sameElements(viaNarrow))
    // One scan serves both generations (no per-generation union)
    val scans = "FileScan|Scan parquet".r
      .findAllIn(merged.queryExecution.executedPlan.toString).length
    assert(scans == 1, s"expected ONE merged scan, got $scans")
    val after = footprint()
    assert(after == before, "widened read must not rewrite generation 1")
  }

  test("q_join_index_merge: pushed keys + SMJ reusing the bucket sort " +
      "order — zero Exchange, zero Sort") {
    val df = Registry.byName("q_join_index_merge").run(t)
    val plan = df.queryExecution.executedPlan.toString
    // Ordered variant: the join is a MERGE...
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // ...that reuses the bucketed layout's order — no shuffle, no sort.
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-located SMJ must not shuffle:\n$plan")
    assert(!"(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r
      .findFirstIn(plan).isDefined,
      s"SMJ must reuse the layout's sort order, found a Sort:\n$plan")
    // ...and the probe keys reached the fact scan (In -> EqualTo when
    // one key survives).
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*" +
      "(In|EqualTo)\\(o_custkey.*"),
      s"probe keys did not reach the fact scan:\n$plan")
    // Result parity with the plain unbucketed join.
    val expected = t.customer.filter(col("c_acctbal") > 9900)
      .join(t.orders, col("o_custkey") === col("c_custkey")).count()
    assert(df.count() == expected)
  }

  test("UNICODE_CI ordering parity: case folds, accents and bytes don't") {
    import spark.implicits._
    // Binary (byte) compare vs UNICODE_CI — the collation split of
    // expression/collation.go: 'B' < 'a' by bytes, 'a' < 'B' under CI.
    val r = Seq(("a", "B")).toDF("x", "y")
      .select(
        (col("x") < col("y")).as("bin_lt"),
        (collate(col("x"), "UNICODE_CI") <
          collate(col("y"), "UNICODE_CI")).as("ci_lt"),
        (collate(lit("VIEW"), "UNICODE_CI") ===
          collate(lit("view"), "UNICODE_CI")).as("ci_case_eq"),
        (collate(lit("vïew"), "UNICODE_CI") ===
          collate(lit("view"), "UNICODE_CI")).as("ci_accent_eq"))
      .head()
    assert(!r.getBoolean(0), "byte order: 'B'(0x42) sorts before 'a'(0x61)")
    assert(r.getBoolean(1), "UNICODE_CI: letters sort alphabetically")
    assert(r.getBoolean(2), "UNICODE_CI folds case")
    assert(!r.getBoolean(3), "UNICODE_CI stays accent-SENSITIVE")
    // ICU ordering: accent is a secondary difference — 'á' lands
    // between 'a' and 'b', where byte order throws it past 'z'.
    val sorted = Seq("b", "á", "a").toDF("s")
      .orderBy(collate(col("s"), "UNICODE_CI"))
      .collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("a", "á", "b"), s"ICU order violated: $sorted")
    // The conversion entry's round-trip column is all-1 (lossless
    // utf8 encode/decode both directions).
    val rt = Registry.byName("q_func_convert").run(t)
    assert(rt.filter(col("roundtrip") =!= 1).count() == 0)
    assert(rt.filter(col("n_bytes") > col("n_chars")).count() > 0,
      "multi-byte rows must exist — the charset-awareness pin")
  }

  test("RecycleBin survives a bin that outlives the JVM: drop sequences " +
      "past persisted entries") {
    import graft.tools.RecycleBin
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("rb16").toString
    val bin = s"$root/bin"
    // A retained entry from a "previous JVM" with a high sequence.
    new java.io.File(s"$bin/t__50").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bin/t__50/marker.txt"), "stale")
    // A fresh-process drop must land ABOVE it, not at 1.
    Seq((1, 2)).toDF("k", "v").write.parquet(s"$root/t")
    val entry = RecycleBin.drop(s"$root/t", bin)
    assert(entry.split("__").last.toLong > 50,
      s"post-restart drop must sequence past retained entries: $entry")
    // Flashback restores the NEW drop, not the stale pre-restart one.
    RecycleBin.flashback(bin, "t", s"$root/t")
    assert(!new java.io.File(s"$root/t/marker.txt").exists(),
      "flashback restored the stale pre-restart entry")
    assert(spark.read.parquet(s"$root/t").count() == 1)
  }

  test("q_ddl_jobs journals the real work: counts match an independent recount") {
    val rows = Registry.byName("q_ddl_jobs").run(t)
      .orderBy("job_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5),
      "job ids must be queue-monotonic")
    // Every journaled row count equals the slice the op moved.
    def cnt(lo: Int, hi: Int) = t.orders
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).count()
    assert(rows(0).getLong(5) == cnt(0, 300))
    assert(rows(3).getLong(5) == cnt(900, 1200),
      "exchange must journal the exchange's own audit count")
    assert(rows(4).getString(3) == "drop table" && rows(4).getLong(5) == 0L)
    // The drop retained the displaced partition in the bin (unlink,
    // not erase). The registry entry deletes its per-run tree when it
    // returns, so the body runs once more under a root kept here.
    val root = "/tmp/graft_ddljobs_spec"
    try {
      graft.operators.Wave16.ddlJobs(t, root)
      val binEntries = new java.io.File(s"$root/bin").listFiles()
      assert(binEntries != null && binEntries.nonEmpty)
    } finally graft.sources.Formats.deleteRecursively(new java.io.File(root))
  }

  test("q_ddl_jobs runs under a per-process child it deletes: a stray " +
      "partial tree at the shared root does not fail it") {
    val shared = graft.sources.Layouts.root("ddljobs", t.dir)
    val stray = new java.io.File(s"$shared/widen")
    val marker = new java.io.File(stray, "part-00000.parquet")
    stray.mkdirs()
    marker.createNewFile()
    try {
      val rows = Registry.byName("q_ddl_jobs").run(t).collect()
      assert(rows.length == 5)
      assert(marker.exists(), "another run's tree must be left alone")
      val mine = new java.io.File(
        s"$shared/run-${ProcessHandle.current().pid()}")
      assert(!mine.exists(), "the run's own tree outlived it")
    } finally graft.sources.Formats.deleteRecursively(stray)
  }

  test("q_scan_partition_rangecol prunes BOTH partition columns at the scan") {
    val df = Registry.byName("q_scan_partition_rangecol").run(t)
    df.write.format("noop").mode("overwrite").save()
    val pf = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("yr") && pf.contains("pclass"),
      s"both partition columns must prune at the scan: $pf")
    // Parity with the unpartitioned predicate.
    val expected = t.orders.filter(year(col("o_orderdate")) === 1995 &&
      substring(col("o_orderpriority"), 1, 1) === "1").count()
    assert(df.agg(sum("n")).head().getLong(0) == expected)
  }

  test("revoke closes the enforcement gate it opened") {
    Acl.clear()
    Acl.grant("tmp", Seq("SELECT"), db = "graft", tbl = "customer")
    assert(Acl.verify("tmp", "%", "graft", "customer", "SELECT"))
    Acl.revoke("tmp", Seq("SELECT"), db = "graft", tbl = "customer")
    assert(!Acl.verify("tmp", "%", "graft", "customer", "SELECT"))
    intercept[SecurityException] {
      Acl.guardedRead("tmp", "%", "graft", "customer")(t.customer)
    }
    Acl.clear()
  }
}
