package graft

/** The one run harness: its session carries the shared graft config,
  * entry selection keeps registry order and rejects unknown names, and
  * the job counter sees exactly the jobs a body starts. */
class RunSpec extends SparkSpecBase {

  test("a Run session resolves graft_dot, orders bucketed scans and " +
    "runs in UTC") {
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    assert(spark.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("select returns registry order and throws on an unknown name") {
    val names = Seq("q_tpch_q5", "q_scan_filter", "q_tpch_q1")
    val inRegistryOrder = Registry.all.map(_.name).filter(names.toSet)
    assert(inRegistryOrder.toSet == names.toSet)
    assert(inRegistryOrder != names)
    assert(Run.select(names).map(_.name) == inRegistryOrder)
    val e = intercept[IllegalArgumentException](
      Run.select(Seq("q_tpch_q1", "q_tpch_q99")))
    assert(e.getMessage.contains("q_tpch_q99"))
  }

  test("counts sees the one job of a bare parquet read and none for a " +
    "table reopen") {
    assert(Run.counts(spark)(
      spark.read.parquet(s"${t.dir}/region.parquet")).jobs == 1)
    t.region
    assert(Run.counts(spark)(t.region).jobs == 0)
  }

  test("PlanDump.redact: plans that differ only in the warehouse and " +
    "data dirs dump equal") {
    def plan(checkout: String, data: String) =
      s"""(1) Scan parquet spark_catalog.default.graft_b_customer
         |Location: InMemoryFileIndex [file:$checkout/spark-warehouse/graft_b_customer_3]
         |(2) Scan parquet
         |Location: InMemoryFileIndex [file:$data/orders.parquet]
         |Output [1]: [o_custkey#41L]""".stripMargin
    def dump(checkout: String, data: String, warehouse: String) =
      PlanDump.redact(plan(checkout, data), data, warehouse)
    val a = dump("/work/a/graft", "/data/sf0.1",
      "file:/work/a/graft/spark-warehouse")
    val b = dump("/home/b/graft-2", "/mnt/sf0.1",
      "/home/b/graft-2/spark-warehouse/")
    assert(a == b, s"\n$a\n---\n$b")
    assert(a.contains("[file:<warehouse>/graft_b_customer_3]") &&
      a.contains("[file:<sfDir>/orders.parquet]") &&
      a.contains("o_custkey#1L"), a)
  }
}
