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
}
