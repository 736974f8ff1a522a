package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (same forked JVM). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val t: Tables = Tables(spark, "/root/testdata/sf0.001")
}

object SparkSpecBase {
  /** The `Run` session with the specs' own master, 8 shuffle
    * partitions and warehouse dir. */
  lazy val session: SparkSession = Run.session(4,
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}
