package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every capability in the SURVEY inventory is one entry in `queries`
  * (Spark plan) and, where SQL-expressible, one in `oracleSql`
  * (DuckDB twin with identical column names/types).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q5 shape, 6-way join) on sf=0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q_tpch_q5")
      .run(Tables(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { q =>
      q.name -> ((s: SparkSession, dir: String) => q.run(Tables(s, dir)))
    }.toMap

  /** DuckDB oracle SQL per query (same parquet tables, same column
    * names). Omitted for ops whose arithmetic is engine-specific
    * (hash sketches, LSH) → driver records a rows-only check. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
