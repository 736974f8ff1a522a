package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned fact-table layout — the single biggest scan-cost
  * lever at 100 TB (reference: tigraph/tidb prunes partitions both
  * statically and at runtime — planner/core/rule_partition_processor
  * .go, planner/core/partition_prune.go, table/tables/partition.go).
  *
  * The Spark-native twin is a warehouse layout, not an executor: facts
  * are written `partitionBy(<date bucket>)` so each partition is a
  * self-contained directory, and Catalyst then prunes in BOTH of the
  * reference's modes for free —
  *   - static pruning: a predicate on the partition column becomes a
  *     `PartitionFilters` entry on the scan and non-matching
  *     directories are never listed or read;
  *   - dynamic partition pruning: a join whose key is the partition
  *     column against a filtered dimension injects a runtime subquery
  *     (`dynamicpruning` expression) that narrows the scan to the
  *     partitions the dim side actually produces.
  *
  * Locally the layout is materialized lazily under /tmp, keyed by a
  * content fingerprint of the source parquet (regenerated testdata →
  * new copy); on a cluster this is the table's native layout and the
  * copy step disappears.
  */
object PartitionedFact {

  /** Ship-month-partitioned lineitem (partition column `shipmonth` =
    * 'yyyy-MM' of l_shipdate), built once per source fingerprint.
    * Each `*Dir` function is the ONE spelling of its layout: it
    * builds on first touch and returns the location, so the readers
    * below and the index-metadata card (q_show_index, which lists
    * these directories for its partition counts) cannot disagree. */
  def lineitemShipMonthDir(spark: SparkSession, dataDir: String): String = {
    val src = s"$dataDir/lineitem.parquet"
    Layouts.once(Layouts.root("part_lineitem", dataDir, src)) { dir =>
      Formats.write(
        spark.read.parquet(src)
          .withColumn("shipmonth",
            date_format(col("l_shipdate"), "yyyy-MM")),
        "parquet", dir, partitionBy = Seq("shipmonth"))
    }
  }

  def lineitemByShipMonth(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(lineitemShipMonthDir(spark, dataDir))

  /** Number of hash partitions for [[ordersByCustHash]] — the `n` of
    * `PARTITION BY HASH(o_custkey) PARTITIONS n`. */
  val HashBuckets = 16

  /** HASH-partitioned orders (reference: PartitionTypeHash in
    * planner/core/rule_partition_processor.go:635 — `PARTITION BY
    * HASH(key) PARTITIONS n` prunes to `key mod n` for point/IN
    * predicates). Partition column `pbucket = o_custkey mod 16`
    * (TiDB's hash partitioning IS mod arithmetic for int keys), so a
    * point lookup touches exactly one of 16 directories. The
    * key→bucket rewrite the reference's rule does in the planner is
    * [[custkeyPruned]] here: callers state the KEY predicate and the
    * reader adds the derived bucket predicate, which Catalyst turns
    * into PartitionFilters (static directory pruning). */
  def ordersCustHashDir(spark: SparkSession, dataDir: String): String = {
    val src = s"$dataDir/orders.parquet"
    Layouts.once(Layouts.root("hash_orders", dataDir, src)) { dir =>
      Formats.write(
        spark.read.parquet(src)
          .withColumn("pbucket", pmod(col("o_custkey"), lit(HashBuckets))),
        "parquet", dir, partitionBy = Seq("pbucket"))
    }
  }

  def ordersByCustHash(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(ordersCustHashDir(spark, dataDir))

  /** The hash-prune rewrite: an IN/point predicate on the partition
    * KEY gains the implied predicate on the partition BUCKET, so the
    * scan prunes to ≤ |keys| of the 16 directories before reading a
    * row. Mirrors rule_partition_processor.go's static hash prune. */
  def custkeyPruned(fact: DataFrame, keys: Seq[Long]): DataFrame = {
    val buckets = keys.map(k => ((k % HashBuckets) + HashBuckets)
      % HashBuckets).distinct
    fact.filter(col("pbucket").isin(buckets: _*) &&
      col("o_custkey").isin(keys: _*))
  }

  /** LIST COLUMNS partition definition — `PARTITION BY LIST
    * COLUMNS(o_orderpriority) (PARTITION p_urgent VALUES IN
    * ('1-URGENT','2-HIGH'), …)`. The named-partition map IS the DDL. */
  val PriorityLists: Map[String, String] = Map(
    "1-URGENT" -> "p_urgent", "2-HIGH" -> "p_urgent",
    "3-MEDIUM" -> "p_normal",
    "4-NOT SPECIFIED" -> "p_low", "5-LOW" -> "p_low")

  /** LIST-partitioned orders (reference: rule_partition_processor.go
    * :355 newListPartitionPruner — each named partition owns an
    * explicit value list; a predicate on the list column locates the
    * partitions whose lists intersect it). Directory column `plist`
    * is the named partition of the row's o_orderpriority. */
  def ordersPriorityListDir(spark: SparkSession, dataDir: String): String = {
    val src = s"$dataDir/orders.parquet"
    Layouts.once(Layouts.root("list_orders", dataDir, src)) { dir =>
      val plist = PriorityLists.foldLeft(lit(null).cast("string")) {
        case (acc, (v, p)) =>
          when(col("o_orderpriority") === v, p).otherwise(acc)
      }
      Formats.write(
        spark.read.parquet(src).withColumn("plist", plist),
        "parquet", dir, partitionBy = Seq("plist"))
    }
  }

  def ordersByPriorityList(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(ordersPriorityListDir(spark, dataDir))

  /** The list-prune rewrite (locatePartitionByColumn): a value
    * predicate on the list column locates exactly the named
    * partitions whose value lists intersect the predicate set. */
  def priorityPruned(fact: DataFrame, values: Seq[String]): DataFrame = {
    val parts = values.flatMap(PriorityLists.get).distinct
    fact.filter(col("plist").isin(parts: _*) &&
      col("o_orderpriority").isin(values: _*))
  }
}
