package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProduct, MinHashKernel, ShingleHashKernel,
  SigAgreementKernel, SortedIntersectKernel}

/** Single-threaded timings of graft's public kernel objects over the
  * generated `documents` and `embeddings`, with the parameters the
  * dedup entries use (5-char shingles, 64 MinHash permutations).
  * Each kernel runs one untimed warm-up sweep, then five timed
  * sweeps; the result is the median sweep's ns per item. */
object Kernels {
  /** Sweep checksums land here so the JIT cannot drop the timed calls. */
  @volatile var sink = 0L

  final case class Timing(name: String, nsPerItem: Double, items: Double,
      startNs: Long, endNs: Long)

  private def sweep(name: String, items: Int)(body: => Long): Timing = {
    sink += body
    val start = System.nanoTime()
    val ns = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); sink += body; (System.nanoTime() - t0).toDouble
    }
    Timing(name, Stats.median(ns) / items, items, start, System.nanoTime())
  }

  /** Pairs (i, i + 1 .. i + w) over n items. */
  private def pairs(n: Int, w: Int): Array[(Int, Int)] =
    (for (i <- 0 until n; d <- 1 to w) yield (i, (i + d) % n)).toArray

  def time(spark: SparkSession, dataDir: String): Seq[Timing] = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .orderBy("doc_id").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .orderBy("vec_id").select("embedding").collect()
      .map(r => new GenericArrayData(
        r.getSeq[Float](0).map(_.toDouble).toArray): ArrayData)
    val shingle = sweep("functions.shingle_ns_per_doc", docs.length) {
      docs.map(d => ShingleHashKernel.charShingles(d, 5).numElements().toLong).sum
    }
    val sample = docs.take(500)
    val minhash = sweep("functions.minhash_ns_per_doc", sample.length) {
      sample.map(d => MinHashKernel.signature(d, 5, 64).numElements().toLong).sum
    }
    val sigs = sample.map(MinHashKernel.signature(_, 5, 64))
    val sigPairs = pairs(sigs.length, 20)
    val agree = sweep("functions.sig_agree_ns_per_pair", sigPairs.length) {
      sigPairs.map { case (i, j) => SigAgreementKernel.count(sigs(i), sigs(j)).toLong }.sum
    }
    val sets = docs.map { d =>
      new GenericArrayData(ShingleHashKernel.charShingles(d, 5).toLongArray()
        .distinct.sorted): ArrayData
    }
    val setPairs = pairs(sets.length, 10)
    val intersect = sweep("functions.intersect_ns_per_pair", setPairs.length) {
      setPairs.map { case (i, j) => SortedIntersectKernel.count(sets(i), sets(j)).toLong }.sum
    }
    val typ = ArrayType(DoubleType)
    val dot = DotProduct(Literal.create(null, typ), Literal.create(null, typ))
    val vecPairs = pairs(vecs.length, 10)
    val dots = sweep("functions.dot_ns_per_pair", vecPairs.length) {
      vecPairs.map { case (i, j) =>
        dot.nullSafeEval(vecs(i), vecs(j)).asInstanceOf[Double].toLong }.sum
    }
    Seq(shingle, minhash, agree, intersect, dots)
  }
}
