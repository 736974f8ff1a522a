package graft

import graft.operators.Cents
import graft.operators.Exact._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact's long-accumulated money sums against the decimal-buffer
  * forms they replace: same per-row DECIMAL(18,2) values, same
  * per-group DOUBLE bit for bit, NULL for an empty group, and an
  * overflow that throws whatever `spark.sql.ansi.enabled` says. */
class ExactSpec extends SparkSpecBase {
  import spark.implicits._

  // Old (DECIMAL-buffer) form next to its helper, per output column.
  private def pairs: Seq[(String, Column, Column)] = {
    val (p, d, tx) = (col("p"), col("d"), col("t"))
    Seq(
      ("sum2", sum(dec2(p)).cast("double"), sum2(p)),
      ("sumProd2", sum(dec2(p) * dec2(lit(1) - d)).cast("double"),
        sumProd2(p, lit(1) - d)),
      ("avg2", sum(dec2(p)).cast("double") / count(p), avg2(p)),
      ("charge6",
        sum(dec2(p) * (lit(1) - dec2(d)) * (lit(1) + dec2(tx)))
          .cast("double"),
        sumUnits(times(times(cents(p), lit(100) - cents(d)),
          lit(100) + cents(tx)), 6).cast("double")))
  }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  private def assertSame(df: DataFrame, key: String,
      cols: Seq[(String, Column, Column)]): Unit = {
    val rows = df.groupBy(key)
      .agg(cols.head._2, (cols.flatMap(c => Seq(c._2, c._3)).tail): _*)
      .orderBy(key).collect()
    assert(rows.nonEmpty)
    for (r <- rows; ((name, _, _), i) <- cols.zipWithIndex) {
      val (old, now) = (bits(r, 1 + 2 * i), bits(r, 2 + 2 * i))
      assert(old == now, s"$name, group ${r.get(0)}: $old vs $now")
    }
  }

  private def overflows(body: => Any): Boolean =
    try { body; false } catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage)
            .contains("ARITHMETIC_OVERFLOW"))
    }

  test("every helper equals the DECIMAL-buffer sum bit for bit on " +
    "random 2dp money, scale-6 sums above 2^53 included") {
    val rnd = new scala.util.Random(5)
    def money(max: Long): Double =
      if (rnd.nextInt(10) == 0) 0.0
      else (rnd.nextLong() % (max * 100)).toDouble / 100
    // Groups 0-2 hold large positive prices, the rest mixed signs.
    val rows = (0 until 6000).map { i =>
      (i % 7, if (i % 7 < 3) money(100000000L).abs else money(100000L),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0)
    }
    val df = rows.toDF("g", "p", "d", "t")
    assertSame(df, "g", pairs)
    // The big groups really leave double's exact-integer range.
    val charge = df.groupBy("g").agg(sum(dec2(col("p")) *
      (lit(1) - dec2(col("d"))) * (lit(1) + dec2(col("t")))).as("s"))
      .collect().map(_.getDecimal(1).abs.movePointRight(6))
    assert(charge.exists(_.compareTo(
      java.math.BigDecimal.valueOf(1L << 53)) > 0))
    // The window form: running sums over a frame, row by row.
    val w = Window.partitionBy("g").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val win = rows.zipWithIndex.map { case ((g, p, _, _), i) => (g, i, p) }
      .toDF("g", "i", "p")
      .select(sum(dec2(col("p"))).over(w).cast("double"),
        sumCents(col("p"), Some(w)).cast("double"))
      .collect()
    assert(win.forall(r => bits(r, 0) == bits(r, 1)))
  }

  test("non-2dp inputs round HALF_UP exactly as the DECIMAL(18,2) cast") {
    val df = Seq(1.005, 2.675, 0.125, -0.125).zipWithIndex
      .map { case (v, i) => (i, v, v, v) }.toDF("g", "p", "d", "t")
    assertSame(df, "g", pairs)
    val got = df.groupBy("g").agg(sum2(col("p"))).orderBy("g")
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(1.01, 2.68, 0.13, -0.13))
    // Rows the long fast path must hand to the cast: beyond 10^9, off
    // the 2dp grid, or below a cent.
    val edge = Seq(999999999.99, 1000000000.01, 12345678901.23, 0.1 + 0.2,
      -0.0, 1e-300, -2.675).zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("g", "p")
    assertSame(edge, "g", pairs.take(1))
    val want =
      Seq(99999999999L, 100000000001L, 1234567890123L, 30L, 0L, 0L, -268L)
    assert(edge.select(cents(col("p"))).collect().map(_.getLong(0)).toSeq ==
      want)
    // The interpreted path agrees with the generated code.
    assert(edge.collect().map(r => Cents(Cast(Literal(r.getDouble(1)),
      DecimalType(18, 2))).eval(null)).toSeq == want)
  }

  test("overflow throws with spark.sql.ansi.enabled true and false") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        // A per-row product past 2^63 (10^17 cents x 10^5 cents).
        val wide = Seq((1e15, 1e3)).toDF("a", "b")
        assert(overflows(
          wide.agg(sumProd2(col("a"), col("b"))).collect()), ansi)
        // A high-limb sum past 2^63: 2^24 + 1 rows of Long.MaxValue.
        val big = spark.range(0, (1L << 24) + 1, 1, 4)
        assert(overflows(
          big.agg(sumUnits(lit(Long.MaxValue), 2)).collect()), ansi)
      }
    } finally spark.conf.set(key, before)
  }

  test("an empty or all-NULL group sums to NULL, as before") {
    val df = Seq((1, Some(1.5)), (2, None), (2, None))
      .toDF("g", "p").withColumn("d", lit(0.05)).withColumn("t", lit(0.02))
    assertSame(df, "g", pairs)
    val nulls = df.filter(col("g") === 2).groupBy("g")
      .agg(sum2(col("p")), sumProd2(col("p"), col("d")),
        sumCents(col("p")))
      .head()
    assert((1 to 3).forall(nulls.isNullAt))
    val empty = df.filter(lit(false))
      .agg(sum2(col("p")), sumProd2(col("p"), col("d")),
        sumCents(col("p")))
      .head()
    assert((0 to 2).forall(empty.isNullAt))
  }
}
