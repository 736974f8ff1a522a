package graft

import graft.operators.Cents
import graft.operators.Exact._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact's money arithmetic. The [[Sums]] rule against Spark's own
  * decimal sums, planned in the same session with the rule excluded
  * through `spark.sql.optimizer.excludedRules`: same schema, same
  * values, NULL for an empty group, under both ANSI settings. The
  * hand-routed products (`sumUnits`, `sumProd2`) against the
  * decimal-buffer forms they replace, bit for bit, with an overflow
  * that throws whatever `spark.sql.ansi.enabled` says.
  *
  * One difference from Spark is out of a spec's reach: Spark stores
  * each running partial of a DECIMAL(p+10, s) sum at that precision,
  * so a group whose partial crosses 10^(p+10) turns NULL (or throws
  * under ANSI) even when its final total fits, where the rule returns
  * the total. With inputs below 10^p that takes over 10^10 rows in one
  * group. */
class ExactSpec extends SparkSpecBase {
  import spark.implicits._

  // Old (DECIMAL-buffer) form next to its helper, per output column.
  private def pairs: Seq[(String, Column, Column)] = {
    val (p, d, tx) = (col("p"), col("d"), col("t"))
    Seq(
      ("sumProd2", sum(dec2(p) * dec2(lit(1) - d)).cast("double"),
        sumProd2(p, lit(1) - d)),
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

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withoutRule[A](body: => A): A =
    withConf("spark.sql.optimizer.excludedRules" -> Sums.ruleName)(body)

  /** The `Sum`s of `df`'s optimized plan that add DECIMAL values. */
  private def decimalSums(df: DataFrame): Seq[Sum] =
    df.queryExecution.optimizedPlan.collect { case n => n.expressions }
      .flatten.flatMap(_.collect {
        case s: Sum if s.child.dataType.isInstanceOf[DecimalType] => s
      })

  private def result(df: DataFrame) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  /** `q`, built afresh under each ANSI setting, with and without the
    * rule: the rule sums no DECIMAL, the reference does, and both give
    * the same schema and rows. */
  private def sameAsSpark(q: => DataFrame): Unit =
    for (ansi <- Seq("true", "false"))
      withConf("spark.sql.ansi.enabled" -> ansi) {
        val got = q
        val want = withoutRule(q)
        assert(decimalSums(got).isEmpty, s"ansi=$ansi: $got left to Spark")
        assert(withoutRule(decimalSums(want)).nonEmpty,
          s"ansi=$ansi: the reference has no DECIMAL sum")
        val (r, w) = (result(got), withoutRule(result(want)))
        assert(r == w, s"ansi=$ansi:\n$r\nvs\n$w")
      }

  // Eight groups of 2dp money (DOUBLE) and narrow decimals up to 18
  // digits, signs mixed, with a NULL sprinkled in and group 7 all NULL.
  private lazy val money: DataFrame = {
    val rnd = new scala.util.Random(12)
    def digits(n: Int): BigDecimal =
      BigDecimal(rnd.nextLong() % math.pow(10, n).toLong)
    val rows = (0 until 3000).map { i =>
      val g = i % 8
      def v[A](a: => A): Option[A] =
        if (g == 7 || i % 97 == 0) None else Some(a)
      (g, i, v((rnd.nextLong() % 10000000000L) / 100.0),
        v(digits(18) / 100), v(digits(12) / 100000), v(digits(9)),
        v(digits(18)), v(BigDecimal(rnd.nextInt(2000000)) / 100))
    }
    rows.toDF("g", "i", "p", "a", "b", "c", "e", "n").select(col("g"),
      col("i"), col("p"), col("a").cast(DecimalType(18, 2)).as("a"),
      col("b").cast(DecimalType(12, 5)).as("b"),
      col("c").cast(DecimalType(9, 0)).as("c"),
      col("e").cast(DecimalType(18, 0)).as("e"),
      col("n").cast(DecimalType(8, 2)).as("n"))
  }

  private def narrowSums: Seq[Column] = Seq(sum(dec2(col("p"))),
    sum(dec2(col("p"))).cast("double"), sum(col("a")), sum(col("b")),
    sum(col("c")), sum(col("e")))

  test("Sums: DataFrame aggregates, grouped and global, equal Spark's " +
      "decimal sums under both ANSI settings") {
    sameAsSpark(money.groupBy("g").agg(narrowSums.head, narrowSums.tail: _*))
    sameAsSpark(money.agg(narrowSums.head, narrowSums.tail: _*))
    // A global aggregate over no rows, and groups with no non-NULL row.
    sameAsSpark(
      money.filter(lit(false)).agg(narrowSums.head, narrowSums.tail: _*))
    val nulls = money.filter(col("g") === 7).groupBy("g")
      .agg(narrowSums.head, narrowSums.tail: _*).collect()
    assert(nulls.length == 1 && (1 to 6).forall(nulls.head.isNullAt))
  }

  test("Sums: SQL text with a FILTER clause equals Spark's decimal sums") {
    money.createOrReplaceTempView("exact_money")
    val sums = """SUM(CAST(p AS DECIMAL(18,2))),
      SUM(CAST(p AS DECIMAL(18,2))) FILTER (WHERE i % 3 = 0),
      SUM(a) FILTER (WHERE a > 0), SUM(b), SUM(c) FILTER (WHERE g < 3),
      SUM(e) FILTER (WHERE i < 0)"""
    sameAsSpark(spark.sql(s"SELECT g, $sums FROM exact_money GROUP BY g"))
    sameAsSpark(spark.sql(s"SELECT $sums FROM exact_money"))
    sameAsSpark(spark.sql(s"SELECT $sums FROM exact_money WHERE g = 7"))
    // The filter really drops rows: the FILTER sum differs from the
    // plain one in some group.
    val r = spark.sql("""SELECT SUM(CAST(p AS DECIMAL(18,2))),
      SUM(CAST(p AS DECIMAL(18,2))) FILTER (WHERE i % 3 = 0)
      FROM exact_money""").head()
    assert(r.getDecimal(0) != r.getDecimal(1))
  }

  test("Sums: ROWS and RANGE window frames equal Spark's decimal sums") {
    val w = Window.partitionBy("g").orderBy("i")
    val frames = Seq(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow),
      w.rowsBetween(-2, 1), w.rangeBetween(-40, Window.currentRow),
      Window.partitionBy("g"))
    sameAsSpark(money.select(col("g") +: col("i") +: frames.flatMap(f =>
      Seq(sum(dec2(col("p"))).over(f), sum(col("a")).over(f),
        sum(col("e")).over(f))): _*))
    money.createOrReplaceTempView("exact_money")
    sameAsSpark(spark.sql("""SELECT g, i,
      SUM(CAST(p AS DECIMAL(18,2))) OVER (PARTITION BY g ORDER BY i
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
      SUM(b) OVER (PARTITION BY g ORDER BY i
        RANGE BETWEEN 16 PRECEDING AND 8 FOLLOWING)
      FROM exact_money"""))
  }

  test("Sums leaves p <= 8, DISTINCT and try_sum plans untouched") {
    def untouched(q: => DataFrame): Unit = {
      val (got, want) = (q, withoutRule(q))
      assert(got.queryExecution.optimizedPlan.sameResult(
        withoutRule(want.queryExecution.optimizedPlan)),
        got.queryExecution.optimizedPlan.toString)
      assert(result(got) == withoutRule(result(want)))
    }
    untouched(money.groupBy("g").agg(sum(col("n"))))
    untouched(money.groupBy("g").agg(sum_distinct(dec2(col("p")))))
    untouched(money.groupBy("g").agg(try_sum(col("a"))))
    money.createOrReplaceTempView("exact_money")
    untouched(spark.sql(
      "SELECT SUM(DISTINCT a), TRY_SUM(e), SUM(n) FROM exact_money"))
    // The check itself sees a rewrite: a p = 9 sum plans differently.
    val c = money.groupBy("g").agg(sum(col("c")))
    assert(!c.queryExecution.optimizedPlan.sameResult(withoutRule(
      money.groupBy("g").agg(sum(col("c"))).queryExecution.optimizedPlan)))
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
        sumUnits(cents(col("p")), 2, Some(w)).cast("double"))
    val got = withoutRule(win.collect())
    assert(got.forall(r => bits(r, 0) == bits(r, 1)))
  }

  test("non-2dp inputs round HALF_UP exactly as the DECIMAL(18,2) cast") {
    val df = Seq(1.005, 2.675, 0.125, -0.125).zipWithIndex
      .map { case (v, i) => (i, v, v, v) }.toDF("g", "p", "d", "t")
    assertSame(df, "g", pairs)
    val got = df.groupBy("g").agg(sum(dec2(col("p"))).cast("double"))
      .orderBy("g").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(1.01, 2.68, 0.13, -0.13))
    // Rows the long fast path must hand to the cast: beyond 10^9, off
    // the 2dp grid, or below a cent.
    val edge = Seq(999999999.99, 1000000000.01, 12345678901.23, 0.1 + 0.2,
      -0.0, 1e-300, -2.675).zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("g", "p")
    sameAsSpark(edge.groupBy("g").agg(sum(dec2(col("p")))))
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
      .agg(sumProd2(col("p"), col("d")), sumUnits(cents(col("p")), 2))
      .head()
    assert((1 to 2).forall(nulls.isNullAt))
    val empty = df.filter(lit(false))
      .agg(sumProd2(col("p"), col("d")), sumUnits(cents(col("p")), 2))
      .head()
    assert((0 to 1).forall(empty.isNullAt))
  }
}
