package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, EvalMode, Expression, Literal, MakeDecimal, Multiply, NumericEvalContext, Subtract, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Oracle-parity arithmetic helpers.
  *
  * The 2dp money contract: money columns in the test data carry
  * exactly 2 decimal digits, so each row's value is
  * `CAST(x AS DECIMAL(18,2))` (HALF_UP on any other input, as before)
  * and a SUM over it is exact — the same value DuckDB computes for
  * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. This removes
  * float summation-order nondeterminism from the correctness gate
  * while the final DOUBLE keeps result schemas engine-neutral.
  * The reference applies the same trick: TiDB computes money aggs in
  * fixed-point MyDecimal (expression/builtin_arithmetic.go).
  *
  * Accumulation is in longs, not in Spark's DECIMAL(28..38) buffers
  * (one `java.math.BigDecimal` add per row): a row contributes the
  * unscaled long of its DECIMAL(18,2) value ([[cents]]; a DOUBLE on
  * the 2dp grid gets it without the cast's BigDecimal, see [[Cents]]),
  * products are formed in long units ([[times]]; `p·(1−d)·(1+t)` is
  * `p·(100−d)·(100+t)` at scale 6), and [[sumUnits]] splits each
  * row's units into a high limb (`u >> 24`) and a low limb
  * (`u & 0xFFFFFF`), sums both as longs, and rebuilds
  * `hi·2^24 + lo` as DECIMAL(38, scale) once per group.
  *
  * Exact range: a row's units must fit a long (|u| < 2^63); per
  * group the low limb holds up to 2^39 rows and the high limb any
  * Σ|u| below 2^86. TPC-H sf1000 (6·10^9 lineitems, Q1's scale-6
  * charge ≤ 1.2·10^11 per row, Σ ≤ 7·10^20) is far inside both, where
  * a single long sum would overflow past about sf160. Outside the
  * range every long operation here runs in ANSI mode whatever
  * `spark.sql.ansi.enabled` says: overflow throws, it never wraps or
  * turns into NULL. An empty or all-NULL group sums to NULL.
  */
object Exact {
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  private val ansi = NumericEvalContext(EvalMode.ANSI)
  private val LimbBits = 24

  /** A row's 2dp money value in long units: the unscaled long of
    * `dec2(c)`, so `1.005` is 101 (HALF_UP), exactly as `dec2`. */
  def cents(c: Column): Column = column(Cents(expr(dec2(c))))

  /** `a * b` in long units (scales add); overflow throws. */
  def times(a: Column, b: Column): Column =
    column(Multiply(expr(a), expr(b), ansi))

  /** `a - b` in long units at one scale; overflow throws. */
  def minus(a: Column, b: Column): Column =
    column(Subtract(expr(a), expr(b), ansi))

  /** Exact SUM of per-row long `units` at `scale` decimal digits, as
    * DECIMAL(38, scale) — per group, or per frame of `over`. */
  def sumUnits(units: Column, scale: Int,
      over: Option[WindowSpec] = None): Column = {
    def limb(part: Column): Expression = {
      val s = column(Sum(expr(part), ansi).toAggregateExpression())
      MakeDecimal(expr(over.fold(s)(w => s.over(w))), 38, scale, false)
    }
    val hi = limb(shiftright(units, LimbBits))
    val lo = limb(units.bitwiseAND((1L << LimbBits) - 1))
    column(Add(Multiply(hi, Literal(BigDecimal(1L << LimbBits)), ansi),
      lo, ansi))
  }

  /** Exact SUM of a 2dp money column, typed DECIMAL(28,2) as Spark's
    * own `sum(dec2(c))`, so comparisons and arithmetic on it widen
    * exactly as before (the limbs reach at most about 1.6·10^26
    * cents, inside DECIMAL(28,2)). */
  def sumCents(c: Column, over: Option[WindowSpec] = None): Column =
    sumUnits(cents(c), 2, over).cast(DecimalType(28, 2))

  /** Exact SUM of a 2dp money column, surfaced as DOUBLE. */
  def sum2(c: Column): Column = sumCents(c).cast(DoubleType)

  /** Exact SUM of a 2dp*2dp product (e.g. price*(1-disc)), as DOUBLE. */
  def sumProd2(a: Column, b: Column): Column =
    sumUnits(times(cents(a), cents(b)), 4).cast(DoubleType)

  /** AVG as exact-decimal sum divided by count, in DOUBLE — matches
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)/COUNT(x)`. */
  def avg2(c: Column): Column = sum2(c) / count(c)
}

/** The unscaled long of `child`, a cast to DECIMAL(18,2).
  *
  * A DOUBLE `x` with |x| < 10^9 that is the double nearest to some
  * `c/100` casts to exactly `c/100`: the cast rounds HALF_UP the
  * decimal `Double.toString(x)`, which converts back to `x`, so it
  * lies within one ulp (below 2^-23) of `c/100`, far inside the ±0.005
  * that would round elsewhere. Such rows take `c` without the cast's
  * BigDecimal; every other row (non-2dp, large, NaN, non-DOUBLE)
  * evaluates the cast itself.
  */
case class Cents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  @transient private lazy val double: Option[Expression] = child match {
    case c: Cast if c.child.dataType == DoubleType => Some(c.child)
    case _ => None
  }

  override def eval(input: InternalRow): Any = {
    val x = double.map(_.eval(input))
    x match {
      case Some(null) => null
      case Some(v: Double)
          if math.abs(v) < 1e9 && math.round(v * 100) / 100.0 == v =>
        math.round(v * 100)
      case _ => child.eval(input) match {
        case null => null
        case d: Decimal => d.toUnscaledLong
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cast = child.genCode(ctx)
    val slow = code"""
      ${cast.code}
      ${ev.isNull} = ${cast.isNull};
      if (!${ev.isNull}) ${ev.value} = ${cast.value}.toUnscaledLong();"""
    double match {
      case None => ev.copy(code = code"""
        boolean ${ev.isNull} = false;
        long ${ev.value} = -1L;
        $slow""")
      case Some(x) =>
        val v = x.genCode(ctx)
        val c = ctx.freshName("c")
        ev.copy(code = code"""
          ${v.code}
          boolean ${ev.isNull} = ${v.isNull};
          long ${ev.value} = -1L;
          if (!${ev.isNull}) {
            long $c = java.lang.Math.round(${v.value} * 100.0);
            if (java.lang.Math.abs(${v.value}) < 1.0E9 &&
                $c / 100.0 == ${v.value}) {
              ${ev.value} = $c;
            } else {
              $slow
            }
          }""")
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): Cents = copy(child = newChild)
}
