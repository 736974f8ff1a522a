package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, CheckOverflow, EvalMode, Expression, Literal, MakeDecimal, Multiply, NamedExpression, NumericEvalContext, ShiftRight, Subtract, UnaryExpression, UnscaledValue, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SUM
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Oracle-parity arithmetic.
  *
  * The 2dp money contract: money columns in the test data carry
  * exactly 2 decimal digits, so each row's value is
  * `CAST(x AS DECIMAL(18,2))` (HALF_UP on any other input) and a SUM
  * over it is exact — the same value DuckDB computes for
  * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. This removes
  * float summation-order nondeterminism from the correctness gate
  * while the final DOUBLE keeps result schemas engine-neutral.
  * The reference applies the same trick: TiDB computes money aggs in
  * fixed-point MyDecimal (expression/builtin_arithmetic.go).
  *
  * How a sum accumulates is decided by one optimizer rule, [[Sums]],
  * not by its call site: a plain `sum(dec2(x))`, in the DataFrame API
  * or in SQL text, sums long limbs instead of Spark's DECIMAL(28..38)
  * buffer (one `java.math.BigDecimal` add per row). Products, whose
  * DECIMAL(37,4) type proves no long range, are formed in long units
  * by hand ([[times]]; `p·(1−d)·(1+t)` is `p·(100−d)·(100+t)` at
  * scale 6) and summed by [[sumUnits]]. Both sum through one limb
  * builder, `limbs`.
  */
object Exact {
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  private val ansi = NumericEvalContext(EvalMode.ANSI)

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
    * DECIMAL(38, scale) — per group, or per frame of `over`.
    *
    * Two 24-bit limbs: a row's units must fit a long (|u| < 2^63);
    * per group the low limb holds up to 2^39 rows and the high limb
    * any Σ|u| below 2^86. TPC-H sf1000 (6·10^9 lineitems, Q1's scale-6
    * charge ≤ 1.2·10^11 per row, Σ ≤ 7·10^20) is far inside both,
    * where a single long sum would overflow past about sf160. Outside
    * the range the long operations run in ANSI mode whatever
    * `spark.sql.ansi.enabled` says: overflow throws, it never wraps or
    * turns into NULL. An empty or all-NULL group sums to NULL. */
  def sumUnits(units: Column, scale: Int,
      over: Option[WindowSpec] = None): Column = {
    val total = limbs(expr(units), scale, bits = 24, n = 2) { part =>
      val s = column(Sum(part, ansi).toAggregateExpression())
      expr(over.fold(s)(w => s.over(w)))
    }
    column(total).cast(DecimalType(38, scale))
  }

  /** Exact SUM of a 2dp*2dp product (e.g. price*(1-disc)), as DOUBLE. */
  def sumProd2(a: Column, b: Column): Column =
    sumUnits(times(cents(a), cents(b)), 4).cast(DoubleType)

  /** Σ `units` (a long per row) at `scale` digits, exact: the units
    * split into `n` limbs of `bits` bits, the top one signed, each
    * summed as a long by `sum` and weighted back by its power of two.
    * A limb sum below 2^63 fits DECIMAL(19, scale), and the weighted
    * total stays at most 38 digits, so no step rounds or adjusts the
    * scale. */
  private def limbs(units: Expression, scale: Int, bits: Int, n: Int)(
      sum: Expression => Expression): Expression =
    (n - 1 to 0 by -1).map { i =>
      val shifted =
        if (i == 0) units else ShiftRight(units, Literal(bits * i))
      val limb = if (i == n - 1) shifted
        else BitwiseAnd(shifted, Literal((1L << bits) - 1))
      val part = MakeDecimal(sum(limb), 19, scale, false)
      if (i == 0) part
      else Multiply(part, Literal(BigDecimal(1L << (bits * i))), ansi)
    }.reduce[Expression](Add(_, _, ansi))

  /** The optimizer rule behind every narrow money sum: a non-DISTINCT,
    * non-`try_sum` `Sum` over a DECIMAL(p, s) input with 8 < p ≤ 18,
    * in an aggregate (its FILTER clause carried to every limb) or a
    * window, becomes three 21-bit long limb sums, and the total is
    * rebuilt once per group or frame as Spark's own result type,
    * DECIMAL(p+10, s), through `CheckOverflow` — NULL on overflow, or
    * an error when the `Sum` runs in ANSI mode, as Spark's own
    * `CheckOverflowInSum`. Each row contributes the unscaled long of
    * its value ([[Cents]] for a DOUBLE cast to DECIMAL(18,2),
    * `UnscaledValue` otherwise): its type proves |u| < 10^18 < 2^60,
    * so the limbs hold 2^42 rows per group, past the 10^10 rows at
    * which a DECIMAL(p+10, s) sum of such values can first overflow;
    * beyond 2^42 rows a limb's long sum throws. An empty or all-NULL
    * group sums to NULL.
    *
    * Left to Spark: p ≤ 8 (`DecimalAggregates` sums those in one long),
    * DISTINCT, `try_sum`, inputs wider than 18 digits (products, the
    * MV's re-sum of `rev`), and streaming plans, whose aggregate
    * buffer schema is a running query's state-store schema.
    *
    * One difference from Spark, reachable only past 10^10 rows per
    * group: Spark adds without a check and writes each running partial
    * at precision p+10, so a partial that crosses 10^(p+10) is stored
    * as NULL and the group is NULL (or an error under ANSI) even when
    * the final total fits; here the group gets that total.
    *
    * [[graft.plans.GraftExtensions]] injects the rule. A session built
    * without the extension plans Spark's BigDecimal buffers: the same
    * values, only slower. */
  object Sums extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      if (plan.isStreaming) plan
      else plan.transformAllExpressionsWithPruning(_.containsPattern(SUM)) {
        case we @ WindowExpression(ae @ Narrow(e, d, mode), _) =>
          total(e, d, mode)(l => we.copy(windowFunction = limbSum(ae, l)))
        case ae @ Narrow(e, d, mode) => total(e, d, mode)(limbSum(ae, _))
      }

    private def limbSum(ae: AggregateExpression, limb: Expression) =
      ae.copy(aggregateFunction = Sum(limb, ansi),
        resultId = NamedExpression.newExprId)

    private def total(e: Expression, d: DecimalType, mode: EvalMode.Value)(
        sum: Expression => Expression): Expression = {
      val units = e match {
        case c: Cast if c.child.dataType == DoubleType &&
            c.dataType == DecimalType(18, 2) => Cents(c)
        case _ => UnscaledValue(e)
      }
      CheckOverflow(limbs(units, d.scale, bits = 21, n = 3)(sum),
        DecimalType(d.precision + 10, d.scale), mode != EvalMode.ANSI)
    }

    /** A rewritable `Sum`: its input, the input's type and eval mode. */
    private object Narrow {
      def unapply(ae: AggregateExpression)
          : Option[(Expression, DecimalType, EvalMode.Value)] =
        ae.aggregateFunction match {
          case Sum(e, c) if !ae.isDistinct && c.evalMode != EvalMode.TRY =>
            e.dataType match {
              case d: DecimalType if d.precision > 8 && d.precision <= 18 =>
                Some((e, d, c.evalMode))
              case _ => None
            }
          case _ => None
        }
    }
  }
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
