package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

/** Optimizer rule: replace every `Cast(double → DECIMAL(p, s))` with
  * [[DoubleToDecimal]], which gives the same answer without building a
  * `BigDecimal` for the common value.
  *
  * The reference queries funnel floating-point sums through DECIMAL so
  * results are partition-order independent (see `ReferenceQueries`).
  * Spark casts each of those doubles via `Double.toString` → `BigDecimal`
  * → rescale; on the `olap_scan` benchmark (200k lineitem rows, local[4],
  * 4-vCPU VM) that was more than half of `q1_pricing_summary`'s task time.
  *
  * Placement: injected as a pre-CBO rule (`GraftExtensions.apply`), so it
  * runs once, after operator optimization: constant folding, predicate
  * pushdown through operators and the other cast-aware rules of that
  * batch have already seen the original `Cast`. It does run before the
  * V2 scan pushdown batch, so a V2 source would no longer be offered a
  * filter on a double → decimal cast; graft's parquet scans are V1, whose
  * filter translation never pushes a `Cast` (`PlanSpec` pins q1/q3's
  * `PushedFilters`). `GraftExtensions.register` appends the rule to
  * `extraOptimizations`, which run last.
  */
object FastDecimalCast extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c @ Cast(child, dt: DecimalType, tz, mode)
          if c.resolved && child.dataType == DoubleType && dt.scale >= 0 &&
            dt.scale <= DoubleToDecimal.MaxScale =>
        CurrentOrigin.withOrigin(c.origin)(DoubleToDecimal(child, dt, tz, mode))
    }
}

/** `CAST(child AS DECIMAL(p, s))` for a double `child`, with an exact
  * compact-long fast path and Spark's own [[Cast]] for everything else.
  *
  * Fast path: let y = d·10^s, one rounded double multiplication (10^s is
  * exact for s ≤ 18). If |y| < [[FastRange]], y is more than
  * 8·ulp(y) + 1e-9 away from a .5 tie, and the rounded value fits in p
  * digits, the result is `Decimal.createUnsafe(rint(y), p, s)`: a
  * long-backed `Decimal`, with no string and no `BigDecimal` built.
  *
  * Why it equals `Cast`: `Cast` rounds R = repr(d)·10^s HALF_UP, where
  * repr(d) is `Double.toString(d)`. That string parses back to d, so
  * |repr(d) − d| ≤ ½·ulp(d), and |R − d·10^s| ≤ ½·ulp(d)·10^s, which is
  * below ulp(y) for a normal d and below 1e-305 for a subnormal one. The
  * multiplication adds at most ½·ulp(y). So |R − y| < 1.5·ulp(y) + 1e-305.
  * The guard keeps y further than that from every tie, hence R and y lie
  * strictly inside the same (k − ½, k + ½) interval, and both HALF_UP
  * (on R) and `rint` (on y) pick k. Below |y| < 4e15 < 2^52, `floor`,
  * the fraction and `rint` are exact, and k fits a long. The band the
  * guard rejects around each tie widens with ulp(y); from
  * |y| ≥ 2^48 ≈ 2.8e14 (ulp(y) ≥ 1/16) it covers every value, so that is
  * where the fast path really ends.
  *
  * Every other input is evaluated by a [[Cast]] with the original eval
  * mode, time zone and origin: NaN, ±Inf, near-ties, large magnitudes and
  * values that overflow p digits. Nulls, overflow-to-null, TRY and ANSI
  * errors (and their query context) are therefore Spark's own.
  */
case class DoubleToDecimal(
    child: Expression,
    dataType: DecimalType,
    timeZoneId: Option[String],
    evalMode: EvalMode.Value) extends UnaryExpression {

  /** Spark's cast of an already-evaluated double in slot 0 of a row. */
  @transient private lazy val slow: Cast = CurrentOrigin.withOrigin(origin)(
    Cast(BoundReference(0, DoubleType, nullable = false), dataType, timeZoneId, evalMode))

  override lazy val nullable: Boolean = Cast(child, dataType, timeZoneId, evalMode).nullable
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Double]
    val u = DoubleToDecimal.unscaled(d, dataType.scale, dataType.precision)
    if (u != DoubleToDecimal.NoFastPath) Decimal.createUnsafe(u, dataType.precision, dataType.scale)
    else slow.eval(InternalRow(d))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val slowCast = ctx.addReferenceObj("slowCast", slow)
    val u = ctx.freshName("unscaled")
    val out = ctx.freshName("slowOut")
    val dec = classOf[Decimal].getName
    val (p, s) = (dataType.precision, dataType.scale)
    // a non-nullable Cast (ANSI over a non-null child) never returns null
    val assignSlow =
      if (nullable) s"if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = ($dec) $out; }"
      else s"${ev.value} = ($dec) $out;"
    nullSafeCodeGen(ctx, ev, d =>
      s"""long $u = graft.plans.DoubleToDecimal.unscaled($d, $s, $p);
         |if ($u != ${DoubleToDecimal.NoFastPath}L) {
         |  ${ev.value} = $dec.createUnsafe($u, $p, $s);
         |} else {
         |  Object $out = $slowCast.eval(
         |    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[] { Double.valueOf($d) }));
         |  $assignSlow
         |}""".stripMargin)
  }

  override def toString: String = s"fast_cast($child as ${dataType.simpleString})"
  override protected def withNewChildInternal(c: Expression): DoubleToDecimal = copy(child = c)
}

object DoubleToDecimal {
  /** Largest scale the fast path takes: 10^s must be an exact double. */
  val MaxScale = 18

  /** Bound on |d·10^s| below which the fast path is tried. */
  val FastRange = 4.0e15

  /** [[unscaled]]'s answer when the value must go to `Cast`; never a
    * valid unscaled value, those stay below 4e15 in magnitude. */
  final val NoFastPath = Long.MinValue

  private val Pow10: Array[Double] = Array.tabulate(MaxScale + 1)(i => s"1e$i".toDouble)

  /** The unscaled value `CAST(d AS DECIMAL(precision, scale))` has, when
    * the fast path can prove it (see [[DoubleToDecimal]]); otherwise
    * [[NoFastPath]].
    */
  def unscaled(d: Double, scale: Int, precision: Int): Long = {
    val y = d * Pow10(scale)
    if (!(math.abs(y) < FastRange)) NoFastPath
    else {
      val r = math.rint(y)
      val tieGap = math.abs(y - math.floor(y) - 0.5)
      if (tieGap > 8 * math.ulp(y) + 1e-9 && math.abs(r) < Pow10(math.min(precision, MaxScale)))
        r.toLong
      else NoFastPath
    }
  }
}
