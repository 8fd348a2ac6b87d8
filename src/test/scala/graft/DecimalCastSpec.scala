package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.plans.DoubleToDecimal

/** Parity of [[DoubleToDecimal]] with Spark's `Cast(double → decimal)`:
  * the same value, the same null and the same exception, codegen'd and
  * interpreted, under every eval mode.
  */
class DecimalCastSpec extends SparkSpec {

  private val types = Seq(
    DecimalType(38, 0), DecimalType(38, 2), DecimalType(38, 4), DecimalType(38, 6),
    DecimalType(38, 12), DecimalType(38, 18), DecimalType(18, 4), DecimalType(10, 2),
    DecimalType(5, 2))
  private val modes = Seq(EvalMode.LEGACY, EvalMode.TRY, EvalMode.ANSI)
  private val factoryModes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  private val input = BoundReference(0, DoubleType, nullable = true)

  /** One projection per expression, built under a codegen factory mode. */
  private def project(e: Expression, factoryMode: String): UnsafeProjection = {
    val key = "spark.sql.codegen.factoryMode"
    spark.conf.set(key, factoryMode)
    try {
      val p = UnsafeProjection.create(Seq(e))
      val generated = !p.getClass.getName.contains("Interpreted")
      assert(generated == (factoryMode == "CODEGEN_ONLY"), p.getClass.getName)
      p
    } finally spark.conf.unset(key)
  }

  /** The value (null for SQL NULL), or the exception as class + message. */
  private def outcome(p: UnsafeProjection, row: InternalRow, dt: DecimalType): Either[String, Decimal] =
    try {
      val r = p(row)
      Right(if (r.isNullAt(0)) null else r.getDecimal(0, dt.precision, dt.scale))
    } catch {
      case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}")
    }

  /** Mismatches (up to `show` of them) between the fast expression and
    * `Cast`, for every type × eval mode × factory mode, over the values
    * `inputs` gives for each type. Projections are built up front (the
    * factory mode is a session conf), then each combination is checked on
    * its own thread.
    */
  private def mismatches(inputs: DecimalType => Array[java.lang.Double],
                         show: Int = 5): Seq[String] = {
    val combos = for (dt <- types; mode <- modes; factory <- factoryModes) yield
      (s"$dt $mode $factory", dt, project(DoubleToDecimal(input, dt, None, mode), factory),
        project(Cast(input, dt, None, mode), factory))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val checks = combos.map { case (name, dt, fast, cast) =>
        Future {
          val row = new GenericInternalRow(1)
          inputs(dt).iterator.flatMap { v =>
            row.update(0, v)
            val (a, b) = (outcome(fast, row, dt), outcome(cast, row, dt))
            if (a != b) Some(s"$v as $name: fast=$a cast=$b") else None
          }.take(show).toList
        }
      }
      Await.result(Future.sequence(checks), 10.minutes).flatten.take(show)
    } finally pool.shutdown()
  }

  /** Seeded doubles shaped like the funnel's inputs and their hard edges:
    * prices with up to 4 decimals (up to 1e5, or 1.25× the largest value
    * the type holds) and their discount/tax products, near-ties at the
    * tested scales, log-uniform magnitudes, raw bit patterns (NaN, ±Inf,
    * subnormals) and values around the fast path's range bound.
    */
  private def seeded(n: Int, seed: Long, dt: DecimalType): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val scales = Array(0, 2, 4, 6, 12, 18)
    val top = math.min(1e5, 1.25 * math.pow(10, dt.precision - dt.scale))
    def sign = if (rng.nextBoolean()) 1 else -1
    def price = {
      val ten = math.pow(10, rng.nextInt(5))
      sign * math.round(rng.nextDouble() * top * ten) / ten
    }
    def nudge(x: Double) = (0 until rng.nextInt(4)).foldLeft(x)((y, _) =>
      if (rng.nextBoolean()) math.nextUp(y) else math.nextDown(y))
    Array.fill(n) {
      rng.nextInt(10) match {
        case 0 | 1 | 2 => price
        case 3 | 4 => price * (1 - rng.nextInt(11) / 100.0) * (1 + rng.nextInt(9) / 100.0)
        case 5 | 6 =>
          val s = scales(rng.nextInt(scales.length))
          nudge((rng.nextInt(2000001) - 1000000 + 0.5) / s"1e$s".toDouble)
        case 7 => sign * math.pow(10, rng.nextDouble() * 40 - 20)
        case 8 => java.lang.Double.longBitsToDouble(rng.nextLong())
        case _ =>
          val s = scales(rng.nextInt(scales.length))
          sign * math.pow(2, 40 + rng.nextDouble() * 14) / s"1e$s".toDouble
      }
    }
  }

  test("named cases: ties, their neighbours, signed zero, subnormals, NaN, " +
    "±Inf, the 2^53 edge and precision overflow") {
    val ties = Seq(1.005, 0.125, -2.5, 2.5, 0.5, -0.125, 12.345, 999.995)
    val named = ties.flatMap(t => Seq(t, math.nextUp(t), math.nextDown(t))) ++ Seq(
      0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, Double.MinValue,
      math.pow(2, 53), math.pow(2, 53) - 1, -math.pow(2, 53) + 1, math.pow(2, 53) / 100,
      math.pow(2, 52) + 0.5, 4.0e15, math.nextDown(4.0e15), 3.9999999999999995e13,
      1000.0, 999.99, -999.99, 99999.99, 1e-9, 5e-19, 4.9999999999999996e-19)
    val values = (named.map(Double.box) :+ null).toArray
    val bad = mismatches(_ => values, show = 20)
    assert(bad.isEmpty, bad.mkString("\n"))

    // the case the tie guard exists for: 1.005 is 1.00499999999999989…,
    // so d·100 rounds to 100, but Cast rounds the string "1.005" HALF_UP
    assert(math.round(1.005 * 100) == 100L)
    assert(DoubleToDecimal.unscaled(1.005, 2, 38) == DoubleToDecimal.NoFastPath)
    val dt = DecimalType(38, 2)
    val row = new GenericInternalRow(Array[Any](1.005))
    factoryModes.foreach { f =>
      assert(outcome(project(DoubleToDecimal(input, dt, None, EvalMode.LEGACY), f), row, dt) ==
        Right(Decimal("1.01")))
    }
    // 1000.0 overflows DECIMAL(5,2): null, or an error under ANSI
    val over = new GenericInternalRow(Array[Any](1000.0))
    val p52 = DecimalType(5, 2)
    assert(outcome(project(DoubleToDecimal(input, p52, None, EvalMode.TRY), "NO_CODEGEN"),
      over, p52) == Right(null))
    assert(outcome(project(DoubleToDecimal(input, p52, None, EvalMode.ANSI), "CODEGEN_ONLY"),
      over, p52).isLeft)
  }

  test("1M seeded doubles per decimal type: fast path equals Cast under " +
    "LEGACY/TRY/ANSI, codegen'd and interpreted") {
    val values = types.map(dt => dt -> seeded(1000000, seed = 20261017L + dt.hashCode, dt)).toMap
    // the fast path must carry a real share of the inputs, or this checks only Cast
    types.foreach { dt =>
      val hits = values(dt).count(v =>
        DoubleToDecimal.unscaled(v, dt.scale, dt.precision) != DoubleToDecimal.NoFastPath)
      assert(hits > values(dt).length / 10, s"$dt: fast path took only $hits of 1M")
    }
    val bad = mismatches(dt => values(dt).map(Double.box))
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
