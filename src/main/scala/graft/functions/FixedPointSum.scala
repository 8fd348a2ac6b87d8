package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, greatest, least, lit, sum}
import org.apache.spark.sql.types.DecimalType

/** The engine's fixed-point sum grid: each per-row double term is clamped
  * to ±[[Clamp]], quantized by floor(term·[[Quantum]]) (floor of a double is
  * exact), summed exactly as DECIMAL(38,0) and divided by [[Quantum]] once.
  * The integer sum is order-free, so a grouped sum is bit-identical under
  * any partitioning and replays exactly in the DuckDB oracles. The clamp
  * keeps floor(term·1e12) inside the exactly-convertible long range even
  * for pathological terms.
  */
object FixedPointSum {
  val Quantum = 1.0e12
  val Clamp = 1.0e6

  /** The exact DECIMAL(38,0) sum of quantized terms: mergeable, since
    * partial sums add without any float re-association. */
  def qsumFx(term: Column): Column =
    sum(floor(least(greatest(term, lit(-Clamp)), lit(Clamp)) * lit(Quantum))
      .cast(DecimalType(38, 0)))

  /** Exact fixed-point sum of a per-row double term, as a double. */
  def qsum(term: Column): Column = qsumFx(term).cast("double") / lit(Quantum)

  /** One term on the grid, as Spark computes it: clamp with least/greatest's
    * NaN-is-largest semantics, ×Quantum, floor to long. */
  def quantize(t: Double): Long = {
    val c = if (t.isNaN) Clamp else math.min(math.max(t, -Clamp), Clamp)
    math.floor(c * Quantum).toLong
  }

  /** [[qsum]] replicated on the driver for the local fast paths: the same
    * IEEE ops in the same order, an exact integer sum, one correctly-rounded
    * conversion to double and one division. The integer sum is order-free,
    * so driver iteration order cannot diverge from any distributed
    * partitioning.
    */
  def qsumLocal(terms: Iterable[Double]): Double = {
    var acc = BigInt(0)
    terms.foreach(t => acc += quantize(t))
    acc.toDouble / Quantum
  }
}
