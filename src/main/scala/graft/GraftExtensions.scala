package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions._

/** The one list of graft's Catalyst additions: native SQL functions,
  * optimizer rules and planner strategies.
  *
  * The reference's only declarative entry point is SQL text submitted to
  * SQLite (SURVEY.md §3.3); graft exposes the same surface on Spark: every
  * custom expression is callable from `spark.sql` either via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (cluster-wide),
  * `GraftSession.builder` (which installs these extensions on the session
  * it creates) or [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.SimplifyPyText)
    // after operator optimization, so cast-aware rules see Spark's Cast
    e.injectPreCBORule(_ => graft.plans.FastDecimalCast)
    // whole-operator extension: TopKPerKey plans through the same strategy
    // TopK.perKey registers at call time, so cluster-wide configs get it
    // without any code call
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  private def one(f: Expression => Expression): Seq[Expression] => Expression =
    exprs => f(exprs.head)
  private def two(f: (Expression, Expression) => Expression): Seq[Expression] => Expression =
    exprs => f(exprs.head, exprs(1))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "py_capitalize" -> one(PyCapitalize),
    "py_title" -> one(PyTitle),
    "nfc_normalize" -> one(NfcNormalize),
    "nfkc_normalize" -> one(NfkcNormalize),
    "cosine_similarity" -> two(CosineSimilarity),
    "dot_product" -> two(DotProduct),
    "vector_norm" -> one(VectorNorm),
    "simhash64" -> one(SimHash64(_)),
    "portable_shingles" -> (exprs => {
      // portable_shingles(text, k) — k must be a literal
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"portable_shingles expects 2 arguments (text, k), got ${exprs.length}")
      val k = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
        case other => throw new IllegalArgumentException(
          s"portable_shingles k must be a literal, got $other")
      }
      PortableShingles(exprs.head, k)
    }),
    "srp_signature" -> (exprs => {
      // srp_signature(vec[, bits[, seed]]) — honor SQL-supplied literals
      def lit(i: Int): Long = exprs(i) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.longValue()
        case other => throw new IllegalArgumentException(
          s"srp_signature argument ${i + 1} must be a literal, got $other")
      }
      val bits = if (exprs.length > 1) lit(1).toInt else 16
      val seed = if (exprs.length > 2) lit(2) else 42L
      SrpSignature(exprs.head, bits, seed)
    }),
    "quantize_int8" -> one(QuantizeInt8),
    "interleave_bits" -> (exprs => {
      // interleave_bits(a, b, bits) — bits must be a literal
      val bits = exprs(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
        case other => throw new IllegalArgumentException(
          s"interleave_bits bits must be a literal, got $other")
      }
      InterleaveBits(exprs.head, exprs(1), bits)
    }))

  /** Register on an existing session (temp functions + optimizer rules).
    * A rule the session already runs, because it was built with these
    * extensions, is not added a second time.
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    val installed = spark.sessionState.optimizer.batches.flatMap(_.rules).toSet
    val missing = Seq(graft.plans.SimplifyPyText, graft.plans.FastDecimalCast)
      .filterNot(installed.contains)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missing
  }
}
