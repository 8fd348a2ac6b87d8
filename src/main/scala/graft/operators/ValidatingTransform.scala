package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{py_capitalize, py_title}

/** The engine's central "validating transform" (SURVEY.md P8).
  *
  * One declarative pass attaches the first-failing reject reason (`motivo`)
  * to every row, reproducing the reference's precedence exactly
  * (reference scr/etl_batch.py:42-69, scr/etl_relational.py:18-94):
  *
  *   1. missing required columns  -> "Faltan columnas"    (file-level, P4)
  *   2. null in a required field  -> "Valor None en campo requerido" (P5)
  *   3. age not castable to int   -> "Edad no convertible a int"     (P6)
  *   4. business rule age >= min  -> s"Edad < $min"                  (P3)
  *
  * The `when`-chain is a single codegen'd projection — no shuffle, no UDF;
  * at 100 TB this is a map-only stage fused into the scan.
  */
object ValidatingTransform {
  val RequiredColumns: Set[String] = Set("nombre", "edad", "ciudad")

  final case class Result(valid: DataFrame, rejected: DataFrame)

  /** Input: all-string DataFrame from the CSV edge (SURVEY.md §1.3 — no
    * inferSchema, so rejection semantics match the reference's raw-string
    * model). Output: normalized valid rows (nombre capitalized, ciudad
    * title-cased, edad int) and rejected rows carrying input columns +
    * `motivo` (reference scr/etl_batch.py:72-79 dynamic reject schema).
    */
  def apply(raw: DataFrame, minAge: Int = 25, batchReasons: Boolean = false): Result = {
    val routed = route(raw, minAge, batchReasons)
    Result(valid(routed), rejected(routed))
  }

  /** The input columns plus `motivo`, the first-failing reject reason
    * (null on a valid row). [[valid]] and [[rejected]] derive from any
    * frame of this shape, so a caller may materialize it once and split
    * the materialized copy without re-running the chain.
    *
    * The reference carries two reason vocabularies: the relational
    * scripts distinguish null / cast failures ("Valor None en campo
    * requerido", "Edad no convertible a int" — scr/etl_relational.py:47-80)
    * while the batch script folds every transform exception into one
    * "Normalización o tipo inválido" (scr/etl_batch.py:58-62).
    * `batchReasons = true` selects the latter; routing is identical.
    */
  def route(raw: DataFrame, minAge: Int, batchReasons: Boolean): DataFrame = {
    // File-level failure (reference scr/etl_batch.py:48-52): every row is
    // rejected with the same reason; valid side is empty.
    if (!hasRequired(raw)) return raw.withColumn("motivo", lit("Faltan columnas"))

    val edadInt = edadExpr
    // Precedence via a single when-chain: first match wins, like the
    // reference's early-continue loop.
    val anyNull = col("nombre").isNull || col("edad").isNull || col("ciudad").isNull
    val motivo =
      if (batchReasons)
        when(anyNull || edadInt.isNull, lit("Normalización o tipo inválido"))
          .when(edadInt < minAge, concat(lit("Edad < "), lit(minAge.toString)))
      else
        when(anyNull, lit("Valor None en campo requerido"))
          .when(edadInt.isNull, lit("Edad no convertible a int"))
          .when(edadInt < minAge, concat(lit("Edad < "), lit(minAge.toString)))
    raw.withColumn("motivo", motivo)
  }

  /** Normalized valid rows of a [[route]]d frame. */
  def valid(routed: DataFrame): DataFrame =
    if (!hasRequired(routed))
      routed.sparkSession.createDataFrame(
        routed.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        normalizedSchema)
    else
      routed.filter(col("motivo").isNull).select(
        py_capitalize(lower(trim(col("nombre")))).as("nombre"),
        edadExpr.as("edad"),
        py_title(lower(trim(col("ciudad")))).as("ciudad"))

  /** Rejected rows of a [[route]]d frame: input columns + `motivo`. */
  def rejected(routed: DataFrame): DataFrame = routed.filter(col("motivo").isNotNull)

  private def hasRequired(df: DataFrame): Boolean =
    (RequiredColumns -- df.columns.map(_.toLowerCase)).isEmpty

  // try_cast: malformed ages route to rejects instead of failing the job
  // (Spark 4 ANSI mode makes plain cast throw; Python int() raising is the
  // reference's reject trigger — reference scr/etl_relational.py:71-79).
  private def edadExpr = trim(col("edad")).try_cast("int")

  def normalizedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nombre", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("edad", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("ciudad", org.apache.spark.sql.types.StringType)))
}
