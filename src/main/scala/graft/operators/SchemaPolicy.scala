package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A9 — dynamic schema inference over arbitrary JSON messages
  * (GenerateSchema, ingester.go:453-520) re-expressed on Spark's JSON
  * inference, with the reference's semantics applied as a schema policy:
  *
  *  - null-valued fields are dropped from the schema (ingester.go:462-465)
  *  - empty objects / empty arrays are dropped (ingester.go:472-476, 487)
  *  - all JSON numbers are DOUBLE (Go json → float64, ingester.go:440-441).
  *    Spark infers LongType for integer literals; `referenceNumerics = true`
  *    (the default) widens every integral field to DoubleType to preserve
  *    reference behavior. SURVEY §1.2 documents the divergence policy.
  *  - arrays keep Spark's all-elements inference (a declared superset of the
  *    reference's first-element-wins hazard, ingester.go:492-499)
  *  - fields are nullable in the written schema (improvement over the
  *    reference's REQUIRED-only schemas; JSON is schemaless, so REQUIRED
  *    was a misdeclaration the downstream engines ignored)
  *
  * Batch inference happens once per micro-batch/ingest batch on the
  * executors (spark.read.json over a Dataset[String]) — not per message
  * like the reference, which is the main reason this scales.
  */
object SchemaPolicy {

  /** Infer the schema of a batch of JSON documents under the policy. */
  def inferSchema(spark: SparkSession, jsonDocs: Dataset[String],
      referenceNumerics: Boolean = true): StructType = {
    // dropFieldIfAllNull implements the reference's null/empty-field skip
    // (ingester.go:462-465, 472-476, 487) natively in Spark's inference
    val inferred = spark.read.option("dropFieldIfAllNull", true).json(jsonDocs).schema
    val cleaned = clean(inferred).getOrElse(StructType(Nil)).asInstanceOf[StructType]
    if (referenceNumerics) widenIntegrals(cleaned).asInstanceOf[StructType]
    else cleaned
  }

  /** Infer the schema of a JSON column under the policy (one Spark job). */
  def inferColumn(spark: SparkSession, df: DataFrame, jsonCol: String,
      referenceNumerics: Boolean = true): StructType = {
    import spark.implicits._
    inferSchema(spark, df.select(col(jsonCol)).as[String], referenceNumerics)
  }

  /** Parse a JSON column into a typed struct under the policy. */
  def parseColumn(spark: SparkSession, df: DataFrame, jsonCol: String,
      outCol: String, referenceNumerics: Boolean = true): DataFrame =
    df.withColumn(outCol,
      from_json(col(jsonCol), inferColumn(spark, df, jsonCol, referenceNumerics)))

  /** Drop NullType fields, empty structs, and arrays of nothing — returns
    * None when the type itself collapses to nothing. */
  private[operators] def clean(dt: DataType): Option[DataType] = dt match {
    case NullType => None
    case s: StructType =>
      val kept = s.fields.flatMap(f => clean(f.dataType).map(t => f.copy(dataType = t)))
      if (kept.isEmpty) None else Some(StructType(kept))
    case a: ArrayType =>
      clean(a.elementType).map(t => a.copy(elementType = t))
    case other => Some(other)
  }

  /** Integral → Double everywhere (reference numerics mode). */
  private[operators] def widenIntegrals(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => DoubleType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = widenIntegrals(f.dataType))))
    case a: ArrayType => a.copy(elementType = widenIntegrals(a.elementType))
    case m: MapType => m.copy(valueType = widenIntegrals(m.valueType))
    case other => other
  }
}
