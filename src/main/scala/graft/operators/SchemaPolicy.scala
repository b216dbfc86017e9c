package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.graftshim.JsonInferShim
import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferSchema}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.internal.SQLConf
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
  * There is one inference, keyed: [[inferByKey]] infers, in ONE Spark
  * job over a whole batch, the schema of every key's documents, and
  * each key's schema is the one `spark.read.option("dropFieldIfAllNull",
  * true).json` gives for that key's documents alone. Inference happens
  * once per ingest batch on the executors — not per message like the
  * reference, which is the main reason this scales.
  */
object SchemaPolicy {

  /** Infer the schema of a batch of JSON documents under the policy. */
  def inferSchema(spark: SparkSession, jsonDocs: Dataset[String],
      referenceNumerics: Boolean = true): StructType = {
    val df = jsonDocs.toDF()
    inferColumn(spark, df, df.columns.head, referenceNumerics)
  }

  /** Infer the schema of a JSON column under the policy (one Spark job). */
  def inferColumn(spark: SparkSession, df: DataFrame, jsonCol: String,
      referenceNumerics: Boolean = true): StructType =
    inferByKey(df, Nil, jsonCol, referenceNumerics)
      .getOrElse(Nil, StructType(Nil))

  /** Per distinct value of the string columns `keyCols`, the policy
    * schema of that key's documents in `jsonCol`, in ONE Spark job. A
    * null document counts toward its key's presence only, so every key
    * of `df` is in the map; a key without documents gets the empty
    * struct, as an empty input does.
    *
    * Built from Spark's own inference primitives, so each key's schema
    * equals `spark.read.option("dropFieldIfAllNull", true).json` over
    * that key's documents: `JsonInferSchema.inferField` per record, a
    * malformed record as the corrupt-record struct (PERMISSIVE), the
    * records of a key merged with `compatibleRootType` per partition
    * and then across partitions in partition order, and the merged
    * root canonicalized on the driver. */
  def inferByKey(df: DataFrame, keyCols: Seq[String], jsonCol: String,
      referenceNumerics: Boolean = true): Map[Seq[String], StructType] = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = spark.sessionState.conf
    // dropFieldIfAllNull implements the reference's null/empty-field skip
    // (ingester.go:462-465, 472-476, 487) natively in Spark's inference
    val options = new JSONOptions(Map("dropFieldIfAllNull" -> "true"),
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val inference = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    val corrupt: DataType =
      StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
    val k = keyCols.size
    val rows = df.select((keyCols :+ jsonCol).map(c => col(c).cast(StringType)): _*)
      .queryExecution.toRdd
    val perPartition = rows.mapPartitions { it =>
      val factory = options.buildJsonFactory()
      val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Option[DataType]]
      it.foreach { row =>
        val key = (0 until k).map(i => if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
        val t =
          if (row.isNullAt(k)) None
          else {
            val doc = row.getUTF8String(k).getBytes
            try {
              val parser = factory.createParser(doc, 0, doc.length)
              try {
                parser.nextToken()
                Some(inference.inferField(parser))
              } finally parser.close()
            } catch {
              // the exceptions `infer` takes for a corrupt record when
              // its input is not read from files
              case _: RuntimeException | _: com.fasterxml.jackson.core.JsonProcessingException |
                   _: java.nio.charset.MalformedInputException |
                   _: java.io.CharConversionException => Some(corrupt)
            }
          }
        acc(key) = (acc.getOrElse(key, None), t) match {
          case (Some(a), Some(b)) => Some(merge(a, b))
          case (a, b) => a.orElse(b)
        }
      }
      acc.iterator.map { case (key, t) => key -> t.getOrElse[DataType](StructType(Nil)) }
    }
    val parts = SQLExecution.withSQLConfPropagated(spark) {
      spark.sparkContext.runJob(perPartition,
        (it: Iterator[(Seq[String], DataType)]) => it.toArray)
    }
    SQLConf.withExistingConf(conf) {
      val roots = scala.collection.mutable.LinkedHashMap.empty[Seq[String], DataType]
      parts.foreach(_.foreach { case (key, t) =>
        roots(key) = merge(roots.getOrElse(key, StructType(Nil)), t)
      })
      roots.map { case (key, root) =>
        key -> policy(JsonInferShim.rootSchema(inference, root, options), referenceNumerics)
      }.toMap
    }
  }

  /** Parse a JSON column into a typed struct under the policy. */
  def parseColumn(spark: SparkSession, df: DataFrame, jsonCol: String,
      outCol: String, referenceNumerics: Boolean = true): DataFrame =
    df.withColumn(outCol,
      parseJson(col(jsonCol), inferColumn(spark, df, jsonCol, referenceNumerics)))

  /** `from_json(c, schema)` with the schema handed over as a type: the
    * public `from_json` passes it as a JSON string, which analysis
    * first tries (and fails) to parse with the SQL type grammar. */
  def parseJson(c: Column, schema: StructType): Column =
    GraftSqlShim.columnOf(JsonToStructs(schema, Map.empty, GraftSqlShim.exprOf(c)))

  /** The policy over an inferred schema: [[clean]], then (reference
    * numerics) [[widenIntegrals]]. */
  private def policy(inferred: StructType, referenceNumerics: Boolean): StructType = {
    val cleaned = clean(inferred).getOrElse(StructType(Nil)).asInstanceOf[StructType]
    if (referenceNumerics) widenIntegrals(cleaned).asInstanceOf[StructType]
    else cleaned
  }

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
