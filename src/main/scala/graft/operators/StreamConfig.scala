package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stream configuration (reference: config/config-service.go:21-48 and
  * ingester/ingester.go:87-116): one JSON per stream under a config dir.
  *
  * Enum ids mirror the reference's constants JSONs:
  *  - file_store_type_id: 1=local 2=aws 3=gcp 4=azure 5=hdfs
  *    (constants/file_store_types.json)
  *  - partition_time_id: 1=hourly 2=daily 3=weekly 4=monthly 5=quarterly
  *    (constants/partition_times.json)
  *  - compression_type_id: 1=snappy 2=gzip 3=lzo
  *    (constants/compression_types.json; stock Spark lacks an LZO codec,
  *    so 3 maps to snappy with a warning — declared divergence)
  */
final case class StreamConfig(
    streamId: String,
    streamAltId: String,
    active: Boolean,
    messageType: String,
    fileStoreTypeId: Int,
    folderName: String,
    partitionTimeId: Int,
    compressionTypeId: Int,
    functions: Seq[String]) {

  /** Spark compression codec name for this stream's compression id. */
  def codec: String = compressionTypeId match {
    case 2 => "gzip"
    case _ => "snappy" // 1 = snappy; 3 (lzo) unsupported in stock Spark → snappy
  }
}

object StreamConfig {
  /** Deduplicated function chain, preserving first occurrence — mirrors
    * removeDuplicateValues (ingester.go:174-184). */
  def dedupChain(fns: Seq[String]): Seq[String] = fns.distinct

  def parseFunctions(csv: String): Seq[String] =
    Option(csv).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Load a config directory (one JSON file per stream, same file format as
    * the reference's configs/ dir — LoadConfig, ingester.go:260-282).
    * Configs are tiny; this is driver-side metadata, not data-plane work. */
  def loadDir(spark: SparkSession, dir: String): Seq[StreamConfig] = {
    val df = spark.read.option("multiLine", true).json(dir)
    fromDataFrame(df)
  }

  def fromDataFrame(df: DataFrame): Seq[StreamConfig] = {
    def getStr(r: Row, name: String): String =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.get(r.fieldIndex(name)).toString
      else ""
    def getLong(r: Row, name: String, dflt: Long): Long =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.get(r.fieldIndex(name)) match {
          case n: Number => n.longValue()
          case other => other.toString.toDouble.toLong
        }
      else dflt
    def getBool(r: Row, name: String): Boolean =
      r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)) &&
        (r.get(r.fieldIndex(name)) match {
          case b: Boolean => b
          case other => other.toString.toBoolean
        })
    df.collect().toSeq.map { r =>
      StreamConfig(
        streamId = getStr(r, "stream_id"),
        streamAltId = getStr(r, "stream_alt_id"),
        active = getBool(r, "active"),
        messageType = getStr(r, "message_type"),
        fileStoreTypeId = getLong(r, "file_store_type_id", 1L).toInt,
        folderName = getStr(r, "folder_name"),
        partitionTimeId = getLong(r, "partition_time_id", 2L).toInt,
        compressionTypeId = getLong(r, "compression_type_id", 1L).toInt,
        functions = parseFunctions(getStr(r, "functions")))
    }
  }

  /** The routing columns a matched config adds to a message. */
  val RoutingSchema: StructType = StructType(Seq(
    "cfg_stream_id" -> StringType, "cfg_stream_alt_id" -> StringType,
    "cfg_active" -> BooleanType, "cfg_message_type" -> StringType,
    "cfg_partition_time_id" -> IntegerType, "cfg_compression_type_id" -> IntegerType,
    "cfg_functions" -> StringType).map { case (n, t) => StructField(n, t) })

  /** A config as a literal struct of [[RoutingSchema]]. */
  def literal(c: StreamConfig): Column =
    struct(Seq[Any](c.streamId, c.streamAltId, c.active, c.messageType,
      c.partitionTimeId, c.compressionTypeId, c.functions.mkString(","))
      .zip(RoutingSchema.fieldNames).map { case (v, n) => lit(v).as(n) }: _*)
}
