package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** A3/A4 — config-lookup routing.
  *
  * Reference (ingest-service.go:216-242, ingester.go:1565-1590): linear scan
  * of in-memory configs, matching stream_alt_id FIRST, falling back to
  * stream_id; target topic = first entry of the config's function chain +
  * "-ingress", defaulting to "ingester-ingress" (ingest-service.go:244-257).
  *
  * Spark-first: the same linear scan, compiled. The config list becomes
  * literal arrays, and each message looks its config up with
  * `array_position` (alt id first, then stream id; the first match in
  * config order wins) — no join, so the message side never shuffles,
  * nothing is broadcast, and each message routes at most once.
  */
object Router {
  val DefaultFunction = "ingester"

  /** Look each envelope message's config up. Adds `cfg_at`, the matched
    * config's 0-based position in `configs`, and all cfg_* columns
    * (null when no config matches) plus `route_topic` and the resolved
    * `message_type_resolved`. */
  def route(spark: SparkSession, messages: DataFrame, configs: Seq[StreamConfig]): DataFrame = {
    def keys(key: StreamConfig => String) = array(configs.map(c =>
      if (key(c).nonEmpty) lit(key(c)) else lit(null)): _*).cast(ArrayType(StringType))
    // 1-based position of the first match; 0 (no match) becomes null.
    // alt-id match takes precedence over stream-id match (ingester.go:1569-1590)
    def firstMatch(key: StreamConfig => String, c: String) =
      nullif(array_position(keys(key), col(c)), lit(0L))
    val at = coalesce(firstMatch(_.streamAltId, "stream_alt_id"), firstMatch(_.streamId, "stream_id"))
      .cast("int")
    val cfg = element_at(
      array(configs.map(StreamConfig.literal): _*).cast(ArrayType(StreamConfig.RoutingSchema)), at)

    messages
      .select(col("*") +: (at - 1).as("cfg_at") +:
        StreamConfig.RoutingSchema.fieldNames.toSeq.map(f => cfg.getField(f).as(f)): _*)
      .withColumn("message_type_resolved",
        Envelope.resolvedMessageType(col("payload"), col("message_type"), col("cfg_message_type")))
      .withColumn("route_function",
        coalesce(nullif(element_at(split(col("cfg_functions"), ","), 1), lit("")),
          lit(DefaultFunction)))
      .withColumn("route_topic", concat(col("route_function"), lit("-ingress")))
  }

  /** Only messages whose matched config is active (inactive and unmatched
    * streams are dropped, mirroring ingester.go:1592-1597 error-drop). */
  def activeOnly(routed: DataFrame): DataFrame =
    routed.filter(col("cfg_active") === true)
}
