package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RouterSpec extends SparkSpec {
  import spark.implicits._

  private val configs = Seq(
    StreamConfig("id-1", "", active = true, "t1", 1, "", 2, 1, Seq("ingester")),
    StreamConfig("id-2", "alt-2", active = true, "t2", 1, "", 2, 1, Seq("pii-detection", "ingester")),
    StreamConfig("id-3", "alt-3", active = false, "t3", 1, "", 2, 1, Seq()))

  private def msgs(rows: (String, String)*) =
    rows.toDF("stream_id", "stream_alt_id")
      .withColumn("message_type", lit(""))
      .withColumn("payload", lit("{}"))

  test("A3: stream_alt_id matched before stream_id") {
    // message claims alt-2 but stream_id id-1: alt match must win
    val r = Router.route(spark, msgs(("id-1", "alt-2")), configs)
    assert(r.head().getAs[String]("cfg_stream_id") == "id-2")
  }

  test("A3: falls back to stream_id when alt unmatched") {
    val r = Router.route(spark, msgs(("id-1", "no-such-alt")), configs)
    assert(r.head().getAs[String]("cfg_stream_id") == "id-1")
  }

  test("A4: topic = first function + -ingress; default ingester-ingress") {
    val r = Router.route(spark, msgs(("id-2", null), ("id-3", null)), configs)
      .select("stream_id", "route_topic").as[(String, String)].collect().toMap
    assert(r("id-2") == "pii-detection-ingress")
    assert(r("id-3") == "ingester-ingress") // empty chain → default
  }

  test("activeOnly drops inactive and unmatched streams") {
    val r = Router.activeOnly(Router.route(spark,
      msgs(("id-1", null), ("id-3", null), ("unknown", null)), configs))
    assert(r.select("stream_id").as[String].collect().toSeq == Seq("id-1"))
  }

  test("routing plans no join and no exchange (the message side never shuffles)") {
    val many = spark.range(100).select(
      concat(lit("id-"), (col("id") % 4).cast("string")).as("stream_id"),
      when(col("id") % 3 === 0, lit("alt-2")).as("stream_alt_id"),
      lit("").as("message_type"), lit("{}").as("payload"))
    val qe = Router.route(spark, many, configs).queryExecution
    assert(qe.analyzed.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("configs sharing a stream id: each message routes once, to the first config") {
    val shared = Seq(
      StreamConfig("id-s", "", active = true, "first", 1, "", 2, 1, Seq("ingester")),
      StreamConfig("id-s", "", active = true, "second", 1, "", 2, 1, Seq("deltawriter")),
      StreamConfig("id-t", "alt-s", active = true, "by-alt", 1, "", 2, 1, Seq("ingester")),
      StreamConfig("id-u", "alt-s", active = true, "by-alt-2", 1, "", 2, 1, Seq("ingester")))
    val r = Router.route(spark, msgs(("id-s", null), ("id-s", "no-such-alt"), ("id-s", "alt-s")), shared)
      .select("stream_alt_id", "cfg_message_type").as[(String, String)].collect().toSeq
    assert(r.sortBy(x => String.valueOf(x._1)) ==
      Seq(("alt-s", "by-alt"), ("no-such-alt", "first"), (null, "first")))
  }

  test("no configs: every message is unmatched") {
    val r = Router.route(spark, msgs(("id-1", "alt-2")), Nil)
    assert(r.head().isNullAt(r.schema.fieldIndex("cfg_stream_id")))
    assert(Router.activeOnly(r).isEmpty)
  }
}
