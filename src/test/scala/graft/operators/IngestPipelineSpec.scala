package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end SURVEY §3.1: JSON messages → envelope → routing → chain
  * (pii → ingester → deltawriter) → partitioned lake → SQL query. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfgLake = StreamConfig("stream-a", "seg-key-1", active = true,
    "pageview", 1, "webdata", TimePartitions.Daily, 1, Seq("ingester"))
  private val cfgChain = StreamConfig("stream-b", "", active = true,
    "signup", 1, "crm", TimePartitions.Monthly, 2, Seq("pii-detection", "ingester", "deltawriter"))
  private val cfgOff = StreamConfig("stream-c", "", active = false,
    "dead", 1, "", TimePartitions.Daily, 1, Seq("ingester"))

  private def tmpDir = Files.createTempDirectory("graft-lake").toString

  test("e2e: routed batch lands as time-partitioned queryable parquet") {
    val dest = tmpDir
    val docs = Seq(
      """{"projectId":"seg-key-1","type":"pageview","url":"/a","ms":120,"ts_day":"2026-08-10"}""",
      """{"projectId":"seg-key-1","type":"pageview","url":"/b","ms":80,"ts_day":"2026-08-11"}""",
      """{"writeKey":"seg-key-1","url":"/c","ms":10}""",             // type from config
      """{"stream_id":"stream-c","type":"dead","x":1}""",            // inactive → dropped
      """{"stream_id":"rtdl_none","type":"zzz"}""",                  // unmatched → dropped
      """{"stream_id":"","message_type":"rtdl_205"}"""               // control → dropped
    ).toDF("json")

    val results = IngestPipeline.runBatch(spark, docs, "json",
      Seq(cfgLake, cfgChain, cfgOff), dest,
      tsCol = to_timestamp(lit("2026-08-12 10:00:00")), registerTables = false)

    assert(results.map(_.config.streamId) == Seq("stream-a"))
    val (_, path) = results.head.tables.head
    assert(path.endsWith("webdata/pageview"))

    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    // partition column is the daily bucket of the injected clock
    assert(back.select("part").distinct().as[String].collect().toSeq == Seq("2026-08-12"))
    // payload fields became real columns; numbers are double (reference policy)
    assert(back.filter(col("url") === "/a").select("ms").as[Double].head() == 120.0)
  }

  test("e2e: pii-detection before ingester masks what lands in the lake; deltawriter appends") {
    val dest = tmpDir
    val docs = Seq(
      """{"stream_id":"stream-b","user":"u1","ssn":"123-45-6789","phone":"415-555-0199"}""",
      """{"stream_id":"stream-b","user":"u2","ssn":"987-65-4321"}"""
    ).toDF("json")

    val results = IngestPipeline.runBatch(spark, docs, "json", Seq(cfgChain), dest,
      tsCol = to_timestamp(lit("2026-08-12 10:00:00")), registerTables = false)

    assert(results.head.chain == Seq("pii-detection", "ingester", "deltawriter"))
    val lakePath = results.head.tables.find(_._2.contains("/crm/")).get._2
    val lake = spark.read.parquet(lakePath)
    assert(lake.select("ssn").as[String].collect().toSet == Set("###"))
    assert(lake.filter(col("user") === "u1").select("phone").as[String].head() == "###")

    // deltawriter target got the same masked rows, append-mode
    val deltaPath = results.head.tables.find(_._2.contains("/_delta/")).get._2
    assert(IngestPipeline.readTable(spark, deltaPath).count() == 2)
    // run again → append doubles the delta table (delta_writer.py append semantics)
    IngestPipeline.runBatch(spark, docs, "json", Seq(cfgChain), dest,
      tsCol = to_timestamp(lit("2026-08-12 10:00:00")), registerTables = false)
    assert(IngestPipeline.readTable(spark, deltaPath).count() == 4)
  }

  test("e2e: catalog registration makes tables SQL-queryable") {
    val dest = tmpDir
    val docs = Seq("""{"projectId":"seg-key-1","type":"pageview","url":"/a","ms":5}""").toDF("json")
    IngestPipeline.runBatch(spark, docs, "json", Seq(cfgLake), dest,
      tsCol = to_timestamp(lit("2026-08-12 10:00:00")), database = "rtdl_test")
    val n = spark.sql("SELECT count(*) AS n FROM rtdl_test.webdata_pageview").as[Long].head()
    assert(n == 1)
    spark.sql("DROP DATABASE rtdl_test CASCADE")
  }

  test("DLQ: unroutable and inactive-stream messages land in quarantine with reasons") {
    val dest = tmpDir
    val docs = Seq(
      """{"projectId":"seg-key-1","type":"pageview","url":"/ok","ms":1}""", // routed
      """{"stream_id":"stream-c","type":"dead","x":1}""",                   // inactive
      """{"stream_id":"nobody-home","y":2}""",                              // unmatched
      """not json at all {{{"""                                             // malformed
    ).toDF("json")
    IngestPipeline.runBatch(spark, docs, "json", Seq(cfgLake, cfgOff), dest,
      tsCol = to_timestamp(lit("2026-08-12 10:00:00")), registerTables = false)
    val q = spark.read.parquet(s"$dest/_quarantine")
    val reasons = q.select("reason").as[String].collect().sorted.toSeq
    assert(reasons == Seq("no_matching_config", "no_matching_config", "stream_inactive"))
    // the malformed original payload is preserved verbatim for replay
    assert(q.filter(col("payload").contains("not json")).count() == 1)
    // the routable message still landed in the lake
    assert(spark.read.parquet(s"$dest/webdata/pageview").count() == 1)
  }

  test("schema drift across batches merges on read (mergeSchema discipline)") {
    val dest = tmpDir
    IngestPipeline.runBatch(spark,
      Seq("""{"stream_id":"stream-b","user":"u1"}""").toDF("json"), "json",
      Seq(cfgChain.copy(functions = Seq("deltawriter"))), dest, registerTables = false)
    IngestPipeline.runBatch(spark,
      Seq("""{"stream_id":"stream-b","user":"u2","new_field":7}""").toDF("json"), "json",
      Seq(cfgChain.copy(functions = Seq("deltawriter"))), dest, registerTables = false)
    val merged = IngestPipeline.readTable(spark, s"$dest/_delta/stream_b/signup")
    assert(merged.columns.contains("new_field"))
    assert(merged.count() == 2)
  }

  test("batchScope: configs sharing an output path don't replace each other's files") {
    // two ACTIVE configs with the same folderName and message type —
    // both route distinct messages to the SAME lake dir and delta table.
    // The per-batch idempotency scope must be per-config: a shared scope
    // would make the second config's publishBatch delete-and-replace the
    // first's files (and its delta append silently no-op on the shared
    // txn watermark) — silent data loss plain Append never had.
    val dest = tmpDir
    val cfgA = StreamConfig("stream-x", "", active = true,
      "pageview", 1, "shared", TimePartitions.Daily, 1, Seq("ingester", "deltawriter"))
    val cfgB = StreamConfig("stream-y", "", active = true,
      "pageview", 1, "shared", TimePartitions.Daily, 1, Seq("ingester", "deltawriter"))
    val docs = Seq(
      """{"stream_id":"stream-x","type":"pageview","url":"/from-x"}""",
      """{"stream_id":"stream-y","type":"pageview","url":"/from-y"}""").toDF("json")
    IngestPipeline.runBatch(spark, docs, "json", Seq(cfgA, cfgB), dest,
      tsCol = to_timestamp(lit("2026-08-13 10:00:00")), registerTables = false,
      batchScope = Some(("scope0", 0L)))
    val lake = spark.read.parquet(s"$dest/shared/pageview")
      .select("url").as[String].collect().toSet
    assert(lake == Set("/from-x", "/from-y"),
      s"both configs' rows must land in the shared lake dir: $lake")
    // delta tables key on streamId (distinct dirs here), but the txn
    // appIds must also be distinct — replay the batch and check both
    // tables are still exactly-once (no-op replays, no lost rows)
    IngestPipeline.runBatch(spark, docs, "json", Seq(cfgA, cfgB), dest,
      tsCol = to_timestamp(lit("2026-08-13 10:00:00")), registerTables = false,
      batchScope = Some(("scope0", 0L)))
    assert(spark.read.parquet(s"$dest/shared/pageview").count() == 2,
      "a replayed batch must replace per-config files, not drop or duplicate them")
    assert(IngestPipeline.readTable(spark, s"$dest/_delta/stream_x/pageview").count() == 1)
    assert(IngestPipeline.readTable(spark, s"$dest/_delta/stream_y/pageview").count() == 1)
  }

  test("configs sharing a lake dir without batchScope both land their rows") {
    // plain appends into one dir must not run concurrently: they share
    // the committer's _temporary dir, and the first commit deletes it
    val dest = tmpDir
    val cfgs = Seq("x", "y").map(s => StreamConfig(s"stream-$s", "", active = true,
      "pageview", 1, "shared", TimePartitions.Daily, 1, Seq("ingester")))
    val docs = Seq("x", "y").flatMap(s => (1 to 3).map(i =>
      s"""{"stream_id":"stream-$s","type":"pageview","url":"/$s/$i"}""")).toDF("json")
    IngestPipeline.runBatch(spark, docs, "json", cfgs, dest,
      tsCol = to_timestamp(lit("2026-08-13 10:00:00")), registerTables = false)
    assert(spark.read.parquet(s"$dest/shared/pageview").count() == 6)
  }

  test("configs sharing a stream id: each message is written once, by the first config") {
    val dest = tmpDir
    val cfgs = Seq("first", "second").map(f => StreamConfig("stream-x", "", active = true,
      "pageview", 1, f, TimePartitions.Daily, 1, Seq("ingester")))
    val docs = (1 to 3).map(i =>
      s"""{"stream_id":"stream-x","type":"pageview","url":"/$i"}""").toDF("json")
    val results = IngestPipeline.runBatch(spark, docs, "json", cfgs, dest,
      tsCol = to_timestamp(lit("2026-08-13 10:00:00")), registerTables = false)
    assert(results.map(_.config.folderName) == Seq("first"))
    assert(spark.read.parquet(s"$dest/first/pageview").count() == 3)
    assert(!new java.io.File(s"$dest/second").exists())
  }

  test("an unknown chain function is rejected before any sink writes") {
    val dest = tmpDir
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.runBatch(spark,
        Seq("""{"projectId":"seg-key-1","type":"pageview","url":"/a"}""").toDF("json"), "json",
        Seq(cfgLake, cfgChain.copy(functions = Seq("ingester", "bogus"))), dest,
        registerTables = false)
    }
    assert(e.getMessage.contains("'bogus'"))
    assert(new java.io.File(dest).list().isEmpty)
  }

  private val ts = to_timestamp(lit("2026-08-12 10:00:00"))

  private def users(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("user", "ssn").as[(String, String)].collect().toSet

  test("fan-out: two configs x two types keep result order, tables and masking") {
    val dest = tmpDir
    val cfgP = StreamConfig("stream-p", "", active = true, "evt", 1, "plake",
      TimePartitions.Daily, 1, Seq("pii-detection", "ingester", "deltawriter"))
    val cfgQ = StreamConfig("stream-q", "", active = true, "evt", 1, "qlake",
      TimePartitions.Daily, 1, Seq("ingester", "pii-detection", "deltawriter"))
    val docs = for (s <- Seq("p", "q"); t <- Seq("signup", "login"); i <- 1 to 2) yield
      s"""{"stream_id":"stream-$s","type":"$t","user":"$s-$t-$i","ssn":"123-45-678$i"}"""
    val results = IngestPipeline.runBatch(spark, docs.toDF("json"), "json",
      Seq(cfgP, cfgQ), dest, tsCol = ts, registerTables = false)

    assert(results.map(r => (r.config, r.chain)) ==
      Seq((cfgP, cfgP.functions), (cfgQ, cfgQ.functions)))
    def tables(s: String) = Seq(
      (s"rtdl.${s}lake_login", s"$dest/${s}lake/login"),
      (s"rtdl.${s}lake_signup", s"$dest/${s}lake/signup"),
      (s"delta_stream_${s}_login", s"$dest/_delta/stream_$s/login"),
      (s"delta_stream_${s}_signup", s"$dest/_delta/stream_$s/signup"))
    assert(results.map(_.tables) == Seq(tables("p"), tables("q")))

    def want(s: String, t: String, masked: Boolean) = (1 to 2).map(i =>
      (s"$s-$t-$i", if (masked) PiiMask.Mask else s"123-45-678$i")).toSet
    Seq("signup", "login").foreach { t =>
      // pii first: both of P's sinks see the masked payload
      assert(users(spark.read.parquet(s"$dest/plake/$t")) == want("p", t, masked = true))
      assert(users(IngestPipeline.readTable(spark, s"$dest/_delta/stream_p/$t")) ==
        want("p", t, masked = true))
      // pii between the sinks: Q's lake keeps the raw payload, its delta
      // table gets the masked one
      assert(users(spark.read.parquet(s"$dest/qlake/$t")) == want("q", t, masked = false))
      assert(users(IngestPipeline.readTable(spark, s"$dest/_delta/stream_q/$t")) ==
        want("q", t, masked = true))
    }
  }

  test("fan-out: a failing sink fails the batch after the others finish; the replay lands once") {
    val dest = tmpDir
    val cfgF = StreamConfig("stream-f", "", active = true, "evt", 1, "flake",
      TimePartitions.Daily, 1, Seq("ingester", "deltawriter"))
    val cfgG = StreamConfig("stream-g", "", active = true, "evt", 1, "glake",
      TimePartitions.Daily, 1, Seq("ingester"))
    val docs = (for (s <- Seq("f", "g"); t <- Seq("a", "b"); i <- 1 to 2) yield
      s"""{"stream_id":"stream-$s","type":"$t","user":"$s-$t-$i","ssn":"x"}""") :+
      """{"stream_id":"nobody","type":"a"}"""
    // the fault: stream-f's "b" delta table has a plain file for a log dir
    val broken = new java.io.File(s"$dest/_delta/stream_f/b/_log")
    broken.getParentFile.mkdirs()
    assert(broken.createNewFile())
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    def run() = IngestPipeline.runBatch(spark, docs.toDF("json"), "json",
      Seq(cfgF, cfgG), dest, tsCol = ts, registerTables = false,
      batchScope = Some(("s0", 0L)))
    val e = intercept[Exception](run())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    assert(msgs.contains("stream_f/b"), msgs)

    import scala.jdk.CollectionConverters._
    val alive = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("ingest-sink"))
    assert(alive.isEmpty, s"pool threads outlived runBatch: $alive")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    // every other sink ran to its end before the error came back
    def rows(path: String) = spark.read.parquet(path).count()
    Seq("flake/a", "flake/b", "glake/a", "glake/b").foreach(p => assert(rows(s"$dest/$p") == 2, p))
    assert(IngestPipeline.readTable(spark, s"$dest/_delta/stream_f/a").count() == 2)
    assert(rows(s"$dest/_quarantine") == 1)

    assert(broken.delete())
    val results = run()
    assert(results.map(_.config) == Seq(cfgF, cfgG))
    Seq("flake/a", "flake/b", "glake/a", "glake/b").foreach(p => assert(rows(s"$dest/$p") == 2, p))
    Seq("a", "b").foreach(t =>
      assert(IngestPipeline.readTable(spark, s"$dest/_delta/stream_f/$t").count() == 2, t))
    assert(rows(s"$dest/_quarantine") == 1)
  }

  test("job budget: a batch shaped like the ingest benchmark's runs at most 7 jobs") {
    // configs A (pii + lake, 3 types), B (lake + txlog, routed by its alt
    // id, 2 types), C inactive (2 types), plus unknown stream ids
    val configs = Seq(
      StreamConfig("web", "", active = true, "event", 1, "weblake", TimePartitions.Daily, 1,
        Seq("pii-detection", "ingester")),
      StreamConfig("app", "proj-app", active = true, "event", 1, "applake", TimePartitions.Hourly, 1,
        Seq("ingester", "deltawriter")),
      StreamConfig("legacy", "", active = false, "event", 1, "legacylake", TimePartitions.Daily, 1,
        Seq("ingester")))
    val ids = Seq("""{"stream_id":"web"""", """{"projectId":"proj-app"""",
      """{"stream_id":"legacy"""", """{"stream_id":"ghost-1"""")
    val types = Seq(Seq("page_view", "click", "purchase"), Seq("session", "error"),
      Seq("heartbeat", "status"), Seq("probe"))
    val docs = (0 until 60).map { i =>
      val k = i % 4
      val ts = f"2026-03-01T${i % 24}%02d:00:00Z"
      s"""${ids(k)},"type":"${types(k)(i % types(k).size)}","seq":$i,"ts":"$ts",""" +
        s""""user":{"id":$i},"note":"call 415-555-01${i % 10}0"}"""
    }
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.batch") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.batch", tag)
    try IngestPipeline.runBatch(spark, docs.toDF("value"), "value", configs, tmpDir,
      tsCol = to_timestamp(get_json_object(col("payload"), "$.ts")),
      registerTables = false, batchScope = Some(("budget", 0L)))
    finally {
      sc.setLocalProperty("graft.test.batch", null)
      org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    // the budget may go down, never up
    assert(jobs.get <= 7, s"${jobs.get} jobs")
  }
}
