package perfbench

import graft.operators.{IngestPipeline, StreamConfig, TimePartitions, TxLogTable}
import graft.streaming.HttpTransports
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `ingest`: the paper's hot path. Per micro-batch, four keep-alive
  * clients POST seeded JSON events to a fresh `IngestServer`; once the
  * server has stopped (which closes its spool) the spooled lines go
  * through `IngestPipeline.runBatch` with a `(scope, batchId)` batch
  * scope. Config A masks PII into daily partitions, config B lands hourly
  * partitions and commits a transaction-log append per message type,
  * config C is inactive; unknown stream ids are quarantined. */
final class IngestLoad(seed: Long, smoke: Boolean) extends Workload {
  val batchEvents: Int = if (smoke) 200 else 2000
  val clients = 4
  val scope = "perfbench"
  /** events from this seq on carry the drift field (batch 2 onwards) */
  val driftFrom: Long = 2L * batchEvents

  val configs: Seq[StreamConfig] = Seq(
    StreamConfig("web", "", active = true, "event", 1, "weblake", TimePartitions.Daily, 1,
      Seq("pii-detection", "ingester")),
    StreamConfig("app", "proj-app", active = true, "event", 1, "applake", TimePartitions.Hourly, 1,
      Seq("ingester", "deltawriter")),
    StreamConfig("legacy", "", active = false, "event", 1, "legacylake", TimePartitions.Daily, 1,
      Seq("ingester")))
  private val eventTime = to_timestamp(get_json_object(col("payload"), "$.ts"))

  private var dir = ""
  private var lake = ""
  private lazy val http = Seq.fill(clients)(
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

  /** One event as sent: when, whether it was acked, and when. */
  private final class Sent(val ev: Gen.Event) {
    var sendNs = 0L
    var ackNs = 0L
    var acked = false
  }
  private val sent = ArrayBuffer.empty[Sent]
  /** (batch, first send ns, runBatch returned ns, traced) */
  private val batches = ArrayBuffer.empty[(Int, Long, Long, Boolean)]
  private var lastBatch = -1

  /** POST `evs` with `clients` closed-loop clients; returns after every
    * request completed. */
  private def post(port: Int, evs: Seq[Sent], rep: Report): Unit = {
    val uri = URI.create(s"http://127.0.0.1:$port/ingest")
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = c
        while (i < evs.size) {
          val s = evs(i)
          val req = HttpRequest.newBuilder(uri)
            .POST(HttpRequest.BodyPublishers.ofString(s.ev.json)).build()
          s.sendNs = System.nanoTime()
          rep.synchronized(rep.attempted += 1)
          val ok =
            try http(c).send(req, HttpResponse.BodyHandlers.discarding()).statusCode() == 200
            catch { case scala.util.control.NonFatal(_) => false }
          s.ackNs = System.nanoTime()
          if (ok) s.acked = true else rep.synchronized(rep.failed += 1)
          i += clients
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** One micro-batch: serve, post, stop, run the pipeline. */
  private def batch(spark: SparkSession, b: Int, seqBase: Long, n: Int, dest: String,
      rep: Report, tr: Tracer): Seq[Sent] = {
    val evs = (0 until n).map(i => new Sent(Gen.event(seed, seqBase + i, driftFrom)))
    val spool = s"$dir/spool/$dest-b$b"
    tr("ingest.batch", b) {
      tr("http") {
        val srv = new HttpTransports.IngestServer(spool, poolThreads = clients).start()
        try post(srv.boundPort, evs, rep) finally srv.stop()
        tr.attr("spool_bytes", Files.bytes(spool).toDouble)
      }
      runBatch(spark, spool, s"$dir/$dest", b, rep, tr)
    }
    evs
  }

  private def runBatch(spark: SparkSession, spool: String, dest: String, b: Int,
      rep: Report, tr: Tracer): Unit =
    rep.attempt(s"runBatch $b") {
      tr("ingest") {
        IngestPipeline.runBatch(spark, spark.read.text(spool), "value", configs, dest,
          tsCol = eventTime, registerTables = false, batchScope = Some((scope, b.toLong)))
      }
    }

  def setup(spark: SparkSession, setupDir: String): Unit = {
    dir = setupDir
    lake = s"$dir/lake"
    // warm-up: a full batch into a lake of its own
    val warm = new Report
    (0 until 1).foreach(b => batch(spark, b, (1L << 40) + b * batchEvents, batchEvents, "warm",
      warm, new Tracer(spark.sparkContext, false)))
  }

  def run(spark: SparkSession, tr: Tracer, rep: Report, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var b = 0
    // a traced run spans batches 1 and 2 of every 4, so the spanned and the
    // unspanned ones are about as warm for `trace.overhead_frac`
    val minBatches = if (smoke) 3 else if (tr.enabled) 4 else 2
    while (b < minBatches || !smoke && System.nanoTime() - t0 < seconds * 1e9) {
      val traced = tr.enabled && (b % 4 == 1 || b % 4 == 2)
      tr.recording = traced
      val files0 = if (traced) Files.list(lake) else Map.empty[String, Long]
      val evs = batch(spark, b, b.toLong * batchEvents, batchEvents, "lake", rep, tr)
      val end = System.nanoTime()
      sent ++= evs
      batches += ((b, evs.map(_.sendNs).min, end, traced))
      if (traced) {
        val files1 = Files.list(lake)
        val added = files1.keySet.diff(files0.keySet)
        val s = tr.named("ingest.batch").last
        s.attrs("files_written") = added.size
        s.attrs("bytes_written") = added.toSeq.map(files1).sum
      }
      lastBatch = b
      b += 1
    }
    tr.recording = false
    val wall = (System.nanoTime() - t0) / 1e9
    val acked = sent.filter(_.acked)
    val ackMs = acked.map(s => (s.ackNs - s.sendNs) / 1e6).toSeq
    val endOf = batches.map(x => x._1 -> x._3).toMap
    val fresh = sent.indices.filter(i => sent(i).acked)
      .map(i => (endOf(i / batchEvents) - sent(i).sendNs) / 1e9)
    rep.metric("ingest_events_per_s", acked.size / wall, "1/s")
    rep.metric("ingest_ack_p50_ms", Stats.median(ackMs), "ms")
    rep.metric("ingest_ack_p99_ms", Stats.pct(ackMs, 0.99), "ms")
    rep.metric("ingest_fresh_p50_s", Stats.median(fresh), "s")
    rep.metric("ingest_fresh_p95_s", Stats.pct(fresh, 0.95), "s")
    rep.metric("ingest_bytes_per_event", Files.bytes(lake).toDouble / acked.size, "B")
    rep.info("batches") = b
    rep.info("events") = sent.size
    rep.info("events_per_batch") = batchEvents
    rep.info("ack_beyond_p99") = Stats.beyond(ackMs, 0.99)
    rep.info("fresh_beyond_p95") = Stats.beyond(fresh, 0.95)
    rep.info("lake_bytes") = Files.bytes(lake)
    if (tr.enabled) {
      val wallOf = batches.map(x => (x._4, (x._3 - x._2) / 1e9))
      rep.metric("trace.overhead_frac",
        Stats.median(wallOf.filter(_._1).map(_._2).toSeq) /
          Stats.median(wallOf.filterNot(_._1).map(_._2).toSeq) - 1, "ratio")
    }
  }

  def release(): Unit = { sent.clear(); batches.clear() }

  private def deltaTables(dest: String): Seq[String] =
    Files.subdirs(s"$dest/_delta/proj_app").map(mt => s"$dest/_delta/proj_app/$mt")

  def check(spark: SparkSession, rep: Report): Unit = {
    val acked = sent.filter(_.acked).map(_.ev)
    def want(cfg: String) = acked.count(_.cfg == cfg).toLong
    def lakeRows(folder: String) = Files.subdirs(s"$lake/$folder").map(mt =>
      spark.read.option("mergeSchema", true).parquet(s"$lake/$folder/$mt"))
    def rowCount(folder: String) = Files.subdirs(s"$lake/$folder").map(mt =>
      spark.read.parquet(s"$lake/$folder/$mt").count()).sum
    val web = lakeRows("weblake")
    // per row of config A's lake: seq, whether its note leaks PII, whether
    // it carries the mask (one job per message type)
    val pii = "\\d{3}-\\d{2}-\\d{4}|[2-9]\\d{2}-\\d{3}-\\d{4}"
    val webSeen = web.flatMap { df =>
      val note = if (df.columns.contains("note")) col("note") else lit(null).cast("string")
      df.select(col("seq").cast("long"), coalesce(note.rlike(pii), lit(false)),
        coalesce(note.contains(graft.operators.PiiMask.Mask), lit(false))).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    }
    val webRows = webSeen.size.toLong
    val appRows = rowCount("applake")
    val deltaRows = deltaTables(lake).map(TxLogTable.read(spark, _).count()).sum
    val q = spark.read.parquet(s"$lake/_quarantine")
    val byReason = q.groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rep.check("lake_rows_A", webRows == want("A"), s"lake $webRows, acked ${want("A")}")
    rep.check("lake_rows_B", appRows == want("B"), s"lake $appRows, acked ${want("B")}")
    rep.check("txlog_rows_B", deltaRows == want("B"), s"txlog $deltaRows, acked ${want("B")}")
    rep.check("quarantine_inactive", byReason.getOrElse("stream_inactive", 0L) == want("C"),
      s"quarantine $byReason, acked C ${want("C")}")
    rep.check("quarantine_unroutable", byReason.getOrElse("no_matching_config", 0L) == want("none"),
      s"quarantine $byReason, acked unroutable ${want("none")}")
    val distinctSeq = webSeen.map(_._1).distinct.size
    rep.check("lake_A_no_duplicates", distinctSeq == webRows, s"$distinctSeq distinct seq of $webRows")
    val leaked = webSeen.count(_._2)
    val masked = webSeen.count(_._3)
    val piiSent = acked.count(e => e.cfg == "A" && e.pii).toLong
    rep.check("pii_masked", leaked == 0 && masked == piiSent,
      s"config A's lake: $leaked unmasked PII notes, $masked masked of $piiSent sent")
    val drifted = lastBatch >= 2
    rep.check("schema_drift_landed", !drifted || web.exists(_.columns.contains("experiment")),
      "drift field missing from config A's lake")
    // replay the last batch: nothing may commit, no row may be added
    val versions0 = deltaTables(lake).map(TxLogTable.currentVersion)
    val files0 = Files.list(lake).keySet
    runBatch(spark, s"$dir/spool/lake-b$lastBatch", lake, lastBatch, rep,
      new Tracer(spark.sparkContext, false))
    val versions1 = deltaTables(lake).map(TxLogTable.currentVersion)
    val rows1 = rowCount("weblake") + rowCount("applake")
    rep.check("replay_commits_nothing", versions0 == versions1 && rows1 == webRows + appRows,
      s"txlog versions $versions0 → $versions1, lake rows ${webRows + appRows} → $rows1")
    val added = Files.list(lake).keySet.diff(files0)
    rep.check("replay_adds_no_files", added.isEmpty, s"replay added ${added.take(3).mkString(", ")}")
    rep.info("acked_by_config") = Seq("A", "B", "C", "none").map(c => c -> want(c)).toMap
    rep.info("quarantine_rows") = byReason.values.sum
  }

  def layers(tr: Tracer, rep: Report): Unit = {
    val bs = tr.named("ingest.batch")
    val runs = bs.flatMap(tr.childrenOf(_, "ingest"))
    val events = sent.size.toDouble
    rep.metric("http.requests", sent.size, "count")
    rep.metric("http.failed", sent.count(!_.acked), "count")
    rep.metric("http.spool_bytes_per_event", Stats.mean(bs.flatMap(tr.childrenOf(_, "http"))
      .map(_.attrs.getOrElse("spool_bytes", 0.0))) / batchEvents, "B")
    rep.metric("ingest.batches", batches.size, "count")
    rep.metric("ingest.batch_p50_s", Stats.median(runs.map(_.seconds)), "s")
    rep.metric("ingest.jobs_per_batch", Stats.mean(runs.map(tr.jobsOf(_).size.toDouble)), "count")
    rep.metric("ingest.tasks_per_batch", Stats.mean(runs.map(tr.jobsOf(_).map(_.tasks).sum.toDouble)), "count")
    def jobS(s: Span) = Tracer.jobSeconds(tr.jobsOf(s))
    rep.metric("ingest.job_s", Stats.median(runs.map(jobS)), "s")
    rep.metric("ingest.driver_s", Stats.median(runs.map(s => s.seconds - jobS(s))), "s")
    rep.metric("ingest.shuffle_bytes", Stats.mean(runs.map(tr.jobsOf(_).map(_.shuffleBytes).sum.toDouble)), "B/batch")
    rep.metric("ingest.files_written_per_batch", Stats.mean(bs.map(_.attrs.getOrElse("files_written", 0.0))), "count")
    rep.metric("ingest.bytes_written", Stats.mean(bs.map(_.attrs.getOrElse("bytes_written", 0.0))), "B/batch")
    rep.metric("ingest.quarantine_rows",
      sent.count(s => s.acked && (s.ev.cfg == "C" || s.ev.cfg == "none")) / math.max(1.0, batches.size),
      "rows/batch")
    val sites = Seq("LakeWriter", "BatchCommits", "TxLogTable")
    def siteS(keep: String => Boolean) = Stats.median(runs.map(s =>
      Tracer.jobSeconds(tr.jobsOf(s).filter(j => keep(tr.siteOf(j))))))
    sites.foreach(site => rep.metric(s"ingest.job_s.$site", siteS(_ == site), "s"))
    rep.metric("ingest.job_s.other", siteS(!sites.contains(_)), "s")
    rep.info("events_traced_share") = bs.size * batchEvents / math.max(1.0, events)
  }
}

/** Small local-file helpers (the benchmark's temp root is local). */
object Files {
  import java.nio.file.{Files => F, Path, Paths}

  private def walk(p: String): Seq[Path] =
    if (!F.exists(Paths.get(p))) Nil
    else {
      val s = F.walk(Paths.get(p))
      try s.iterator().asScala.filter(F.isRegularFile(_)).toList finally s.close()
    }

  /** Regular files under `p` (recursive) with their sizes. */
  def list(p: String): Map[String, Long] = walk(p).map(f => f.toString -> F.size(f)).toMap
  def bytes(p: String): Long = walk(p).map(F.size).sum
  def subdirs(p: String): Seq[String] =
    if (!F.isDirectory(Paths.get(p))) Nil
    else {
      val s = F.list(Paths.get(p))
      try s.iterator().asScala.filter(F.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toList.sorted
      finally s.close()
    }
}
