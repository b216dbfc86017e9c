package perfbench

import graft.operators.TxLogTable
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `lake_dml`: one transaction-logged table under a seeded mix of writes
  * and reads. Every op is mirrored in an in-memory model of the table, so
  * each read's answer, the final snapshot and the version count can be
  * checked exactly. */
final class DmlLoad(seed: Long, smoke: Boolean) extends Workload {
  import DmlLoad._

  val seedRows: Int = if (smoke) 3000 else 150000
  val appendRows: Int = if (smoke) 50 else 500
  val mergeRows: Int = if (smoke) 20 else 100

  /** The table as the benchmark expects it to be. */
  final class Model(val path: String) {
    val rows = mutable.HashMap.empty[Long, Gen.Order]
    var nextKey = 0L
    val countAt = mutable.HashMap.empty[Long, Long] // version → live rows
    var commits = 0L // committed versions after the seed commit (version 0)
    var cycleStart = 0L // head version when the current op cycle began
    def head: Long = commits
    def commit(): Unit = { commits += 1; countAt(commits) = rows.size.toLong }
    def inRange(lo: Long, hi: Long): Seq[Long] = (lo until hi).filter(rows.contains)
  }

  private var model: Model = _
  private var ops = 0L
  private var sqlOps = 0
  private var readWheres = 0
  private val kindCount = mutable.HashMap.empty[String, Int]
  /** (kind, write, seconds, traced) for every op that succeeded. */
  private val samples = ArrayBuffer.empty[(String, Boolean, Double, Boolean)]
  private val mismatches = ArrayBuffer.empty[String]
  /** per traced op facts measured outside its span */
  private val facts = mutable.HashMap.empty[Int, Map[String, Double]]
  /** nanoseconds the current op has spent in calls into the program; an
    * op's latency sample counts only these, not the model's bookkeeping */
  private var callNs = 0L

  private def call[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callNs += System.nanoTime() - t0
  }

  private def frame(spark: SparkSession, os: Seq[Gen.Order]): DataFrame =
    spark.createDataFrame(os.map(o => Row(o.key, o.cust, o.status, o.price,
      new java.sql.Timestamp(o.dateMicros / 1000), o.prio)).asJava, Schema)

  private def seedTable(spark: SparkSession, m: Model, n: Int, r: SplittableRandom): Unit = {
    val os = (0L until n).map(k => Gen.order(r, k))
    os.foreach(o => m.rows(o.key) = o)
    m.nextKey = n
    TxLogTable.append(spark, frame(spark, os).repartitionByRange(8, col("o_orderkey")), m.path)
    m.countAt(0L) = n.toLong
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    // warm-up: every op kind once, on small tables of their own; half the
    // kinds on a thread of their own beside the seeding of the measured
    // table, the other half after it
    def warmUp(part: Int): Unit = {
      val warm = new Model(s"$dir/warm$part")
      val r = new SplittableRandom(seed + 1 + part)
      seedTable(spark, warm, 2000, r)
      val off = new Tracer(spark.sparkContext, false)
      Kinds.zipWithIndex.filter(_._2 % 2 == part).foreach { case ((k, _), _) =>
        runOp(spark, warm, k, r, off) }
    }
    val side = new Thread(() => warmUp(0))
    var warmFailure: Throwable = null
    side.setUncaughtExceptionHandler((_, e) => warmFailure = e)
    side.start()
    model = new Model(s"$dir/orders")
    seedTable(spark, model, seedRows, new SplittableRandom(seed))
    warmUp(1)
    side.join()
    if (warmFailure != null) throw warmFailure
    mismatches.clear()
  }

  /** Op kinds in cycles of 20 that hold each kind's exact share, in an
    * order that is shuffled per cycle but the same for every seed: the seed
    * varies the ops' keys and rows, not the interleaving, so runs of
    * different seeds do the same amount of work. The cycle's one `changes`
    * op comes last and diffs the whole cycle. */
  private val kinds: Iterator[String] =
    Iterator.from(0).flatMap { c =>
      new scala.util.Random(c).shuffle(Kinds.flatMap { case (k, share) => Seq.fill(share / 5)(k) }
        .filter(_ != "changes")) :+ "changes"
    }

  private def range(m: Model, r: SplittableRandom, width: Int): (Long, Long) = {
    val lo = r.nextLong(math.max(1L, m.nextKey - width))
    (lo, lo + width)
  }

  private def keyIn(lo: Long, hi: Long): Column =
    col("o_orderkey") >= lo && col("o_orderkey") < hi

  /** About half existing keys, half new ones. The existing keys come from
    * one window of 2,000 keys, as an upsert of recent records touches one
    * part of a table; keys drawn from the whole table made every merge
    * rewrite all of its files, and merges took most of a run. */
  private def upsertRows(m: Model, r: SplittableRandom, n: Int): Seq[Gen.Order] = {
    val (lo, hi) = range(m, r, 2000)
    val live = Iterator.continually(lo + r.nextLong(hi - lo)).take(n * 20)
      .filter(m.rows.contains).distinct.take(n / 2).toSeq
    val fresh = (m.nextKey until m.nextKey + (n - live.size))
    m.nextKey += fresh.size
    (live ++ fresh).map(k => Gen.order(r, k))
  }

  private def expect(what: String, got: Long, want: Long): Unit =
    if (got != want) mismatches += s"$what: got $got, model $want"

  /** Run one op of `kind`: draws its parameters, calls the program, checks
    * the answer against the model and then updates the model. Returns
    * whether the op is a write. */
  private def runOp(spark: SparkSession, m: Model, kind: String, r: SplittableRandom,
      tr: Tracer): Boolean = kind match {
    case "append" =>
      val os = (m.nextKey until m.nextKey + appendRows).map(k => Gen.order(r, k))
      m.nextKey += appendRows
      val df = frame(spark, os).coalesce(1)
      call(tr("txlog.write")(TxLogTable.append(spark, df, m.path)))
      os.foreach(o => m.rows(o.key) = o); m.commit(); true
    case "delete_dv" =>
      val (lo, hi) = range(m, r, 100 + r.nextInt(100))
      val v = call(tr("txlog.write")(TxLogTable.deleteWhereDv(spark, m.path, keyIn(lo, hi))))
      val hit = m.inRange(lo, hi)
      expect(s"delete_dv committed [$lo,$hi)", if (v >= 0) 1 else 0, if (hit.nonEmpty) 1 else 0)
      if (hit.nonEmpty) { hit.foreach(m.rows.remove); m.commit() }
      true
    case "update" =>
      val (lo, hi) = range(m, r, 300)
      val v = call(tr("txlog.write")(TxLogTable.updateWhere(spark, m.path,
        Map("o_totalprice" -> (col("o_totalprice") + 1.25), "o_orderstatus" -> lit("U")),
        keyIn(lo, hi) && col("o_custkey") % 2 === 0)))
      val hit = m.inRange(lo, hi).filter(k => m.rows(k).cust % 2 == 0)
      expect(s"update committed [$lo,$hi)", if (v >= 0) 1 else 0, if (hit.nonEmpty) 1 else 0)
      hit.foreach(k => m.rows(k) = m.rows(k).copy(price = m.rows(k).price + 1.25, status = "U"))
      if (hit.nonEmpty) m.commit()
      true
    case "merge" =>
      val os = upsertRows(m, r, mergeRows)
      val df = frame(spark, os)
      call(tr("txlog.write")(TxLogTable.mergeByKey(spark, m.path, df, Seq("o_orderkey"))))
      os.foreach(o => m.rows(o.key) = o); m.commit(); true
    case "sql" =>
      call(spark.read.format("graftlog").load(m.path).createOrReplaceTempView("perfbench_orders"))
      val (lo, hi) = range(m, r, 150)
      val before = m.rows.size
      sqlOps += 1
      sqlOps % 3 match {
        case 0 =>
          call(tr("sql.dml")(spark.sql(
            s"DELETE FROM perfbench_orders WHERE o_orderkey >= $lo AND o_orderkey < $hi")))
          m.inRange(lo, hi).foreach(m.rows.remove)
          if (m.rows.size != before) m.commit()
        case 1 =>
          call(tr("sql.dml")(spark.sql(
            "UPDATE perfbench_orders SET o_totalprice = o_totalprice + 2.5D, " +
              s"o_orderstatus = 'S' WHERE o_orderkey >= $lo AND o_orderkey < $hi AND o_custkey % 3 = 0")))
          val hit = m.inRange(lo, hi).filter(k => m.rows(k).cust % 3 == 0)
          hit.foreach(k => m.rows(k) = m.rows(k).copy(price = m.rows(k).price + 2.5, status = "S"))
          if (hit.nonEmpty) m.commit()
        case _ =>
          val os = upsertRows(m, r, mergeRows)
          frame(spark, os).createOrReplaceTempView("perfbench_src")
          call(tr("sql.dml")(spark.sql(
            "MERGE INTO perfbench_orders t USING perfbench_src s ON t.o_orderkey = s.o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")))
          os.foreach(o => m.rows(o.key) = o); m.commit()
      }
      true
    case "read_where" =>
      // point and range reads in turn, so every run has the same mix
      readWheres += 1
      val (lo, hi) = if (readWheres % 2 == 0) { val k = r.nextLong(m.nextKey); (k, k + 1) }
        else range(m, r, 2000)
      val n = call(tr("txlog.read") {
        val df = tr("txlog.read.plan")(TxLogTable.readWhere(spark, m.path, keyIn(lo, hi)))
        tr.attr("files_scanned", df.inputFiles.length)
        tr("txlog.read.exec")(df.count())
      })
      expect(s"readWhere [$lo,$hi)", n, m.inRange(lo, hi).size.toLong); false
    case "read_agg" =>
      val row = call(tr("txlog.read") {
        val df = tr("txlog.read.plan")(TxLogTable.read(spark, m.path))
        tr.attr("files_scanned", df.inputFiles.length)
        tr("txlog.read.exec")(df.agg(count(lit(1)), sum(col("o_custkey")),
          sum((col("o_totalprice") * 100.0).cast("bigint"))).head())
      })
      expect("read count", row.getLong(0), m.rows.size.toLong)
      expect("read sum(o_custkey)", row.getLong(1), m.rows.valuesIterator.map(_.cust).sum)
      expect("read sum(cents)", row.getLong(2), m.rows.valuesIterator.map(o => (o.price * 100.0).toLong).sum)
      false
    case "read_version" =>
      val v = math.max(0L, m.head - r.nextInt(30))
      val n = call(tr("txlog.read") {
        val df = tr("txlog.read.plan")(TxLogTable.readVersion(spark, m.path, v))
        tr.attr("files_scanned", df.inputFiles.length)
        tr.attr("version", v)
        tr("txlog.read.exec")(df.count())
      })
      expect(s"readVersion $v", n, m.countAt(v)); false
    case "changes" =>
      val (v1, v2) = (m.cycleStart, m.head)
      val byType = call(tr("txlog.read") {
        val df = tr("txlog.read.plan")(TxLogTable.changesBetween(spark, m.path, v1, v2))
        tr.attr("files_scanned", df.inputFiles.length)
        tr("txlog.read.exec")(df.groupBy("_change_type").count().collect())
      }).map(r => r.getString(0) -> r.getLong(1)).toMap
      expect(s"changesBetween($v1,$v2) net rows",
        byType.getOrElse("insert", 0L) - byType.getOrElse("delete", 0L),
        m.countAt(v2) - m.countAt(v1))
      false
  }

  private def logBytes(path: String): Long = Files.bytes(s"$path/_log") + Files.bytes(s"$path/_delta_log")

  def run(spark: SparkSession, tr: Tracer, rep: Report, seconds: Double): Unit = {
    val m = model
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val t0 = System.nanoTime()
    var busyNs = 0L
    // whole cycles only, and at least `MinCycles`, so every run measures
    // the same op mix and enough samples for its percentiles
    while (ops < MinCycles * CycleOps ||
        !smoke && (System.nanoTime() - t0 < seconds * 1e9 || ops % CycleOps != 0)) {
      if (ops % CycleOps == 0) m.cycleStart = m.head
      val kind = kinds.next()
      // every other op of each kind is spanned; the rest measure the overhead
      val seen = kindCount.getOrElse(kind, 0)
      kindCount(kind) = seen + 1
      val traced = tr.enabled && seen % 2 == 0
      tr.recording = traced
      val spansBefore = tr.spans.size
      val (files0, log0) =
        if (traced) (TxLogTable.snapshotWithSizes(m.path, m.head), logBytes(m.path))
        else ((Seq.empty[String], Map.empty[String, Long]), 0L)
      val commits0 = m.commits
      // a failed op leaves the model as it was; if the program committed
      // anyway, the final checks show the divergence
      callNs = 0L
      val res = rep.attempt(s"$kind op $ops")(runOp(spark, m, kind, r, tr))
      val secs = callNs / 1e9
      busyNs += callNs
      res.foreach(w => samples += ((kind, w, secs, traced)))
      if (traced && tr.spans.size > spansBefore) {
        val (files1, sizes1) = TxLogTable.snapshotWithSizes(m.path, m.head)
        val added = files1.diff(files0._1)
        val readAt = tr.spans(spansBefore).attrs.get("version").map(_.toLong)
        facts(spansBefore) = Map(
          "committed" -> (m.commits - commits0).toDouble,
          "files_added" -> added.size.toDouble,
          "files_removed" -> files0._1.diff(files1).size.toDouble,
          "bytes_added" -> added.map(sizes1.getOrElse(_, 0L)).sum.toDouble,
          "log_bytes" -> (logBytes(m.path) - log0).toDouble,
          "snapshot_files" -> readAt.map(TxLogTable.snapshotFiles(m.path, _).size)
            .getOrElse(files1.size).toDouble)
      }
      ops += 1
    }
    tr.recording = false
    val writes = samples.filter(_._2).map(_._3)
    val reads = samples.filterNot(_._2).map(_._3)
    // per second of time spent in the program's calls, failed ops included
    rep.metric("dml_ops_per_s", samples.size / (busyNs / 1e9), "1/s")
    // a run's 24 writes and 16 reads leave too few samples beyond any tail
    // percentile, so the slow kinds (merges, full reads, change feeds)
    // show in the means
    rep.metric("dml_write_p50_s", Stats.median(writes), "s")
    rep.metric("dml_write_mean_s", Stats.mean(writes), "s")
    rep.metric("dml_read_p50_s", Stats.median(reads), "s")
    rep.metric("dml_read_mean_s", Stats.mean(reads), "s")
    rep.info("ops") = ops
    rep.info("ops_by_kind") = samples.groupBy(_._1).view.mapValues(_.size).toMap
    rep.info("median_s_by_kind") = samples.groupBy(_._1).view.mapValues(x => Stats.median(x.map(_._3))).toMap
    rep.info("write_samples") = writes.size
    rep.info("read_samples") = reads.size
    rep.info("write_beyond_p50") = writes.count(_ > Stats.median(writes))
    rep.info("read_beyond_p50") = reads.count(_ > Stats.median(reads))
    rep.info("wall_s") = (System.nanoTime() - t0) / 1e9
    rep.info("seed_rows") = seedRows
    rep.info("commits") = m.commits
    if (tr.enabled) {
      val ratios = Kinds.map(_._1).flatMap { k =>
        val on = samples.filter(s => s._1 == k && s._4).map(_._3)
        val off = samples.filter(s => s._1 == k && !s._4).map(_._3)
        if (on.isEmpty || off.isEmpty) None else Some(Stats.median(on) / Stats.median(off))
      }
      rep.metric("trace.overhead_frac", Stats.median(ratios) - 1, "ratio")
    }
  }

  def check(spark: SparkSession, rep: Report): Unit = {
    val m = model
    val t = TxLogTable.read(spark, m.path)
    val canon = concat_ws("|", col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"), (col("o_totalprice") * 100.0).cast("bigint").cast("string"),
      unix_micros(col("o_orderdate")).cast("string"), col("o_orderpriority"))
    val row = t.agg(count(lit(1)), sum(crc32(canon.cast("binary")))).head()
    val want = m.rows.valuesIterator.map { o =>
      val c = new java.util.zip.CRC32
      c.update(s"${o.key}|${o.cust}|${o.status}|${(o.price * 100.0).toLong}|${o.dateMicros}|${o.prio}"
        .getBytes("UTF-8"))
      c.getValue
    }.sum
    rep.check("final_row_count", row.getLong(0) == m.rows.size,
      s"table ${row.getLong(0)} rows, model ${m.rows.size}")
    rep.check("final_checksum", row.getLong(1) == want, s"table ${row.getLong(1)}, model $want")
    val v = TxLogTable.currentVersion(m.path)
    rep.check("version_equals_committing_ops", v == m.commits,
      s"currentVersion $v, committing ops ${m.commits}")
    rep.check("reads_match_model", mismatches.isEmpty, mismatches.take(5).mkString("; "))
    val live = m.rows.size
    rep.metric("dml_bytes_per_live_row", Files.bytes(m.path).toDouble / live, "B")
    rep.info("live_rows") = live
    rep.info("table_bytes") = Files.bytes(m.path)
  }

  def release(): Unit = model = null

  def layers(tr: Tracer, rep: Report): Unit = {
    def fact(s: Span, k: String): Double = facts.get(s.id).flatMap(_.get(k)).getOrElse(0.0)
    def jobS(s: Span) = Tracer.jobSeconds(tr.jobsOf(s))
    val w = tr.named("txlog.write")
    rep.metric("txlog.write.calls", w.size, "count")
    rep.metric("txlog.write.failed", w.count(!_.ok), "count")
    rep.metric("txlog.write.jobs_per_call", Stats.mean(w.map(tr.jobsOf(_).size.toDouble)), "count")
    rep.metric("txlog.write.job_s", Stats.median(w.map(jobS)), "s")
    rep.metric("txlog.write.driver_s", Stats.median(w.map(s => s.seconds - jobS(s))), "s")
    rep.metric("txlog.write.files_added_per_call", Stats.mean(w.map(fact(_, "files_added"))), "count")
    rep.metric("txlog.write.files_removed_per_call", Stats.mean(w.map(fact(_, "files_removed"))), "count")
    rep.metric("txlog.write.bytes_written", Stats.mean(w.map(fact(_, "bytes_added"))), "B/call")
    val committed = w.filter(fact(_, "committed") > 0)
    rep.metric("txlog.write.log_bytes_per_commit",
      committed.map(fact(_, "log_bytes")).sum / math.max(1, committed.size), "B")
    rep.metric("txlog.write.noop_frac",
      if (w.isEmpty) 0.0 else w.count(fact(_, "committed") == 0).toDouble / w.size, "ratio")
    rep.metric("txlog.write.fs_bytes_read", Stats.mean(w.map(_.attrs("fs_bytes_read"))), "B/call")
    val rd = tr.named("txlog.read")
    rep.metric("txlog.read.calls", rd.size, "count")
    rep.metric("txlog.read.failed", rd.count(!_.ok), "count")
    rep.metric("txlog.read.plan_s", Stats.median(rd.flatMap(tr.childrenOf(_, "txlog.read.plan")).map(_.seconds)), "s")
    rep.metric("txlog.read.exec_s", Stats.median(rd.flatMap(tr.childrenOf(_, "txlog.read.exec")).map(_.seconds)), "s")
    rep.metric("txlog.read.jobs_per_call", Stats.mean(rd.map(tr.jobsOf(_).size.toDouble)), "count")
    rep.metric("txlog.read.files_scanned_frac", Stats.mean(rd.map(s =>
      s.attrs.getOrElse("files_scanned", 0.0) / math.max(1.0, fact(s, "snapshot_files")))), "ratio")
    rep.metric("txlog.read.fs_bytes_read", Stats.mean(rd.map(_.attrs("fs_bytes_read"))), "B/call")
    val sq = tr.named("sql.dml")
    rep.metric("sql.dml.calls", sq.size, "count")
    rep.metric("sql.dml.failed", sq.count(!_.ok), "count")
    rep.metric("sql.dml.wall_s", Stats.median(sq.map(_.seconds)), "s")
    rep.metric("sql.dml.jobs_per_call", Stats.mean(sq.map(tr.jobsOf(_).size.toDouble)), "count")
    rep.metric("sql.dml.driver_s", Stats.median(sq.map(s => s.seconds - jobS(s))), "s")
  }
}

object DmlLoad {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  /** Ops per cycle; a cycle holds every kind at its exact share. */
  val CycleOps = 20
  /** 2 cycles: 24 writes and 16 reads per run. */
  val MinCycles = 2

  /** Op kinds and their shares of the op count (percent). */
  val Kinds: Seq[(String, Int)] = Seq(
    "append" -> 25, "delete_dv" -> 10, "update" -> 10, "merge" -> 10, "sql" -> 5,
    "read_where" -> 20, "read_agg" -> 10, "read_version" -> 5, "changes" -> 5)
}
