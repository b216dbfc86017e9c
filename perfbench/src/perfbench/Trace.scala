package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that was open on the submitting thread (-1 when the job came from a
  * thread without one); `site` is the source file of the job's call site
  * ("" when it has none, as for query stages AQE submits from its own
  * threads); `execution` is its SQL execution id (-1 outside one). */
final class JobRecord(val id: Int, val startMs: Long, val site: String,
    val span: Int, val execution: Long) {
  @volatile var endMs: Long = startMs
  @volatile var tasks: Long = 0L
  @volatile var shuffleBytes: Long = 0L
}

/** Records every job's interval, tasks and shuffle-write bytes. Tasks and
  * bytes come from completed stages, so stages a job skipped (shuffle
  * reuse) count nothing. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  /** SQL execution id → source file of the call that started it */
  val executionSites = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1)
    // the result stage is created last, so it has the highest id; its
    // name is the job's short call site ("save at LakeWriter.scala:85")
    val site = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => Tracer.siteFile(s.name)).getOrElse("")
    val j = new JobRecord(e.jobId, e.time, site, span,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // the execution's description is the short call site of the action
    // on the caller's thread, even when AQE runs its jobs elsewhere
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(x.executionId, Tracer.siteFile(x.description))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { j =>
      j.tasks += info.numTasks
      Option(info.taskMetrics).foreach(m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

final class Span(val id: Int, val name: String, val parent: Int,
    val op: Long, val t0Ms: Long, val t0Ns: Long) {
  var t1Ms: Long = t0Ms
  var ns: Long = 0L
  var ok: Boolean = true
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = ns / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and summarised when the run ends. A disabled tracer runs the body and
  * records nothing; `recording` lets a traced run leave some ops
  * unspanned so the overhead of tracing can be measured in the same run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  var recording: Boolean = enabled
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String, op: Long = -1L)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        op, System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      val (r0, w0) = Tracer.fsBytes()
      try body
      catch { case e: Throwable => s.ok = false; throw e }
      finally {
        s.ns = System.nanoTime() - s.t0Ns
        s.t1Ms = System.currentTimeMillis()
        val (r1, w1) = Tracer.fsBytes()
        s.attrs("fs_bytes_read") = (r1 - r0).toDouble
        s.attrs("fs_bytes_written") = (w1 - w0).toDouble
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a measured value to the innermost open span. */
  def attr(key: String, value: => Double): Unit =
    if (recording) open.headOption.foreach(_.attrs(key) = value)

  // ---- summaries (call after the run; waits for the listener bus) ----

  private lazy val jobList: Seq[JobRecord] = listener.map { l =>
    org.apache.spark.PerfbenchBus.drain(sc)
    l.jobs.values().asScala.toSeq.sortBy(_.id)
  }.getOrElse(Nil)

  private lazy val children: Map[Int, Seq[Int]] =
    spans.toSeq.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap

  private def subtree(id: Int): Set[Int] =
    children.getOrElse(id, Nil).foldLeft(Set(id))(_ ++ subtree(_))

  /** Jobs of `s` and its child spans: by the submitting span, or — for a
    * job submitted off the caller thread — by time window. */
  def jobsOf(s: Span): Seq[JobRecord] = {
    val ids = subtree(s.id)
    jobList.filter(j =>
      if (j.span >= 0) ids.contains(j.span)
      else j.startMs >= s.t0Ms && j.startMs <= s.t1Ms)
  }

  /** Source file of the job's call site, or of its SQL execution's. */
  def siteOf(j: JobRecord): String =
    if (j.site.nonEmpty) j.site
    else listener.flatMap(l => Option(l.executionSites.get(j.execution))).getOrElse("")

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)
  def childrenOf(s: Span, name: String): Seq[Span] =
    children.getOrElse(s.id, Nil).map(spans(_)).filter(_.name == name)
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val SiteRx = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  /** "save at LakeWriter.scala:85" → "LakeWriter". */
  def siteFile(site: String): String =
    SiteRx.findFirstMatchIn(site).map(_.group(1)).getOrElse("")

  /** Bytes read and written through Hadoop's `file` scheme so far. */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def get(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    (get("bytesRead"), get("bytesWritten"))
  }

  /** Seconds covered by the union of the jobs' intervals. */
  def jobSeconds(jobs: Seq[JobRecord]): Double = {
    val iv = jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total / 1000.0
  }
}

/** GC and heap readings from the platform MX beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** CPU time of the whole process (all threads) so far. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double = gcs.map(_.getCollectionTime.max(0L)).sum / 1000.0
  def gcCount: Long = gcs.map(_.getCollectionCount.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Live heap: the bytes of all objects reachable after a full GC, from
    * the class histogram (`jcmd GC.class_histogram`), as the least of two
    * histograms a quarter second apart. The pools' used size after a GC counts
    * whole regions, and a single histogram right after a run sometimes
    * still held 128 MB of memory pages that the next one no longer did. */
  def liveHeapMb(): Double = {
    System.gc()
    System.runFinalization()
    (1 to 2).map { _ =>
      Thread.sleep(250)
      val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
        new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array("[Ljava.lang.String;"))
        .toString
      val total = histogram.linesIterator.find(_.trim.startsWith("Total"))
        .getOrElse(throw new IllegalStateException("class histogram has no Total line"))
      total.trim.split("\\s+")(2).toLong / 1048576.0
    }.min
  }
}
