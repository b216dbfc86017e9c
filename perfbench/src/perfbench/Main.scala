package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `setup` builds the inputs under `dir` and warms
  * the session up; `run` is the timed closed loop; `check` verifies the
  * program's outputs; `layers` turns a traced run's spans into per-layer
  * metrics; `release` drops the benchmark's own bookkeeping (its model of
  * the expected outputs) so the live heap measured after it is the
  * program's. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  def run(spark: SparkSession, tr: Tracer, rep: Report, seconds: Double): Unit
  def check(spark: SparkSession, rep: Report): Unit
  def layers(tr: Tracer, rep: Report): Unit
  def release(): Unit
}

/** Entry point of the JVM side of the benchmark (see `run.py`).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --root DIR --out FILE [--smoke]
  *
  * Everything the run writes goes under `--root`; the result JSON goes to
  * `--out`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, out: String, smoke: Boolean)

  private def parse(args: Array[String]): Args = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv.get("--trace").contains("1"), kv("--root"), kv("--out"), args.contains("--smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = a.workload match {
      case "ingest" => new IngestLoad(a.seed, a.smoke)
      case "lake_dml" => new DmlLoad(a.seed, a.smoke)
      case "curation" => new CurationLoad(a.seed, a.smoke, s"${a.root}/oracle")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rep = new Report
    // set-up: JVM start → session up, inputs built, warm-up done
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.create("perfbench", s"local[$cores]", Some(cores))
    spark.sparkContext.setLogLevel("ERROR")
    wl.setup(spark, s"${a.root}/setup")
    rep.metric("setup_s", (System.currentTimeMillis() - t0) / 1000.0, "s")
    val tr = new Tracer(spark.sparkContext, a.trace)
    val (gc0, gcn0) = (Jvm.gcSeconds, Jvm.gcCount)
    Jvm.resetPeak()
    val (cpu0, wall0) = (Jvm.cpuSeconds, System.nanoTime())
    wl.run(spark, tr, rep, a.seconds)
    rep.info("run_cpu_s") = Jvm.cpuSeconds - cpu0
    rep.info("run_wall_s") = (System.nanoTime() - wall0) / 1e9
    val (gc1, gcn1, peak) = (Jvm.gcSeconds, Jvm.gcCount, Jvm.heapPeakMb)
    wl.check(spark, rep)
    if (a.trace) {
      wl.layers(tr, rep)
      rep.metric("jvm.gc_s", gc1 - gc0, "s")
      rep.metric("jvm.gc_count", (gcn1 - gcn0).toDouble, "count")
      rep.metric("jvm.heap_peak_mb", peak, "MB")
    }
    wl.release()
    rep.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
    rep.info("workload") = a.workload
    rep.info("seed") = a.seed
    rep.info("cores") = cores
    rep.info("smoke") = a.smoke
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), rep.json)
    spark.stop()
  }
}
