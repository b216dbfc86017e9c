package graft

/** Dev tool: dump the formatted physical plan of EVERY declared query in
  * one session and print a one-line summary per query — Exchange count,
  * join strategies, cartesian products, codegen gaps — so a round's plan
  * audit can sweep the whole corpus instead of sampling. The final plans
  * are not executed, but building a query can be: q153/q166 run Spark
  * jobs that materialize their persisted stage frames while being built,
  * so their dumped plans (AQE stages, codegen ids, even length) differ
  * from run to run and cannot be compared byte for byte.
  * Usage: PlanSweep <sfDir> <outDir> [namePrefix...] */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.startsWith))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val s = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          s.getBytes("UTF-8"))
        def c(p: String) = p.r.findAllIn(s).size
        println(f"$name%-40s ex=${c("Exchange")}%3d smj=${c("SortMergeJoin")}%2d " +
          f"bhj=${c("BroadcastHashJoin")}%2d shj=${c("ShuffledHashJoin")}%2d " +
          f"cart=${c("CartesianProduct|BroadcastNestedLoop")}%2d win=${c("\\bWindow\\b")}%2d " +
          f"lines=${s.linesIterator.size}%6d")
      } catch {
        case e: Throwable =>
          println(s"$name PLAN-FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      } finally {
        graft.queries.Handoff.releaseAll()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
