package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine — the one-stop entry point a user of
  * the reference switches to. Wires the recommended scale configuration
  * and the graft extensions (custom strategy + expressions).
  *
  * Knob rationale (100 TB posture, SURVEY §7.3.6):
  *  - AQE on: runtime coalescing/skew-split replaces hand-tuned
  *    partition counts on real clusters
  *  - shuffle.partitions: cores locally; on a cluster set ≈ 2-3× total
  *    executor cores (AQE coalesces down)
  *  - maxPartitionBytes 256m: fewer, fuller input tasks for scan-heavy
  *    lake queries
  *  - UTC session timezone: oracle/engine-portable timestamp semantics
  *  - `file:` is [[GraftLocalFileSystem]] (and [[GraftLocalFs]] for
  *    `FileContext`): the stock modes and checksums without a forked
  *    `chmod` per file written when `libhadoop` is absent
  */
object Sessions {

  /** `SparkSession.builder()` with the engine's local filesystem set; every
    * session of the engine (bench, oracle dump, tests) starts here. It is a
    * fixed choice, not a tuning knob. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)

  def create(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    val spark = builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "268435456")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.VectorExpressions.register(spark)
    spark
  }
}
