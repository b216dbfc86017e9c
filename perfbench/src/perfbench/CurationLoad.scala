package perfbench

import graft.SparkEntry
import graft.queries.Handoff
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `curation`: the training-data operators. One corpus query per operator
  * family (the `Spread` chain, connected components, the LSH band join,
  * codegen text expressions) runs over a generated documents table, in a
  * seeded order, in the JVM's first pass over them: a curation job's own
  * run. Each result is written to parquet, where `run.py` compares it with
  * the DuckDB oracle. A traced run adds two warm passes through the `noop`
  * sink, one unspanned and one spanned, for the tracing overhead. */
final class CurationLoad(seed: Long, smoke: Boolean, oracleDir: String) extends Workload {
  val queries: Seq[String] = Seq(
    "q118_curation_chain_excision", "q82_dedup_clusters",
    "q43_minhash_lsh_pairs", "q117_lm_perplexity")
  val docs: Int = if (smoke) 400 else 1500

  private var sfDir = ""
  /** (pass, query, seconds, traced) for every query that succeeded. */
  private val samples = ArrayBuffer.empty[(Int, String, Double, Boolean)]
  private val blocksLeft = ArrayBuffer.empty[Int]
  /** query → why its measured run failed (None: it succeeded) */
  private val errors = mutable.LinkedHashMap.empty[String, Option[String]]

  private def release(spark: SparkSession): Unit = {
    Handoff.releaseAll()
    spark.catalog.clearCache()
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    sfDir = s"$dir/sf"
    Gen.documents(seed, docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$sfDir/documents.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oracleDir))
    val sql = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$oracleDir/oracle_sql.json"),
      queries.filter(sql.contains).map(q => Json.str(q) + ":" + Json.str(sql(q))).mkString("{", ",", "}"))
  }

  /** One pass over the queries; pass 0 writes each result for the oracle
    * compare, later passes go to the `noop` sink. */
  private def pass(spark: SparkSession, tr: Tracer, rep: Report, p: Int, order: Seq[String]): Unit = {
    tr.recording = tr.enabled && p == 0
    tr("curation.pass", p) {
      order.zipWithIndex.foreach { case (q, i) =>
        // the warm passes span every other query, the first pass the
        // even ones and the second the odd ones, so the spanned and the
        // unspanned runs of the queries are about as warm
        val traced = tr.enabled && (p == 0 || (p + i) % 2 == 0)
        tr.recording = traced
        release(spark)
        val q0 = System.nanoTime()
        val res = rep.attempt(q) {
          tr("queries", p) {
            tr.attr(q, 1)
            val df = tr("queries.build", p)(SparkEntry.queries(q)(spark, sfDir))
            tr("queries.exec", p) {
              if (p == 0) df.coalesce(1).write.parquet(s"$oracleDir/$q")
              else df.write.format("noop").mode("overwrite").save()
            }
          }
        }
        val secs = (System.nanoTime() - q0) / 1e9
        if (res.isDefined) samples += ((p, q, secs, traced))
        if (p == 0) errors(q) = if (res.isDefined) None else Some("query failed (see the log)")
        release(spark)
        blocksLeft += spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
      }
    }
    tr.recording = false
  }

  def run(spark: SparkSession, tr: Tracer, rep: Report, seconds: Double): Unit = {
    val rng = new scala.util.Random(seed)
    pass(spark, tr, rep, 0, rng.shuffle(queries))
    val first = samples.filter(_._1 == 0)
    val passS = if (first.size == queries.size) first.map(_._3).sum else Double.NaN
    rep.metric("curation_pass_s", passS, "s")
    rep.metric("curation_queries_per_s", queries.size / passS, "1/s")
    // the curated outputs the pass wrote: parquet bytes ÷ rows
    val written = first.map(_._2).map(q => s"$oracleDir/$q")
    rep.metric("curation_bytes_per_row", written.map(Files.bytes).sum.toDouble /
      written.map(spark.read.parquet(_).count()).sum, "B")
    if (tr.enabled) {
      // overhead: per query, its spanned warm run against its unspanned one
      val order = rng.shuffle(queries)
      (1 to 2).foreach(p => pass(spark, tr, rep, p, order))
      val ratios = queries.flatMap { q =>
        def warm(traced: Boolean) =
          samples.find(s => s._1 > 0 && s._2 == q && s._4 == traced).map(_._3)
        for (off <- warm(false); on <- warm(true)) yield on / off
      }
      rep.metric("trace.overhead_frac", Stats.median(ratios) - 1, "ratio")
    }
    rep.info("pass_query_s") = first.map(s => s._2 -> s._3).toMap
    rep.info("docs") = docs
    rep.info("queries") = queries.size
  }

  def check(spark: SparkSession, rep: Report): Unit = {
    queries.foreach { q =>
      val err = errors.getOrElse(q, Some("not run"))
      rep.check(s"$q.ran", err.isEmpty, err.getOrElse(""))
    }
    val sql = SparkEntry.oracleSql
    rep.check("oracle_sql_present", queries.forall(sql.contains),
      s"no oracle SQL for ${queries.filterNot(sql.contains).mkString(",")}")
    rep.info("documents") = s"$sfDir/documents.parquet"
    rep.check("blocks_released", blocksLeft.forall(_ == 0),
      s"persisted blocks left after release: ${blocksLeft.max}")
  }

  def release(): Unit = ()

  def layers(tr: Tracer, rep: Report): Unit = {
    // the measured (first) pass only
    val qs = tr.named("curation.pass").filter(_.op == 0).flatMap(tr.childrenOf(_, "queries"))
    def sumOver(name: String): Double =
      qs.flatMap(q => tr.childrenOf(q, name)).map(_.seconds).sum
    val jobs = qs.flatMap(tr.jobsOf)
    rep.metric("queries.build_s", sumOver("queries.build"), "s")
    rep.metric("queries.exec_s", sumOver("queries.exec"), "s")
    rep.metric("queries.eager_jobs",
      qs.flatMap(q => tr.childrenOf(q, "queries.build")).map(tr.jobsOf(_).size).sum, "count")
    rep.metric("queries.jobs", jobs.size, "count")
    rep.metric("queries.tasks", jobs.map(_.tasks).sum.toDouble, "count")
    rep.metric("queries.shuffle_bytes", jobs.map(_.shuffleBytes).sum.toDouble, "B")
    rep.metric("queries.job_s", qs.map(q => Tracer.jobSeconds(tr.jobsOf(q))).sum, "s")
    rep.metric("queries.driver_s", qs.map(q => q.seconds - Tracer.jobSeconds(tr.jobsOf(q))).sum, "s")
    rep.metric("queries.blocks_left", if (blocksLeft.isEmpty) 0 else blocksLeft.max, "count")
    queries.foreach { q =>
      val xs = qs.filter(s => s.ok && s.attrs.contains(q)).map(_.seconds)
      rep.metric(s"queries.${q.takeWhile(_ != '_')}_s", Stats.median(xs), "s")
    }
  }
}
