package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory is assembled from per-category modules; each module
  * entry carries its own DuckDB oracle SQL (or None for ops whose
  * semantics aren't ANSI-SQL-expressible — those get a rows-only check).
  */
object SparkEntry {

  private[graft] def modules: Seq[QueryModule] = Seq(
    Relational, Windows, Scalars, IngestQueries,
    CollectionQueries, DedupQueries, SimilarityQueries, TextQueries,
    MultimodalQueries, TimeSeriesQueries, SamplingQueries, ProfileQueries,
    PackingQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.entries).map(e => e.name -> e.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.entries)
      .flatMap(e => e.oracle.map(sql => e.name -> sql.trim))
      .toMap
}
