package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** COMPILE-TIME-CHECKED access to the one `private[sql]` constructor a
  * V1 streaming connector needs: `internalCreateDataFrame`, the only
  * API that builds a DataFrame from an `InternalRow` RDD with an
  * explicit `isStreaming` flag (the engine asserts the flag on every
  * frame a `Source.getBatch` returns, and a `Sink.addBatch` needs the
  * inverse — re-rooting the incremental plan's rows as an ordinary
  * batch frame).
  *
  * This is the standard third-party-connector shim pattern (the delta
  * world compiles its `DeltaSource`/`DeltaSink` inside the
  * `org.apache.spark.sql` namespace for exactly this access): a
  * `private[sql]` member is visible to subpackages of
  * `org.apache.spark.sql`, so this ONE object lives there and the rest
  * of the engine stays in `graft.*`. It replaces the reflective
  * `getMethod("internalCreateDataFrame", …)` hop the connector shipped
  * with — same bytecode surface, but the compiler now checks the
  * signature on every Spark upgrade instead of failing at runtime. */
object GraftSqlShim {
  def internalDf(spark: org.apache.spark.sql.SparkSession,
      rows: RDD[InternalRow], schema: StructType,
      isStreaming: Boolean): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming)

  /** `StructType.merge` — the EXACT operator Spark's own
    * `mergeSchema` footer sweep reduces file schemas with
    * (`SchemaMergeUtils.mergeSchemasInParallel`), `private[sql]` like
    * the above. The commit log records each snapshot's merged schema
    * with this so a log-recorded schema and a footer-swept schema can
    * never diverge on merge semantics (type widening, nested structs,
    * conflict errors). */
  def mergeSchemas(a: StructType, b: StructType): StructType = a.merge(b)

  /** Wrap a catalyst `Expression` as a user-facing `Column`
    * (`ExpressionUtils.column`, `private[sql]` since the Spark-4
    * ColumnNode split) — how the SQL DML routing re-anchors an
    * analyzer-resolved WHERE/SET/clause expression onto the engine's
    * own snapshot scan. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse: the catalyst `Expression` behind a `Column` — lets a
    * session-free Column helper (e.g. [[graft.functions.TextFunctions]])
    * compose a custom codegen expression without the function-registry
    * round-trip that needs a SparkSession in hand. */
  def exprOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Unwrap the session catalog's `V1Table` adapter (`private[sql]`) —
    * a CATALOG table's row-level DML resolves its target to a
    * `DataSourceV2Relation` over this wrapper (the V2SessionCatalog
    * fallback), so the DML routing needs the underlying CatalogTable
    * to recognize a graftlog provider and recover its path/options. */
  def v1CatalogTable(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    t match {
      case v1: org.apache.spark.sql.connector.catalog.V1Table =>
        Some(v1.v1Table)
      case _ => None
    }

  /** Wait until every queued listener event has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`), so a listener's
    * records are complete before they are read. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
