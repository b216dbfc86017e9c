package org.apache.spark.sql.catalyst.graftshim

import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferSchema}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one `private[catalyst]` step of Spark's JSON schema inference a
  * keyed inference needs: `JsonInferSchema.canonicalizeType`, applied
  * to a merged root type exactly as the end of `JsonInferSchema.infer`
  * applies it. It lives under `org.apache.spark.sql.catalyst` for that
  * access alone (the same shim pattern as
  * [[org.apache.spark.sql.graftshim.GraftSqlShim]]). */
object JsonInferShim {
  /** The schema `JsonInferSchema.infer` returns for the merged `root`:
    * canonicalization erases every empty struct, the root included, so
    * an all-empty input yields the empty struct. */
  def rootSchema(inference: JsonInferSchema, root: DataType,
      options: JSONOptions): StructType =
    inference.canonicalizeType(root, options)
      .collectFirst { case s: StructType => s }
      .getOrElse(StructType(Nil))
}
