package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an sf1-equivalent (or larger) dataset by union-replicating
  * a source scale-factor dir N× with key offsets — the empirical
  * scale-validation harness: the bench corpus must RUN and keep its plan
  * shapes at 10×/100× the data, not just at sf0.1.
  *
  * Replication rules (replica 0 is the source verbatim, so the source is
  * always a strict subset of the output):
  *  - every key column is offset by `replica * (max(key)+1)` with the
  *    SAME stride for a key's whole domain (o_orderkey and l_orderkey
  *    share the orderkey stride, etc.), so referential joins produce
  *    exactly N× the matches — fact AND dimension tables both grow N×,
  *    which is how a real corpus scales (TPC-H scales customers with sf).
  *  - region/nation stay fixed (the TPC-H rule: 25 nations at every sf).
  *  - documents: every token in replica i>0 gets an `_r<i>` suffix, so
  *    cross-replica texts share ZERO tokens/shingles — the corpus is 10×
  *    bigger at the SAME near-dup rate (replicating text verbatim would
  *    instead create a 10-clique of duplicates per doc and inflate pair
  *    outputs ~45×, measuring the clique, not the scale).
  *  - embeddings: replica i>0 flips the sign of a deterministic
  *    (murmur3-chosen) half of the dimensions — norms and coordinate
  *    distributions are preserved, cross-replica cosines collapse to ~0,
  *    so ANN/near-dup workloads see a genuinely 10×-diverse corpus.
  *  - events keeps its raw nanos-long `ts` layout so `Tables.events`
  *    reads the output identically to driver-generated data.
  */
object ScaleData {

  private def stride(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  /** Offset `keys` by replica*stride, preserving column order. */
  private def offset(df: DataFrame, i: Int, keys: (String, Long)*): DataFrame = {
    val cols = df.columns.map { c =>
      keys.find(_._1 == c) match {
        case Some((_, s)) => (col(c) + lit(i * s)).as(c)
        case None         => col(c)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private def replicateTable(df: DataFrame, copies: Int)(
      mod: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => mod(df, i)).reduce(_.union(_))

  def replicate(spark: SparkSession, srcDir: String, destDir: String,
      copies: Int): Unit = {
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$destDir/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$destDir/$name.parquet").count()} rows")
    }

    // events.ts is parquet TIMESTAMP(NANOS); keep it a raw long end-to-end
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val customer = src("customer"); val sCust = stride(customer, "c_custkey")
    val supplier = src("supplier"); val sSupp = stride(supplier, "s_suppkey")
    val part = src("part");         val sPart = stride(part, "p_partkey")
    val orders = src("orders");     val sOrd = stride(orders, "o_orderkey")
    val lineitem = src("lineitem")
    val events = src("events")
    val sEvt = stride(events, "event_id"); val sUsr = stride(events, "user_id")
    val documents = src("documents"); val sDoc = stride(documents, "doc_id")
    val embeddings = src("embeddings"); val sVec = stride(embeddings, "vec_id")

    write("region", src("region"))
    write("nation", src("nation"))
    write("customer", replicateTable(customer, copies)(offset(_, _, "c_custkey" -> sCust)))
    write("supplier", replicateTable(supplier, copies)(offset(_, _, "s_suppkey" -> sSupp)))
    write("part", replicateTable(part, copies)(offset(_, _, "p_partkey" -> sPart)))
    write("orders", replicateTable(orders, copies)(
      offset(_, _, "o_orderkey" -> sOrd, "o_custkey" -> sCust)))
    write("lineitem", replicateTable(lineitem, copies)(
      offset(_, _, "l_orderkey" -> sOrd, "l_partkey" -> sPart, "l_suppkey" -> sSupp)))
    write("events", replicateTable(events, copies)(
      offset(_, _, "event_id" -> sEvt, "user_id" -> sUsr)))

    write("documents", replicateTable(documents, copies) { (df, i) =>
      val shifted = offset(df, i, "doc_id" -> sDoc)
      if (i == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1_r" + i))
    })

    write("embeddings", replicateTable(embeddings, copies) { (df, i) =>
      val shifted = offset(df, i, "vec_id" -> sVec)
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x: Column, j: Column) =>
          when(pmod(hash(lit(i), j), lit(2)) === 0, x).otherwise(-x)))
    })
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val destDir = args.lift(1).getOrElse("/tmp/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-scaledata")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, srcDir, destDir, copies)
    spark.stop()
  }
}
