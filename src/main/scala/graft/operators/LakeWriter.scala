package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A10-A17 — the lake write path: time-partitioned, compressed, columnar,
  * catalog-registered tables.
  *
  * Reference behavior (ingester.go:568-606, 995-1035): ONE parquet file per
  * message under <folder>/<message_type>/<time-bucket>/ — the small-files
  * pathology SURVEY §1.3 flags. The rebuild batches: one write per
  * (config, message_type) per ingest batch, Hive-style partitioned by the
  * time bucket so Catalyst prunes partitions on read, with
  * maxRecordsPerFile bounding file size at scale.
  *
  * Sink targets A12-A16 (local/S3/GCS/Azure/HDFS) all collapse to the
  * path scheme (file:/ s3a:// gs:// wasbs:// hdfs://) — hadoop filesystem
  * connectors handle transport, so `destRoot` is scheme-agnostic.
  *
  * A17 (Dremio registration, ingester.go:778-992) becomes native catalog
  * registration: CREATE TABLE ... USING PARQUET LOCATION, idempotent.
  */
object LakeWriter {

  def sanitizeIdent(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")

  /** Lake folder of a config: `folderName`, else its sanitized
    * stream_alt_id / stream_id. */
  def folderOf(cfg: StreamConfig): String =
    if (cfg.folderName.nonEmpty) cfg.folderName
    else sanitizeIdent(if (cfg.streamAltId.nonEmpty) cfg.streamAltId else cfg.streamId)

  /** Write one batch of routed messages for one config. `messages` must
    * carry `payload` (JSON string), `message_type_resolved`, and the
    * timestamp column `tsCol` used for bucketing.
    * Returns (tableName, path) per message type written, in type order:
    * one job finds the types and infers their schemas
    * ([[SchemaPolicy.inferByKey]]), then [[writeType]] per type. */
  def writeStreamTable(
      spark: SparkSession,
      messages: DataFrame,
      cfg: StreamConfig,
      destRoot: String,
      tsCol: Column,
      database: String = "rtdl",
      registerTables: Boolean = true,
      maxRecordsPerFile: Long = 5000000L,
      batchScope: Option[(String, Long)] = None): Seq[(String, String)] = {
    val schemas = SchemaPolicy.inferByKey(messages, Seq("message_type_resolved"), "payload")
    if (registerTables) createDatabase(spark, database)
    schemas.keys.map(_.head).toSeq.sorted.map { mt =>
      writeType(spark, messages.filter(col("message_type_resolved") === mt), schemas(Seq(mt)),
        cfg, mt, destRoot, tsCol, database, registerTables, maxRecordsPerFile, batchScope)
    }
  }

  def createDatabase(spark: SparkSession, database: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${sanitizeIdent(database)}")

  /** Write the messages of ONE type `mt` of one config, their payload
    * parsed with `schema` (see [[SchemaPolicy.inferByKey]]), into
    * `<destRoot>/<folder>/<mt>`, partitioned by the time bucket of
    * `tsCol`. Returns (tableName, path); with `registerTables` the
    * database must exist ([[createDatabase]]).
    *
    * `batchScope = Some((scope, batchId))` makes the write IDEMPOTENT
    * for that (scope, batch): files publish through
    * [[graft.streaming.BatchCommits.publishBatch]] with batch-scoped
    * names, so a streaming replay of the same batch REPLACES its own
    * earlier output instead of appending a second copy (A22 exactly-once
    * egress). `None` is the plain append for one-shot batch use. */
  def writeType(
      spark: SparkSession,
      messages: DataFrame,
      schema: StructType,
      cfg: StreamConfig,
      mt: String,
      destRoot: String,
      tsCol: Column,
      database: String,
      registerTables: Boolean,
      maxRecordsPerFile: Long = 5000000L,
      batchScope: Option[(String, Long)] = None): (String, String) = {
    val folder = folderOf(cfg)
    val flat = messages
      .select(SchemaPolicy.parseJson(col("payload"), schema).as("__p"),
        TimePartitions.bucket(tsCol, cfg.partitionTimeId).as("part"))
      .select(col("__p.*"), col("part"))
    val path = s"$destRoot/$folder/$mt"
    val writeOpts = Map(
      "compression" -> cfg.codec,
      "maxRecordsPerFile" -> maxRecordsPerFile.toString)
    batchScope match {
      case Some((scope, batchId)) =>
        graft.streaming.BatchCommits.publishBatch(
          flat, path, scope, batchId, Seq("part"), writeOpts)
      case None =>
        flat.write
          .mode(SaveMode.Append)
          .partitionBy("part")
          .options(writeOpts)
          .parquet(path)
    }
    val table = s"${sanitizeIdent(database)}.${sanitizeIdent(folder)}_${sanitizeIdent(mt)}"
    if (registerTables) registerTable(spark, table, path)
    (table, path)
  }

  /** Idempotent catalog registration (the native replacement for Dremio /
    * Glue / Snowflake external-table registration, SURVEY §2.A A17-A19). */
  def registerTable(spark: SparkSession, table: String, path: String): Unit = {
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING PARQUET LOCATION '$path'")
    // partition discovery for Hive-style dirs written after registration
    try spark.sql(s"MSCK REPAIR TABLE $table")
    catch { case _: Throwable => () } // unpartitioned tables have nothing to repair
  }

  /** Collect table + column statistics into the catalog so the
    * cost-based optimizer has real numbers for join planning (broadcast
    * thresholds, join reorder, skew estimates). At 100 TB the CBO's
    * difference between a broadcast and a sort-merge join is the
    * difference between minutes and hours; stats collection is one
    * metadata-output scan a pipeline runs after each large write. */
  def analyzeTable(spark: SparkSession, table: String,
      columns: Seq[String] = Seq.empty): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Compaction (M6 hardening — fixes the reference's small-files model
    * for data ingested before batching, and re-buckets partition counts).
    * Rewrites a table directory to ~targetFileMB-sized files; sizes
    * resolve through the Hadoop FileSystem of the path (never the
    * driver's local disk), so compaction works on `hdfs://`/`s3a://`
    * tables like every other durable artifact.
    *
    * `zorderBy` re-clusters the rewrite on the [[Layout]] Morton curve
    * (range-partition + in-partition sort within each Hive partition's
    * writer) instead of a blind repartition — the same OPTIMIZE-ZORDER
    * semantics [[TxLogTable.compact]] gives the ACID table. */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 256,
      zorderBy: Seq[String] = Seq.empty, zorderBits: Int = 8,
      targetFiles: Int = 0): Unit = {
    val df = spark.read.option("mergeSchema", true).parquet(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val sizeBytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val parts =
      if (targetFiles > 0) targetFiles
      else math.max(1, (sizeBytes / (targetFileMB * 1024L * 1024L)).toInt)
    val tmp = path + "_compacting"
    val hasPart = df.columns.contains("part")
    val rewritten =
      if (zorderBy.isEmpty) df.repartition(parts)
      else df.withColumn("__z", Layout.zColumn(df, zorderBy, zorderBits))
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    val w = rewritten.write.mode(SaveMode.Overwrite)
    (if (hasPart) w.partitionBy("part") else w).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path)))
      throw new java.io.IOException(s"compaction publish rename failed: $tmp -> $path")
  }
}
