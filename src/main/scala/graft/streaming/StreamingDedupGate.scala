package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingest-time exact dedup gate: every arriving micro-batch is checked
  * against a durable content-hash index of everything already admitted,
  * survivors are appended to the output AND their hashes to the index —
  * so a document admitted once is never admitted again, within a batch
  * or years later. This is the streaming face of [[graft.operators
  * .Dedup.exact]]: same md5 content hash, same min-id keeper inside a
  * batch.
  *
  * State design: NO Spark streaming state. The cross-batch memory is
  * the hash index parquet — narrow (h) rows partitioned by the first
  * `prefixLen` hex chars of the hash (`hp=xx/` hive layout), readable by
  * any engine and shared by restarts. Per batch the work is one
  * anti-join of the batch's hashes against the index, and the index
  * scan is PRUNED to the partitions matching the batch's own hash
  * prefixes (one metadata-scale collect of ≤ 16^prefixLen strings) — at
  * years-of-ingest scale a small batch touches a fraction of the index
  * files instead of rescanning all of them. The gate never rescans
  * admitted DOCUMENTS, only hashes. One file per batch per touched
  * prefix accrues; [[compactIndex]] is the offline entry point that
  * rewrites each prefix to a single file while preserving every
  * admission decision (run it while the gate is stopped).
  *
  * Exactly-once, precisely: each batch commits through TWO
  * checkpoint-scoped markers (Hadoop FS, so they share the checkpoint's
  * durability — see [[BatchCommits]]) and idempotent per-batch
  * publishes:
  *
  *  1. admitted rows   → `outDir`   via [[BatchCommits.publishBatch]]
  *  2. marker `graft_out_commits/<batchId>`
  *  3. admitted hashes → `indexDir` via [[BatchCommits.publishBatch]]
  *  4. marker `graft_batch_commits/<batchId>`
  *
  * A replay before (2) recomputes the same admitted set (the index has
  * no trace of the batch yet) and `publishBatch` REPLACES the earlier
  * partial output instead of appending a second copy. A replay between
  * (2) and (4) must NOT recompute the anti-join — a partial index
  * publish would shrink the admitted set and replace the output with a
  * subset — so it takes the recovery path: read the batch's own
  * published output files back, re-derive their hashes, republish the
  * index slice, and commit. Duplicate admission and row loss are both
  * impossible in every crash window.
  */
object StreamingDedupGate {

  private val OutCommits = "graft_out_commits"
  private val BatchCommitsDir = "graft_batch_commits"

  /** Largest batch hash set collected driver-side for per-file index
    * pruning (32-char hex strings; 200k ≈ 13 MB). Bigger batches fall
    * back to prefix-only pruning — a batch that large touches most
    * files anyway. */
  private val MaxHashCollect = 200000L

  private val indexSchema: StructType =
    StructType(Seq(StructField("h", StringType), StructField("hp", StringType)))

  /** Record/verify the prefix length the index was built with: a gate
    * restarted with a different prefixLen would compute prefixes that
    * match NO stored hp partition — prunedIndex would return empty and
    * every duplicate would be silently re-admitted. The first publish
    * writes `_graft_prefix_len`; every later batch checks it. */
  private[streaming] def checkPrefixLen(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, prefixLen: Int): Unit = {
    val meta = new org.apache.hadoop.fs.Path(indexDir, "_graft_prefix_len")
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val stored = try new String(in.readAllBytes(), "UTF-8").trim.toInt
        finally in.close()
      if (stored != prefixLen)
        throw new IllegalStateException(
          s"$indexDir was built with prefixLen=$stored, gate started with " +
            s"$prefixLen — prefixes would match no partition and every " +
            "duplicate would be re-admitted; restart with the stored value")
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(indexDir))
      val out = fs.create(meta, false)
      try out.write(prefixLen.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The index read the per-batch anti-join uses: explicit schema (no
    * partition-type inference — hp values like "0a" and "42" must both
    * stay strings), explicit existence check (an unreadable index fails
    * loudly instead of masquerading as empty), and partition pruning to
    * the batch's own prefixes. */
  private[streaming] def prunedIndex(spark: SparkSession, indexDir: String,
      prefixes: Seq[String]): DataFrame = {
    val (fs, p) = BatchCommits.fileSystem(spark, indexDir)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)
    else {
      // a pre-partitioning index (flat part files at the root) would read
      // with hp = null and the prefix filter would HIDE every admitted
      // hash — duplicate admissions, silently. Fail loudly instead.
      val flat = fs.listStatus(p).exists(s =>
        s.isFile && s.getPath.getName.startsWith("part-"))
      if (flat) throw new IllegalStateException(
        s"$indexDir holds an unpartitioned hash index (flat part files); " +
          "run StreamingDedupGate.migrateIndex to the hp= layout first")
      spark.read.schema(indexSchema).parquet(indexDir)
        .filter(col("hp").isin(prefixes: _*))
    }
  }

  /** Per-batch FILE-level index pruning, layered under the hp=
    * partition prune: within each prefix the batch can touch, a file is
    * opened only if its footer's [min(h), max(h)] interval contains at
    * least one of the batch's hashes (hex hashes are ASCII, so
    * String ordering == the UTF-8 order parquet stats use). Against a
    * [[compactIndex]]-range-sorted index a batch of k hashes opens
    * ≈ min(k, files-per-prefix) files instead of every accrued file in
    * its prefixes — the [[graft.operators.TxLogTable.readWhere]] stats
    * discipline applied to the gate's cross-batch memory. Pre-compaction
    * accrual files span wide ranges and simply stay in (stats missing
    * or interval overlap ⇒ scan — exactness never depends on pruning).
    * Returns the kept files; empty when the index dir does not exist. */
  private[streaming] def statsPrunedIndexFiles(spark: SparkSession,
      indexDir: String, batchHashes: Seq[String], prefixLen: Int)
      : Seq[org.apache.hadoop.fs.Path] = {
    val (fs, p) = BatchCommits.fileSystem(spark, indexDir)
    if (!fs.exists(p)) return Seq.empty
    // same guard as prunedIndex: a flat index would match no hp= dir
    // and silently re-admit every duplicate
    val flat = fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.startsWith("part-"))
    if (flat) throw new IllegalStateException(
      s"$indexDir holds an unpartitioned hash index (flat part files); " +
        "run StreamingDedupGate.migrateIndex to the hp= layout first")
    val sorted = batchHashes.sorted
    def anyHashIn(lo: String, hi: String): Boolean = {
      // first batch hash >= lo; in-range iff it is also <= hi
      var a = 0; var b = sorted.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (sorted(m) < lo) a = m + 1 else b = m
      }
      a < sorted.length && sorted(a) <= hi
    }
    val conf = fs.getConf
    // listing (cheap) stays serial; the footer reads (one parquet
    // footer parse per candidate file, ~ms each) fan out across a
    // parallel collection — a steady-state batch touching hundreds of
    // candidate files pays max(footer) not sum(footer)
    val candidates = sorted.map(_.substring(0, prefixLen)).distinct.flatMap { pre =>
      val dir = new org.apache.hadoop.fs.Path(p, s"hp=$pre")
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map(_.getPath)
    }
    import scala.collection.parallel.CollectionConverters._
    candidates.par
      .filter(f => graft.operators.TxLogTable.stringRange(conf, f, "h") match {
        case Some((lo, hi)) => anyHashIn(lo, hi)
        case None => true // no usable stats: the file scans
      })
      .seq
  }

  /** The stats-pruned index read: hp partition prune by the batch's
    * prefixes, then [[statsPrunedIndexFiles]] file prune by its hash
    * set. Projects the `h` column only (all the anti-join needs). */
  private[streaming] def statsPrunedIndex(spark: SparkSession,
      indexDir: String, batchHashes: Seq[String], prefixLen: Int): DataFrame = {
    val hOnly = StructType(Seq(StructField("h", StringType)))
    val kept = statsPrunedIndexFiles(spark, indexDir, batchHashes, prefixLen)
    if (kept.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hOnly)
    else spark.read.schema(hOnly).parquet(kept.map(_.toString): _*)
  }

  /** One-time migration of a flat (pre-partitioning) hash index to the
    * `hp=` hive layout, preserving the exact hash set. Run while the
    * gate is stopped. */
  def migrateIndex(spark: SparkSession, indexDir: String, prefixLen: Int = 2): Unit = {
    val (fs, p) = BatchCommits.fileSystem(spark, indexDir)
    if (!fs.exists(p)) return
    val flatFiles = fs.listStatus(p).filter(s =>
      s.isFile && s.getPath.getName.startsWith("part-")).map(_.getPath)
    if (flatFiles.isEmpty) return
    // Stamp (or verify) _graft_prefix_len BEFORE rewriting: a migrated
    // index without the meta file would let a later gate start with any
    // prefixLen, record it as authoritative, and prune to zero matching
    // partitions — silently re-admitting every duplicate. A conflicting
    // existing meta refuses the migration outright.
    checkPrefixLen(fs, indexDir, prefixLen)
    val staging = new org.apache.hadoop.fs.Path(p, ".migrate")
    spark.read.schema(StructType(Seq(StructField("h", StringType))))
      .parquet(flatFiles.map(_.toString): _*)
      .withColumn("hp", substring(col("h"), 1, prefixLen))
      .repartition(col("hp"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("hp").parquet(staging.toString)
    // rename-in before delete-old: a crash can only duplicate a hash
    val runId = java.util.UUID.randomUUID().toString.take(8)
    BatchCommits.moveStaged(fs, staging, p)(i => s"part-migrate-$runId-$i.parquet")
    fs.delete(staging, true)
    flatFiles.foreach(f => fs.delete(f, false))
  }

  /** One batch through the gate — the foreachBatch body, factored out so
    * specs can drive individual crash windows. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, outDir: String,
      checkpoint: String, prefixLen: Int): Unit = {
    val spark = batch.sparkSession
    val scope = BatchCommits.scopeFor(checkpoint)
    if (BatchCommits.markerExists(spark, checkpoint, BatchCommitsDir, batchId))
      return
    if (BatchCommits.markerExists(spark, checkpoint, OutCommits, batchId)) {
      // recovery: output is committed, the index publish may be partial.
      // Re-derive the hashes from the batch's OWN published files (never
      // the anti-join — a partial index would shrink it) and republish.
      // The prefixLen check applies here too: a restart with a changed
      // prefixLen whose first batch takes this path would otherwise
      // publish mixed-width hp partitions that pruned reads never match.
      val (recFs, _) = BatchCommits.fileSystem(spark, indexDir)
      checkPrefixLen(recFs, indexDir, prefixLen)
      val files = BatchCommits.publishedFiles(spark, outDir, scope, batchId)
      if (files.nonEmpty) {
        val hashes = spark.read.parquet(files.map(_.toString): _*)
          .select(Dedup.contentKey(col(textCol)).as("h"))
          .withColumn("hp", substring(col("h"), 1, prefixLen))
        BatchCommits.publishBatch(hashes, indexDir, scope, batchId, Seq("hp"))
      }
      BatchCommits.createMarker(spark, checkpoint, BatchCommitsDir, batchId)
      return
    }
    val (idxFs, _) = BatchCommits.fileSystem(spark, indexDir)
    checkPrefixLen(idxFs, indexDir, prefixLen)
    val hashed = batch.withColumn("__h", Dedup.contentKey(col(textCol)))
    // in-batch keeper: min id per hash (aggregate, no window)
    val keepers = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__keep_id"))
    val inBatch = hashed.join(keepers,
        hashed("__h") === keepers("__h") && col(idCol) === col("__keep_id"))
      .drop(keepers("__h")).drop("__keep_id")
      .withColumn("hp", substring(col("__h"), 1, prefixLen))
      .cache()
    try {
      // prune the index scan to what this batch can touch: hp prefixes
      // always; per-FILE footer-range pruning too when the batch's hash
      // set fits a driver-side list (micro-batches do; the cap guards a
      // backfill-sized batch, which falls back to prefix-only pruning)
      val nHashes = inBatch.select(col("__h")).distinct().count()
      val seen =
        if (nHashes <= MaxHashCollect) {
          val hashes = inBatch.select(col("__h")).distinct()
            .collect().map(_.getString(0)).toSeq
          statsPrunedIndex(spark, indexDir, hashes, prefixLen)
        } else {
          val prefixes = inBatch.select(col("hp")).distinct()
            .collect().map(_.getString(0)).toSeq
          prunedIndex(spark, indexDir, prefixes).select(col("h"))
        }
      val admitted = inBatch.join(seen, inBatch("__h") === seen("h"),
        "left_anti").cache()
      try {
        BatchCommits.publishBatch(admitted.drop("__h", "hp"), outDir, scope, batchId)
        BatchCommits.createMarker(spark, checkpoint, OutCommits, batchId)
        BatchCommits.publishBatch(
          admitted.select(col("__h").as("h"), col("hp")),
          indexDir, scope, batchId, Seq("hp"))
        BatchCommits.createMarker(spark, checkpoint, BatchCommitsDir, batchId)
      } finally admitted.unpersist()
    } finally inBatch.unpersist()
  }

  /** Start the gate: arriving `docs` (streaming, `idCol` + `textCol`)
    * are exact-deduped against `indexDir` and within the batch (min
    * `idCol` keeper); admitted rows append to `outDir` as parquet,
    * their hashes to `indexDir` (hive-partitioned by `hp`, the first
    * `prefixLen` hash chars). */
  def start(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      prefixLen: Int = 2): StreamingQuery = {
    require(prefixLen >= 1 && prefixLen <= 8, "prefixLen in [1, 8]")
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, indexDir, outDir,
          checkpoint, prefixLen)
      }
      .start()
  }

  /** Offline compaction for the one-file-per-batch-per-prefix accrual:
    * rewrites the index RANGE-SORTED on `h` (each written file covers a
    * tight hash interval inside its `hp=` dir — what makes the per-file
    * footer pruning in [[statsPrunedIndexFiles]] effective), preserving
    * the exact hash set (every admission decision). `targetFiles` sizes
    * the total layout (0 = Spark's range-partition default). Run while
    * the gate is stopped — the swap is not coordinated with a live
    * writer. */
  def compactIndex(spark: SparkSession, indexDir: String,
      targetFiles: Int = 0): Unit =
    BatchCommits.compactPartitioned(spark, indexDir, indexSchema, "hp",
      sortCol = Some("h"), targetFiles = targetFiles)
}
