package graft.streaming

import graft.FsWalk
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Per-batch commit plumbing shared by the foreachBatch gates
  * ([[StreamingDedupGate]], [[StreamingContamination]],
  * [[StreamingOps.startIngest]]).
  *
  * Two pieces:
  *
  *  - '''Markers''' — replay guards keyed by batch id, resolved through
  *    Hadoop's FileSystem API so they live NEXT TO the checkpoint on
  *    whatever filesystem backs it (hdfs://, s3a://, file:). A
  *    java.nio.Paths marker on an `hdfs://` checkpoint string would
  *    land on the driver's local disk and silently vanish on driver
  *    relocation — the replay protection must share the checkpoint's
  *    durability.
  *
  *  - '''Idempotent publish''' — `publishBatch` makes a per-batch
  *    parquet append REPLAYABLE: the batch's rows are staged under a
  *    dot-prefixed dir (invisible to Spark readers of `dir`), any files
  *    a previous attempt of the SAME batch published are deleted, and
  *    the staged files are renamed into place with batch-scoped names
  *    (`part-<scope>-b<batchId>-<i>`). A replayed batch therefore
  *    replaces its own earlier (possibly partial) output instead of
  *    appending a second copy — the crash window between a plain append
  *    and its commit marker is gone. The target layout stays a flat
  *    parquet dir (or hive-partitioned via `partitionBy`), so the read
  *    contract is unchanged.
  *
  *    `scope` must be STABLE across restarts of one run and DISTINCT
  *    across runs sharing the output dir: batch ids are only unique
  *    within a checkpoint, so run 2's batch 0 must never replace run
  *    1's. [[scopeFor]] derives it from the checkpoint path — the same
  *    identity that scopes the batch ids themselves.
  */
private[graft] object BatchCommits {

  /** Stable per-checkpoint publish scope (reusing a DELETED checkpoint
    * path for a new run against the same output dir would collide —
    * fresh runs should use fresh checkpoint dirs, as Structured
    * Streaming itself expects). */
  def scopeFor(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Hadoop `rename` reports most failures (missing source, existing
    * destination, cross-FS move) as `false` WITHOUT throwing. A publish
    * or compaction swap that silently skips a rename would delete the
    * staged file afterwards and still commit its marker — committed
    * data loss. Every swap in this file must go through here so a
    * failed move aborts the batch (the replay re-runs it) instead. */
  private[streaming] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  private def marker(spark: SparkSession, base: String, name: String,
      batchId: Long): (FileSystem, Path) = {
    val (fs, b) = fileSystem(spark, base)
    (fs, new Path(new Path(b, name), batchId.toString))
  }

  def markerExists(spark: SparkSession, base: String, name: String,
      batchId: Long): Boolean = {
    val (fs, m) = marker(spark, base, name, batchId)
    fs.exists(m)
  }

  def createMarker(spark: SparkSession, base: String, name: String,
      batchId: Long): Unit = {
    val (fs, m) = marker(spark, base, name, batchId)
    fs.mkdirs(m.getParent)
    fs.create(m, true).close()
  }

  /** Hive-partition-aware relative path of `file`'s parent under `root`
    * ("" when the file sits directly in `root`). */
  private def relativeDir(root: Path, file: Path): String = {
    val rootPath = root.toUri.getPath.stripSuffix("/")
    file.getParent.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
  }

  /** All files a given (scope, batch) has published into `dir`
    * (recursive, so partitioned layouts are covered). Empty when `dir`
    * doesn't exist. Safe while other publishers work in `dir`: the
    * [[graft.FsWalk]] walk skips their `.`/`_` staging and committer
    * dirs and reads a directory that vanished mid-walk as empty. */
  def publishedFiles(spark: SparkSession, dir: String, scope: String,
      batchId: Long): Seq[Path] = {
    val (fs, target) = fileSystem(spark, dir)
    val prefix = s"part-$scope-b$batchId-"
    val all = try FsWalk.files(fs, target)
      catch { case _: java.io.FileNotFoundException => Nil }
    all.map(_.getPath).filter(_.getName.startsWith(prefix))
  }

  /** Renames every `part-` file written under `staging` into the same
    * partition dir under `target`, the i-th as `name(i)`. */
  private[streaming] def moveStaged(fs: FileSystem, staging: Path, target: Path)(
      name: Int => String): Unit =
    FsWalk.files(fs, staging).map(_.getPath)
      .filter(_.getName.startsWith("part-")).zipWithIndex.foreach { case (f, i) =>
        val rel = relativeDir(staging, f)
        val destDir = if (rel.isEmpty) target else new Path(target, rel)
        fs.mkdirs(destDir)
        renameOrThrow(fs, f, new Path(destDir, name(i)))
      }

  /** Offline compaction for a hive-partitioned per-batch-published index:
    * rewrites the dir so each partition holds one file, preserving the
    * exact row set (duplicates from a previous crashed compaction are
    * dropped). Swap order is rename-in BEFORE delete-old, so a crash
    * mid-swap can only leave a row present twice — never absent — and
    * the gates' existence/anti-join semantics are unaffected. Run while
    * the owning gate is stopped. */
  /** `sortCol` + `targetFiles` produce a RANGE-SORTED layout: rows
    * range-partition on (partitionCol, sortCol) and sort within tasks,
    * so every written file covers a tight, near-disjoint `sortCol`
    * interval inside its partition dir — the layout that makes footer
    * min/max file pruning effective for the gates' per-batch index
    * reads (a batch of k hashes then opens ≈ min(k, files) files per
    * prefix instead of all of them). */
  def compactPartitioned(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCol: String, sortCol: Option[String] = None,
      targetFiles: Int = 0): Unit = {
    val (fs, target) = fileSystem(spark, dir)
    if (!fs.exists(target)) return
    val old = FsWalk.files(fs, target).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    if (old.isEmpty) return
    val staging = new Path(target, ".compact")
    import org.apache.spark.sql.functions.{col => fc}
    val rows = spark.read.schema(schema).parquet(dir).distinct()
    val laidOut = sortCol match {
      case Some(s) if targetFiles > 0 =>
        // range-split layout: files per partition dir, each a tight
        // near-disjoint sortCol interval
        rows.repartitionByRange(targetFiles, fc(partitionCol), fc(s))
          .sortWithinPartitions(fc(partitionCol), fc(s))
      case Some(s) =>
        // one file per partition dir (the historical contract), sorted
        // so row-group stats stay tight inside it
        rows.repartition(fc(partitionCol)).sortWithinPartitions(fc(s))
      case None => rows.repartition(fc(partitionCol))
    }
    laidOut.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(staging.toString)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    moveStaged(fs, staging, target)(i => s"part-compact-$runId-$i.parquet")
    fs.delete(staging, true)
    old.foreach(f => fs.delete(f, false))
  }

  /** Flat-layout sibling of [[compactPartitioned]]: rewrite a
    * per-batch-published unpartitioned table to a single file, exact row
    * set preserved (every row is kept — per-batch marks must survive so
    * a replayed batch can still exclude its OWN row). Same rename-in
    * before delete-old crash ordering. Run while the owner is stopped. */
  def compactFlat(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, target) = fileSystem(spark, dir)
    if (!fs.exists(target)) return
    val old = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath)
    if (old.length <= 1) return
    val staging = new Path(target, ".compact")
    spark.read.schema(schema).parquet(old.map(_.toString): _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    moveStaged(fs, staging, target)(i => s"part-compact-$runId-$i.parquet")
    fs.delete(staging, true)
    old.foreach(f => fs.delete(f, false))
  }

  /** Idempotently publish one batch's rows into `dir` (optionally
    * hive-partitioned by `partitionCols`). Safe to re-run for the same
    * (scope, batch): earlier files of THIS batch are replaced, other
    * batches' (and other runs') files are untouched. */
  def publishBatch(df: DataFrame, dir: String, scope: String, batchId: Long,
      partitionCols: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val (fs, target) = fileSystem(spark, dir)
    val staging = new Path(target, s".staging-$scope-b$batchId")
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    publishedFiles(spark, dir, scope, batchId).foreach(f => fs.delete(f, false))
    moveStaged(fs, staging, target)(i => s"part-$scope-b$batchId-$i.parquet")
    fs.delete(staging, true)
  }
}
