package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

import TxLogFormat.quote

/** Delta-protocol mirror of a [[TxLogTable]] log — the external-reader
  * interop the reference gets by writing real Delta tables
  * (delta_writer.py:88-94). Every graft commit also publishes a
  * conformant `_delta_log/<v 0-padded>.json` of newline-delimited JSON
  * actions (protocol / metaData / add / remove per the public Delta
  * PROTOCOL.md), plus a single-file parquet checkpoint and
  * `_last_checkpoint` hint every [[TxLogTable.CheckpointInterval]]
  * commits — so an external engine with a Delta reader (Spark+delta,
  * Trino, DuckDB delta extension, delta-rs) can consume graft tables
  * without graft. No delta jar is needed to WRITE the protocol's JSON;
  * none exists in this environment (README round notes), which is
  * exactly why the mirror is hand-rolled and spec-verified against the
  * protocol's replay rules rather than a reader jar.
  *
  * Like the native log, ALL mirror I/O resolves through Hadoop's
  * FileSystem API — the `_delta_log` lives on whatever store backs the
  * table (`file:`, `hdfs://`, `s3a://`), which is precisely where an
  * external engine would look for it.
  *
  * The native `_log` stays the source of truth: the mirror is written
  * AFTER the native commit wins its version, through the same
  * [[CommitPoint]] primitive (the name is unique once the native race
  * is decided, so the put never loses). A crash between the two leaves
  * the mirror one version behind — [[sync]] is the idempotent backfill
  * that re-derives any missing mirror entries from the native log.
  */
object DeltaInterop {

  private def deltaDir(root: HPath): HPath = new HPath(root, "_delta_log")
  private def pad(v: Long): String = f"$v%020d"

  /** Stable table GUID: Delta's metaData.id identifies the table across
    * versions, so it must not change per commit — derived from the
    * fully-qualified table path. */
  private def tableId(fs: FileSystem, root: HPath): String =
    java.util.UUID.nameUUIDFromBytes(
      fs.makeQualified(root).toString.getBytes("UTF-8")).toString

  private def protocolAction: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  // ---- mirror disablement (deletion vectors) ----

  private def disabledMarker(root: HPath): HPath =
    new HPath(root, "_delta_log_disabled")

  private[operators] def isDisabled(fs: FileSystem, root: HPath): Boolean =
    fs.exists(disabledMarker(root))

  /** Permanently disable the Delta mirror for a table and REMOVE the
    * existing `_delta_log` — called by [[TxLogTable.deleteWhereDv]]:
    * the hand-rolled mirror speaks base JSON actions only, and a
    * deletion-vector commit it cannot express would leave external
    * readers a snapshot that RESURRECTS deleted rows (silent wrong
    * answers, the worst interop failure). Real Delta gates DV tables
    * behind a reader table feature for exactly this reason. The marker
    * file records why; [[mirror]]/[[sync]] check it and skip. */
  private[operators] def disable(path: String, reason: String): Unit = {
    val (fs, root) = TxLogTable.fsFor(path)
    try {
      if (!fs.exists(disabledMarker(root))) {
        val out = fs.create(disabledMarker(root), false)
        try out.write(
          (s"The Delta-protocol mirror of this graft table is disabled.\n" +
            s"Reason: $reason\n").getBytes("UTF-8"))
        finally out.close()
      }
      fs.delete(deltaDir(root), true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] failed to disable the delta mirror for $path: $e")
    }
  }

  private def metaDataAction(fs: FileSystem, root: HPath, schemaJson: String,
      ts: Long): String =
    s"""{"metaData":{"id":"${tableId(fs, root)}","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${quote(schemaJson)},"partitionColumns":[],""" +
      s""""configuration":{},"createdTime":$ts}}"""

  /** Physical size of a data file, None when it no longer exists (a
    * sync backfill of a version whose files were compacted/vacuumed
    * away) — a fabricated size of 0 would make strict readers reject
    * the add, so the caller skips and flags instead. */
  private def sizeOf(fs: FileSystem, root: HPath, file: String): Option[Long] =
    try Some(fs.getFileStatus(new HPath(root, file)).getLen)
    catch { case _: java.io.FileNotFoundException => None }

  private def addAction(file: String, size: Long, ts: Long): String =
    s"""{"add":{"path":${quote(file)},"partitionValues":{},"size":$size,""" +
      s""""modificationTime":$ts,"dataChange":true}}"""

  private def removeAction(file: String, ts: Long): String =
    s"""{"remove":{"path":${quote(file)},"deletionTimestamp":$ts,"dataChange":true}}"""

  /** Publish the Delta mirror entry for native version `v`. Called by
    * [[TxLogTable.append]]/[[TxLogTable.compact]] after the native
    * commit; idempotent (putIfAbsent on the padded name) and
    * BEST-EFFORT: the native commit has already succeeded, so a mirror
    * failure must not fail the append — a thrown append would make the
    * caller retry a commit that landed, duplicating data. A missed
    * mirror entry is exactly the [[sync]] backfill case. */
  private[operators] def mirror(spark: SparkSession, path: String, v: Long,
      added: Seq[String], removed: Seq[String], schemaJson: String,
      cp: CommitPoint, txn: Option[(String, Long)] = None,
      sizes: Map[String, Long] = Map.empty): Unit =
    try {
      val (fs, root) = TxLogTable.fsFor(path)
      if (isDisabled(fs, root)) return // deletion-vector table: no mirror
      // Delta readers require CONTIGUOUS versions: if an earlier mirror
      // write crashed, the hole would block replay past it forever —
      // heal any missing predecessors before publishing v
      if (v > 0 && !fs.exists(new HPath(deltaDir(root), s"${pad(v - 1)}.json")))
        sync(spark, path, cp, upTo = v - 1)
      mirrorOrThrow(spark, path, v, added, removed, schemaJson, cp, txn,
        sizes)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] delta mirror for $path v$v failed (native commit is " +
            s"intact; run DeltaInterop.sync to backfill): $e")
    }

  private def mirrorOrThrow(spark: SparkSession, path: String, v: Long,
      added: Seq[String], removed: Seq[String], schemaJson: String,
      cp: CommitPoint, txn: Option[(String, Long)] = None,
      sizes: Map[String, Long] = Map.empty): Unit = {
    val (fs, root) = TxLogTable.fsFor(path)
    fs.mkdirs(deltaDir(root))
    val ts = System.currentTimeMillis()
    val op = if (removed.nonEmpty) "COMPACT" else "WRITE"
    val actions = Seq.newBuilder[String]
    actions += s"""{"commitInfo":{"timestamp":$ts,"operation":"$op","engineInfo":"graft"}}"""
    if (v == 0) actions += protocolAction
    // the idempotent-append identifier, as the protocol's SetTransaction —
    // external delta writers resuming this appId see the same watermark
    txn.foreach { case (app, tv) =>
      actions += s"""{"txn":{"appId":${quote(app)},"version":$tv}}"""
    }
    // one metaData per commit keeps the latest schema authoritative
    // (legal per the protocol: at most one metaData action per version)
    actions += metaDataAction(fs, root, schemaJson, ts)
    removed.foreach(f => actions += removeAction(f, ts))
    added.foreach { f =>
      // committer-recorded size first (the staging listStatus already
      // measured it); one getFileStatus only on the sync/backfill path
      // where no fresh staging exists
      sizes.get(f).orElse(sizeOf(fs, root, f)) match {
        case Some(size) => actions += addAction(f, size, ts)
        case None =>
          // backfilling a version whose file was compacted/vacuumed away:
          // the add would declare a size readers can't trust — skip it
          // (the file is unreadable regardless; final-state replay is
          // unchanged because the rebase removed it) and say so
          System.err.println(
            s"[graft] delta mirror for $path v$v: data file $f no longer " +
              "exists (compacted/vacuumed); its add action is omitted")
      }
    }
    cp.putIfAbsent(fs, deltaDir(root), s"${pad(v)}.json",
      actions.result().mkString("\n"))
    if (v > 0 && v % TxLogTable.CheckpointInterval == 0)
      // hint only; readers replay JSON — and write failures surface as
      // SparkException, not just IOException, so catch NonFatal
      try writeCheckpoint(spark, path, v, schemaJson)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Idempotent backfill: publish a mirror entry for every native
    * version that lacks one (e.g. after a crash between the native
    * commit and its mirror write, or to retrofit a pre-mirror table). */
  def sync(spark: SparkSession, path: String,
      cp: CommitPoint = CommitPoint.Auto,
      upTo: Long = Long.MaxValue): Seq[Long] = {
    val (fs, root) = TxLogTable.fsFor(path)
    if (isDisabled(fs, root)) return Seq.empty // deletion-vector table
    val d = deltaDir(root)
    val present: Set[Long] =
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).iterator.map(_.getPath.getName)
        .filter(n => n.endsWith(".json") && !n.startsWith("_") &&
          !n.startsWith(".") && !n.endsWith(".checkpoint.json"))
        .map(_.stripSuffix(".json").toLong).toSet
    val missing = TxLogTable.allVersions(path)
      .filter(_ <= upTo).filterNot(present)
    missing.foreach { v =>
      val entry = TxLogTable.entryAt(path, v)
      val removed =
        if (entry.rebase) TxLogTable.filesAt(path, v - 1) else Seq.empty[String]
      val schemaJson =
        try TxLogTable.readVersion(spark, path, v).schema.json
        catch {
          case scala.util.control.NonFatal(_) =>
            // the version's files were vacuumed — its exact schema went
            // with them; use the current snapshot's (where readers land)
            TxLogTable.read(spark, path).schema.json
        }
      // the throwing variant: a backfill is explicitly asked for, so a
      // failure must surface, unlike the best-effort per-commit mirror
      mirrorOrThrow(spark, path, v, entry.paths, removed, schemaJson, cp,
        entry.txn)
    }
    missing
  }

  // ---- checkpoint parquet (single file + _last_checkpoint hint) ----

  private val checkpointSchema = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType))))))

  private def writeCheckpoint(spark: SparkSession, path: String, v: Long,
      schemaJson: String): Unit = {
    val (fs, root) = TxLogTable.fsFor(path)
    val ts = System.currentTimeMillis()
    val files = TxLogTable.filesAt(path, v)
    // latest SetTransaction watermark per appId survives checkpointing,
    // exactly as the protocol requires (a reader starting from the
    // checkpoint must still see every writer's progress)
    val txnRows: Seq[Row] = TxLogTable.txnsAt(path, v).toSeq.sorted.map {
      case (app, tv) => Row(Row(app, tv), null, null, null, null)
    }
    val rows: Seq[Row] =
      Row(null, null, null, null, Row(1, 2)) +:
      Row(null, null, null,
        Row(tableId(fs, root), Row("parquet", Map.empty[String, String]),
          schemaJson, Seq.empty[String], Map.empty[String, String], ts),
        null) +:
      (txnRows ++
      files.flatMap { f =>
        sizeOf(fs, root, f).map { size =>
          Row(null, Row(f, Map.empty[String, String], size, ts, true),
            null, null, null)
        }
      })
    val df = spark.createDataFrame(rows.asJava, checkpointSchema).coalesce(1)
    // Spark writes a directory; the protocol names a single FILE —
    // stage, then move the lone part file to <v>.checkpoint.parquet
    val staging = new HPath(deltaDir(root),
      s".ckpt-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.parquet(staging.toString)
    try {
      val part = fs.listStatus(staging).iterator
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new java.io.IOException("no checkpoint part file"))
      val target = new HPath(deltaDir(root), s"${pad(v)}.checkpoint.parquet")
      if (fs.exists(target)) fs.delete(target, false) // advisory; last writer wins
      if (!fs.rename(part, target))
        throw new java.io.IOException(s"checkpoint rename failed: $part -> $target")
    } finally fs.delete(staging, true)
    // the hint is overwrite-in-place by protocol (it's advisory)
    val out = fs.create(new HPath(deltaDir(root), "_last_checkpoint"), true)
    try out.write(s"""{"version":$v,"size":${rows.length}}""".getBytes("UTF-8"))
    finally out.close()
  }
}
