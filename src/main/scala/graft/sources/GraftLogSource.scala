package graft.sources

import graft.operators.TxLogTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Standard Spark DataSource over [[TxLogTable]] — the connector that
  * makes the ACID table a first-class citizen of `spark.read` and SQL:
  *
  * {{{
  * spark.read.format("graftlog").load(path)                      // head
  * spark.read.format("graftlog").option("versionAsOf", 2).load(path)
  * spark.read.format("graftlog").option("timestampAsOf", ts).load(path)
  * spark.sql("CREATE TEMPORARY VIEW t USING graftlog OPTIONS (path '…')")
  * }}}
  *
  * Registered as short name `graftlog` via the
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`
  * entry, exactly like Spark's own formats. Reads plan as Spark's OWN
  * `FileSourceScanExec` over a log-backed [[GraftLogFileIndex]] —
  * vectorized columnar parquet in whole-stage codegen, with the
  * planner's filters running through exact partition-value pruning and
  * the log-level min/max skipping inside `listFiles` (the delta
  * world's read architecture; see [[GraftLogRelation]]). Pruning is
  * advisory — the scan re-applies every predicate exactly, so skipping
  * can only drop provably-unmatching files, never change results.
  *
  * The delta world ships exactly this shape (a DataSource with
  * versionAsOf/timestampAsOf options); here it is a thin layer over
  * the existing snapshot/pruning machinery, no new read path. */
class GraftLogSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graftlog"

  /** STREAMING SINK — `df.writeStream.format("graftlog")
    * .option("checkpointLocation", …).start(path)`: every micro-batch
    * lands as ONE ACID commit stamped with
    * `SetTransaction(graftlog-sink:<queryId>, batchId)`, so a replayed
    * batch (crash between commit and the engine's offset checkpoint,
    * or a restart re-delivering the last batch) commits NOTHING — the
    * txn fast path returns before anything stages. `queryId` is the
    * StreamingQuery's durable id (stable across restarts from the same
    * checkpoint), which is exactly the replay axis batchIds live on.
    * Append mode appends; Complete mode atomically overwrites with the
    * batch's full result (one rebase commit per trigger, history
    * time-travelable — the table IS the query's materialized state);
    * Update is refused (the log has no in-place row channel; use
    * foreachBatch + mergeByKey for update semantics). CHECK
    * constraints gate every batch like any other commit. Partitioning
    * comes from `writeStream.partitionBy(…)` (V1 sinks DO receive it)
    * or the `partitionBy` option. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog needs a path — df.writeStream.format(\"graftlog\").start(path)"))
    import org.apache.spark.sql.streaming.OutputMode.{Append, Complete}
    require(outputMode == Append() || outputMode == Complete(),
      s"graftlog sink supports Append and Complete output modes, got " +
        s"$outputMode — for Update semantics drive mergeByKey from " +
        "foreachBatch")
    val parts =
      if (partitionColumns.nonEmpty) partitionColumns
      else opts.get("partitionby")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    new GraftLogStreamSink(sqlContext, path, parts,
      outputMode == Complete())
  }

  /** `option("maxBytesPerTrigger", "128m")` sizes — plain bytes or a
    * k/m/g suffix, Delta's spelling. */
  private[sources] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1024L)
      else if (t.endsWith("m")) (t.dropRight(1), 1024L * 1024)
      else if (t.endsWith("g")) (t.dropRight(1), 1024L * 1024 * 1024)
      else (t, 1L)
    (num.trim.toDouble * mult).toLong
  }

  private def streamOpts(parameters: Map[String, String])
      : (String, Long, Option[Long], Option[Long]) = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog needs a path — spark.readStream.format(\"graftlog\").load(path)"))
    val maxPer = opts.get("maxversionspertrigger").map(_.toLong)
    maxPer.foreach(m => require(m >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $m"))
    val maxBytes = opts.get("maxbytespertrigger").map(parseBytes)
    maxBytes.foreach(b => require(b >= 1,
      s"maxBytesPerTrigger must be >= 1 byte, got $b"))
    // startingTimestamp — Delta's wall-clock stream anchor: resolves
    // through the monotonized history to the EARLIEST version committed
    // at-or-after the timestamp (a future timestamp starts an initially
    // empty feed at head+1). Mutually exclusive with startingVersion.
    val byVersion = opts.get("startingversion").map(_.toLong)
    val byTs = opts.get("startingtimestamp")
      .map(s => TxLogTable.versionSince(path, GraftLogSource.tsMillis(s)))
    require(byVersion.isEmpty || byTs.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    (path, byVersion.orElse(byTs).getOrElse(0L), maxPer, maxBytes)
  }

  /** STREAMING over the commit log — `spark.readStream
    * .format("graftlog").load(path)`: the table's own change feed as a
    * Structured Streaming source (the delta world's `readChangeFeed`
    * stream). Offsets ARE commit versions, so the engine's offset
    * checkpointing gives exactly-once delivery of every commit's
    * per-version changes ([[TxLogTable.changesPerVersion]] rows:
    * table columns + `_change_type`/`_commit_version`/
    * `_commit_timestamp`) across restarts with zero source-side state.
    * `option("startingVersion", v)` starts the feed at commit v
    * (default 0 = the table's full history; the first batch delivers
    * the initial snapshot as per-commit inserts). The table must have
    * at least one commit when the stream starts (the schema comes from
    * the log). `option("maxVersionsPerTrigger", n)` bounds catch-up:
    * each micro-batch covers at most n commits, so a stream starting
    * against a thousand-commit history (or restarting after long
    * downtime) drains in bounded batches instead of one unbounded one
    * — the delta world's `maxFilesPerTrigger` admission control, on
    * the commit axis. `option("maxBytesPerTrigger", "128m")` bounds
    * catch-up by LOG-RECORDED bytes instead (Delta's other admission
    * knob): each batch admits versions until their entry-priced sizes
    * would exceed the budget, always at least one — so a catch-up over
    * ten fat commits and one over ten thin ones need no per-table
    * version-count tuning. Both knobs compose (the stricter wins). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (path, _, _, _) = streamOpts(parameters)
    (shortName(), GraftLogStreamSource.feedSchema(sqlContext, path))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, startingVersion, maxPerTrigger, maxBytes) =
      streamOpts(parameters)
    new GraftLogStreamSource(sqlContext, path, startingVersion,
      maxPerTrigger, maxBytes)
  }

  /** The write side — `df.write.format("graftlog").mode(…).save(path)`
    * mapping SaveMode onto the log's commit forms: Append → ACID
    * [[TxLogTable.append]]; Overwrite → atomic [[TxLogTable.overwrite]]
    * (one rebase commit, history intact); ErrorIfExists → append only
    * into an empty table; Ignore → no-op when the table has a version.
    * `option("partitionBy", "a,b")` routes to hive-partitioned
    * commits (`DataFrameWriter.partitionBy` is not forwarded to V1
    * sources, hence the option). CHECK constraints and SetTransaction
    * semantics apply unchanged — this is the same commit path every
    * other writer uses, behind the standard API. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog needs a path — df.write.format(\"graftlog\").save(path)"))
    val parts = opts.get("partitionby")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val spark = sqlContext.sparkSession
    // ONE existence read; the returned relation pins the version the
    // commit path itself returned (or that same read, for the no-write
    // modes) — never a second currentVersion that a concurrent writer
    // could have advanced past this write's commit
    val v0 = TxLogTable.currentVersion(path)
    val v = mode match {
      case Append => TxLogTable.append(spark, data, path, partitionBy = parts)
      case Overwrite =>
        TxLogTable.overwrite(spark, data, path, partitionBy = parts)
      case ErrorIfExists =>
        if (v0 >= 0) throw new IllegalStateException(
          s"graftlog table at $path already has commits (ErrorIfExists)")
        else TxLogTable.append(spark, data, path, partitionBy = parts)
      case Ignore =>
        if (v0 < 0) TxLogTable.append(spark, data, path, partitionBy = parts)
        else v0
    }
    GraftLogRelation(sqlContext, path, Some(v))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    // DataFrameReader hands a CaseInsensitiveMap, but SQL `USING …
    // OPTIONS` paths may not — normalize ourselves
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog needs a path — spark.read.format(\"graftlog\").load(path)"))
    // BATCH CHANGE FEED (the delta `readChangeFeed` read option):
    // one row per changed row per commit in [startingVersion,
    // endingVersion] (inclusive both ends, delta's contract), tagged
    // _change_type/_commit_version/_commit_timestamp — served by the
    // existing per-version feed, whose file-level pruning scans only
    // each commit's touched files
    if (opts.get("readchangefeed").exists(_.equalsIgnoreCase("true"))) {
      // version bounds first; timestamp bounds resolve through the
      // monotonized history (start: earliest at-or-after; end: latest
      // at-or-before — Delta's boundary contract)
      require(opts.get("startingversion").isEmpty ||
        opts.get("startingtimestamp").isEmpty,
        "startingVersion and startingTimestamp are mutually exclusive")
      require(opts.get("endingversion").isEmpty ||
        opts.get("endingtimestamp").isEmpty,
        "endingVersion and endingTimestamp are mutually exclusive")
      val start = opts.get("startingversion").map(_.toLong)
        .orElse(opts.get("startingtimestamp").map(s =>
          TxLogTable.versionSince(path, GraftLogSource.tsMillis(s))))
        .getOrElse(0L)
      val end = opts.get("endingversion").map(_.toLong)
        .orElse(opts.get("endingtimestamp").map(s =>
          TxLogTable.versionAsOf(path, GraftLogSource.tsMillis(s))))
        .getOrElse(TxLogTable.currentVersion(path))
      require(start >= 0 && start <= end,
        s"readChangeFeed range [$start, $end] is empty or negative")
      return new GraftChangeFeedRelation(sqlContext, path, start, end)
    }
    val byVersion = opts.get("versionasof").map(_.toLong)
    val byTs = opts.get("timestampasof").map(_.toLong)
    require(byVersion.isEmpty || byTs.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val pinned = byVersion.orElse(byTs.map(TxLogTable.versionAsOf(path, _)))
    require(pinned.getOrElse(TxLogTable.currentVersion(path)) >= 0,
      s"no committed version at $path")
    // time travel pins; a head read stays LIVE (each scan resolves the
    // then-current version), so a `CREATE TEMPORARY VIEW … USING
    // graftlog` sees commits — including its own `INSERT INTO` — made
    // after the view was created
    GraftLogRelation(sqlContext, path, pinned)
  }
}

object GraftLogSource {
  /** Timestamp option literal → epoch millis: a bare integer is millis,
    * otherwise 'yyyy-MM-dd[ HH:mm:ss]' read as UTC (the same session-
    * independent anchor the log's commit timestamps and the SQL
    * time-travel literals use). */
  private[sources] def tsMillis(s: String): Long =
    if (s.matches("\\d+")) s.toLong
    else {
      val t = if (s.contains(" ") || s.contains("T"))
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      else java.time.LocalDate.parse(s).atStartOfDay()
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
}

object GraftLogStreamSource {
  /** The V1-connector hop shared by the stream source (needs
    * `isStreaming = true` on the frame it hands the engine) and the
    * stream sink (needs `isStreaming = false` on the micro-batch it
    * hands the ACID writer): the one constructor that sets the flag
    * (`internalCreateDataFrame`, the FileStreamSource /
    * ForeachBatchSink path) is `private[sql]` — reached through the
    * compile-time-checked [[org.apache.spark.sql.graftshim
    * .GraftSqlShim]] (the delta-style namespace shim; it replaced the
    * reflective `getMethod` hop, so Spark upgrades break at compile
    * time, not runtime). */
  private[sources] def internalDf(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType, isStreaming: Boolean)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.GraftSqlShim
      .internalDf(spark, rows, schema, isStreaming)

  /** Table columns (as of the current head) + the change-feed metadata
    * triple, in [[graft.operators.TxLogTable.changesPerVersion]]'s
    * column order. */
  private[sources] def feedSchema(sqlContext: SQLContext,
      path: String): StructType = {
    val head = TxLogTable.currentVersion(path)
    require(head >= 0,
      s"graftlog stream needs a committed table at $path (the schema " +
        "comes from the log)")
    TxLogTable.snapshotSchema(sqlContext.sparkSession, path, head)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
  }
}

/** V1 streaming Source whose offset axis IS the commit-log version:
  * `getOffset` reports the head — clamped to `maxVersionsPerTrigger`
  * commits past the last batch boundary when set — and
  * `getBatch(start, end)` is one file-pruned
  * [[TxLogTable.changesPerVersion]] over `(start, end]`.
  * No DURABLE source-side state — restart recovery is entirely the
  * engine's checkpointed offsets, and a replayed batch re-reads the
  * identical commit range (the log is immutable), so delivery is
  * exactly-once into any idempotent sink. The admission-control clamp
  * only needs the in-memory high-water mark of batch ranges this
  * incarnation has SEEN (`seenEnd`, re-primed on restart by the
  * engine's recovery `getBatch` of the checkpointed range before the
  * first `getOffset`), so throttling never risks re-reporting an
  * offset below the checkpoint. */
class GraftLogStreamSource(sqlContext: SQLContext, path: String,
    startingVersion: Long, maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override val schema: StructType =
    GraftLogStreamSource.feedSchema(sqlContext, path)

  /** Highest batch-range bound this source incarnation has handed to
    * the engine — the admission-control base. NOT durable state: a
    * fresh start begins at `startingVersion - 1`, and on restart the
    * engine's recovery call to [[getBatch]] with the checkpointed
    * range re-primes it before the next [[getOffset]]. */
  @volatile private var seenEnd: Long = startingVersion - 1L

  private def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    // restart path: the engine replays checkpointed offsets as their
    // serialized JSON form
    case other => other.json.trim.toLong
  }

  /** Per-version byte prices, cached forever — a committed entry is
    * immutable, and without the cache a long catch-up would re-read
    * the whole backlog's entries on EVERY trigger (O(backlog²)). */
  private val versionBytes =
    new scala.collection.concurrent.TrieMap[Long, Long]()
  private def bytesOf(v: Long): Long =
    versionBytes.getOrElseUpdate(v, TxLogTable.commitBytes(path, v))

  override def getOffset: Option[OffsetV1] = {
    val head = TxLogTable.currentVersion(path)
    if (head < startingVersion) None
    else {
      // version-count clamp first (cheap), then the byte budget walks
      // version prices until spent — Delta's maxBytesPerTrigger on the
      // commit axis. Admission ALWAYS advances at least one version
      // past seenEnd (a single commit fatter than the budget gets a
      // batch of its own instead of stalling the stream).
      val byCount = maxVersionsPerTrigger match {
        case Some(m) => math.min(head, seenEnd + m)
        case None => head
      }
      val end = maxBytesPerTrigger match {
        case None => byCount
        case Some(budget) =>
          var e = seenEnd
          var spent = 0L
          var done = false
          while (!done && e < byCount) {
            val b = bytesOf(e + 1)
            if (e > seenEnd && spent + b > budget) done = true
            else { spent += b; e += 1 }
          }
          math.max(e, math.min(byCount, seenEnd + 1))
      }
      Some(LongOffset(end))
    }
  }

  override def getBatch(start: Option[OffsetV1],
      end: OffsetV1): org.apache.spark.sql.DataFrame = {
    val spark = sqlContext.sparkSession
    val from = start.map(versionOf).getOrElse(startingVersion - 1L)
    val to = versionOf(end)
    // track BOTH bounds: the engine's recovery getBatch replays the
    // checkpointed range before the first post-restart getOffset (the
    // documented V1 contract — "certain sources assume on restart the
    // last batch will be executed before getOffset is called again"),
    // and taking the max of either bound keeps the clamp monotonic
    // even against an engine that skipped it
    seenEnd = math.max(seenEnd, math.max(from, to))
    val rows =
      if (to <= from)
        spark.sparkContext
          .emptyRDD[org.apache.spark.sql.catalyst.InternalRow]
      else {
        val feed = TxLogTable.changesPerVersion(spark, path, from, to)
        // schema contract: the feed schema pins at stream START. A
        // column the range's commits never carried (the table narrowed
        // before the stream began) null-pads; but a column the TABLE
        // gained mid-stream must fail LOUDLY — silently projecting it
        // away would lose data with no signal (the reference CDF
        // stream fails on schema change too). Restart picks up the
        // widened schema from the log.
        val gained = feed.columns.filterNot(c =>
          schema.fieldNames.contains(c))
        if (gained.nonEmpty) throw new IllegalStateException(
          s"graftlog stream at $path: commits (${from + 1}, $to] carry " +
            s"column(s) ${gained.mkString(", ")} absent from the schema " +
            "pinned at stream start — restart the stream to pick up the " +
            "widened schema (failing loudly instead of silently dropping " +
            "the new column's data)")
        feed.select(schema.fields.toSeq.map { f =>
          if (feed.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*).queryExecution.toRdd
      }
    // the engine asserts isStreaming on the returned frame
    GraftLogStreamSource.internalDf(spark, rows, schema,
      isStreaming = true)
  }

  override def stop(): Unit = ()
}

/** V1 streaming Sink over the commit log (see
  * [[GraftLogSource.createSink]]): one ACID commit per micro-batch,
  * exactly-once via `SetTransaction(graftlog-sink:<queryId>, batchId)`
  * — batchIds are the engine's replay axis and the queryId is durable
  * in the checkpoint, so a re-delivered batch hits the txn fast path
  * and commits nothing. No sink-side state of any kind. */
class GraftLogStreamSink(sqlContext: SQLContext, path: String,
    partitionBy: Seq[String], complete: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = sqlContext.sparkSession
    // the engine sets the query's DURABLE id as a local property for
    // exactly the lifetime of addBatch (the standard V1-sink
    // idempotency key — checkpoint-stable, unlike runId)
    val queryId = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    require(queryId != null,
      "graftlog sink must run inside a streaming query (no " +
        "sql.streaming.queryId local property)")
    val txn = Some((s"graftlog-sink:$queryId", batchId))
    // the incoming frame is the engine's incremental plan (flagged
    // isStreaming); re-root its physical rows as an ordinary batch
    // frame for the commit path
    val batch = GraftLogStreamSource.internalDf(spark,
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    if (complete)
      TxLogTable.overwrite(spark, batch, path, txn = txn,
        partitionBy = partitionBy)
    else
      TxLogTable.append(spark, batch, path, txn = txn,
        partitionBy = partitionBy)
  }

  override def toString: String = s"GraftLogStreamSink[$path]"
}

/** Factory for the batch relation. The DEFAULT shape is Delta's read
  * architecture: a [[org.apache.spark.sql.execution.datasources
  * .HadoopFsRelation]] over a log-backed [[GraftLogFileIndex]], so the
  * physical scan is Spark's own `FileSourceScanExec` — VECTORIZED
  * columnar parquet inside whole-stage codegen, parquet footer
  * pushdown, column pruning — with the commit log answering the file
  * listing and the log-level stats skipping running inside
  * `listFiles`. No per-row `Row` conversion anywhere (the cost the V1
  * `PrunedFilteredScan` shape paid on every row).
  *
  * Tables whose snapshot mixes hive-partition LAYOUTS (partition
  * evolution: some files carry a column in their path, others carry it
  * in-file) fall back to [[GraftLogRowRelation]] — a single
  * `HadoopFsRelation` declares ONE partition schema, and reading an
  * in-file column as a path constant would corrupt the mixed case.
  * Same semantics, row-at-a-time cost; compaction normalizes the
  * layout and the next view creation takes the fast path. */
object GraftLogRelation {
  /** (path, version) → merged snapshot schema. A committed version's
    * schema is IMMUTABLE (the log never rewrites history), so caching
    * is safe and kills the dominant fixed cost of relation creation —
    * the mergeSchema footer sweep — for every re-read of a version
    * this process has already resolved. Size-capped defensively. */
  private val schemaCache = new scala.collection.concurrent.TrieMap[
    (String, Long), StructType]()

  private def snapshotSchema(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long): StructType = {
    if (schemaCache.size > 1024) schemaCache.clear()
    // the log-recorded schema first (one small JSON read — the commit
    // entry is Delta's metaData action here), so a FRESH relation over
    // an N-file table resolves its schema in O(1) FS metadata calls;
    // the mergeSchema footer sweep remains the fallback for versions
    // whose committing entry recorded none (pre-schema logs, first
    // append to a partitioned layout)
    schemaCache.getOrElseUpdate((path, v),
      TxLogTable.snapshotSchema(spark, path, v))
  }

  def apply(sqlContext: SQLContext, path: String,
      pinned: Option[Long]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val v = pinned.getOrElse(TxLogTable.currentVersion(path))
    val files = TxLogTable.snapshotFiles(path, v)
    val keySets = files.map(f => TxLogTable.partitionValuesOf(f).map(_._1))
    if (files.isEmpty || keySets.distinct.size > 1)
      new GraftLogRowRelation(sqlContext, path, pinned)
    else {
      val full = snapshotSchema(spark, path, v)
      val partKeys = keySets.head
      val partSchema = StructType(partKeys.map(k => full(k)))
      val dataSchema = StructType(
        full.fields.filterNot(f => partKeys.contains(f.name)))
      new GraftLogRelation(spark, path, pinned,
        new GraftLogFileIndex(spark, path, pinned, partSchema),
        partSchema, dataSchema)
    }
  }

  /** The shared ACID insert — `INSERT INTO t SELECT …` /
    * `INSERT OVERWRITE t …` on the SQL view, routed to the SAME commit
    * path every other writer uses (CHECK constraints gate, a
    * constraint abort stages nothing, the pre-insert version stays
    * time-travelable). Only a live head view accepts inserts: writing
    * "into" a pinned time-travel snapshot would silently target a
    * different version than the reader sees. */
  private[sources] def acidInsert(spark: org.apache.spark.sql.SparkSession,
      path: String, pinned: Option[Long],
      data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    require(pinned.isEmpty,
      s"cannot INSERT into a time-travel graftlog view (pinned at " +
        s"version ${pinned.get} of $path) — create a head view instead")
    if (overwrite) TxLogTable.overwrite(spark, data, path)
    else TxLogTable.append(spark, data, path)
  }
}

/** The vectorized relation (see [[GraftLogRelation.apply]]). Extends
  * `HadoopFsRelation` so the planner's `FileSourceStrategy` owns the
  * physical scan, AND `InsertableRelation` so SQL `INSERT INTO` still
  * routes to the ACID commit path — the analyzer checks
  * `InsertableRelation` BEFORE `HadoopFsRelation`
  * (`DataSourceAnalysis`), so the file-write command that would bypass
  * the log is never chosen. The SCHEMA pins at relation creation
  * (Spark resolves plans against it once); the FILE LISTING of a head
  * relation stays live through the index. */
class GraftLogRelation(spark: org.apache.spark.sql.SparkSession,
    val path: String, val pinned: Option[Long],
    index: GraftLogFileIndex, partSchema: StructType,
    dataSchema0: StructType)
    extends org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partSchema, dataSchema0, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat(),
      Map.empty)(spark)
    with InsertableRelation {

  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit =
    GraftLogRelation.acidInsert(spark, path, pinned, data, overwrite)
}

/** The row-at-a-time fallback relation (mixed hive-partition layouts,
  * empty snapshots). `pinned = Some(v)` is a time-travel snapshot;
  * `None` is a LIVE head relation — every scan resolves the version
  * current at scan time, so a long-lived temp view tracks the table.
  * The SCHEMA still pins at relation creation (Spark resolves plans
  * against it once); appends never change it, and a widening overwrite
  * warrants recreating the view. */
/** Batch CHANGE-FEED relation (the delta `readChangeFeed` option):
  * [[TxLogTable.changesPerVersion]] over [start, end] INCLUSIVE both
  * ends — delta's startingVersion contract (the per-version feed's
  * half-open (from, to] range shifts by one). Read-only: a change feed
  * is a view of history, not an insert target. */
class GraftChangeFeedRelation(val sqlContext: SQLContext,
    val path: String, start: Long, end: Long)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {

  private def feed: org.apache.spark.sql.DataFrame =
    TxLogTable.changesPerVersion(sqlContext.sparkSession, path,
      start - 1, end)

  override val schema: StructType = feed.schema

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    feed.rdd
}

class GraftLogRowRelation(val sqlContext: SQLContext, val path: String,
    val pinned: Option[Long])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def snapshotVersion: Long =
    pinned.getOrElse(TxLogTable.currentVersion(path))

  override val schema: StructType =
    TxLogTable.readVersion(sqlContext.sparkSession, path, snapshotVersion)
      .schema

  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit =
    GraftLogRelation.acidInsert(sqlContext.sparkSession, path, pinned,
      data, overwrite)

  /** Translate Catalyst's pushed [[Filter]]s into a Column predicate
    * for the stats-pruning pass. Partial by design: an untranslatable
    * filter contributes no pruning (conservative — the file set only
    * ever shrinks on provable exclusion, and Spark re-applies every
    * filter exactly because [[unhandledFilters]] keeps them all). */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) if vs.nonEmpty =>
      Some(vs.map(v => col(a) === lit(v)).reduce(_ || _))
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case And(l, r) => (toColumn(l), toColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (one, other) => one.orElse(other) // partial AND still prunes
    }
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case _ => None // IsNull/Not/… — no stats story, scan those files
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // pruning is advisory; Spark re-applies everything exactly

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    val v = snapshotVersion
    val base = filters.flatMap(toColumn).reduceOption(_ && _) match {
      case Some(pred) => TxLogTable.readWhere(spark, path, pred, Some(v))
      case None => TxLogTable.readVersion(spark, path, v)
    }
    base.select(requiredColumns.map(col).toSeq: _*).rdd
  }
}
