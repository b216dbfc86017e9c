package graft.operators

import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, Executors}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.{Failure, Try}

/** A20 + end-to-end batch ingest — the whole reference hot path (SURVEY
  * §3.1) as one batch call:
  *
  *   raw JSON → envelope (A2) → config broadcast-join routing (A3/A4) →
  *   control filter (A7) → per-config function chain (A20):
  *     "pii-detection" → payload masking (A21)
  *     "ingester"      → time-partitioned parquet lake write (A9-A17)
  *     "deltawriter"   → append-mode table write with schema merge (A23)
  *
  * The reference hops through Kafka + Flink StateFun between every stage
  * (6 process boundaries) and runs its functions in parallel; here the
  * chain is a fold of DataFrame transforms, and the sinks of one batch
  * run concurrently. Job shape of one batch: the routed batch is cached
  * and ONE job finds the (config, message type) pairs present (it also
  * fills the cache); then the quarantine write and one sink chain per
  * (config, type) run on a per-call pool. A chain infers its schema in
  * one job, shared by its sinks up to the next "pii-detection", and
  * writes each sink in one job ("deltawriter" adds the transaction-log
  * commit's own jobs): the ingest benchmark's batch (3 configs, 5
  * active types) runs 18 jobs.
  *
  * Chain semantics preserved: stages run in config order after dedup
  * (ingester.go:174-184, 1600-1650); each stage after the first receives
  * the (possibly transformed) payload, and sinks see the payload as it is
  * at their position in the chain (pii before ingester masks what lands
  * in the lake; after, only downstream stages see masked data). A
  * "pii-detection" stage invalidates the inferred schema, so the sinks
  * after it infer theirs from the masked payload.
  *
  * Delta divergence note: stock Spark ships no delta-core, so
  * "deltawriter" appends to a [[TxLogTable]] — the same append-only
  * table semantics (delta_writer.py:88-94) with a jar-free log.
  */
object IngestPipeline {

  final case class BatchResult(
      config: StreamConfig,
      tables: Seq[(String, String)],
      chain: Seq[String])

  private val ChainFunctions = Set("pii-detection", "ingester", "deltawriter")

  /** Run one batch of raw JSON documents through the full pipeline.
    * Results come in config order; each result's tables in chain (sink)
    * order, then in sorted message-type order. A chain naming an unknown
    * function is rejected before any sink writes.
    *
    * Failure contract: when a sink fails, every other sink still runs to
    * its end, then the first failure (quarantine first, then configs and
    * types in order) is rethrown with the later ones suppressed. With
    * `batchScope`, replaying the batch after the fault is fixed lands
    * each row exactly once.
    *
    * `batchScope = Some((scope, batchId))` makes EVERY sink in the fan-out
    * idempotent for that (scope, batch) — quarantine and lake files
    * publish with batch-scoped names that a replay replaces
    * ([[graft.streaming.BatchCommits.publishBatch]]), and the
    * transaction-logged delta appends carry a SetTransaction-style
    * `(appId, batchId)` identifier [[TxLogTable.append]] skips on replay.
    * This is what upgrades streaming ingest's sink→marker window from
    * at-least-once to exactly-once (A22). */
  def runBatch(
      spark: SparkSession,
      rawJson: DataFrame,
      jsonCol: String,
      configs: Seq[StreamConfig],
      destRoot: String,
      tsCol: Column = current_timestamp(),
      database: String = "rtdl",
      registerTables: Boolean = true,
      batchScope: Option[(String, Long)] = None): Seq[BatchResult] = {

    val chains = configs.filter(_.active).map(cfg => cfg -> StreamConfig.dedupChain(
      if (cfg.functions.nonEmpty) cfg.functions else Seq(Router.DefaultFunction)))
    chains.flatMap(_._2).find(f => !ChainFunctions(f)).foreach { f =>
      throw new IllegalArgumentException(s"unknown chain function '$f'")
    }

    val env = Envelope.project(rawJson, jsonCol)
    val allRouted = Envelope.filterControl(Router.route(spark, env, configs))
      .cache() // read by the quarantine and by every sink; unpersisted below
    try {
      val routed = Router.activeOnly(allRouted)
      // one job: the (config, type) pairs present, which also fills the
      // cache before any sink reads it
      val present = routed
        .select("cfg_stream_id", "cfg_stream_alt_id", "message_type_resolved")
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val plan = chains.map { case (cfg, chain) =>
        val types = present.collect {
          case (id, alt, mt) if id == cfg.streamId || cfg.streamAltId.nonEmpty && alt == cfg.streamAltId => mt
        }.distinct.sorted.toSeq
        (cfg, chain, types)
      }
      if (registerTables && chains.exists(_._2.contains("ingester")))
        LakeWriter.createDatabase(spark, database)

      // DLQ (improvement over the reference, which logs-and-drops —
      // ingester.go:1592-1597): unroutable messages (no config match —
      // including malformed JSON, whose envelope fields are all null — or
      // an inactive stream) land in a quarantine table with a reason.
      // Written unconditionally: one job, vs isEmpty plus the write job.
      val quarantine = () => {
        val quarantined = allRouted
          .filter(col("cfg_stream_id").isNull || col("cfg_active") =!= true)
          .select(col("payload"),
            when(col("cfg_stream_id").isNull, "no_matching_config")
              .otherwise("stream_inactive").as("reason"))
        batchScope match {
          case Some((scope, batchId)) =>
            graft.streaming.BatchCommits.publishBatch(
              quarantined, s"$destRoot/_quarantine", scope, batchId)
          case None =>
            quarantined.write.mode(SaveMode.Append).parquet(s"$destRoot/_quarantine")
        }
        Nil
      }

      // one sink chain per (config index, type); chains appending plainly
      // into one lake dir share a task, because concurrent appends into
      // one dir share the committer's _temporary dir
      val sinkChains = for (((_, _, types), c) <- plan.zipWithIndex; mt <- types) yield (c, mt)
      val tasks = sinkChains.groupBy { case (c, mt) =>
        val (cfg, chain, _) = plan(c)
        if (batchScope.isEmpty && chain.contains("ingester"))
          Left(s"$destRoot/${LakeWriter.folderOf(cfg)}/$mt")
        else Right((c, mt))
      }.values.toSeq.sortBy(g => sinkChains.indexOf(g.head))
      val tablesOf = runAll(spark, quarantine +: tasks.map(g => () => g.map { case (c, mt) =>
        val (cfg, chain, _) = plan(c)
        (c, mt) -> writeChain(spark, routed, cfg, chain, mt, destRoot, tsCol, database,
          registerTables, batchScope.map { case (s, b) => (configScope(s, cfg), b) })
      })).flatten.toMap

      plan.zipWithIndex.flatMap { case ((cfg, chain, types), c) =>
        val tables = chain.indices.flatMap(s =>
          types.flatMap(mt => tablesOf((c, mt)).collect { case (`s`, t) => t }))
        if (tables.isEmpty) None else Some(BatchResult(cfg, tables, chain))
      }
    } finally allRouted.unpersist()
  }

  /** The idempotency scope of one config's sinks. It must be unique PER
    * CONFIG, not just per (checkpoint, batch): two configs can resolve to
    * the same output path (shared folderName, or streamIds that sanitize
    * to the same ident), and a shared scope would make each config's
    * publishBatch delete-and-replace the other's files within the batch —
    * silent data loss the old plain Append never had. Hash the full
    * routing identity into the scope (stable across restarts, distinct
    * across configs). */
  private def configScope(scope: String, cfg: StreamConfig): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${cfg.streamId}|${cfg.streamAltId}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    s"$scope-$tag"
  }

  /** One config's chain over its messages of type `mt`: the schema is
    * inferred once and shared by the sinks up to the next
    * "pii-detection". Returns (chain position, (table, path)) per sink. */
  private def writeChain(
      spark: SparkSession,
      routed: DataFrame,
      cfg: StreamConfig,
      chain: Seq[String],
      mt: String,
      destRoot: String,
      tsCol: Column,
      database: String,
      registerTables: Boolean,
      batchScope: Option[(String, Long)]): Seq[(Int, (String, String))] = {
    var df = routed.filter(
      ((col("cfg_stream_id") === cfg.streamId) ||
        (lit(cfg.streamAltId) =!= "" && col("cfg_stream_alt_id") === cfg.streamAltId)) &&
        col("message_type_resolved") === mt)
    var schema: Option[StructType] = None
    def inferred: StructType = {
      if (schema.isEmpty) schema = Some(SchemaPolicy.inferColumn(spark, df, "payload"))
      schema.get
    }
    chain.zipWithIndex.flatMap {
      case ("pii-detection", _) =>
        df = PiiMask.maskColumn(df, "payload")
        schema = None
        None
      case ("ingester", s) =>
        Some(s -> LakeWriter.writeType(spark, df, inferred, cfg, mt, destRoot, tsCol,
          database, registerTables, batchScope = batchScope))
      case (_, s) =>
        Some(s -> appendDeltaStyle(spark, df, inferred, cfg, mt, destRoot, registerTables,
          batchScope))
    }
  }

  /** Run every task to its end — concurrently on a pool of
    * min(tasks, defaultParallelism) threads that carry the caller's
    * active session and local properties, or inline when there is one —
    * then rethrow the first failure in task order, later ones
    * suppressed. No pool thread outlives the call. */
  private def runAll[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(
        math.min(tasks.size, spark.sparkContext.defaultParallelism), { (r: Runnable) =>
          val t = new Thread(r, s"ingest-sink-${threads.size}")
          t.setDaemon(true)
          threads.add(t)
          t
        })
      try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val futures = tasks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t()))
        val outcomes = futures.map(f => Try(f.join()).recoverWith {
          case e: CompletionException if e.getCause != null => Failure(e.getCause)
        })
        outcomes.collect { case Failure(e) => e } match {
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
          case _ => outcomes.map(_.get)
        }
      } finally {
        pool.shutdown()
        threads.forEach(_.join())
      }
    }

  /** A23 — one message type's append-mode table, with db/table
    * resolution project_id > stream_alt_id > stream_id and type >
    * message_type (delta_writer.py:25-41); the payload parses with
    * `schema`. */
  private def appendDeltaStyle(
      spark: SparkSession,
      messages: DataFrame,
      schema: StructType,
      cfg: StreamConfig,
      mt: String,
      destRoot: String,
      registerTables: Boolean,
      batchScope: Option[(String, Long)]): (String, String) = {
    val dbName = LakeWriter.sanitizeIdent(
      if (cfg.streamAltId.nonEmpty) cfg.streamAltId else cfg.streamId)
    val flat = messages.select(from_json(col("payload"), schema).as("__p")).select(col("__p.*"))
    val path = s"$destRoot/_delta/$dbName/$mt"
    // transaction-logged append (TxLogTable): atomic versioned commits,
    // snapshot isolation, time travel — the ACID semantics the reference
    // gets from Delta (delta_writer.py:94), without delta jars. The txn
    // identifier scopes idempotency per streaming (checkpoint, batch):
    // a replayed batch's append is a no-op (SetTransaction contract).
    TxLogTable.append(spark, flat, path,
      txn = batchScope.map { case (s, b) =>
        (s"$s:${LakeWriter.sanitizeIdent(dbName)}/${LakeWriter.sanitizeIdent(mt)}", b) })
    // txlog tables are read through TxLogTable.read (snapshot resolution);
    // a plain parquet-location catalog entry can't express the log, so
    // registration is via a temp view over the committed snapshot
    val table = s"delta_${dbName}_${LakeWriter.sanitizeIdent(mt)}"
    if (registerTables) TxLogTable.read(spark, path).createOrReplaceTempView(table)
    (table, path)
  }

  /** A24 — read-back of an append table with schema drift merged;
    * transaction-logged tables resolve the committed snapshot. Log
    * detection goes through Hadoop FS so a table on `hdfs://`/`s3a://`
    * resolves its snapshot, not the driver's local disk. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, "_log")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) TxLogTable.read(spark, path)
    else spark.read.option("mergeSchema", true).parquet(path)
  }
}
