package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Train/test contamination detection (decontamination): find evaluation
  * documents whose content overlaps training documents — the check every
  * LLM training pipeline runs before a split ships, and the reason
  * winnowing fingerprints ([[TextAnalysis.winnow]], Schleimer et al.
  * SIGMOD'03) exist in this engine: matching fingerprint sets detect
  * shared passages, not just whole-document duplicates.
  *
  * Dataflow at 100 TB: documents collapse to narrow (fingerprint,
  * doc_id, split) rows the moment winnowing runs — text never shuffles
  * (input splits parallelize the winnowing pass; `minParallelism`
  * ([[Spread]]) is the local few-files escape hatch);
  * boilerplate fingerprints are df-pruned (a fingerprint present in
  * > `maxDf` documents — headers, licenses — generates |df|² candidate
  * pairs and no signal, the same pruning as n-gram Jaccard dedup); the
  * test↔train match is an inverted-index equi-join on the fingerprint,
  * so candidate pairs are |posting list|², never |test|·|train|; pair
  * aggregation and the per-test-doc rollup shuffle only (id, id, count)
  * rows.
  */
object Contamination {

  /** The winnowing pass, hash-selectable: `rollingHash = false` hashes
    * every k-gram with the md5-derived h60 (collision-negligible, the
    * q63 contract); `true` routes through the codegen'd O(n) Rabin-Karp
    * recurrence ([[graft.functions.RollingFingerprint]]) — one
    * multiply-add per character instead of one md5 per position, ~4×
    * cheaper on corpus-scale text, still engine-replayable (the q64/q65
    * polynomial), at the cost of a 10^9 hash space whose rare collisions
    * only add noise fingerprints (winnowing tolerates them by design).
    */
  private def winnowed(spark: org.apache.spark.sql.SparkSession,
      textCol: org.apache.spark.sql.Column, k: Int, w: Int,
      rollingHash: Boolean): org.apache.spark.sql.Column =
    if (rollingHash) {
      graft.functions.RollingFingerprint.register(spark)
      TextAnalysis.winnowRolling(textCol, k, w)
    } else TextAnalysis.winnow(textCol, k, w)

  /** Per-test-document contamination summary.
    *
    * `df` must carry `splitCol` (e.g. from [[Sampling.split]]). Returns
    * one row per test document sharing ≥ `minShared` winnowing
    * fingerprints with ≥ 1 train document: (test_id, n_train_docs,
    * max_shared, sum_shared). A clean split returns zero rows.
    */
  def detect(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, trainName: String = "train", testName: String = "test",
      minShared: Int = 2, maxDf: Int = 50, k: Int = 8, w: Int = 4,
      index: IndexStore = IndexStore.default,
      minParallelism: Int = 0, rollingHash: Boolean = false): DataFrame =
    pairs(df, idCol, textCol, splitCol, trainName, testName, minShared,
      maxDf, k, w, index, minParallelism, rollingHash)
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_train_docs"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("sum_shared"))

  /** Contaminated (test, train) pairs — the edge-level view [[detect]]
    * rolls up, and what the decontamination ACTION consumes: the
    * distinct `train_id`s are exactly the training documents to drop
    * before export (q109). One row per pair sharing ≥ `minShared`
    * pruned winnowing fingerprints: (test_id, train_id, shared). */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, trainName: String = "train", testName: String = "test",
      minShared: Int = 2, maxDf: Int = 50, k: Int = 8, w: Int = 4,
      index: IndexStore = IndexStore.default,
      minParallelism: Int = 0, rollingHash: Boolean = false): DataFrame = {
    // the fingerprint index feeds three consumers (df-count, test side,
    // train side); without persistence the O(n·w) winnowing pass runs
    // three times — measured 7.2s → 2.5s at sf0.1 with the index stored.
    // The default (SessionTemp) materializes it to scratch parquet —
    // nothing pinned in executor memory; pass IndexStore.Path to keep a
    // durable index reusable across splits/restarts, or Memory (+ your
    // own release()) for the in-memory fast path.
    val fps = IndexStore.persist(Spread.byKey(df, idCol, minParallelism)
      .select(col(idCol).cast("long").as("doc_id"), col(splitCol).as("split"),
        explode(winnowed(df.sparkSession, col(textCol), k, w, rollingHash)).as("f")),
      index)
    val pruned = fps.groupBy(col("f")).agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDf)
      .select(col("f"))
    val indexed = fps.join(pruned, Seq("f"))
    val test = indexed.filter(col("split") === lit(testName))
      .select(col("f"), col("doc_id").as("test_id"))
    val train = indexed.filter(col("split") === lit(trainName))
      .select(col("f"), col("doc_id").as("train_id"))
    test.join(train, Seq("f"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Build a durable winnowing-fingerprint index of a (training) corpus
    * at `dir`: narrow (f, train_id) parquet rows, df-pruned at build
    * time (a fingerprint in > `maxDf` training documents — headers,
    * licenses — is boilerplate, not signal, and its posting list would
    * dominate every lookup). Build once, then [[checkAgainstIndex]] any
    * number of batches — including from inside `foreachBatch`
    * ([[graft.streaming.StreamingContamination]]) — without re-reading
    * the training corpus. Returns the index read back from `dir`.
    *
    * The raw fingerprint table feeds two consumers (the df-count and the
    * pruning join), so it is staged through `index` (default: session-
    * temp parquet) rather than winnowing the corpus twice.
    */
  def buildIndex(train: DataFrame, idCol: String, textCol: String,
      dir: String, maxDf: Int = 50, k: Int = 8, w: Int = 4,
      index: IndexStore = IndexStore.default,
      minParallelism: Int = 0, rollingHash: Boolean = false): DataFrame = {
    fingerprints(train, idCol, textCol, maxDf, k, w, index,
        minParallelism, rollingHash)
      .write.mode("overwrite").parquet(dir)
    loadIndex(train.sparkSession, dir)
  }

  /** The pruned (f, train_id) fingerprint table [[buildIndex]] persists,
    * as an in-plan DataFrame — for composing the decontamination check
    * inside a larger chain (q112) without a directory round-trip.
    * Feeds [[checkAgainstIndex]] directly. */
  def fingerprints(train: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 50, k: Int = 8, w: Int = 4,
      index: IndexStore = IndexStore.default,
      minParallelism: Int = 0, rollingHash: Boolean = false): DataFrame = {
    val fps = IndexStore.persist(Spread.byKey(train, idCol, minParallelism)
      .select(col(idCol).cast("long").as("train_id"),
        explode(winnowed(train.sparkSession, col(textCol), k, w, rollingHash)).as("f")),
      index)
    val pruned = fps.groupBy(col("f")).agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDf)
      .select(col("f"))
    fps.join(pruned, Seq("f")).select(col("f"), col("train_id"))
  }

  /** Read back an index written by [[buildIndex]]. */
  def loadIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Fold an index's fingerprint column into a serialized Bloom filter
    * (codegen'd [[graft.functions.BloomFunctions]] aggregate), sized for
    * its distinct count at `fpp`. One driver artifact of `numBits/8`
    * bytes, guarded at 128 MB — past that the index is not
    * benchmark-sized and the plain join is the right plan. Returns None
    * for an empty index (nothing can match — callers short-circuit). */
  def bloomOf(index: DataFrame, fCol: String = "f",
      fpp: Double = 0.01): Option[Array[Byte]] = {
    val spark = index.sparkSession
    graft.functions.BloomFunctions.register(spark)
    val nf = math.max(1L, index.select(col(fCol)).distinct().count())
    val bits = graft.functions.BloomFunctions.optimalNumBits(nf, fpp)
    require(bits <= (1L << 30),
      s"index fingerprint set ($nf distinct) sizes a ${bits / 8 / (1 << 20)} MB " +
        "Bloom — not benchmark-sized; use the plain join plan instead")
    // BloomFilterAggregate silently CLAMPS both sizing inputs to the
    // runtime-filter confs (numBits to maxNumBits, default 2^26 = 8 MB;
    // estimatedNumItems to maxNumItems, default 4M — a clamped item
    // count mis-sizes the hash-function count, so the filter would
    // quietly run at a worse fpp than sized for). Whichever cap the
    // validated sizing exceeds is raised in a CHILD session (same
    // SparkContext, the caller's SQL confs copied) that runs only this
    // one collect: the caller's session is never written, so concurrent
    // calls cannot leave a raised cap behind for Spark's own
    // InjectRuntimeFilter sizing of unrelated queries.
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val agg = index
      .select(graft.functions.BloomFunctions.bloomAgg(col(fCol), nf, bits).as("bf"))
    val raised = (if (bits > 67108864L) Seq(bitsKey -> bits) else Nil) ++
      (if (nf > 4000000L) Seq(itemsKey -> nf) else Nil)
    val run =
      if (raised.isEmpty) agg
      else {
        val child = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          if (spark.conf.isModifiable(k)) child.conf.set(k, v) }
        raised.foreach { case (k, v) => child.conf.set(k, v.toString) }
        org.apache.spark.sql.graft.DatasetShim.ofRows(child,
          agg.queryExecution.analyzed)
      }
    val row = run.collect().head
    if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]]("bf"))
  }

  /** Check a batch of documents against a prebuilt fingerprint index
    * ([[buildIndex]]): same output contract as [[detect]] — one row per
    * checked document sharing ≥ `minShared` fingerprints with ≥ 1
    * indexed document: (test_id, n_train_docs, max_shared, sum_shared).
    * `k`/`w`/`rollingHash` MUST match the values the index was built
    * with (different winnowing parameters or hash families fingerprint
    * different passages — a mismatch silently detects nothing).
    *
    * Scale shape: the batch collapses to (f, test_id) in one map pass,
    * the match is an equi-join on the fingerprint against the index's
    * pruned posting lists, and the rollup shuffles only (id, id, count)
    * rows — the arriving batch never joins the training corpus itself.
    */
  def checkAgainstIndex(docs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, minShared: Int = 2, k: Int = 8, w: Int = 4,
      minParallelism: Int = 0, rollingHash: Boolean = false,
      bloom: Option[Array[Byte]] = None): DataFrame = {
    bloom.foreach(_ => graft.functions.BloomFunctions.register(docs.sparkSession))
    val raw = Spread.byKey(docs, idCol, minParallelism)
      .select(col(idCol).cast("long").as("test_id"),
        explode(winnowed(docs.sparkSession, col(textCol), k, w, rollingHash)).as("f"))
    // optional pre-shuffle prune: a Bloom of the index's fingerprints
    // ([[bloomOf]]) rides the batch scan as a literal — no false
    // negatives, so the exact join below leaves results unchanged
    val fps = bloom.fold(raw)(b =>
      raw.filter(graft.functions.BloomFunctions.mightContain(lit(b), col("f"))))
    fps.join(index, Seq("f"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_train_docs"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("sum_shared"))
  }

  /** Decontaminate a TRAINING corpus against a (benchmark-sized)
    * evaluation set with a broadcast Bloom prefilter in front of the
    * exact fingerprint join. Output contract mirrors [[detect]], rolled
    * up per TRAIN document: one row per train doc sharing ≥ `minShared`
    * pruned winnowing fingerprints with ≥ 1 eval doc —
    * (train_id, n_eval_docs, max_shared, sum_shared). The distinct
    * train_ids are the drop set (q109 action semantics).
    *
    * Why a Bloom here: [[checkAgainstIndex]] shuffles EVERY corpus
    * fingerprint into the equi-join — at 100 TB that is the single
    * largest exchange in the decontamination pass, and almost all of it
    * matches nothing, because the eval side is benchmark-sized. So the
    * eval fingerprints fold into a Bloom filter (codegen'd
    * [[graft.functions.BloomFunctions]] aggregate; ~1.2 MB per million
    * distinct fingerprints at fpp 1%) that rides into the corpus scan
    * as a literal: winnow → probe → only the ~fpp false-positive slice
    * plus true hits ever shuffles. The exact verify join then discards
    * the false positives, so the RESULT is bit-identical to the
    * Bloom-less plan — a Bloom has no false negatives. The oracle
    * replays the exact join only; the Bloom is invisible to semantics.
    *
    * Driver footprint: one collect of `numBits/8` bytes, guarded at
    * 128 MB (past that the eval set is not benchmark-sized and the
    * plain [[checkAgainstIndex]] join is the right plan).
    */
  def bloomPrefiltered(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, minShared: Int = 2, maxDf: Int = 50, k: Int = 8,
      w: Int = 4, fpp: Double = 0.01,
      index: IndexStore = IndexStore.default,
      minParallelism: Int = 0, rollingHash: Boolean = false): DataFrame = {
    val spark = train.sparkSession
    graft.functions.BloomFunctions.register(spark)
    // eval postings feed three consumers (sizing count, bloom agg,
    // verify join) — persist once, eval is benchmark-sized
    val efps = IndexStore.persist(
      fingerprints(eval, idCol, textCol, maxDf, k, w, index,
          minParallelism, rollingHash)
        .withColumnRenamed("train_id", "eval_id"), index)
    val bloom = bloomOf(efps, fpp = fpp)
    val tfpsAll = Spread.byKey(train, idCol, minParallelism)
      .select(col(idCol).cast("long").as("train_id"),
        explode(winnowed(spark, col(textCol), k, w, rollingHash)).as("f"))
    val tfps = bloom match {
      case None => tfpsAll.filter(lit(false)) // empty eval set
      case Some(b) => tfpsAll.filter(
        graft.functions.BloomFunctions.mightContain(lit(b), col("f")))
    }
    tfps.join(efps, Seq("f"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_docs"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("sum_shared"))
  }

  /** SEMANTIC decontamination — the embedding-space sibling of the
    * n-gram [[detect]]/[[pairs]] family: a training example whose
    * embedding sits at cosine ≥ `threshold` to ANY evaluation example
    * is flagged (paraphrased or translated leakage that shares no
    * n-gram with the benchmark — what fingerprint decontamination
    * structurally cannot see). Comparison runs ONLY inside the Lloyd
    * cell both vectors land in ([[Similarity.ivfAssignWith]] over a
    * caller-supplied codebook, the [[Dedup.semDedupWith]] posture):
    * recall is exact within a cell, and a leaked pair straddling a cell
    * boundary is the same nprobe-style tradeoff q52 documents.
    *
    * Returns (train id, bucket, kept) — kept 0 means contaminated.
    *
    * Scale shape: both assignments are shuffle-free projections; the
    * train×eval comparison is an equi-join on the cell id with the
    * EVAL side broadcast-capped per cell (eval sets are benchmark-sized
    * — thousands, not corpus-sized; `maxCellSize` guards the
    * degenerate case by skipping comparison, the [[Dedup.semDedup]]
    * posture). The train corpus never self-joins. */
  def semantic(train: DataFrame, eval: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Long, Array[Double])],
      threshold: Double, maxCellSize: Int = 100000,
      index: IndexStore = IndexStore.default): DataFrame = {
    import graft.functions.VectorExpressions
    VectorExpressions.register(train.sparkSession)
    // the assigned train table feeds BOTH the hits join and the final
    // keep join — persist it (the semDedupAssigned posture), else the
    // corpus is scanned and centroid-scored twice per call
    val t = IndexStore.persist(
      Similarity.ivfAssignWith(train, idCol, vecCol, centroids), index)
    val e = Similarity.ivfAssignWith(eval, idCol, vecCol, centroids)
    val sizes = e.groupBy(col("bucket")).agg(count(lit(1)).as("__en"))
    val ev = e.join(broadcast(sizes), Seq("bucket"))
      .filter(col("__en") <= maxCellSize)
      .select(col("bucket"), col("cv").as("__ev"))
    val hits = t.join(ev, Seq("bucket"))
      .filter(VectorExpressions.dot(col("cv"), col("__ev")) >= threshold)
      .select(col("corpus_id")).distinct()
    t.join(hits.withColumn("__hit", lit(1)), Seq("corpus_id"), "left")
      .select(col("corpus_id"), col("bucket"),
        when(col("__hit").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }
}
