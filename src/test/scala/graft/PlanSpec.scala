package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Plan-quality guards: these assert the physical-plan properties that
  * make the corpus survive a 100× scale-up — filters reaching the parquet
  * scan, dimension joins broadcasting instead of shuffling, column
  * pruning, whole-stage codegen on the hot paths, and the custom
  * DotProduct expression actually participating in codegen.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q01: shipdate filter is pushed to the parquet scan") {
    val f = formatted("q01_pricing_summary")
    assert(f.contains("PushedFilters") &&
      f.matches("(?s).*PushedFilters: \\[.*l_shipdate.*\\].*"), f.take(2000))
  }

  test("q01: aggregation is partial (map-side) before the shuffle") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_avg"), p.take(2000))
  }

  test("q02: every predicate family reaches PushedFilters; only needed columns read") {
    val f = formatted("q02_filter_predicates")
    assert(f.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(p_size.*\\].*") ||
      f.matches("(?s).*PushedFilters: \\[.*p_size.*\\].*"), f.take(2000))
    // projection needs 6 columns; schema must not include more
    assert(f.matches("(?s).*ReadSchema:[^\\n]*p_partkey[^\\n]*\\n.*"))
  }

  test("q03: dimension joins broadcast; no SortMergeJoin for dims") {
    val p = planOf("q03_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q29: scan reads only the props column (column pruning)") {
    val f = formatted("q29_json_functions")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && !readSchema.contains("user_id"), readSchema)
  }

  test("q50: custom DotProduct runs inside WholeStageCodegen") {
    val df = SparkEntry.queries("q50_ann_bruteforce_topk")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val p = df.queryExecution.executedPlan.toString
    // the '*(n)' star prefix marks a WholeStageCodegen stage; the dot-product
    // projection must carry it (i.e. the custom expression codegens)
    assert(p.matches("(?s).*\\*\\(\\d+\\) Project \\[[^\\n]*dotproduct.*"), p.take(3000))
  }

  test("q45: embedding near-dup is bucket-joined, never a cartesian product") {
    val p = planOf("q45_embedding_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("pair-generation corpus (q43/q44/q46): every candidate join is equi-keyed") {
    Seq("q43_minhash_lsh_pairs", "q44_simhash_pairs", "q46_ngram_jaccard_pairs")
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q: ${p.take(2000)}")
      }
  }

  test("q44: simhash is a shuffle-free projection (custom SimHash60 in codegen)") {
    val df = SparkEntry.queries("q44_simhash_pairs")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("simhash60"), p.take(3000))
    // the signature side must NOT aggregate per (id, bit) anymore
    assert(!p.contains("partial_sum(contrib"), p.take(3000))
  }

  test("q47: KMV sketch partial-aggregates map-side (true sketch contract)") {
    val p = planOf("q47_kmv_distinct_sketch")
    assert(p.contains("partial_kmvsketch"), p.take(3000))
  }

  test("q52: IVF probe join broadcasts the query side, no corpus-wide cartesian") {
    val p = planOf("q52_ann_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("config routing plans no join (the message side never shuffles)") {
    val p = planOf("q37_config_routing")
    assert(!p.contains("Join"), p)
  }

  test("corpus sweep: no unintended cartesian product in ANY query plan") {
    // intentionally product-shaped: q09 IS a cross join; q50 is the
    // brute-force ANN baseline (broadcast-nested-loop by design); q84,
    // q93 and q98 cross-join a BROADCAST 1-ROW aggregate (corpus size N
    // for idf; N + avgdl for bm25; row count N for shard math) — the
    // scalar-subquery shape, constant-size broadcast side
    val intended = Set("q09_cross_join", "q50_ann_bruteforce_topk",
      "q84_tfidf_top_terms", "q93_bm25_retrieval", "q98_export_shards",
      "q100_curation_pipeline", // q100 composes q98's shard math
      // PQ/ADC scores EVERY corpus row's codes against the broadcast
      // query set by design (q50's shape, in the compressed domain);
      // the pruned alternative is ivfPqTopK (cell-keyed equi-join)
      "q114_ann_pq_adc", "q115_ann_pq_rerank",
      // q117 cross-joins a BROADCAST 1-ROW vocab aggregate (vocab size
      // V + total token count for add-one smoothing) — same
      // scalar-subquery shape as q84/q93/q98; q126 composes q117's
      // lmPerplexity bands and inherits the identical vocab join
      "q117_lm_perplexity", "q126_curriculum_export",
      // q122's reduced-space shortlist scan is q50's brute-force shape
      // run over 16-dim JL projections (broadcast query side); the
      // exact rerank joins are equi-keyed
      "q122_ann_jl_rerank",
      // q124 hard-negative mining is q50's broadcast-anchor scan with a
      // label-exclusion predicate — same intentional shape
      "q124_hard_negatives",
      // q135's shortlist stage is q50's broadcast-query corpus scan;
      // the executor-side MMR greedy (FlatMapGroups) now lives in the
      // SAME distributed plan instead of behind a driver collect, so
      // the intentional product shape is visible to this sweep
      "q135_mmr_diversified_topk",
      // q160's spine × key-dimension join is an intentional broadcast
      // product: the key dim is tiny (distinct event types) and every
      // spine bucket must pair with every key — the gapfill contract
      "q160_gapfill_interpolate",
      // q145 bitext margin mining scores en×es all-pairs via q50's
      // broadcast-A corpus scan by design; the documented scale path
      // swaps in the LSH/IVF prefilter, margin math unchanged
      "q145_bitext_margin_mining",
      // q183 cross-joins a BROADCAST 1-ROW totals frame (each corpus'
      // total count, the share denominators) into the K-row cell
      // table — the q117/q84 scalar-subquery shape
      "q183_embedding_drift")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intended)
      .flatMap { name =>
        val p = planOf(name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"unintended products in: $offenders")
  }

  test("bucketed join: both sides pre-bucketed on the key — the join needs zero Exchange") {
    val conf = spark.conf
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the bucketed layout (not dim size) is what
    // removes the shuffle — this is the fact⋈fact shape at 100 TB
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import graft.operators.Bucketing
      val tag = Bucketing.dirTag(sf)
      val o = Bucketing.ensure(spark, Tables.orders(spark, sf),
        s"graft_bkt_orders_$tag", "o_custkey", buckets = 8)
      val c = Bucketing.ensure(spark, Tables.customer(spark, sf),
        s"graft_bkt_customer_$tag", "c_custkey", buckets = 8)
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      // collect() so THIS df's adaptive plan executes and finalizes
      assert(joined.collect().nonEmpty)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n${p.take(3000)}")
      // and the scans really are bucketed scans
      val f = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(f.contains("Bucketed: true"), f.take(3000))
      // aggregation on the bucket key is exchange-free too: the scan's
      // HashPartitioning(o_custkey) already satisfies the agg's
      // distribution, so there is no partial/final split to shuffle
      val agg = o.groupBy(o("o_custkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      assert(agg.collect().nonEmpty)
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"),
        s"bucketed aggregation still shuffles:\n${ap.take(3000)}")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
  }

  test("langId is a pure projection: no shuffle, no explode of the token stream") {
    val df = graft.operators.TextAnalysis.langId(
      Tables.documents(spark, sf), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"langId shuffles:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"langId explodes:\n${p.take(2000)}")
  }

  test("chunking/tfidf/contamination: raw text does not shuffle by default") {
    // minParallelism defaults to 0 = never repartition: on a cluster the
    // scan's input splits parallelize the per-row pass, and an exchange
    // would ship the full document payload for nothing. chunks is a pure
    // map pass (zero Exchange anywhere); tfidf/contamination shuffle only
    // AFTER text collapses to narrow rows, so their first (deepest)
    // exchange input must not carry the text column.
    val docs = Tables.documents(spark, sf)
    val chunked = graft.operators.TextAnalysis.chunks(docs, "doc_id", "text")
    val cp = chunked.queryExecution.executedPlan.toString
    assert(!cp.contains("Exchange"), s"chunks shuffles:\n${cp.take(2000)}")
    val tfidf = graft.operators.TextAnalysis.tfidf(docs, "doc_id", "text")
    val root = tfidf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // AQE wraps the plan in a leaf; unwrap to traverse
      case p => p
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.child.schema.fieldNames.contains("text")),
      "tfidf shuffles raw text")
  }

  test("dedup trio: raw text does not shuffle by default (minhashLsh/ngramJaccard/simhash)") {
    // round-7 finding: these three opened with an unconditional
    // repartition(id) on the raw document table. Now routed through
    // Spread.byKey with the same default-0 contract as chunks/tfidf:
    // simhash is a pure projection (zero Exchange), and the LSH/Jaccard
    // pipelines may shuffle only AFTER text collapses to signature rows
    // — no exchange input may carry the text column.
    val docs = Tables.documents(spark, sf)
    def textExchanges(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      root.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.child.schema.fieldNames.contains("text") => e.toString.take(200)
      }
    }
    val sim = graft.operators.Dedup.simhash(docs, "doc_id", "text")
    val sp = sim.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"), s"simhash shuffles by default:\n${sp.take(2000)}")
    val mh = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
      index = graft.operators.IndexStore.NoStore)
    assert(textExchanges(mh).isEmpty, "minhashLsh shuffles raw text by default")
    val ng = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text",
      index = graft.operators.IndexStore.NoStore)
    assert(textExchanges(ng).isEmpty, "ngramJaccard shuffles raw text by default")
  }

  test("q88: profiler's modal value is aggregate-only — no Window in the plan") {
    // a row_number window partitioned by col_name would funnel every
    // distinct value of a near-key column into ONE task; the two-phase
    // aggregate mode must keep the plan window-free
    val p = planOf("q88_table_profile")
    assert(!p.contains("Window"), s"q88 still plans a window:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_min"), p.take(3000))
  }

  test("q116: span excision is aggregate-only — no Window in the plan") {
    // a window partitioned by span hash funnels a hot boilerplate
    // span's entire occurrence set into ONE task; the mergeable
    // groupBy(count, min(struct)) + join-back shape must keep the
    // plan window-free so the hot span costs one aggregate cell
    val p = planOf("q116_span_excision")
    assert(!p.contains("Window"), s"q116 still plans a window:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_min"), p.take(3000))
  }

  test("q40: exact dedup is aggregate-only — no Window in the plan") {
    // the keeper rule (min id per content hash) must be a mergeable
    // aggregate, not a row_number window: a document duplicated
    // millions of times is one (count, min) cell, not one task
    val p = planOf("q40_dedup_exact")
    assert(!p.contains("Window"), s"q40 still plans a window:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_min"), p.take(3000))
  }

  test("bucket caps (q43/q45/q46): skew-immune groupBy + join-back — no Window") {
    // the bucket-size cap exists to neutralize hot bands/grams, so the
    // cap itself must not be the skewed shape: count(1).over(
    // Window.partitionBy(band)) would funnel the hot band into ONE
    // sorted window task before the filter drops it. The mergeable
    // groupBy(band).count + join-back keeps the hot key as cheap
    // partial-agg cells, and every band surviving the cap has
    // ≤ maxBucketSize rows so the join-back cannot skew either.
    Seq("q43_minhash_lsh_pairs", "q45_embedding_neardup",
        "q46_ngram_jaccard_pairs").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q still plans a window:\n${p.take(3000)}")
      assert(p.contains("partial_count"), s"$q: ${p.take(3000)}")
    }
  }

  test("q82: post-CC cluster assignment is aggregate-only — no Window") {
    // cluster_size must be a mergeable groupBy(cluster_id).count +
    // join-back, not count().over(Window.partitionBy(cluster_id)): a
    // pathological mega-cluster (every boilerplate doc collapsing into
    // one component) would funnel its full membership into ONE window
    // task, while the groupBy ships one combined row per cluster
    val p = planOf("q82_dedup_clusters")
    assert(!p.contains("Window"), s"q82 still plans a window:\n${p.take(3000)}")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q16: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = planOf("q16_order_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q25: per-group top-k gets rank-limit pushdown (WindowGroupLimit)") {
    // partial WindowGroupLimit before the exchange keeps only k rows per
    // group per partition — the difference between sorting k rows and
    // sorting the whole group at 100 TB
    val p = planOf("q25_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }
}
