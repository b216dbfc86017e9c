package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * language ID, token counting, fingerprinting. All per-row column
  * expressions (codegen'd, shuffle-free) except language ID, which is an
  * explode + broadcast-join + argmax — the shape that scales to 100 TB
  * because the stopword table is the broadcast side.
  */
object TextAnalysis {

  /** Small multilingual stopword lists for the n-gram/stopword-voting
    * language heuristic. Deliberately tiny and fixed: the operator shape
    * (broadcast lexicon join + per-doc argmax) is the deliverable; swap in
    * real lexicons without changing the plan. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "das", "und", "zu", "den", "ist", "von", "mit", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "que"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "人", "有", "他", "这"))

  private val enStop = stopwords("en")

  /** Per-document stats: token counts (whitespace + BPE-ish), char count,
    * distinct-token ratio, mean word length, punctuation ratio, English
    * stopword ratio. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // all token-derived fields are built inside one evaluate-once lambda,
    // so tokenization runs once per row, not once per output column
    val tokenStats = once(tokens(col(textCol))) { t =>
      struct(
        size(t).as("n_tokens"),
        aggregate(t, lit(0),
          (acc, x) => acc + lit(1) + floor((length(x) - lit(1)) / lit(4)).cast("int")).as("n_bpe_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"),
        (aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double") / size(t)).as("mean_word_len"),
        (size(filter(t, x => x.isin(enStop: _*))).cast("double") / size(t)).as("en_stopword_ratio"))
    }
    df.withColumn("__ts", tokenStats).select(
      col(idCol),
      col("__ts.n_tokens").as("n_tokens"),
      col("__ts.n_bpe_tokens").as("n_bpe_tokens"),
      length(col(textCol)).as("n_chars"),
      col("__ts.n_distinct").as("n_distinct"),
      col("__ts.ttr").as("ttr"),
      col("__ts.mean_word_len").as("mean_word_len"),
      ((length(col(textCol)) - length(regexp_replace(col(textCol), "[\\p{Punct}]", ""))).cast("double")
        / length(col(textCol))).as("punct_ratio"),
      col("__ts.en_stopword_ratio").as("en_stopword_ratio"))
  }

  /** Fraction of `grams` occurrences taken by the single most frequent
    * gram (0.0 for an empty array) — the HOF spelling: mode count of an
    * array is the longest equal-run of its sorted form, computed by one
    * `aggregate` fold. Kept (test-only) as the independent construction
    * [[graft.functions.TopGramFrac]] is differential-tested against;
    * [[repetition]] routes through the codegen'd expression. */
  private[graft] def topGramFracHof(grams: Column): Column = once(grams) { g =>
    val best = aggregate(
      array_sort(g),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(g) > 0, best.cast("double") / size(g).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1, "Scaling
    * Language Models" appendix; the C4/MassiveText lineage of repetition
    * heuristics): documents dominated by repeated fragments carry little
    * training signal and skew loss statistics, so pipelines score and
    * drop them before packing. Per document:
    *   - `dup_token_frac`: 1 − distinct/total tokens (token-level mass
    *     of repetition);
    *   - `top_2gram_frac` / `top_3gram_frac`: fraction of n-gram
    *     occurrences taken by the most frequent n-gram;
    *   - `flagged`: 1 when any ratio exceeds its threshold.
    * Everything is per-row expression work over one tokenization
    * ([[topGramFrac]] folds, no explode/groupBy/window) — the operator
    * adds zero shuffles to a scan and composes with predicate pushdown:
    * `.filter(col("flagged") === 0)` prunes at the scan boundary.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String,
      maxDupTokenFrac: Double = 0.4, maxTop2Frac: Double = 0.20,
      maxTop3Frac: Double = 0.18): DataFrame = {
    graft.functions.TopGramFrac.register(df.sparkSession)
    val reps = once(tokens(col(textCol))) { t =>
      struct(
        size(t).as("n_tokens"),
        when(size(t) > 0,
          lit(1.0) - size(array_distinct(t)).cast("double") / size(t).cast("double"))
          .otherwise(lit(0.0)).as("dup_token_frac"),
        graft.functions.TopGramFrac.topGramFrac(t, 2).as("top_2gram_frac"),
        graft.functions.TopGramFrac.topGramFrac(t, 3).as("top_3gram_frac"))
    }
    // passthrough: every input column survives (so the metrics compose
    // as a filter stage — keep/drop predicates see lang, source, etc.)
    df.withColumn("__rep", reps).select(
      df.columns.map(col) ++ Seq(
        col("__rep.n_tokens").as("n_tokens"),
        col("__rep.dup_token_frac").as("dup_token_frac"),
        col("__rep.top_2gram_frac").as("top_2gram_frac"),
        col("__rep.top_3gram_frac").as("top_3gram_frac"),
        (col("__rep.dup_token_frac") > lit(maxDupTokenFrac) ||
          col("__rep.top_2gram_frac") > lit(maxTop2Frac) ||
          col("__rep.top_3gram_frac") > lit(maxTop3Frac)).cast("int").as("flagged")): _*)
  }

  /** Heuristic quality score in [0,1]: rewards moderate length, lexical
    * diversity, low punctuation density, presence of function words. */
  def qualityScore(textCol: Column): Column =
    once(tokens(textCol)) { toks =>
      val n = size(toks).cast("double")
      val lenScore = least(n / lit(50.0), lit(1.0))
      val ttr = size(array_distinct(toks)).cast("double") / n
      val punct = (length(textCol) - length(regexp_replace(textCol, "[\\p{Punct}]", ""))).cast("double") /
        greatest(length(textCol), lit(1)).cast("double")
      val stopRatio = size(filter(toks,
        t => enStop.foldLeft(lit(false))((acc, s) => acc || (t === s)))).cast("double") / n
      lenScore * lit(0.4) + ttr * lit(0.3) + (lit(1.0) - least(punct * lit(5.0), lit(1.0))) * lit(0.2) +
        least(stopRatio * lit(5.0), lit(1.0)) * lit(0.1)
    }

  /** Language ID by stopword voting: per-language occurrence counts over
    * the token array, argmax with lang-asc tie-break; docs with zero hits
    * → "und".
    *
    * Shuffle-FREE: the lexicon is a tiny literal, so each language's count
    * is a `filter` over the tokens and the argmax is an `array_min` over
    * (-hits, lang) structs — a pure per-row projection. The previous shape
    * (explode → broadcast-join lexicon → two hash aggregates) shuffled the
    * token stream twice; at 100 TB that's the whole corpus through the
    * wire, for a vote each row can cast locally. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val best = once(tokens(col(textCol))) { ts =>
      array_min(array(langs.map { l =>
        val h = size(filter(ts, t => t.isin(stopwords(l): _*)))
        struct((-h).as("neg_hits"), lit(l).as("lang_cand"), h.cast("long").as("hits"))
      }: _*))
    }
    df.select(col(idCol), best.as("__b"))
      .select(col(idCol),
        when(col("__b.hits") > 0, col("__b.lang_cand")).otherwise(lit("und"))
          .as("lang_pred"),
        when(col("__b.hits") > 0, col("__b.hits")).otherwise(lit(0L)).as("hits"))
  }

  /** Bag-of-words content fingerprint: md5 of the sorted distinct token
    * set — groups word-order permutations of the same content. */
  def fingerprint(textCol: Column): Column =
    md5(concat_ws(" ", tokenSet(textCol)))

  /** DOMAIN/TOPIC CLASSIFICATION by keyword lexicon — the curation
    * primitive behind domain balancing and source mixing (tag every
    * document with the taxonomy topic whose keywords it hits most;
    * the per-topic corpus shares then drive mixture sampling). Where
    * [[langId]] inlines its five fixed ten-word lists as a per-row
    * codegen expression, a real taxonomy lexicon is 10k+ keywords and
    * USER-supplied — so this takes the join shape that scales with
    * lexicon size: tokenize (lowered) → explode → one BROADCAST hash
    * join against the (topic, keyword) table → mergeable
    * groupBy(doc, topic) count → per-doc argmax via `min(struct(-hits,
    * topic))` (ties break topic-ascending, deterministically) → left
    * join back so zero-hit documents classify as `unknownLabel` with
    * 0 hits. No window anywhere; the only shuffles are the two
    * mergeable aggregations on doc id. A keyword may appear under
    * multiple topics (it counts for each). */
  def lexiconClassify(df: DataFrame, idCol: String, textCol: String,
      lexicon: Map[String, Seq[String]],
      unknownLabel: String = "unknown"): DataFrame = {
    require(lexicon.nonEmpty && lexicon.forall(_._2.nonEmpty),
      "lexiconClassify needs a non-empty topic -> keywords lexicon")
    val spark = df.sparkSession
    import spark.implicits._
    val lex = lexicon.toSeq
      .flatMap { case (t, ws) => ws.map(_.toLowerCase).distinct.map((t, _)) }
      .toDF("__topic", "__w")
    val words = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("__w"))
    val win = words.join(broadcast(lex), "__w")
      .groupBy(col(idCol), col("__topic"))
      .agg(count(lit(1)).as("__hits"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__hits")).as("neg"),
        col("__topic").as("t"), col("__hits").as("h"))).as("__b"))
      .select(col(idCol), col("__b.t").as("topic"), col("__b.h").as("hits"))
    df.select(col(idCol)).distinct()
      .join(win, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("topic"), lit(unknownLabel)).as("topic"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Winnowing over the Rabin-Karp rolling hash — the primitive the
    * original paper builds on (Schleimer et al. SIGMOD'03 §2): k-gram
    * hashes in O(n), then the min of every w-hash window, distinct,
    * sorted. Routes through the codegen'd
    * [[graft.functions.WinnowRolling]] expression — one tight loop with
    * a monotonic deque, no per-window slice allocation (the HOF
    * formulation's allocation storm was the measured bottleneck of
    * corpus-scale winnowing). Requires RollingFingerprint.register on
    * the session. [[winnowRollingHof]] keeps the composed formulation as
    * the differential-test witness. */
  def winnowRolling(textCol: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.RollingFingerprint.winnowRollingNative(textCol, k, w)

  /** The higher-order-function spelling of [[winnowRolling]] — same
    * values, allocation-heavy; kept (test-only) as the independent
    * construction the native expression is differential-tested against. */
  private[graft] def winnowRollingHof(textCol: Column, k: Int = 8, w: Int = 4): Column = {
    import graft.functions.RollingFingerprint.rollingFingerprint
    once(rollingFingerprint(textCol, k)) { grams =>
      val windows = when(size(grams) >= w,
        array_distinct(transform(sequence(lit(1), size(grams) - lit(w - 1)),
          j => array_min(slice(grams, j, lit(w))))))
        .otherwise(when(size(grams) > 0, array(array_min(grams)))
          .otherwise(array().cast("array<bigint>")))
      array_sort(windows)
    }
  }

  /** Token-window chunking: split each document into fixed-size token
    * chunks of `chunkSize` with `stride` (overlap = chunkSize−stride) —
    * the sequence-construction step before packing training context
    * windows, and the unit of passage-level retrieval indexes.
    *
    * Chunk starts are 0, stride, 2·stride, …; the last chunk may be
    * shorter but every token is covered and no chunk is empty. Entirely
    * per-row codegen'd expression work (tokenize once via `once`, then
    * one `transform` + `explode`): no shuffle, no UDF; at 100 TB chunking
    * is a map pass whose output is (doc_id, chunk_id, tokens) rows ready
    * for downstream embed/pack stages — input splits provide the
    * parallelism, `minParallelism` ([[Spread]]) exists only for the
    * local few-files case. Returns (doc_id, chunk_id, n_tokens,
    * chunk_hash) with the md5 content hash standing in for the chunk
    * payload so verification never ships token arrays. */
  def chunks(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 64, stride: Int = 48,
      minParallelism: Int = 0): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    Spread.byKey(df, idCol, minParallelism)
      .select(col(idCol).as("doc_id"),
        explode(once(tokens(col(textCol))) { t =>
          val n = size(t)
          val lastIdx = floor(
            (greatest(n - lit(chunkSize), lit(0)) + lit(stride - 1)) /
              lit(stride.toDouble)).cast("int")
          when(n > lit(0),
            transform(sequence(lit(0), lastIdx), i =>
              struct(i.as("chunk_id"),
                slice(t, i * lit(stride) + lit(1), lit(chunkSize)).as("toks"))))
            .otherwise(array().cast("array<struct<chunk_id:int,toks:array<string>>>"))
        }).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        size(col("c.toks")).as("n_tokens"),
        md5(concat_ws(" ", col("c.toks"))).as("chunk_hash"))
  }

  /** TF-IDF top-`topK` terms per document (classic idf = ln(N/df)).
    *
    * Dataflow at 100 TB: explode to narrow (doc, term) rows — document
    * text never travels (the scan's input splits parallelize the
    * tokenize pass; `minParallelism` ([[Spread]]) is the local
    * few-files escape hatch); tf = one groupBy(doc, term) shuffle;
    * document frequency = one groupBy(term) over the ALREADY per-doc-
    * distinct tf table (partial aggs map-side both times); N arrives as
    * a broadcast 1-row cross join (no driver-side collect); the final
    * top-k is a per-doc window over ≤|vocab ∩ doc| rows. Skewed terms
    * (stopwords) only ever aggregate — they never join-explode.
    *
    * Ranking ties: scores are ranked on their HALF-UP-6 rounding with
    * `term` as tiebreak, so mathematically-equal scores reached by
    * different (tf, df) arithmetic (e.g. 2·ln4 vs 4·ln2) order
    * identically in any engine regardless of last-ulp ln differences —
    * the property the q84 oracle hash-compare rests on. */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3, minParallelism: Int = 0): DataFrame = {
    val halfUp6: Column => Column =
      c => floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    // per-row term counting ([[graft.functions.TokenCounts]]): the
    // (doc, term, tf) triples are born inside the row, so the
    // groupBy(doc, term) — a full exchange of near-token-volume rows,
    // formerly this query's largest shuffle — is gone from the plan;
    // everything downstream aggregates per TERM (vocabulary-bounded,
    // map-side combinable)
    graft.functions.TokenCounts.register(df.sparkSession)
    val tf = Spread.byKey(df, idCol, minParallelism)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenCounts.tokenCounts(
          tokens(lower(col(textCol))))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"),
        col("tc.cnt").cast("long").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val nDocs = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score6").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score6", halfUp6(
        col("tf") * log(col("n_docs").cast("double") / col("dfreq").cast("double"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("dfreq"),
        col("score6"), col("rn"))
  }

  /** BM25 keyword retrieval (Robertson-Spärck Jones probabilistic
    * relevance; the Okapi/Lucene formulation with the +1 idf floor):
    * score every document against a bounded query-term set and return
    * the global top-`topK`.
    *
    * Scale shape: the per-row token filter drops every non-query token
    * BEFORE the explode, so only (doc_id, dl, term) rows for matched
    * occurrences leave the scan — the shuffle is proportional to query
    * hits, not corpus tokens. `dfreq` is bounded by |query| and
    * broadcast; N and avgdl are a broadcast 1-row aggregate (no
    * collect); the final top-K is orderBy+limit → TakeOrderedAndProject
    * (per-partition heaps, never a global sort).
    *
    * Determinism across engines: defaults k1=1.25, b=0.75 are chosen
    * binary-exact (so k1+1, 1−b introduce no constant-folding drift);
    * each term contribution is rounded half-up to 6 decimals (absorbing
    * sub-ulp `ln` differences, the q84 contract) and the per-doc sum is
    * an ORDERED fold over terms — float addition doesn't commute, so an
    * unordered SQL SUM would be nondeterministic in its last bit.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.25, b: Double = 0.75,
      topK: Int = 20, minParallelism: Int = 0): DataFrame = {
    require(query.nonEmpty, "query terms required")
    val halfUp6: Column => Column =
      c => floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val toks = Spread.byKey(df, idCol, minParallelism)
      .select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("t"))
    val hits = toks.select(col("doc_id"), size(col("t")).as("dl"),
      explode(filter(col("t"), x => x.isin(query: _*))).as("term"))
    val tf = hits.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("t"))).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", halfUp6(
        log(lit(1.0) + (col("n_docs").cast("double") - col("dfreq").cast("double") + lit(0.5))
            / (col("dfreq").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("term"), col("contrib")))).as("__cs"))
      .withColumn("score6", halfUp6(aggregate(
        transform(col("__cs"), s => s.getField("contrib")),
        lit(0.0), (a, x) => a + x)))
      .select(col("doc_id"), col("n_terms"), col("score6"))
      .orderBy(col("score6").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Corpus-LM perplexity scoring + head/middle/tail bucketing — the
    * CCNet quality signal (Wenzek et al., LREC 2020: documents are
    * ranked by the perplexity of a language model and split into
    * head/middle/tail bands; Gopher and LLaMA both filter on the same
    * signal). The reference LM is a Laplace-smoothed BIGRAM model
    * trained on the corpus itself — self-contained, no external model
    * artifact, and every count is engine-replayable:
    * P(w2|w1) = (c(w1 w2) + alpha) / (ctx(w1) + alpha·V), nll per
    * bigram type rounded half-up-6 and fixed-pointed to LONG
    * micro-nats, per-doc nll an EXACT integer sum (order-independent —
    * no float-fold contract, no collect_list),
    * ppl = exp(nll / n_bigrams) rounded half-up-6.
    *
    * Returns (idCol, n_bigrams, nll6, ppl6, bucket): bucket is `head`
    * (ppl6 <= headPpl), `middle`, `tail` (> tailPpl), or `unscored`
    * for docs with < 2 tokens (ppl6 null).
    *
    * Scale shape: per-doc bigram COUNTS are born inside the row
    * ([[graft.functions.TokenCounts]] over 2-shingles) so the only
    * token-scale exchanges are the model aggregates — corpus bigram
    * counts (map-side combinable, distinct-bigram-bounded), context
    * counts (vocabulary-bounded), and one distinct-unigram count
    * (1-row broadcast). The per-(doc,bigram) scoring join shuffles on
    * the bigram key — the same order the [[Dedup.minhashLsh]] shingle
    * exchange pays — and the final per-doc reduction is a MERGEABLE
    * integer-sum aggregate (map-side combinable; no per-doc array
    * materialization). No window, no driver-side data. Raw-text
    * repartition stays opt-in via `minParallelism` ([[Spread.byKey]]). */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, headPpl: Double = 30.0, tailPpl: Double = 60.0,
      minParallelism: Int = 0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    require(headPpl <= tailPpl, "headPpl must be <= tailPpl")
    val halfUp6: Column => Column =
      c => floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    graft.functions.TokenCounts.register(df.sparkSession)
    // aqeSized: three consumers (bigram tf, vocab, the final left
    // join) each fan out over this exchange while the per-stage compute
    // is small — AQE sizing the reduce side from the actual shuffle
    // bytes measured 1.3–1.6× faster than any pinned width here
    val toks = Spread.byKey(df, idCol, minParallelism, aqeSized = true)
      .select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("t"))
    // (doc, bigram, tf) born per-row: no occurrence-level exchange
    val tf = toks
      .select(col("doc_id"),
        explode(graft.functions.TokenCounts.tokenCounts(
          shingles(col("t"), 2))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("bigram"),
        col("tc.cnt").cast("long").as("tf"))
    val bc = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("cb"))
    val cc = tf.groupBy(split(col("bigram"), " ", 2).getItem(0).as("w1"))
      .agg(sum(col("tf")).as("cw"))
    val vocab = toks.select(explode(col("t")).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab"))
    // per-bigram nll fixed-pointed to LONG micro-nats, so the per-doc
    // sum is EXACT integer arithmetic — order-independent, so it rides
    // a plain mergeable sum aggregate (no collect_list, no per-doc
    // array sort, no float-summation-order contract). The dsirScore
    // pattern; overflow headroom: u6i ≲ 2^25, tf·u6i sums stay far
    // inside a long for any real document
    val model = bc
      .join(cc, split(bc("bigram"), " ", 2).getItem(0) === cc("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), floor(-log(
        (col("cb").cast("double") + lit(alpha)) /
          (col("cw").cast("double") + lit(alpha) * col("vocab").cast("double")))
        * lit(1000000.0) + lit(0.5)).cast("long").as("u6i"))
    val scored = tf.join(model, Seq("bigram"))
      .select(col("doc_id"), col("tf"), (col("tf") * col("u6i")).as("contrib"))
    val agg = scored.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("contrib")).as("__nlli"))
      .withColumn("nll6", col("__nlli").cast("double") / lit(1000000.0))
      .withColumn("ppl6",
        halfUp6(exp(col("nll6") / col("n_bigrams").cast("double"))))
      .select(col("doc_id"), col("n_bigrams"), col("nll6"), col("ppl6"))
    toks.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll6"), lit(0.0)).as("nll6"),
        col("ppl6"),
        when(col("ppl6").isNull, lit("unscored"))
          .when(col("ppl6") <= lit(headPpl), lit("head"))
          .when(col("ppl6") <= lit(tailPpl), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** DSIR — data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document by how much more likely its
    * hashed-n-gram bag is under a TARGET distribution (rows where
    * `isTarget`) than under the RAW corpus distribution. Features are
    * unigrams + bigrams hashed into `nBuckets` buckets (the paper's
    * hashed n-gram reduction); both bag models are Laplace-smoothed
    * bucket frequencies:
    *
    *   log w(x) = Σ_b c_x[b] · (ln p̂[b] − ln q̂[b]),
    *   p̂[b] = (tc[b]+1)/(tt+B),  q̂[b] = (rc[b]+1)/(tr+B).
    *
    * Per-bucket log-ratios are rounded half-up-6 and fixed-pointed to
    * LONG micro-nats, so the per-doc sum is EXACT integer arithmetic —
    * order-independent and oracle-replayable (no float-summation-order
    * contract needed, unlike the q93/q117 ordered folds). Buckets use
    * the md5-derived h60 family for the same reason.
    *
    * Returns (idCol, n_grams, iscore) for every document with ≥ 1
    * token; `iscore` is log w(x) in micro-nats.
    *
    * Scale shape: pass 1 trains the model — one explode + groupBy on
    * the bucket id, map-side combinable to ≤ `nBuckets` rows per task,
    * collected driver-side as B-row bounded metadata (the codebook
    * pattern, [[Similarity.trainCentroids]]); pass 2 scores — a
    * SHUFFLE-FREE projection with the log-ratio table baked in as an
    * array literal. No join, no window, nothing driver-sized. */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 64,
      hashFn: Column => Column = h60(_)): DataFrame =
    dsirScoreWith(df, idCol, textCol,
      dsirTrain(df, textCol, isTarget, nBuckets, hashFn), hashFn)

  // unigrams ++ bigrams hashed into [0, nBuckets) — shared by train and
  // score so the two passes can never disagree on the feature map.
  // `hashFn` defaults to the md5-derived h60 family for oracle parity;
  // pass `xxhash64(_)` in production for ~4× cheaper bucketing (the
  // minhashLsh hashFamily convention — bucket CONTENTS change, the
  // model/score semantics don't)
  private def gramBuckets(textCol: Column, nBuckets: Int,
      hashFn: Column => Column): Column = {
    val grams = once(tokens(textCol)) { t =>
      concat(t,
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - lit(1)),
            i => concat_ws(" ", element_at(t, i), element_at(t, i + lit(1)))))
          .otherwise(array().cast("array<string>")))
    }
    transform(grams, g => pmod(hashFn(g), lit(nBuckets.toLong)))
  }

  /** Train the DSIR importance model: `nBuckets` per-bucket log-ratios
    * in micro-nats — a bounded driver-side artifact (the codebook
    * pattern) that [[dsirScoreWith]] applies to ANY corpus slice later:
    * train once on a reference corpus, score arriving data forever
    * (the serving posture; a streaming filter is just this projection
    * inside foreachBatch). One explode + groupBy on the bucket id,
    * map-side combinable to ≤ `nBuckets` rows per task. */
  def dsirTrain(df: DataFrame, textCol: String, isTarget: Column,
      nBuckets: Int = 64,
      hashFn: Column => Column = h60(_)): IndexedSeq[Long] = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val counts = df
      .select(isTarget.as("__tgt"),
        explode(gramBuckets(col(textCol), nBuckets, hashFn)).as("bk"))
      .groupBy(col("bk"))
      .agg(sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("tc"),
        count(lit(1)).as("rc"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val tt = counts.valuesIterator.map(_._1).sum
    val tr = counts.valuesIterator.map(_._2).sum
    (0 until nBuckets).map { bk =>
      val (tc, rc) = counts.getOrElse(bk.toLong, (0L, 0L))
      val lr = math.log((tc + 1.0) / (tt + nBuckets.toDouble)) -
        math.log((rc + 1.0) / (tr + nBuckets.toDouble))
      math.floor(lr * 1e6 + 0.5).toLong
    }
  }

  /** Score a corpus against a FROZEN [[dsirTrain]] model — a
    * SHUFFLE-FREE projection with the log-ratio table baked in as an
    * array literal. No join, no window, nothing driver-sized; the
    * model's length fixes `nBuckets`. */
  def dsirScoreWith(df: DataFrame, idCol: String, textCol: String,
      model: IndexedSeq[Long],
      hashFn: Column => Column = h60(_)): DataFrame = {
    require(model.nonEmpty, "model must be non-empty (dsirTrain output)")
    val lrLit = array(model.map(lit(_)): _*)
    df.select(col(idCol),
        gramBuckets(col(textCol), model.length, hashFn).as("__b"))
      .filter(size(col("__b")) > 0)
      .select(col(idCol),
        size(col("__b")).cast("long").as("n_grams"),
        aggregate(col("__b"), lit(0L),
          (acc, x) => acc + element_at(lrLit, (x + lit(1L)).cast("int")))
          .as("iscore"))
  }

  /** DSIR selection: [[dsirScore]] + the paper's Gumbel-top-k resample,
    * derandomized with the engine's md5-uniform convention (q83/q111):
    * u = (h60("graft-dsir|" + id) + 1) / 2^60, key = log w(x) − ln(−ln u),
    * rounded half-up-6; take the `k` largest (ties to the smaller id).
    * The sort is a TakeOrderedAndProject — per-partition top-k plus a
    * k-row driver merge, never a global sort. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int, nBuckets: Int = 64,
      seed: String = "graft-dsir",
      hashFn: Column => Column = h60(_)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val halfUp6: Column => Column =
      c => floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val u = (h60(concat(lit(seed + "|"), col(idCol).cast("string"))) + lit(1L))
      .cast("double") / lit(1.152921504606846976e18) // 2^60
    dsirScore(df, idCol, textCol, isTarget, nBuckets, hashFn)
      .withColumn("key6",
        halfUp6(col("iscore").cast("double") / lit(1000000.0) - log(-log(u))))
      .orderBy(col("key6").desc, col(idCol))
      .limit(k)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash character
    * k-grams, take the min hash of every sliding window of `w` k-gram
    * hashes, distinct. Returns an array<bigint> per document. */
  def winnow(textCol: Column, k: Int = 8, w: Int = 4): Column = {
    val n = length(textCol) - lit(k - 1)
    val gramsExpr = when(n >= 1,
      transform(sequence(lit(1), n), i => h60(substr(textCol, i, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    once(gramsExpr) { grams =>
      val windows = when(size(grams) >= w,
        array_distinct(transform(sequence(lit(1), size(grams) - lit(w - 1)),
          j => array_min(slice(grams, j, lit(w))))))
        .otherwise(when(size(grams) > 0, array(array_min(grams)))
          .otherwise(array().cast("array<bigint>")))
      array_sort(windows)
    }
  }

  /** Class-based TF-IDF cluster labeling (the c-TF-IDF of BERTopic,
    * Grootendorst 2022): given documents already carrying a cluster id
    * (e.g. Lloyd-trained semantic cells, [[Similarity.ivfAssignTrained]]),
    * rank each cluster's characteristic terms by
    * `tf_{t,c} · ln(1 + A / f_t)` — the class term count damped by the
    * term's corpus-wide frequency, with A the average token count per
    * class — so a cluster is labeled by what distinguishes it, not by
    * corpus-wide stopwords. Returns `topN` rows per cluster:
    * (cluster, rank, term, tf, weight), ties by term ascending.
    *
    * Scale shape: one explode to narrow (cluster, term) rows, ONE
    * mergeable aggregate keyed (cluster, term) — the class-term table
    * tf — from which everything else derives: corpus frequency f_t is a
    * rollup of tf by term (never a second corpus scan — tf is persisted
    * through `index` for its two consumers), A is one 2-cell driver
    * collect (total tokens, class count — bounded metadata), and the
    * top-N is a rank window over (cluster, term) rows that Spark
    * executes with WindowGroupLimit partial pushdown (each map task
    * keeps its own top-N per cluster before the exchange, so a
    * million-term vocabulary never sorts in one task). No document text
    * ever shuffles.
    *
    * Determinism: tf and f_t are exact integers; A is one double
    * division of two exact integers — every weight is the same fixed
    * double DAG on identical inputs in any IEEE engine (`ln` may differ
    * by an ulp across libms; callers hashing cross-engine round the
    * weight, and ranking flips would need two DIFFERENT (tf, f_t) pairs
    * within an ulp — integer-driven inputs keep them far apart).
    */
  /** Per-group distribution drift: the Jensen-Shannon divergence between
    * each group's unigram distribution and the whole corpus's — the
    * profile a curation pipeline reads to see WHICH sources (or
    * languages, or time slices) diverge from the blend they feed
    * (Lin, IEEE-IT 1991; the symmetric, bounded [0, ln 2] alternative
    * to raw KL, finite even where a source misses corpus vocabulary).
    *
    * JS(p‖q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2 — split into
    * a sum over the terms PRESENT in the group plus a closed-form tail
    * for absent ones: there p = 0, m = q/2, so the q-side contributes
    * exactly ln2 · (1 − Σ_{present} q_t). Nothing ever enumerates
    * group × vocabulary pairs — the plan touches only observed
    * (group, term) rows.
    *
    * Determinism (the q117/q121 micro-nat pattern): each present term's
    * two contributions round to integer NANO-nats
    * (`floor(x·10⁹ + 0.5)` of a fixed double DAG on exact counts) and
    * sum as longs — order-independent, engine-exact; the absent-term
    * tail is one double expression on exact integer sums; callers
    * interpolate THEIR ln 2 literal into the replay so both engines use
    * the bit-same constant.
    *
    * Scale shape: one tokenizing scan to (group, term) counts — ONE
    * mergeable aggregate, persisted for its consumers — then the corpus
    * table as a rollup BY TERM, per-group totals as a rollup BY GROUP,
    * one narrow join, one final aggregate. No window, no cross join, no
    * driver data beyond the single corpus-total scalar.
    *
    * Returns one row per group: (groupCol, n_tokens, n_terms, js).
    */
  def sourceDivergence(df: DataFrame, groupCol: String, textCol: String,
      index: IndexStore = IndexStore.default): DataFrame = {
    import graft.functions.TextFunctions
    val st = IndexStore.persist(
      df.filter(col(groupCol).isNotNull)
        .select(col(groupCol).as("__g"),
          explode(TextFunctions.tokens(col(textCol))).as("__w"))
        .groupBy(col("__g"), col("__w"))
        .agg(count(lit(1)).as("__cst")),
      index)
    val ct = st.groupBy(col("__w")).agg(sum(col("__cst")).as("__ct"))
    val ns = st.groupBy(col("__g"))
      .agg(sum(col("__cst")).as("__ns"), count(lit(1)).as("__nterms"))
    val tot = ct.agg(sum(col("__ct"))).head()
    val n = math.max(1L, if (tot.isNullAt(0)) 0L else tot.getLong(0))
    val p = col("__cst").cast("double") / col("__ns").cast("double")
    val q = col("__ct").cast("double") / lit(n.toDouble)
    val m = (p + q) / lit(2.0)
    val u1 = floor(p * log(p / m) * lit(1.0e9) + lit(0.5)).cast("long")
    val u2 = floor(q * log(q / m) * lit(1.0e9) + lit(0.5)).cast("long")
    val ln2 = math.log(2.0)
    st.join(ct, Seq("__w")).join(ns, Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("__ns")).as("__tns"), max(col("__nterms")).as("__tnt"),
        sum(u1).as("__s1"), sum(u2).as("__s2"), sum(col("__ct")).as("__cov"))
      .select(col("__g").as(groupCol),
        col("__tns").as("n_tokens"), col("__tnt").as("n_terms"),
        (lit(0.5) * (col("__s1").cast("double") / lit(1.0e9)) +
          lit(0.5) * (col("__s2").cast("double") / lit(1.0e9) +
            lit(ln2) * (lit(1.0) - col("__cov").cast("double") / lit(n.toDouble))))
          .as("js"))
  }

  /** Corpus-level collocation extraction by pointwise mutual information
    * (Church & Hanks, CL 1990): the bigrams whose observed frequency
    * most exceeds what their parts predict —
    * `PMI(x,y) = ln( (c_xy/N_b) / ((c_x/N_u)·(c_y/N_u)) )` over exact
    * occurrence counts (c_xy bigram, c_x/c_y unigram, N_b/N_u totals),
    * `minCount`-thresholded so hapax pairs don't top the list with
    * degenerate PMI. Returns the global top-`topN` by PMI desc, bigram
    * asc: (bigram, c_xy, pmi). The lexicon a tokenizer-/phrase-aware
    * curation pass mines once per corpus.
    *
    * Scale shape: ONE tokenizing scan persisted through `index`, then
    * one mergeable aggregate each for unigram and bigram counts (the
    * bigram melt is an adjacent-token zip — a projection); totals are
    * bounded driver scalars, with the true bigram total derived as
    * N_u − n_docs (each L-token doc yields L−1 bigrams) so the
    * `minCount` threshold can prune the bigram table WITHOUT biasing
    * every PMI denominator; the PMI projection joins counts by token
    * (narrow rows), and the global top-N is an orderBy+limit —
    * TakeOrderedAndProject, per-partition heaps, never a global sort.
    *
    * Determinism: counts are exact integers; PMI is one fixed double
    * DAG on them (`ln` ±1 ulp across libms — callers hashing
    * cross-engine round the value; a rank flip needs two distinct count
    * structures within an ulp).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      topN: Int, index: IndexStore = IndexStore.default): DataFrame = {
    require(topN >= 1 && minCount >= 1, s"bad topN=$topN / minCount=$minCount")
    import graft.functions.TextFunctions
    val toks = IndexStore.persist(
      df.select(TextFunctions.tokens(col(textCol)).as("t"))
        .filter(size(col("t")) >= 1), index)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val uniP = IndexStore.persist(uni, index)
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val biP = IndexStore.persist(bi, index)
    val totals = uniP.agg(sum(col("c"))).head()
    val nu = math.max(1L, if (totals.isNullAt(0)) 0L else totals.getLong(0))
    val nDocs = toks.count()
    val nb = math.max(1L, nu - nDocs)
    val pmi = biP
      .join(uniP.select(col("w").as("x"), col("c").as("cx")), Seq("x"))
      .join(uniP.select(col("w").as("y"), col("c").as("cy")), Seq("y"))
      .withColumn("pmi",
        log((col("cxy").cast("double") / lit(nb.toDouble)) /
          ((col("cx").cast("double") / lit(nu.toDouble)) *
            (col("cy").cast("double") / lit(nu.toDouble)))))
      .withColumn("bigram", concat_ws(" ", col("x"), col("y")))
    pmi.select(col("bigram"), col("cxy"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topN)
  }

  def classTfidf(df: DataFrame, clusterCol: String, textCol: String,
      topN: Int, index: IndexStore = IndexStore.default): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    import graft.functions.TextFunctions
    val tf = IndexStore.persist(
      df.filter(col(clusterCol).isNotNull)
        .select(col(clusterCol).as("cluster"),
          explode(TextFunctions.tokens(col(textCol))).as("term"))
        .groupBy(col("cluster"), col("term"))
        .agg(count(lit(1)).as("tf")),
      index)
    val totals = tf.agg(sum(col("tf")).as("total"),
      countDistinct(col("cluster")).as("ncl")).head()
    val a =
      if (totals.isNullAt(0) || totals.getLong(1) == 0L) 0.0
      else totals.getLong(0).toDouble / totals.getLong(1).toDouble
    val ft = tf.groupBy(col("term")).agg(sum(col("tf")).as("ft"))
    val weighted = tf.join(ft, Seq("term"))
      .withColumn("weight",
        col("tf").cast("double") *
          log(lit(1.0) + lit(a) / col("ft").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("weight").desc, col("term").asc)
    weighted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("cluster"), col("rank"), col("term"), col("tf"),
        col("weight"))
  }

  /** Train a LINEAR QUALITY PROBE — a fastText-shaped linear text
    * classifier (Joulin et al., "Bag of Tricks for Efficient Text
    * Classification", 2017) over hashed unigram counts, trained by
    * full-batch gradient descent on squared loss with EXACT INTEGER
    * ARITHMETIC end to end: labels and weights live in micro-units
    * (longs), per-doc predictions are long sums of weight lookups,
    * gradients are long sums of (occurrence × error), and the update is
    * integer division `g / (n << lrShift)` (truncation toward zero) —
    * no floating point anywhere, so training is bit-exactly replayable
    * by any engine with 64-bit integer division (the q133/q117
    * fixed-point discipline applied to LEARNING, not just aggregation).
    *
    * Scale shape: the feature frame ((bucket array, label) — narrow
    * rows) is persisted once; each of the `steps` passes is ONE
    * shuffle-free projection (prediction = `aggregate` over the weight
    * ARRAY LITERAL baked into the plan, the dsirScoreWith discipline)
    * feeding ONE mergeable explode + groupBy into nBuckets+1 cells.
    * Nothing driver-sized moves except the (nBuckets+1)-long gradient
    * vector per step. Overflow bound: |error| ≤ labelScale + maxDocLen ·
    * max|w|, and the gradient sum adds one such term per token
    * occurrence — longs hold corpora to ~10^12 occurrences at the
    * default scales.
    *
    * Effective learning rate is 2^-lrShift per mean-squared-gradient
    * unit — normalization by `n` makes the step corpus-size-invariant.
    * Returns nBuckets token weights plus the bias at index nBuckets,
    * all in micro-units. */
  def linearProbeTrain(df: DataFrame, textCol: String, labelMicro: Column,
      nBuckets: Int = 64, steps: Int = 3, lrShift: Int = 5,
      hashFn: Column => Column = h60(_)): IndexedSeq[Long] = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    require(steps >= 1 && steps <= 64, s"steps must be in [1, 64], got $steps")
    require(lrShift >= 0 && lrShift <= 40, s"lrShift in [0, 40], got $lrShift")
    val feat = df.select(
        transform(tokens(col(textCol)),
          t => pmod(hashFn(t), lit(nBuckets.toLong))).as("__b"),
        labelMicro.cast("long").as("__y"))
      .filter(size(col("__b")) > 0)
      .persist()
    try {
      val n = feat.count()
      if (n == 0) return IndexedSeq.fill(nBuckets + 1)(0L)
      val div = n * (1L << lrShift)
      var w = IndexedSeq.fill(nBuckets + 1)(0L)
      for (_ <- 0 until steps) {
        val wLit = array(w.map(lit(_)): _*)
        // pred_i = Σ_occurrences w[bucket] + bias; the bias rides as a
        // synthetic occurrence of bucket nBuckets so one explode carries
        // both gradient families. The error is computed in its OWN
        // projection BELOW the generate: an explode-side expression
        // would be re-evaluated once per occurrence (O(L²) per doc)
        val g = feat.select(col("__b"),
            (aggregate(col("__b"), lit(0L),
              (acc, b) => acc + element_at(wLit, b.cast("int") + 1))
              + lit(w(nBuckets)) - col("__y")).as("__e"))
          .select(
            explode(concat(col("__b"), array(lit(nBuckets.toLong)))).as("__j"),
            col("__e"))
          .groupBy(col("__j")).agg(sum(col("__e")).as("__g"))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        w = w.indices.map(j => w(j) - g.getOrElse(j, 0L) / div)
      }
      w
    } finally feat.unpersist()
  }

  // ---- BPE tokenizer training ----

  /** Words are held in the per-symbol SPACE-WRAPPED string form: every
    * symbol independently wrapped `" x "`, wraps concatenated — so
    * adjacent symbols are separated by exactly two spaces and a pair
    * merge is ONE literal string replace (`" a  b "` → `" ab "`) whose
    * left-to-right non-overlapping semantics — identical in the JVM and
    * DuckDB — IS greedy BPE pair application, including the
    * `a a a → (aa) a` overlap rule; and adjacent occurrences
    * (`a b a b`) merge independently because no two symbols ever share
    * a delimiter character.
    *
    * Train BPE merges (Sennrich, Haddow, Birch — "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016) over the
    * corpus: k rounds of (count adjacent symbol pairs weighted by word
    * frequency → merge the most frequent pair everywhere), ties broken
    * (count desc, pair asc). Returns the ordered merge list with each
    * pair's weighted count — THE tokenizer artifact.
    *
    * Scale shape — the standard word-count factorization: the corpus
    * is scanned ONCE into a (word, count) VOCABULARY table (persisted;
    * bounded by distinct-word count, not corpus size); every merge
    * round is one mergeable explode+groupBy pair count over the
    * vocabulary plus a driver-side 1-row argmax (TakeOrdered), and the
    * merge itself is a chained literal `replace` projection. Exact
    * integer counts everywhere — training is bit-exactly replayable by
    * any engine with the same left-to-right replace semantics. */
  /** The (space-wrapped-symbols, count) word vocabulary — the ONE
    * construction [[bpeTrain]] and [[bpeVocab]] share, so the oracle
    * parity contract has a single definition to match. */
  private def wrappedWords(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(concat(lit(" "),
          array_join(expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"), "  "),
          lit(" ")).as("s"),
        col("c"))

  def bpeTrain(df: DataFrame, textCol: String,
      merges: Int = 8): Seq[(String, Long)] = {
    require(merges >= 1 && merges <= 65536,
      s"merges in [1, 65536], got $merges")
    // The merged vocabulary is carried FORWARD round to round: each
    // round applies ONLY the newest merge (one literal replace) to the
    // previous round's materialized frame, then LOCAL-CHECKPOINTS the
    // result — persisting the RDD AND truncating its lineage — before
    // releasing the predecessor. O(k) total single-replace vocabulary
    // passes and CONSTANT plan/lineage depth: a plain persist is not
    // enough, because each round's RDD graph would still chain through
    // every prior round's (task serialization stack-overflows near
    // depth ~50, and AQE's plan strings grow super-linearly).
    val spark = df.sparkSession
    var held: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] =
      None
    def materialize(d: DataFrame): DataFrame = {
      val r = d.rdd
      r.localCheckpoint()
      r.count()
      held.foreach(_.unpersist(false))
      held = Some(r)
      spark.createDataFrame(r, d.schema)
    }
    try {
      var cur = materialize(wrappedWords(df, textCol))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var done = false
      while (out.length < merges && !done) {
        val sy = split(trim(col("s")), "  ")
        // when-guard: sequence(1, 0) DESCENDS in Spark, so a
        // single-symbol word would index past the array
        val pairsCol = once(sy) { a =>
          when(size(a) >= 2,
            transform(sequence(lit(1), size(a) - 1),
              i => concat(element_at(a, i), lit(" "), element_at(a, i + lit(1)))))
            .otherwise(array().cast("array<string>"))
        }
        val best = cur.select(explode(pairsCol).as("pair"), col("c"))
          .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val pair = best.head.getString(0)
          out += pair -> best.head.getLong(1)
          // the checkpointed predecessor stays alive while the new
          // round's rows materialize from it inside materialize()
          if (out.length < merges)
            cur = materialize(applyMerges(cur, Seq(pair)))
        }
      }
      out.toSeq
    } finally held.foreach(_.unpersist(false))
  }

  /** Merges applied per projection before the frame is materialized and
    * the replace chain restarted. Depth 32 is safely under the ~50 where
    * task serialization stack-overflows, while keeping the common case
    * (training's single-merge rounds, small gate-scale merge lists) a
    * zero-overhead plain projection. */
  private[graft] val MergeChunk = 32

  /** The raw k-deep chain — one literal replace per merge. Only ever
    * built [[MergeChunk]]-deep; [[applyMerges]] is the bounded entry. */
  private def applyMergeChain(words: DataFrame, merges: Seq[String]): DataFrame =
    merges.foldLeft(words) { (d, p) =>
      // the pair label "a b" matches the wrapped form " a  b " (each
      // symbol carries its own wrap, so two spaces separate them)
      d.withColumn("s", replace(col("s"),
        lit(" " + p.replace(" ", "  ") + " "),
        lit(" " + p.replace(" ", "") + " ")))
    }

  /** Apply an ordered merge list to the wrapped-symbol column in
    * BOUNDED-DEPTH passes: at most [[MergeChunk]] chained replaces per
    * projection, each chunk boundary local-checkpointed (persist +
    * lineage truncation) with the predecessor's blocks released — the
    * encode-side mirror of [[bpeTrain]]'s round materialization. A real
    * tokenizer's 30k-merge list is O(k) single-pass work over the
    * vocabulary-bounded word table; the unchunked chain stack-overflows
    * task serialization near depth ~50 and blows AQE's plan strings
    * super-linearly. The final boundary's blocks are registered in
    * [[BlockRegistry]] for release at the harness boundary (the lazy
    * result frame reads them). */
  private[graft] def applyMerges(words: DataFrame, merges: Seq[String],
      chunk: Int = MergeChunk): DataFrame = {
    require(chunk >= 1, s"chunk >= 1, got $chunk")
    if (merges.length <= chunk) applyMergeChain(words, merges)
    else {
      val spark = words.sparkSession
      var held: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] =
        None
      var cur = words
      val groups = merges.grouped(chunk).toSeq
      // every chunk but the last materializes; the last stays a lazy
      // <=chunk-deep projection over the final checkpointed boundary
      for (g <- groups.dropRight(1)) {
        val d = applyMergeChain(cur, g)
        val r = d.rdd
        r.localCheckpoint()
        r.count()
        // the predecessor stays alive until the new rows materialized
        held.foreach(_.unpersist(false))
        held = Some(r)
        cur = spark.createDataFrame(r, d.schema)
      }
      held.foreach(BlockRegistry.track)
      applyMergeChain(cur, groups.last)
    }
  }

  /** PERSIST a trained merge list as a versioned [[TxLogTable]]
    * artifact — training and serving become separate jobs: train once,
    * save, and every pricing/packing/encode job loads the tokenizer it
    * was built with. Schema `(merge_idx, pair, cnt)`; each save is one
    * atomic `overwrite` commit, so retraining VERSIONS the tokenizer
    * (time travel reads any historical tokenizer, and a model's data
    * card can pin the exact merge-list version it shipped with).
    * Returns the committed version. */
  def bpeSave(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, Long)], path: String): Long = {
    require(merges.nonEmpty, "cannot save an empty merge list")
    import spark.implicits._
    TxLogTable.overwrite(spark,
      merges.zipWithIndex
        .map { case ((p, c), i) => (i.toLong, p, c) }
        .toDF("merge_idx", "pair", "cnt"),
      path)
  }

  /** LOAD a [[bpeSave]]d merge list (optionally a historical version).
    * The collect is bounded metadata by construction — a merge list is
    * at most 65536 rows, the same class as centroid codebooks. */
  def bpeLoad(spark: org.apache.spark.sql.SparkSession, path: String,
      versionAsOf: Option[Long] = None): Seq[(String, Long)] = {
    val df = versionAsOf
      .map(v => TxLogTable.readVersion(spark, path, v))
      .getOrElse(TxLogTable.read(spark, path))
    df.orderBy(col("merge_idx"))
      .select(col("pair"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** The corpus' symbol vocabulary AFTER applying a [[bpeTrain]] merge
    * list: (symbol, weighted count), the subword frequency table a
    * tokenizer ships with. One corpus scan + vocabulary-bounded work;
    * the merge application is depth-bounded (see [[applyMerges]]), so a
    * full-size merge list is safe here. */
  def bpeVocab(df: DataFrame, textCol: String,
      merges: Seq[String]): DataFrame =
    applyMerges(wrappedWords(df, textCol), merges)
      .select(explode(split(trim(col("s")), "  ")).as("sym"), col("c"))
      .groupBy(col("sym")).agg(sum(col("c")).as("cnt"))

  /** ENCODE a corpus with a trained merge list — per-document subword
    * counts, the number a token-budgeted packing/pricing pipeline needs
    * from the tokenizer it just trained. Same word-type factorization
    * as training: each DISTINCT word segments ONCE (wrapped form →
    * merge replaces → split), and documents join their words back
    * against that vocabulary-bounded table — a mergeable hash join plus
    * one groupBy, no window, never a per-occurrence re-segmentation.
    * The merge application is depth-bounded ([[applyMerges]] chunks at
    * [[MergeChunk]] replaces per projection), so encoding with a real
    * 30k-merge tokenizer is O(k) bounded passes over the word table,
    * not one 30k-deep plan. Returns (idCol, n_words, n_subwords);
    * no-token documents are dropped (nothing to encode). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String]): DataFrame = {
    val words = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val uniq = words.select(col("w")).distinct()
      .select(col("w"), concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(w)), i -> substr(w, i, 1))"), "  "),
        lit(" ")).as("s"))
    val seg = applyMerges(uniq, merges)
      .select(col("w"), size(split(trim(col("s")), "  ")).cast("long")
        .as("__n_sub"))
    words.join(seg, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__n_sub")).as("n_subwords"))
  }

  /** Deterministic SUBWORD-ID table over a [[bpeVocab]] frequency
    * table — the id half of the tokenizer artifact: ids 0–255 are
    * RESERVED for byte fallback (an out-of-vocabulary subword encodes
    * as its raw UTF-8 bytes, the SentencePiece/GPT-2 convention), the
    * vocabulary occupies 256+ ranked by (count desc, symbol asc) so
    * frequent subwords take low ids and any engine can replay the
    * assignment with one row_number. The global window is
    * VOCABULARY-bounded by construction (alphabet + ≤65536 merges —
    * metadata scale, same class as the codebook collects), never
    * corpus-scale. Returns (sym, cnt, sym_id). */
  def bpeVocabIds(vocab: DataFrame): DataFrame =
    vocab.select(col("sym"), col("cnt"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("sym").asc)).cast("long") + lit(255L))
        .as("sym_id"))

  /** The byte-fallback expansion of one OOV subword: its UTF-8 bytes
    * as ids 0–255. A multi-char subword CAN go OOV — a merge-created
    * symbol whose every training occurrence was consumed by a later
    * merge is absent from the final vocabulary, yet merge application
    * on a serving corpus can still produce it. */
  private def byteFallbackIds(sym: Column): Column = {
    val b = encode(sym, "UTF-8")
    transform(sequence(lit(1), length(b)),
      i => conv(hex(substr(b, i, lit(1))), 16, 10).cast("long"))
  }

  /** PER-DOCUMENT ORDERED TOKEN-ID SEQUENCES — what a training-batch
    * exporter actually ships ([[bpeEncode]] prices documents; this
    * emits the ids). Same word-type factorization: each DISTINCT word
    * segments once ([[applyMerges]], depth-bounded) and resolves its
    * subwords against `vocabIds` ([[bpeVocabIds]] over the TRAINING
    * corpus' [[bpeVocab]]) — in-vocabulary subwords take their table
    * id, OOV subwords expand to UTF-8 byte ids (0–255). Documents then
    * join their words back against the vocabulary-bounded
    * word→id-sequence table and flatten in word order (mergeable
    * collect_list + array_sort — no window). Returns one row per token
    * position: (idCol, pos, token_id), 0-based; no-token documents
    * yield nothing. */
  def bpeTokenIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String], vocabIds: DataFrame): DataFrame = {
    val words = df.select(col(idCol), posexplode(tokens(col(textCol))))
      .toDF(idCol, "wpos", "w")
    val uniq = words.select(col("w")).distinct()
      .select(col("w"), concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(w)), i -> substr(w, i, 1))"), "  "),
        lit(" ")).as("s"))
    val syms = applyMerges(uniq, merges)
      .select(col("w"), posexplode(split(trim(col("s")), "  ")))
      .toDF("w", "spos", "sym")
    val withIds = syms
      .join(vocabIds.select(col("sym"), col("sym_id")), Seq("sym"), "left")
      .select(col("w"), col("spos"),
        when(col("sym_id").isNotNull, array(col("sym_id")))
          .otherwise(byteFallbackIds(col("sym"))).as("ids"))
    val wordIds = withIds.groupBy(col("w"))
      .agg(flatten(array_sort(collect_list(struct(col("spos"), col("ids"))))
        .getField("ids")).as("word_ids"))
    words.join(wordIds, "w")
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(struct(col("wpos"), col("word_ids"))))
        .getField("word_ids")).as("token_ids"))
      .select(col(idCol), posexplode(col("token_ids")))
      .toDF(idCol, "pos", "token_id")
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token_id"))
  }

  /** PACKED TOKEN-ID EXPORT — [[bpeTokenIds]] composed with the
    * distributed prefix-sum packer ([[Packing.assign]] →
    * [[Packing.slices]]): every document's id sequence lands in its
    * capacity-K context window(s), straddlers split across consecutive
    * sequences, position arithmetic per slice. One row per (sequence,
    * output position): (seq_id, out_pos, idCol, token_id) — exactly
    * the flattened training batch a loader materializes. The
    * slice-to-ids join is doc-keyed with a per-doc position range —
    * fan-out is token volume over capacity, never quadratic.
    *
    * The token table is PERSISTED across its two consumers (the
    * `counts` aggregate that [[Packing.assign]]'s prefix-sum window
    * materializes, and the final slice join): without the handoff the
    * whole tokenizer subtree — distinct-word segmentation through
    * [[applyMerges]], the vocab-id resolution join, both flatten
    * aggregates — executed twice per export, a 2× constant on the
    * exporter's dominant cost. Registered in [[BlockRegistry]] for
    * release at the harness boundary (the lazy result reads it). */
  def bpePackedExport(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String], vocabIds: DataFrame, capacity: Long): DataFrame = {
    val toks = bpeTokenIds(df, idCol, textCol, merges, vocabIds).persist()
    BlockRegistry.track(toks)
    val counts = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"))
    val sl = Packing.slices(
      Packing.assign(counts, idCol, "n_tokens", capacity), capacity)
    toks.alias("t")
      .join(sl.alias("sl"),
        col(s"t.`$idCol`") === col("sl.doc_id") &&
          col("t.pos") >= col("sl.doc_start") &&
          col("t.pos") < col("sl.doc_end"))
      .select(col("sl.seq_id"),
        (col("sl.seq_pos") + col("t.pos") - col("sl.doc_start")).as("out_pos"),
        col("sl.doc_id").as(idCol), col("t.token_id"))
  }

  /** Score a corpus against a FROZEN [[linearProbeTrain]] model — a
    * shuffle-free projection with the weights baked in as an array
    * literal (no join, no window; the dsirScoreWith shape). Documents
    * with no tokens are dropped (the probe is undefined on them —
    * training never saw one). Scores are exact micro-unit longs. */
  def linearProbeScore(df: DataFrame, idCol: String, textCol: String,
      model: IndexedSeq[Long],
      hashFn: Column => Column = h60(_)): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol),
        linearProbeScoreCol(col("__t"), model, hashFn).as("score_micro"))

  /** The frozen-model score as a bare COLUMN over a token array — the
    * composable form (e.g. an ingest-gate filter). Undefined (null-ish
    * garbage-in) on empty arrays; callers guard with `size(...) > 0`. */
  def linearProbeScoreCol(tokensCol: Column, model: IndexedSeq[Long],
      hashFn: Column => Column = h60(_)): Column = {
    require(model.length >= 3, "model must be linearProbeTrain output")
    val nBuckets = model.length - 1
    val wLit = array(model.map(lit(_)): _*)
    aggregate(
      transform(tokensCol, t => pmod(hashFn(t), lit(nBuckets.toLong))),
      lit(0L), (acc, b) => acc + element_at(wLit, b.cast("int") + 1)) +
      lit(model(nBuckets))
  }
}
