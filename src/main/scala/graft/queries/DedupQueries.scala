package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.operators.{ConnectedComponents, Dedup, IndexStore}
import graft.queries.CurationChain.{Attrition, Containment, Disposition, Excision,
  Packed, Recipe, ShingleLsh, WordLsh}
import org.apache.spark.sql.functions._

/** Deduplication extension operators surfaced through the correctness
  * gate. MinHash/SimHash use md5-derived 60-bit hashes (TextFunctions.h60)
  * precisely so LSH itself — not just a downstream aggregate — is
  * reproducible in the DuckDB oracle: both engines compute identical
  * signatures, identical band buckets, identical candidate pairs.
  *
  * DuckDB spelling of h60(x): ('0x' || substr(md5(x),1,15))::UBIGINT::BIGINT
  */
object DedupQueries extends QueryModule {

  /** Exact dedup by content hash over a corpus with synthesized exact
    * duplicates (docs 1-100 re-appended under shifted ids). */
  private val q40 = QueryDef(
    "q40_dedup_exact",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") <= 100)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exact(corpus, "doc_id", "text")
        .select(col("doc_id"), col("dup_count"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id <= 100)
      SELECT min(doc_id) AS doc_id, count(*) AS dup_count
      FROM corpus
      GROUP BY md5(text)
      ORDER BY doc_id"""))

  /** Normalized exact dedup: case/whitespace variants collapse. */
  private val q41 = QueryDef(
    "q41_dedup_normalized",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") <= 50)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  ")).as("text")))
      Dedup.exactNormalized(corpus, "doc_id", "text")
        .select(col("doc_id"), col("dup_count"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, concat('  ', upper(text), '  ') FROM documents WHERE doc_id <= 50)
      SELECT min(doc_id) AS doc_id, count(*) AS dup_count
      FROM corpus
      GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id"""))

  /** MinHash signatures over 3-word shingles (16 hashes), the per-row
    * no-shuffle building block of LSH. */
  private val q42 = QueryDef(
    "q42_minhash_signature",
    (s, d) => {
      import graft.functions.TextFunctions._
      graft.functions.MinHashSig.register(s)
      Tables.documents(s, d)
        .filter(col("doc_id") <= 200)
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          array_distinct(shingles(tokens(col("text")), 3)).as("sset"))
        .filter(size(col("sset")) > 0)
        .select(col("doc_id"),
          concat_ws(",", minhashSignature(col("sset"), 16)).as("sig"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS w
        FROM documents WHERE doc_id <= 200),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) >= 3
                 THEN list_transform(generate_series(1, len(w) - 2),
                      j -> concat_ws(' ', w[j], w[j+1], w[j+2]))
                 ELSE [] END) AS sset
        FROM toks)
      SELECT doc_id,
             array_to_string(
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(sset,
                      s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))),
               ',') AS sig
      FROM sh
      WHERE len(sset) > 0
      ORDER BY doc_id"""))

  /** Full MinHash+LSH near-dup pipeline: token-set signatures → 4×4 bands
    * → bucket join → exact-Jaccard verification at 0.8. The oracle
    * replays the identical LSH (same hashes, same bands), so candidate
    * generation itself is verified, not just the final filter. */
  private val q43 = QueryDef(
    "q43_minhash_lsh_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 300)
      Dedup.minhashLsh(docs, "doc_id", "text",
          shingleK = 1, numHashes = 16, bands = 4, rows = 4,
          threshold = 0.8, maxBucketSize = Int.MaxValue,
          index = IndexStore.Memory(),
          minParallelism = s.sparkContext.defaultParallelism)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH sets AS (
        SELECT doc_id AS id,
               list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS sset
        FROM documents WHERE doc_id <= 300),
      sigs AS (
        SELECT id, sset,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(sset,
                      s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
        FROM sets WHERE len(sset) > 0),
      bands AS (
        SELECT id, sset, unnest(list_transform(generate_series(0, 3),
               b -> b::VARCHAR || ':' ||
                    (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM sigs),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.id < b.id),
      verified AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset)) AS inter,
               len(sa.sset) AS la, len(sb.sset) AS lb
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b)
      SELECT id_a, id_b, inter / (la + lb - inter) AS jaccard
      FROM verified
      WHERE inter / (la + lb - inter) >= 0.8
      ORDER BY id_a, id_b"""))

  /** 60-bit SimHash + chunk-bucketed Hamming pairs (≤ 8). */
  private val q44 = QueryDef(
    "q44_simhash_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 200)
      val sim = Dedup.simhash(docs, "doc_id", "text",
        minParallelism = s.sparkContext.defaultParallelism)
      val sigs = sim.orderBy(col("id"))
        .select(col("id").as("doc_id"), col("simhash"))
      val pairs = Dedup.simhashPairs(sim, maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming"))
      // single result set: signatures + pair rows (tagged)
      sigs.select(col("doc_id").as("id_a"), lit(-1L).as("id_b"), col("simhash").as("hamming"))
        .unionAll(pairs)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id AS id, unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0))) AS t
        FROM documents WHERE doc_id <= 200),
      hashed AS (
        SELECT id, ('0x' || substr(md5(t), 1, 15))::UBIGINT::BIGINT AS h FROM toks),
      perbit AS (
        SELECT id, b, sum(((h >> b) & 1) * 2 - 1) AS s
        FROM hashed, (SELECT unnest(generate_series(0, 59)) AS b)
        GROUP BY id, b),
      sim AS (
        SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        FROM perbit GROUP BY id),
      chunked AS (
        SELECT id, simhash, c, (simhash >> (15 * c)) & 32767 AS chunk_val
        FROM sim, (SELECT unnest(generate_series(0, 3)) AS c)),
      pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS ha, b.simhash AS hb
        FROM chunked a JOIN chunked b
          ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.id < b.id)
      SELECT id AS id_a, -1::BIGINT AS id_b, simhash AS hamming FROM sim
      UNION ALL
      SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
      FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
      ORDER BY id_a, id_b"""))

  /** Embedding cosine near-dup pairs via banded sign-LSH (8 tables × 4
    * hyperplanes) + exact in-bucket verification. The oracle replays the
    * identical md5-derived hyperplane family, so candidate generation
    * itself is verified — same scheme as q43's MinHash-LSH replay. */
  private val q45 = QueryDef(
    "q45_embedding_neardup",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") <= 2000)
      Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.4,
          planesPerTable = 4, tables = 8, dims = Tables.embeddingDims,
          index = IndexStore.Memory())
        .select(col("id_a"), col("id_b"), Rnd.halfUp(col("cosine"), 4).as("cos4"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <= 2000),
      planes AS (
        SELECT t, b, list_transform(generate_series(0, 63), d ->
          CAST(('0x' || substr(md5((t*4+b)::VARCHAR || ':' || d::VARCHAR), 1, 15))::UBIGINT::BIGINT
               % 2001 - 1000 AS DOUBLE)) AS w
        FROM (SELECT unnest(generate_series(0, 7)) AS t),
             (SELECT unnest(generate_series(0, 3)) AS b)),
      bkt AS (
        SELECT e.vec_id, p.t,
               sum(CASE WHEN list_dot_product(e.v, p.w) > 0 THEN (1 << p.b) ELSE 0 END) AS bkt
        FROM e, planes p
        GROUP BY e.vec_id, p.t),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bkt a JOIN bkt b ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
      scored AS (
        SELECT c.id_a, c.id_b,
               list_dot_product(ea.v, eb.v) /
               (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
        FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b)
      SELECT id_a, id_b, floor(cosine * 10000.0 + 0.5) / 10000.0 AS cos4
      FROM scored WHERE cosine >= 0.4
      ORDER BY id_a, id_b"""))

  /** Exact 3-gram Jaccard pairs via df-pruned inverted-index join — the
    * exact-verification tier of n-gram dedup (MinHash approximates this).
    * The oracle replays the identical pipeline: gram sets, document
    * frequencies, candidate join, exact Jaccard. */
  private val q46 = QueryDef(
    "q46_ngram_jaccard_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 300)
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5, maxDf = 50,
          minParallelism = s.sparkContext.defaultParallelism)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id AS id,
               list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS w
        FROM documents WHERE doc_id <= 300),
      sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 3
                 THEN list_transform(generate_series(1, len(w) - 2),
                      j -> concat_ws(' ', w[j], w[j+1], w[j+2]))
                 ELSE [] END) AS gset
        FROM toks),
      sets2 AS (SELECT id, gset FROM sets WHERE len(gset) > 0),
      inv AS (SELECT id, unnest(gset) AS g FROM sets2),
      rare AS (
        SELECT id, g FROM (
          SELECT id, g, count(*) OVER (PARTITION BY g) AS gdf FROM inv)
        WHERE gdf <= 50),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM rare a JOIN rare b ON a.g = b.g AND a.id < b.id),
      v AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.gset, sb.gset)) AS inter,
               len(sa.gset) AS la, len(sb.gset) AS lb
        FROM cand c
        JOIN sets2 sa ON sa.id = c.id_a
        JOIN sets2 sb ON sb.id = c.id_b)
      SELECT id_a, id_b, inter / (la + lb - inter) AS jaccard
      FROM v
      WHERE inter / (la + lb - inter) >= 0.5
      ORDER BY id_a, id_b"""))

  /** Cluster formation over the q43 near-dup pairs: distributed
    * connected components (min-label propagation + pointer jumping,
    * ConnectedComponents.scala) assign every document a transitive-
    * closure cluster id, size, and the canonical keep/drop decision —
    * the step that turns pairwise LSH output into an actual dedup of
    * the corpus. The oracle replays the same LSH pair generation
    * (q43's SQL) and closes it transitively with a recursive CTE, so
    * the component structure itself is verified, not just row counts. */
  private val q82 = QueryDef(
    "q82_dedup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 300)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 1, numHashes = 16, bands = 4, rows = 4,
        threshold = 0.8, maxBucketSize = Int.MaxValue,
        index = IndexStore.Memory(),
        minParallelism = s.sparkContext.defaultParallelism)
      ConnectedComponents.dedupAssign(
          docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH RECURSIVE sets AS (
        SELECT doc_id AS id,
               list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS sset
        FROM documents WHERE doc_id <= 300),
      sigs AS (
        SELECT id, sset,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(sset,
                      s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
        FROM sets WHERE len(sset) > 0),
      bands AS (
        SELECT id, sset, unnest(list_transform(generate_series(0, 3),
               b -> b::VARCHAR || ':' ||
                    (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM sigs),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.id < b.id),
      verified AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset)) AS inter,
               len(sa.sset) AS la, len(sb.sset) AS lb
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b),
      pairs AS (
        SELECT id_a, id_b FROM verified
        WHERE inter / (la + lb - inter) >= 0.8),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
      cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
      SELECT d.doc_id,
             coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
             count(*) OVER (PARTITION BY coalesce(cc.cluster_id, d.doc_id)) AS cluster_size,
             CASE WHEN coalesce(cc.cluster_id, d.doc_id) = d.doc_id
                  THEN 1 ELSE 0 END AS keep
      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
      WHERE d.doc_id <= 300
      ORDER BY d.doc_id"""))

  /** The COMPLETE dedup pipeline a training run executes, end to end:
    * MinHash-LSH pairs (q43) → connected-component clusters (q82) →
    * keep/drop → the duplicates are ACTUALLY DROPPED and a downstream
    * per-source aggregate runs over the deduped corpus. Scale shape:
    * the keep decision is computed over narrow (id) rows only —
    * document payloads meet the decision in ONE equi-join at the end,
    * then aggregate. The oracle replays every stage (LSH, recursive-CTE
    * closure, drop, aggregate), so the numbers a user would train on
    * are what is verified. */
  private val q89 = QueryDef(
    "q89_dedup_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 300)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 1, numHashes = 16, bands = 4, rows = 4,
        threshold = 0.8, maxBucketSize = Int.MaxValue,
        index = IndexStore.Memory(),
        minParallelism = s.sparkContext.defaultParallelism)
      val decision = ConnectedComponents.dedupAssign(
          docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("keep"))
      docs.join(decision, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_raw"),
          sum(col("keep")).as("n_docs_kept"),
          sum(when(col("keep") === 1, length(col("text"))).otherwise(0L))
            .as("n_chars_kept"))
        .orderBy(col("source"))
    },
    Some("""
      WITH RECURSIVE sets AS (
        SELECT doc_id AS id,
               list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS sset
        FROM documents WHERE doc_id <= 300),
      sigs AS (
        SELECT id, sset,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(sset,
                      s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
        FROM sets WHERE len(sset) > 0),
      bands AS (
        SELECT id, sset, unnest(list_transform(generate_series(0, 3),
               b -> b::VARCHAR || ':' ||
                    (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM sigs),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.id < b.id),
      verified AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset)) AS inter,
               len(sa.sset) AS la, len(sb.sset) AS lb
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b),
      pairs AS (
        SELECT id_a, id_b FROM verified
        WHERE inter / (la + lb - inter) >= 0.8),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
      cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
      decided AS (
        SELECT d.source, d.text,
               CASE WHEN coalesce(cc.cluster_id, d.doc_id) = d.doc_id
                    THEN 1 ELSE 0 END AS keep
        FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
        WHERE d.doc_id <= 300)
      SELECT source,
             count(*) AS n_docs_raw,
             sum(keep)::BIGINT AS n_docs_kept,
             sum(CASE WHEN keep = 1 THEN length(text) ELSE 0 END)::BIGINT AS n_chars_kept
      FROM decided
      GROUP BY source
      ORDER BY source NULLS FIRST"""))

  /** Sub-document dedup: 8-token non-overlapping chunks, first
    * occurrence (min doc_id, chunk_id) kept, per-doc rollup of dropped
    * duplicate spans. The oracle replays chunking (q86's formula at
    * stride = size), content hashing, and the keeper rule via the naive
    * per-hash window — the Spark side's aggregate-only min(struct) must
    * select identical keepers. */
  private val q99 = QueryDef(
    "q99_chunk_dedup",
    (s, d) => {
      graft.operators.Dedup.chunkDedup(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", chunkSize = 8,
          minParallelism = s.sparkContext.defaultParallelism)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dup"))
        .filter(col("n_dup") > 0)
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS t
        FROM documents),
      ch AS (
        SELECT doc_id, t,
               unnest(generate_series(0,
                 ((CASE WHEN len(t) > 8 THEN len(t) - 8 ELSE 0 END) + 7) // 8)) AS chunk_id
        FROM toks WHERE len(t) > 0),
      h AS (
        SELECT doc_id, chunk_id,
               md5(array_to_string(t[chunk_id*8+1 : chunk_id*8+8], ' ')) AS ch
        FROM ch),
      k AS (
        SELECT doc_id, chunk_id,
               CASE WHEN row_number() OVER (PARTITION BY ch
                 ORDER BY doc_id, chunk_id) = 1 THEN 1 ELSE 0 END AS keep
        FROM h)
      SELECT doc_id, count(*) AS n_chunks,
             sum(CASE WHEN keep = 0 THEN 1 ELSE 0 END)::BIGINT AS n_dup
      FROM k
      GROUP BY doc_id
      HAVING sum(CASE WHEN keep = 0 THEN 1 ELSE 0 END) > 0
      ORDER BY doc_id"""))

  /** Exact duplicated-span excision (ExactSubstr, Lee et al. ACL 2022):
    * every 16-token span occurring more than once in the corpus is cut
    * out of every document except its first (min doc_id, pos)
    * occurrence, and the text is rebuilt from the surviving tokens. The
    * oracle replays the whole thing — span fingerprints, the canonical
    * keeper rule, interval union, and the token-level rebuild — so
    * `clean_text` is hash-compared byte-for-byte. */
  private val q116 = QueryDef(
    "q116_span_excision",
    (s, d) => {
      graft.operators.Dedup.spanExcision(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", n = 16,
          minParallelism = s.sparkContext.defaultParallelism)
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS t
        FROM documents),
      occ AS (
        SELECT doc_id, unnest(generate_series(1, len(t) - 15)) AS pos, t
        FROM toks WHERE len(t) >= 16),
      g AS (
        SELECT doc_id, pos,
               md5(array_to_string(t[pos : pos + 15], ' ')) AS h
        FROM occ),
      m AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (PARTITION BY h
                 ORDER BY doc_id, pos) AS rn
        FROM g),
      dup AS (
        SELECT doc_id, pos FROM m
        WHERE c >= 2 AND rn > 1),
      cov AS (
        SELECT doc_id, list(DISTINCT tp) AS cps
        FROM (SELECT doc_id,
                     unnest(generate_series(pos, pos + 15)) AS tp
              FROM dup)
        GROUP BY doc_id)
      SELECT t.doc_id,
             len(t.t) AS n_tokens,
             coalesce(len(c.cps), 0) AS removed_tokens,
             coalesce(array_to_string(
               list_transform(
                 list_filter(generate_series(1, len(t.t)),
                             i -> c.cps IS NULL OR NOT list_contains(c.cps, i)),
                 i -> t.t[i]), ' '), '') AS clean_text
      FROM toks t LEFT JOIN cov c USING (doc_id)
      ORDER BY t.doc_id"""))

  /** The full curation pipeline as one verified chain — what a training
    * run actually executes end-to-end: quality gate (q96 criteria) →
    * exact dedup (q40 keeper rule) → deterministic shuffle (q95) →
    * balanced export shards (q98) → per-shard rollup. Every stage is a
    * proven oracle fragment; composing them verifies the HANDOFFS (the
    * filter feeds the dedup's hash groups, the keepers feed the rank,
    * the rank feeds the shard math) rather than any stage alone. */
  private val q100 = QueryDef(
    "q100_curation_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val rep = graft.operators.TextAnalysis.repetition(docs, "doc_id", "text")
      val kept = rep.filter(col("n_tokens") >= 20 && col("flagged") === 0)
      val deduped = graft.operators.Dedup.exact(kept, "doc_id", "text")
      graft.operators.Sampling
        .exportShards(deduped.select(col("doc_id"), col("n_tokens")),
          "doc_id", nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS t
        FROM documents),
      base AS (
        SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct, t
        FROM toks),
      g2 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
        FROM base WHERE len(t) >= 2),
      c2 AS (
        SELECT doc_id, max(c) AS m, sum(c) AS tot
        FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
        GROUP BY doc_id),
      g3 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
        FROM base WHERE len(t) >= 3),
      c3 AS (
        SELECT doc_id, max(c) AS m, sum(c) AS tot
        FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
        GROUP BY doc_id),
      r AS (
        SELECT base.doc_id, base.n_tokens,
          CASE WHEN base.n_tokens > 0
               THEN 1.0 - base.n_distinct::DOUBLE / base.n_tokens::DOUBLE
               ELSE 0.0 END AS dup_token_frac,
          COALESCE(c2.m::DOUBLE / c2.tot::DOUBLE, 0.0) AS top_2gram_frac,
          COALESCE(c3.m::DOUBLE / c3.tot::DOUBLE, 0.0) AS top_3gram_frac
        FROM base LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)),
      kd AS (
        SELECT r.doc_id, r.n_tokens, d.text
        FROM r JOIN documents d USING (doc_id)
        WHERE r.n_tokens >= 20
          AND NOT (r.dup_token_frac > 0.4 OR r.top_2gram_frac > 0.2
                   OR r.top_3gram_frac > 0.18)),
      keepers AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
      kk AS (SELECT kd.doc_id, kd.n_tokens FROM kd JOIN keepers USING (doc_id)),
      p AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY h, doc_id) - 1 AS pos,
               count(*) OVER () AS n
        FROM (SELECT doc_id, n_tokens,
                ('0x' || substr(md5('graft-shuf|' || doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
              FROM kk))
      SELECT CAST(pos * 8 // n AS INT) AS shard,
             count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS sum_tokens
      FROM p
      GROUP BY 1
      ORDER BY shard"""))

  /** Containment dedup ([[graft.operators.Dedup.containment]]): docs
    * whose df-pruned winnowing fingerprints are ≥ 90% present in a
    * strictly longer doc — the asymmetric wire-story-inside-portal-page
    * case symmetric Jaccard structurally misses. The oracle replays the
    * rolling winnow (q85's CTEs), the aggregate df-prune, pair counts,
    * the exact-integer-division ratio, the longer-doc rule, and the
    * best-container argmax (window replay of the engine's struct-max). */
  private val q143 = QueryDef(
    "q143_containment_dedup",
    (s, d) => {
      graft.operators.Dedup.containment(
          Tables.documents(s, d).select(col("doc_id"), col("text"), col("n_chars")),
          "doc_id", "text", "n_chars",
          tau = 0.9, minShared = 10, maxDf = 50, k = 8, w = 4,
          index = graft.operators.IndexStore.default,
          minParallelism = s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("container_id"), col("shared"),
          col("n_fp"), Rnd.halfUp(col("ratio"), 6).as("ratio6"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH g AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - 7), i ->
                 CAST(list_sum(list_transform(generate_series(0, 7), j ->
                   unicode(substr(text, i + j, 1)) * CAST(31 ** (7 - j) AS BIGINT)))
                   % 1000000007 AS BIGINT)) AS grams
        FROM documents),
      wnd AS (
        SELECT doc_id,
               list_sort(list_distinct(CASE WHEN len(grams) >= 4
                 THEN list_transform(generate_series(1, len(grams) - 3),
                      j -> list_min(grams[j:j+3]))
                 ELSE [list_min(grams)] END)) AS wn
        FROM g WHERE len(grams) > 0),
      fp AS (SELECT doc_id, unnest(wn) AS f FROM wnd),
      keepf AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 50),
      pf AS (SELECT doc_id, f FROM fp JOIN keepf USING (f)),
      cnt AS (SELECT doc_id, count(*) AS nfp FROM pf GROUP BY doc_id),
      pairs AS (
        SELECT pa.doc_id AS a, pb.doc_id AS b, count(*) AS shared
        FROM pf pa JOIN pf pb ON pa.f = pb.f AND pa.doc_id <> pb.doc_id
        GROUP BY pa.doc_id, pb.doc_id
        HAVING count(*) >= 10),
      sc AS (
        SELECT p.a, p.b, p.shared, c.nfp,
               CAST(p.shared AS DOUBLE) / CAST(c.nfp AS DOUBLE) AS ratio
        FROM pairs p
        JOIN cnt c ON c.doc_id = p.a
        JOIN documents da ON da.doc_id = p.a
        JOIN documents db ON db.doc_id = p.b
        WHERE CAST(p.shared AS DOUBLE) / CAST(c.nfp AS DOUBLE) >= 0.9
          AND (db.n_chars > da.n_chars
               OR (db.n_chars = da.n_chars AND p.b < p.a)))
      SELECT a AS doc_id, b AS container_id, shared, nfp AS n_fp,
             floor(ratio * 1000000.0 + 0.5) / 1000000.0 AS ratio6
      FROM sc
      QUALIFY row_number() OVER (PARTITION BY a
        ORDER BY ratio DESC, b ASC) = 1
      ORDER BY doc_id"""))

  /** Incremental batch-vs-corpus dedup ([[graft.operators.Dedup
    * .againstCorpus]]): every tenth document arrives as "today's drop"
    * and is dispositioned against the other nine-tenths — exact
    * content-key membership plus best MinHash-LSH near-match, corpus
    * never self-joined. The oracle replays the md5 content keys, the
    * full signature/band chain on BOTH sides (q42/q43's machinery),
    * the corpus-side bucket cap, the Jaccard verify, and the
    * best-match argmax. */
  private val q146 = QueryDef(
    "q146_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.againstCorpus(batch, corpus, "doc_id", "text",
          shingleK = 1, numHashes = 16, bands = 4, rows = 4,
          threshold = 0.8, maxBucketSize = 1000,
          index = IndexStore.Memory(),
          minParallelism = s.sparkContext.defaultParallelism)
        .select(col("id"), col("dup_exact"), col("near_id"),
          Rnd.halfUp(col("jaccard"), 6).as("jac6"))
        .orderBy(col("id"))
    },
    Some("""
      WITH b0 AS (
        SELECT doc_id AS id, md5(text) AS h,
               list_distinct(list_filter(string_split_regex(text, '\s+'),
                 x -> length(x) > 0)) AS sset
        FROM documents WHERE doc_id % 10 = 0),
      c0 AS (
        SELECT doc_id AS cid, md5(text) AS h,
               list_distinct(list_filter(string_split_regex(text, '\s+'),
                 x -> length(x) > 0)) AS cset
        FROM documents WHERE doc_id % 10 <> 0),
      ex AS (
        SELECT DISTINCT b0.id FROM b0
        WHERE b0.h IN (SELECT h FROM c0)),
      bs AS (
        SELECT id, sset,
               unnest(list_transform(generate_series(0, 3),
                 b -> b::VARCHAR || ':' ||
                   (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM (
          SELECT id, sset,
                 list_transform(generate_series(0, 15),
                   i -> list_min(list_transform(sset,
                        s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
          FROM b0 WHERE len(sset) > 0)),
      cs AS (
        SELECT cid, cset,
               unnest(list_transform(generate_series(0, 3),
                 b -> b::VARCHAR || ':' ||
                   (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM (
          SELECT cid, cset,
                 list_transform(generate_series(0, 15),
                   i -> list_min(list_transform(cset,
                        s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
          FROM c0 WHERE len(cset) > 0)),
      okb AS (SELECT band FROM cs GROUP BY band HAVING count(*) <= 1000),
      cand AS (
        SELECT DISTINCT bs.id, cs.cid
        FROM bs JOIN cs ON bs.band = cs.band
        JOIN okb ON okb.band = cs.band),
      ver AS (
        SELECT c.id, c.cid,
               len(list_intersect(b.sset, cc.cset)) AS inter,
               len(b.sset) AS la, len(cc.cset) AS lb
        FROM cand c
        JOIN b0 b ON b.id = c.id
        JOIN c0 cc ON cc.cid = c.cid),
      near AS (
        SELECT id, cid AS near_id, inter / (la + lb - inter) AS jaccard
        FROM ver
        WHERE inter / (la + lb - inter) >= 0.8
        QUALIFY row_number() OVER (PARTITION BY id
          ORDER BY inter / (la + lb - inter) DESC, cid ASC) = 1)
      SELECT b0.id,
             CASE WHEN ex.id IS NULL THEN 0 ELSE 1 END AS dup_exact,
             near.near_id,
             floor(near.jaccard * 1000000.0 + 0.5) / 1000000.0 AS jac6
      FROM b0
      LEFT JOIN ex ON ex.id = b0.id
      LEFT JOIN near ON near.id = b0.id
      ORDER BY b0.id"""))

  /** The curation chain with CONTAINMENT as its middle stage: split →
    * exact dedup → drop docs ≥ 90% contained in a longer survivor
    * ([[graft.operators.Dedup.containment]], q143's operator — the
    * embedded-wire-story case the near-dup stage can't fire on) →
    * near-dup → decontamination → packing, on the capped corpus with
    * session-temp indexes. [[CurationChain]] builds the stages of both
    * engines; the containment survivors are the handoff (they feed the
    * LSH, its survivor join and the decontamination probe). */
  private val q148 = CurationChain.query("q148_curation_chain_containment",
    Recipe(capped = true, Some(Containment), WordLsh, IndexStore.default,
      handoffs = Set("s1c")),
    Packed)

  /** Cross-source syndication matrix ([[graft.operators.Dedup
    * .containmentPairs]]): the FULL containment graph rolled up by
    * (source of the contained doc, source of the container) — which
    * sources republish whose content, the report that decides which
    * feed is upstream and which is a mirror. Counts are exact; the
    * oracle replays q143's pair chain without the best-container
    * argmax, then the source join and rollup. */
  private val q149 = QueryDef(
    "q149_syndication_matrix",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("n_chars"), col("source"))
      val pairs = Dedup.containmentPairs(
          docs.select(col("doc_id"), col("text"), col("n_chars")),
          "doc_id", "text", "n_chars",
          tau = 0.9, minShared = 10, maxDf = 50, k = 8, w = 4,
          index = graft.operators.IndexStore.default,
          minParallelism = s.sparkContext.defaultParallelism)
      val srcA = docs.select(col("doc_id"), col("source").as("from_source"))
      val srcB = docs.select(col("doc_id").as("container_id"),
        col("source").as("to_source"))
      pairs.join(srcA, Seq("doc_id")).join(srcB, Seq("container_id"))
        .groupBy(col("from_source"), col("to_source"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("from_source"), col("to_source"))
    },
    Some("""
      WITH g AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - 7), i ->
                 CAST(list_sum(list_transform(generate_series(0, 7), j ->
                   unicode(substr(text, i + j, 1)) * CAST(31 ** (7 - j) AS BIGINT)))
                   % 1000000007 AS BIGINT)) AS grams
        FROM documents),
      wnd AS (
        SELECT doc_id,
               list_sort(list_distinct(CASE WHEN len(grams) >= 4
                 THEN list_transform(generate_series(1, len(grams) - 3),
                      j -> list_min(grams[j:j+3]))
                 ELSE [list_min(grams)] END)) AS wn
        FROM g WHERE len(grams) > 0),
      fp AS (SELECT doc_id, unnest(wn) AS f FROM wnd),
      keepf AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 50),
      pf AS (SELECT doc_id, f FROM fp JOIN keepf USING (f)),
      cnt AS (SELECT doc_id, count(*) AS nfp FROM pf GROUP BY doc_id),
      pairs AS (
        SELECT pa.doc_id AS a, pb.doc_id AS b, count(*) AS shared
        FROM pf pa JOIN pf pb ON pa.f = pb.f AND pa.doc_id <> pb.doc_id
        GROUP BY pa.doc_id, pb.doc_id
        HAVING count(*) >= 10),
      sc AS (
        SELECT p.a, p.b
        FROM pairs p
        JOIN cnt c ON c.doc_id = p.a
        JOIN documents da ON da.doc_id = p.a
        JOIN documents db ON db.doc_id = p.b
        WHERE CAST(p.shared AS DOUBLE) / CAST(c.nfp AS DOUBLE) >= 0.9
          AND (db.n_chars > da.n_chars
               OR (db.n_chars = da.n_chars AND p.b < p.a)))
      SELECT da.source AS from_source, db.source AS to_source,
             count(*) AS n_pairs,
             count(DISTINCT sc.a) AS n_docs
      FROM sc
      JOIN documents da ON da.doc_id = sc.a
      JOIN documents db ON db.doc_id = sc.b
      GROUP BY da.source, db.source
      ORDER BY from_source, to_source"""))

  /** The q148 stages with every multi-consumer frame handed off (the
    * funnel discipline: stage k's count or flag never recomputes stages
    * 1..k−1), shared by the q153 attrition and q166 disposition tails. */
  private val containmentFunnel = Recipe(capped = true, Some(Containment),
    WordLsh, IndexStore.NoStore, handoffs = Set("train", "s1", "s1c", "s2"))

  /** Chain attrition report: the q148 chain instrumented — how many
    * documents and tokens survive EACH stage (input → exact →
    * containment → near-dup → decontamination), the per-stage loss
    * accounting a curation run publishes next to its output. */
  private val q153 = CurationChain.query("q153_chain_attrition",
    containmentFunnel, Attrition)

  /** Per-document curation DISPOSITION — the audit log a production
    * curation run publishes next to its output: for EVERY input
    * document, the first stage that dropped it (exact → containment →
    * near-dup → decontamination) or 'kept'. Same stages as [[q153]]'s
    * funnel; where q153 reports the aggregate attrition, this answers
    * the per-doc question a pipeline operator debugging a missing
    * document actually asks. */
  private val q166 = CurationChain.query("q166_chain_disposition",
    containmentFunnel, Disposition)

  /** The embedding-path dedup pipeline, end to end — q89's analogue over
    * vectors: sign-LSH near-dup pairs (q45) → connected-component
    * keep/drop (q82's closure) → duplicates ACTUALLY DROPPED → per-label
    * rollup of the surviving corpus. The oracle replays every stage
    * (hyperplanes, buckets, cosine verify, recursive-CTE closure, drop,
    * aggregate), so the embedding-dedup numbers a user would index/train
    * on are what is verified. */
  private val q105 = QueryDef(
    "q105_embedding_dedup_pipeline",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") <= 2000)
      val pairs = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        threshold = 0.4, planesPerTable = 4, tables = 8,
        dims = Tables.embeddingDims, index = IndexStore.Memory())
      val decision = ConnectedComponents.dedupAssign(
          emb.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b")
        .select(col("vec_id"), col("keep"))
      emb.join(decision, Seq("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep").cast("long")).as("n_kept"))
        .orderBy(col("label"))
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label
        FROM embeddings WHERE vec_id <= 2000),
      planes AS (
        SELECT t, b, list_transform(generate_series(0, 63), d ->
          CAST(('0x' || substr(md5((t*4+b)::VARCHAR || ':' || d::VARCHAR), 1, 15))::UBIGINT::BIGINT
               % 2001 - 1000 AS DOUBLE)) AS w
        FROM (SELECT unnest(generate_series(0, 7)) AS t),
             (SELECT unnest(generate_series(0, 3)) AS b)),
      bkt AS (
        SELECT e.vec_id, p.t,
               sum(CASE WHEN list_dot_product(e.v, p.w) > 0 THEN (1 << p.b) ELSE 0 END) AS bkt
        FROM e, planes p
        GROUP BY e.vec_id, p.t),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bkt a JOIN bkt b ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
        WHERE list_dot_product(ea.v, eb.v) /
              (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
              >= 0.4),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
      cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
      decided AS (
        SELECT e.vec_id, e.label,
               CASE WHEN coalesce(cc.cluster_id, e.vec_id) = e.vec_id
                    THEN 1 ELSE 0 END AS keep
        FROM e LEFT JOIN cc ON cc.id = e.vec_id)
      SELECT label, count(*) AS n_total, sum(keep)::BIGINT AS n_kept
      FROM decided
      GROUP BY label
      ORDER BY label"""))

  /** The BATCH twin of the streaming curation chain
    * ([[graft.streaming.StreamingCurationChain]]), as one DuckDB-verified
    * query: deterministic train/eval split → exact dedup (min-id keeper)
    * → near-dup PAIRWISE drop (id_b of any verified LSH pair — the
    * gate's drop-against-history semantics, not CC closure) →
    * decontamination against the eval slice's df-pruned winnowing index
    * (offending train docs DROPPED, q109 action semantics) → sequence
    * packing of the survivors. Every stage is a proven oracle fragment
    * (q83 split, q40 keeper, q42/q43 LSH, q85 winnowing, q90 prefix
    * sum); composing them verifies the HANDOFFS — and gives the
    * streaming chain's spec-verified semantics a hash-verified batch
    * reference. Capped at doc_id <= 300: 1-word shingles with uncapped
    * buckets are quadratic in stop-shingle buckets (q157 is the scale
    * path). Output: every surviving doc's packed assignment, row-exact. */
  private val q112 = CurationChain.query("q112_curation_chain",
    Recipe(capped = true, None, WordLsh, IndexStore.NoStore,
      handoffs = Set.empty),
    Packed)

  /** The q112 chain with span EXCISION as its middle stage — spanExcision
    * is the chain's most expensive stage and its output fans out to the
    * LSH (read 3x under NoStore), the survivor join and the
    * decontamination probe, so `s1x` is the handoff. */
  private val excisionChain = Recipe(capped = true, Some(Excision), WordLsh,
    IndexStore.NoStore, handoffs = Set("s1x"))

  /** The q112 batch curation chain with a span-excision stage between
    * exact dedup and near-dup — the C4 → ExactSubstr ordering of Lee et
    * al. (ACL 2022): whole-document dedup first (cheap, removes exact
    * copies), then duplicated-span excision REWRITES the surviving
    * texts (q116 operator), and the rewritten texts feed near-dup,
    * decontamination, and packing. Downstream stages therefore see
    * whitespace-normalized excised text — the oracle computes near-dup
    * shingles AND decontamination fingerprints from the excised text
    * (eval-side fingerprints stay on the original eval docs, which are
    * never excised). Verifies the excision HANDOFF: spans duplicated
    * within the post-dedup train corpus change what near-dup and
    * decontam see, and the packing assignment shifts accordingly. */
  private val q118 = CurationChain.query("q118_curation_chain_excision",
    excisionChain, Packed)

  /** The COMPLETE curation recipe: the q118 chain with the q96 Gopher
    * quality funnel as stage 0 — the C4/RefinedWeb/Gopher ordering
    * (filter junk FIRST, then dedup what's left: repetition-flagged and
    * too-short docs never cost a dedup comparison). Eval fingerprints
    * come from the post-filter eval split, so a junk eval doc can't
    * poison decontamination either. The funnel is this query's own
    * corpus: the Spark repetition filter ahead of [[CurationChain]]'s
    * stages, and q96's repetition CTEs ahead of its oracle prefix. */
  private val q127 = QueryDef(
    "q127_curation_chain_quality",
    (s, d) => {
      // stage 0: quality funnel (q96's keep rule) — repetition metrics
      // are per-row projections, so the filter is shuffle-free
      val docs = graft.operators.TextAnalysis.repetition(
          CurationChain.documents(s, d, excisionChain), "doc_id", "text")
        .filter(col("n_tokens") >= 20 && col("flagged") === 0)
        .select(col("doc_id"), col("text"))
      Packed(excisionChain, CurationChain.stages(docs, excisionChain))
    },
    Some(raw"""
      WITH qtoks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS t
        FROM ${CurationChain.documentsSql(excisionChain)}),
      qbase AS (
        SELECT doc_id, text, len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct, t
        FROM qtoks),
      qg2 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
        FROM qbase WHERE len(t) >= 2),
      qc2 AS (
        SELECT doc_id, max(c) AS m, sum(c) AS tot
        FROM (SELECT doc_id, g, count(*) AS c FROM qg2 GROUP BY 1, 2)
        GROUP BY doc_id),
      qg3 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
        FROM qbase WHERE len(t) >= 3),
      qc3 AS (
        SELECT doc_id, max(c) AS m, sum(c) AS tot
        FROM (SELECT doc_id, g, count(*) AS c FROM qg3 GROUP BY 1, 2)
        GROUP BY doc_id),
      qr AS (
        SELECT qbase.doc_id, qbase.text, qbase.n_tokens,
          CASE WHEN qbase.n_tokens > 0
               THEN 1.0 - qbase.n_distinct::DOUBLE / qbase.n_tokens::DOUBLE
               ELSE 0.0 END AS dup_token_frac,
          COALESCE(qc2.m::DOUBLE / qc2.tot::DOUBLE, 0.0) AS top_2gram_frac,
          COALESCE(qc3.m::DOUBLE / qc3.tot::DOUBLE, 0.0) AS top_3gram_frac
        FROM qbase LEFT JOIN qc2 USING (doc_id) LEFT JOIN qc3 USING (doc_id)),
      docs AS (
        SELECT doc_id, text FROM qr
        WHERE n_tokens >= 20
          AND NOT (dup_token_frac > 0.4 OR top_2gram_frac > 0.2
                   OR top_3gram_frac > 0.18)),
      ${CurationChain.ctes(excisionChain, "docs")}${Packed.sql(excisionChain)}"""))

  /** The q112 curation chain UNCAPPED — the whole documents corpus, no
    * doc_id fence. What makes it affordable is exactly the production
    * LSH posture the capped family steps around to verify handoffs:
    * 3-word shingles (q42/q43's default — shingle sets are near-unique,
    * so buckets stay small) plus a finite `maxBucketSize` whose
    * de-skewed groupBy+join-back cap drops any boilerplate band before
    * the pair join can detonate. This is the scale configuration: the
    * capped chains verify stage HANDOFFS on a fenced corpus; this one
    * verifies the chain SURVIVES the corpus. The oracle replays the
    * 3-shingle LSH (q43's scheme with q42's shingle CTE), the band cap,
    * winnowing decontamination, and the packing tail — hash-exact. The
    * dedup survivors (read by the LSH and both joins) and the near-dup
    * survivors (read by the decontamination probe and s3) are handed
    * off. */
  private val q157 = CurationChain.query("q157_curation_chain_full",
    Recipe(capped = false, None, ShingleLsh, IndexStore.default,
      handoffs = Set("s1", "s2")),
    Packed)

  /** Attrition report for the UNCAPPED chain — q153's per-stage loss
    * accounting over q157's full-corpus recipe (input → exact →
    * 3-shingle capped LSH near-dup → decontamination): the observability
    * a production curation run publishes, at production scale posture.
    * Stage frames persist once (the funnel discipline), so stage k's
    * count never recomputes stages 1..k−1. */
  private val q159 = CurationChain.query("q159_chain_attrition_full",
    Recipe(capped = false, None, ShingleLsh, IndexStore.default,
      handoffs = Set("train", "s1", "s2")),
    Attrition)

  override def entries: Seq[QueryDef] =
    Seq(q40, q41, q42, q43, q44, q45, q46, q82, q89, q99, q100, q105, q112,
      q116, q118, q127, q143, q146, q148, q149, q153, q157, q159, q166)
}
