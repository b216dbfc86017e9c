package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions
import graft.operators.{Contamination, Dedup, IndexStore, Packing, Sampling}
import graft.queries.Handoff.HandoffOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch curation chain behind the DedupQueries chain queries
  * (q112/q118/q127/q148/q153/q157/q159/q166): deterministic train/eval
  * split → exact dedup (min-id keeper) → optional middle stage (span
  * excision rewrites texts, containment drops contained docs) → near-dup
  * PAIRWISE drop (id_b of any verified LSH pair) → decontamination
  * against the eval slice's df-pruned winnowing index → one tail.
  *
  * Built twice from the same [[Recipe]]: [[stages]] composes the Spark
  * operators, [[ctes]] writes the DuckDB reference CTEs by hand. Both
  * name their stages `train`, `eval`, `s1`, `s1x`|`s1c`, `s2`, `s3`, so
  * a tail is one Spark function over the stage frames plus one SQL
  * fragment over the same CTE names. */
private[queries] object CurationChain {

  /** The stage between exact dedup and near-dup: `name` labels it in
    * the attrition and disposition tails, `stage` names its frame/CTE. */
  sealed abstract class Middle(val name: String, val stage: String)
  /** Duplicated-span excision (q116): REWRITES the survivors' texts. */
  case object Excision extends Middle("excision", "s1x")
  /** Containment drop (q143): removes docs contained in a longer one;
    * carries `n_chars` through the split and exact dedup. */
  case object Containment extends Middle("containment", "s1c")

  /** Near-dup LSH posture. */
  final case class Lsh(shingleK: Int, maxBucketSize: Int)
  /** 1-word shingles, uncapped buckets: quadratic in stop-shingle
    * buckets, so only for the `doc_id <= 300` corpus. */
  val WordLsh = Lsh(shingleK = 1, maxBucketSize = Int.MaxValue)
  /** 3-word shingles (near-unique, small buckets) plus the de-skewed
    * band cap that drops boilerplate bands: the full-corpus posture. */
  val ShingleLsh = Lsh(shingleK = 3, maxBucketSize = 100)

  /** One chain's choices. `capped` fences the corpus at `doc_id <= 300`
    * (the q43/q89 LSH-corpus cap); `store` backs the containment, LSH
    * and fingerprint indexes; `handoffs` names the stage frames to
    * persist through [[Handoff]] (the frames with several consumers). */
  final case class Recipe(capped: Boolean, middle: Option[Middle], lsh: Lsh,
      store: IndexStore, handoffs: Set[String]) {
    def columns: Seq[String] =
      Seq("doc_id", "text") ++ middle.collect { case Containment => "n_chars" }
    /** (label, stage) of each train-side frame, in chain order. */
    def funnel: Seq[(String, String)] =
      Seq("input" -> "train", "exact" -> "s1") ++
        middle.map(m => m.name -> m.stage) ++
        Seq("near_dup" -> "s2", "decontam" -> "s3")
  }

  /** The chain's input documents (Spark), capped per the recipe. */
  def documents(s: SparkSession, d: String, r: Recipe): DataFrame = {
    val docs = Tables.documents(s, d).select(r.columns.map(col): _*)
    if (r.capped) docs.filter(col("doc_id") <= 300) else docs
  }

  /** The chain's input documents (DuckDB relation). */
  def documentsSql(r: Recipe): String =
    if (r.capped) "documents WHERE doc_id <= 300" else "documents"

  /** The named stage frames of `corpus` (columns `r.columns`). */
  def stages(corpus: DataFrame, r: Recipe): Map[String, DataFrame] = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    def stage(name: String, df: DataFrame) =
      if (r.handoffs(name)) df.handoff else df
    val split = Sampling.split(corpus, "doc_id",
      Seq("train" -> 0.9, "eval" -> 0.1))
    val train = stage("train",
      split.filter(col("split") === "train").drop("split"))
    val evalDocs = split.filter(col("split") === "eval").drop("split")
    val s1 = stage("s1", Dedup.exact(train, "doc_id", "text")
      .select(r.columns.map(col): _*))
    val middle = r.middle.map(m => m -> stage(m.stage, m match {
      case Excision =>
        Dedup.spanExcision(s1, "doc_id", "text", n = 16, minParallelism = par)
          .select(col("doc_id"), col("clean_text").as("text"))
      case Containment =>
        val cont = Dedup.containment(s1, "doc_id", "text", "n_chars",
            tau = 0.9, minShared = 10, maxDf = 50, k = 8, w = 4,
            index = r.store, minParallelism = par)
          .select(col("doc_id").as("__cd"))
        s1.join(cont, col("doc_id") === col("__cd"), "left_anti")
          .select(col("doc_id"), col("text"))
    }))
    val s1m = middle.fold(s1)(_._2)
    val prs = Dedup.minhashLsh(s1m, "doc_id", "text",
      shingleK = r.lsh.shingleK, numHashes = 16, bands = 4, rows = 4,
      threshold = 0.8, maxBucketSize = r.lsh.maxBucketSize,
      index = r.store, minParallelism = par)
    val s2 = stage("s2", s1m.join(prs.select(col("id_b").as("__d")).distinct(),
      col("doc_id") === col("__d"), "left_anti"))
    // eval fingerprints come from the ORIGINAL eval text; the train-side
    // check reads the (possibly excised) survivors
    val idx = Contamination.fingerprints(evalDocs, "doc_id", "text",
      maxDf = 50, k = 8, w = 4, index = r.store,
      minParallelism = par, rollingHash = true)
    val contam = Contamination.checkAgainstIndex(s2, "doc_id", "text", idx,
        minShared = 20, k = 8, w = 4, // corpus is heavily self-similar (q109's tuning note)
        minParallelism = par, rollingHash = true)
      .select(col("test_id").as("__c"))
    val s3 = s2.join(contam, col("doc_id") === col("__c"), "left_anti")
    Map("train" -> train, "eval" -> evalDocs, "s1" -> s1, "s2" -> s2,
      "s3" -> s3) ++ middle.map { case (m, df) => m.stage -> df }
  }

  /** The DuckDB CTEs `sp`, `train`, `eval`, `s1`, [`s1x`|`s1c`], `s2`,
    * `s3` (plus their helpers) over the relation `corpus`, which must
    * provide `r.columns`. No leading WITH, no trailing comma. */
  def ctes(r: Recipe, corpus: String): String = {
    val cols = r.columns.mkString(", ")
    val mid = r.middle.fold("s1")(_.stage)
    raw"""sp AS (
        SELECT $cols,
               CASE WHEN ('0x' || substr(md5('graft|' || doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT
                         < 1037629354146162304 THEN 'train' ELSE 'eval' END AS split
        FROM $corpus),
      train AS (SELECT $cols FROM sp WHERE split = 'train'),
      eval AS (SELECT doc_id, text FROM sp WHERE split = 'eval'),
      s1 AS (
        SELECT $cols FROM (
          SELECT $cols,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM train) WHERE rn = 1),
      ${r.middle.fold("")(middleCtes)}${lshCtes(r.lsh, mid)}
      s2 AS (
        SELECT doc_id, text FROM $mid
        WHERE doc_id NOT IN (SELECT id_b FROM drop2)),
      gsrc AS (
        SELECT doc_id, text FROM eval
        UNION ALL
        SELECT doc_id, text FROM s2),
      g AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - 7), i ->
                 CAST(list_sum(list_transform(generate_series(0, 7), j ->
                   unicode(substr(text, i + j, 1)) * CAST(31 ** (7 - j) AS BIGINT)))
                   % 1000000007 AS BIGINT)) AS grams
        FROM gsrc),
      wnd AS (
        SELECT doc_id,
               list_sort(list_distinct(CASE WHEN len(grams) >= 4
                 THEN list_transform(generate_series(1, len(grams) - 3),
                      j -> list_min(grams[j:j+3]))
                 ELSE [list_min(grams)] END)) AS wn
        FROM g WHERE len(grams) > 0),
      fp AS (SELECT doc_id, unnest(wn) AS f FROM wnd),
      evalfp AS (SELECT fp.doc_id, fp.f FROM fp JOIN eval USING (doc_id)),
      pruned AS (SELECT f FROM evalfp GROUP BY f HAVING count(*) <= 50),
      eidx AS (SELECT doc_id AS train_id, f FROM evalfp JOIN pruned USING (f)),
      hits AS (
        SELECT s2fp.doc_id
        FROM (SELECT fp.doc_id, fp.f FROM fp JOIN s2 USING (doc_id)) s2fp
        JOIN eidx ON s2fp.f = eidx.f
        GROUP BY s2fp.doc_id, eidx.train_id
        HAVING count(*) >= 20),
      s3 AS (
        SELECT doc_id, text FROM s2
        WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM hits))"""
  }

  /** The middle stage's CTEs over `s1`, ending with its stage CTE. */
  private def middleCtes(m: Middle): String = m match {
    case Excision => raw"""xt AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS t
        FROM s1),
      xo AS (
        SELECT doc_id, unnest(generate_series(1, len(t) - 15)) AS pos, t
        FROM xt WHERE len(t) >= 16),
      xg AS (
        SELECT doc_id, pos,
               md5(array_to_string(t[pos : pos + 15], ' ')) AS h
        FROM xo),
      xm AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (PARTITION BY h
                 ORDER BY doc_id, pos) AS rn
        FROM xg),
      xdup AS (
        SELECT doc_id, pos FROM xm
        WHERE c >= 2 AND rn > 1),
      xcov AS (
        SELECT doc_id, list(DISTINCT tp) AS cps
        FROM (SELECT doc_id,
                     unnest(generate_series(pos, pos + 15)) AS tp
              FROM xdup)
        GROUP BY doc_id),
      s1x AS (
        SELECT t.doc_id,
               coalesce(array_to_string(
                 list_transform(
                   list_filter(generate_series(1, len(t.t)),
                               i -> c.cps IS NULL OR NOT list_contains(c.cps, i)),
                   i -> t.t[i]), ' '), '') AS text
        FROM xt t LEFT JOIN xcov c USING (doc_id)),
      """
    case Containment => raw"""cg AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - 7), i ->
                 CAST(list_sum(list_transform(generate_series(0, 7), j ->
                   unicode(substr(text, i + j, 1)) * CAST(31 ** (7 - j) AS BIGINT)))
                   % 1000000007 AS BIGINT)) AS grams
        FROM s1),
      cwnd AS (
        SELECT doc_id,
               list_sort(list_distinct(CASE WHEN len(grams) >= 4
                 THEN list_transform(generate_series(1, len(grams) - 3),
                      j -> list_min(grams[j:j+3]))
                 ELSE [list_min(grams)] END)) AS wn
        FROM cg WHERE len(grams) > 0),
      cfp AS (SELECT doc_id, unnest(wn) AS f FROM cwnd),
      ckeep AS (SELECT f FROM cfp GROUP BY f HAVING count(*) <= 50),
      cpf AS (SELECT doc_id, f FROM cfp JOIN ckeep USING (f)),
      ccnt AS (SELECT doc_id, count(*) AS nfp FROM cpf GROUP BY doc_id),
      cpairs AS (
        SELECT pa.doc_id AS a, pb.doc_id AS b, count(*) AS shared
        FROM cpf pa JOIN cpf pb ON pa.f = pb.f AND pa.doc_id <> pb.doc_id
        GROUP BY pa.doc_id, pb.doc_id
        HAVING count(*) >= 10),
      cdrop AS (
        SELECT DISTINCT p.a AS doc_id
        FROM cpairs p
        JOIN ccnt c ON c.doc_id = p.a
        JOIN s1 da ON da.doc_id = p.a
        JOIN s1 db ON db.doc_id = p.b
        WHERE CAST(p.shared AS DOUBLE) / CAST(c.nfp AS DOUBLE) >= 0.9
          AND (db.n_chars > da.n_chars
               OR (db.n_chars = da.n_chars AND p.b < p.a))),
      s1c AS (
        SELECT doc_id, text FROM s1
        WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),
      """
  }

  /** MinHash LSH over `src`'s texts (16 md5 hashes, 4 bands × 4 rows,
    * Jaccard ≥ 0.8 verify), ending with `drop2` = the id_b side of every
    * verified pair. Empty shingle sets never get a signature. */
  private def lshCtes(lsh: Lsh, src: String): String = {
    val sset = lsh.shingleK match {
      case 1 => "list_distinct(w)"
      case 3 => """list_distinct(CASE WHEN len(w) >= 3
                 THEN list_transform(generate_series(1, len(w) - 2),
                      j -> concat_ws(' ', w[j], w[j+1], w[j+2]))
                 ELSE [] END)"""
    }
    val (bandCap, banded) =
      if (lsh.maxBucketSize == Int.MaxValue) ("", "bands")
      else (s"""
      keepb AS (SELECT band FROM bands GROUP BY band HAVING count(*) <= ${lsh.maxBucketSize}),
      bands2 AS (SELECT b.id, b.sset, b.band FROM bands b JOIN keepb USING (band)),""",
        "bands2")
    raw"""sets AS (
        SELECT id, sset FROM (
          SELECT doc_id AS id, $sset AS sset
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS w
                FROM $src))
        WHERE len(sset) > 0),
      sigs AS (
        SELECT id, sset,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(sset,
                      s -> ('0x' || substr(md5(s || '#' || i::VARCHAR), 1, 15))::UBIGINT::BIGINT))) AS sig
        FROM sets),
      bands AS (
        SELECT id, sset, unnest(list_transform(generate_series(0, 3),
               b -> b::VARCHAR || ':' ||
                    (('0x' || substr(md5(array_to_string(sig[4*b+1:4*b+4], ',')), 1, 15))::UBIGINT::BIGINT)::VARCHAR)) AS band
        FROM sigs),$bandCap
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM $banded a JOIN $banded b ON a.band = b.band AND a.id < b.id),
      verified AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset)) AS inter,
               len(sa.sset) AS la, len(sb.sset) AS lb
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b),
      drop2 AS (
        SELECT DISTINCT id_b FROM verified
        WHERE inter / (la + lb - inter) >= 0.8),"""
  }

  /** What a chain query returns: a Spark function over the stage frames,
    * and the matching SQL over the stage CTEs, which continues the WITH
    * clause after `s3` (a comma and more CTEs, or directly the final
    * SELECT). */
  sealed trait Tail {
    def apply(r: Recipe, st: Map[String, DataFrame]): DataFrame
    def sql(r: Recipe): String
  }

  private val nTokensSql = raw"""len(list_filter(string_split_regex(text, '\s+'),
              x -> length(x) > 0))"""

  /** Sequence packing of the survivors (q90's prefix sum): every kept
    * doc's (n_tokens, tok_offset, seq_id, seq_offset, seq_last). `sized`
    * is bounded by the corpus and has the whole chain as lineage, so it
    * is persisted for the packing plan's two reads (offset aggregate +
    * join side), and an explicit bucketWidth skips assign's derive-width
    * action; the width shapes only the plan, never the assignment. */
  object Packed extends Tail {
    def apply(r: Recipe, st: Map[String, DataFrame]): DataFrame = {
      val sized = st("s3").select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).as("n_toks"))
        .handoff
      Packing.assign(sized, "doc_id", "n_toks", capacity = 1024L,
          bucketWidth = 8L)
        .orderBy(col("doc_id"))
    }
    def sql(r: Recipe): String = raw""",
      t AS (SELECT doc_id, $nTokensSql::BIGINT AS n_toks FROM s3),
      c AS (
        SELECT doc_id, n_toks,
          COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS tok_offset
        FROM t)
      SELECT doc_id, n_toks AS n_tokens, tok_offset,
        tok_offset // 1024 AS seq_id,
        tok_offset % 1024 AS seq_offset,
        (tok_offset + greatest(n_toks, 1) - 1) // 1024 AS seq_last
      FROM c
      ORDER BY doc_id"""
  }

  /** Attrition report: documents and tokens surviving each funnel stage
    * (stage, stage_name, n_docs, n_tokens). */
  object Attrition extends Tail {
    def apply(r: Recipe, st: Map[String, DataFrame]): DataFrame =
      r.funnel.zipWithIndex.map { case ((label, name), i) =>
        st(name).agg(count(lit(1)).as("n_docs"),
            sum(size(TextFunctions.tokens(col("text"))).cast("long"))
              .as("n_tokens"))
          .select(lit(i).as("stage"), lit(label).as("stage_name"),
            col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      }.reduce(_ unionByName _)
        .orderBy(col("stage"))
    def sql(r: Recipe): String =
      r.funnel.zipWithIndex.map { case ((label, name), i) =>
        s"""SELECT $i AS stage, '$label' AS stage_name, count(*) AS n_docs,
               COALESCE(CAST(sum($nTokensSql) AS BIGINT), 0) AS n_tokens FROM $name"""
      }.mkString("\n      ", "\n      UNION ALL\n      ", "\n      ORDER BY stage")
  }

  /** Per-document disposition: for every train doc, the label of the
    * first stage that dropped it, or 'kept'. Membership flags come from
    * LEFT joins against the stage frames (hash joins on doc_id — no
    * window, no driver-side rows); the first-drop rule is one CASE. */
  object Disposition extends Tail {
    def apply(r: Recipe, st: Map[String, DataFrame]): DataFrame = {
      val drops = r.funnel.tail
      val flagged = drops.foldLeft(st("train").select(col("doc_id"))) {
        case (df, (_, name)) =>
          df.join(st(name).select(col("doc_id"), lit(1).as(s"__$name")),
            Seq("doc_id"), "left")
      }
      val (label0, name0) = drops.head
      val first = drops.tail.foldLeft(when(col(s"__$name0").isNull, lit(label0))) {
        case (w, (label, name)) => w.when(col(s"__$name").isNull, lit(label))
      }
      flagged.select(col("doc_id"), first.otherwise(lit("kept")).as("disposition"))
        .orderBy(col("doc_id"))
    }
    def sql(r: Recipe): String = {
      val drops = r.funnel.tail
      s"""
      SELECT train.doc_id,
             CASE ${drops.map { case (label, name) =>
               s"WHEN $name.doc_id IS NULL THEN '$label'" }.mkString("\n                  ")}
                  ELSE 'kept' END AS disposition
      FROM train
      ${drops.map { case (_, name) =>
        s"LEFT JOIN $name ON $name.doc_id = train.doc_id" }.mkString("\n      ")}
      ORDER BY train.doc_id"""
    }
  }

  /** A chain query over the recipe's own documents. */
  def query(name: String, r: Recipe, tail: Tail): QueryDef = QueryDef(name,
    (s, d) => tail(r, stages(documents(s, d, r), r)),
    Some(s"WITH ${ctes(r, documentsSql(r))}${tail.sql(r)}"))
}
