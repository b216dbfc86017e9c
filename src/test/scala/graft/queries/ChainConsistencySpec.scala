package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row

/** Cross-chain invariants of the curation chain queries: q148 (packing),
  * q153 (attrition) and q166 (disposition) run the same containment
  * funnel, and q157 (packing) / q159 (attrition) the same uncapped
  * chain, so their outputs must agree document for document. A stage
  * list wired differently in one of them (a missing stage, a swapped
  * frame, a different corpus) breaks one of these equalities even when
  * each query still matches its own oracle. */
class ChainConsistencySpec extends SparkSpec {

  private def run(name: String): Array[Row] =
    try SparkEntry.queries(name)(spark, sf).collect()
    finally Handoff.releaseAll()

  private lazy val q148 = run("q148_curation_chain_containment")
  private lazy val q153 = run("q153_chain_attrition")
  private lazy val q166 = run("q166_chain_disposition")

  private def nDocs(attrition: Array[Row]): Seq[Long] =
    attrition.sortBy(_.getAs[Int]("stage")).map(_.getAs[Long]("n_docs")).toSeq

  test("containment funnel: q148's packed docs are q166's kept docs") {
    val packed = q148.map(_.getAs[Long]("doc_id")).toSet
    val kept = q166.filter(_.getAs[String]("disposition") == "kept")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(packed.nonEmpty)
    assert(packed == kept)
  }

  test("containment funnel: q153's stage counts match q166 and q148") {
    val n = nDocs(q153)
    val names = q153.sortBy(_.getAs[Int]("stage")).map(_.getAs[String]("stage_name"))
    assert(names.toSeq == Seq("input", "exact", "containment", "near_dup", "decontam"))
    assert(n.head == q166.length, "stage 0 counts every train doc")
    val dropped = q166.groupBy(_.getAs[String]("disposition"))
      .map { case (k, v) => k -> v.length.toLong }
    names.indices.tail.foreach { k =>
      assert(n(k - 1) - n(k) == dropped.getOrElse(names(k), 0L),
        s"stage ${names(k)} drops ${n(k - 1) - n(k)} in q153 but " +
          s"${dropped.getOrElse(names(k), 0L)} in q166")
    }
    assert(n.last == q148.length)
    info(names.indices.tail.map(k => s"${names(k)} −${n(k - 1) - n(k)}")
      .mkString(s"input ${n.head}: ", ", ", s" → ${n.last}"))
  }

  test("uncapped chain: q159's last stage count is q157's row count") {
    val n = nDocs(run("q159_chain_attrition_full"))
    assert(n.length == 4)
    assert(n.last == run("q157_curation_chain_full").length)
    info(n.mkString("stage counts ", " → ", ""))
  }
}
