package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The chain queries persist stage handoffs through [[Handoff]]; after
  * the harness releases them, NO cached blocks from the chain may
  * outlive the query — a long-lived session running chains repeatedly
  * must not accumulate storage until eviction pressure. The pinned
  * counts are each chain's handoff set as [[CurationChain]] builds it
  * (its recipe's handoff frames plus the packing tail's sized frame),
  * so a builder change that drops or adds a persist fails here. */
class HandoffSpec extends SparkSpec {

  private val chains = Seq(
    "q112_curation_chain" -> 1,
    "q118_curation_chain_excision" -> 2,
    "q127_curation_chain_quality" -> 2,
    "q148_curation_chain_containment" -> 2,
    "q153_chain_attrition" -> 4,
    "q157_curation_chain_full" -> 3,
    "q159_chain_attrition_full" -> 3,
    "q166_chain_disposition" -> 4)

  chains.foreach { case (name, pinned) =>
    test(s"$name: $pinned handoffs register, and none survive releaseAll") {
      // settle any leftovers from other suites sharing the session first
      Handoff.releaseAll()
      spark.catalog.clearCache()
      val baseline = spark.sparkContext.getPersistentRDDs.size
      SparkEntry.queries(name)(spark, sf).collect()
      assert(Handoff.outstanding == pinned)
      assert(spark.sparkContext.getPersistentRDDs.size > baseline,
        "the handoffs should be persisted while the result is being consumed")
      Handoff.releaseAll()
      assert(Handoff.outstanding == 0)
      assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
        s"released chain left cached blocks: " +
          s"${spark.sparkContext.getPersistentRDDs.size} > $baseline")
    }
  }

  test("releaseAll is idempotent and safe with nothing registered") {
    Handoff.releaseAll()
    Handoff.releaseAll()
    assert(Handoff.outstanding == 0)
  }
}
