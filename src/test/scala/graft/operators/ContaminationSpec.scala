package graft.operators

import graft.SparkSpec

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  private val passage =
    "the quick brown fox jumps over the lazy dog while seventeen astronauts watch"

  test("planted passage overlap is detected; unrelated test docs are clean") {
    val docs = Seq(
      (1L, s"training document one contains $passage inside its body text", "train"),
      (2L, "another training document with completely independent material here", "train"),
      (10L, s"evaluation item quoting $passage almost verbatim for the probe", "test"),
      (11L, "a genuinely clean evaluation document with original phrasing only", "test"))
      .toDF("doc_id", "text", "split")
    // minShared=5: incidental single-word gram overlaps (e.g. 'document')
    // between unrelated docs stay below the threshold; the planted
    // passage shares dozens of fingerprints
    val out = Contamination.detect(docs, "doc_id", "text", "split",
        minShared = 5)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(out.map(_._1) == List(10L), s"only doc 10 is contaminated: $out")
    val (_, nTrain, maxShared, sumShared) = out.head
    assert(nTrain == 1L && maxShared >= 20L && sumShared == maxShared)
  }

  test("boilerplate fingerprints shared by too many docs are df-pruned") {
    val boiler = "standard license header appears identically everywhere in corpus"
    // boilerplate present in ALL docs; with maxDf below the corpus size the
    // shared header alone must NOT flag the clean test doc
    val docs = (1L to 6L).map(i => (i, s"$boiler unique body $i $i $i", "train")) :+
      ((10L, s"$boiler but fresh evaluation content distinct from training", "test"))
    val out = Contamination.detect(docs.toDF("doc_id", "text", "split"),
      "doc_id", "text", "split", maxDf = 3)
    assert(out.isEmpty,
      "df-pruned boilerplate must not produce contamination hits")
  }

  test("semantic: paraphrase-leaked train vec flagged, eval never self-joins train") {
    // fixed two-cell codebook on the axes; train 101 is a near-copy of
    // eval 1 (cos ≈ 1, same cell), train 102 is same-cell but far,
    // train 103 lives in the other cell
    val book = Seq(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val eval = Seq((1L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val train = Seq(
      (101L, Array(1.0f, 0.06f)),
      (102L, Array(1.0f, 0.9f)),
      (103L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Contamination.semantic(train, eval, "vec_id", "embedding",
        book, threshold = 0.99)
      .select("corpus_id", "kept").as[(Long, Int)].collect().toMap
    assert(out == Map(101L -> 0, 102L -> 1, 103L -> 1),
      s"only the paraphrase-distance leak is contaminated: $out")
    // an over-cap eval cell skips comparison — guard, not detonate
    val capped = Contamination.semantic(train, eval, "vec_id", "embedding",
        book, threshold = 0.99, maxCellSize = 0)
      .select("corpus_id", "kept").as[(Long, Int)].collect().toMap
    assert(capped.values.forall(_ == 1))
  }

  test("bloom prefilter: result equals the exact join; probe is in the plan; empty eval is clean") {
    val train = Seq(
      (1L, s"training document one contains $passage inside its body text"),
      (2L, "another training document with completely independent material here"),
      (3L, s"third trainer also quoting $passage nearly word for word today"))
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (10L, s"evaluation item quoting $passage almost verbatim for the probe"),
      (11L, "a genuinely clean evaluation document with original phrasing only"))
      .toDF("doc_id", "text")

    val bloomed = Contamination.bloomPrefiltered(train, evalSet,
      "doc_id", "text", minShared = 5)
    // ground truth: the same winnow + df-prune + join chain with no
    // prefilter — detect() over a synthetic split carrying both sides,
    // rolled up per TRAIN doc by swapping the split names
    val both = train.withColumn("split", org.apache.spark.sql.functions.lit("test"))
      .unionByName(evalSet.withColumn("split",
        org.apache.spark.sql.functions.lit("train")))
    val exact = Contamination.detect(both, "doc_id", "text", "split",
      minShared = 5)
    // NOTE: detect's maxDf prunes over BOTH sides while bloomPrefiltered
    // prunes over eval only — with 5 docs both are far below maxDf=50,
    // so the chains agree here by construction
    val a = bloomed.orderBy("train_id")
      .as[(Long, Long, Long, Long)].collect().toList
    val b = exact.orderBy("test_id")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(a == b, s"bloom path $a must equal exact path $b")
    assert(a.map(_._1) == List(1L, 3L), "both passage-quoting trainers flagged")

    // the prefilter must actually be planned: the probe expression sits
    // in the corpus-side filter
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"),
      s"bloom probe missing from plan")

    // empty eval set -> no contamination, no NPE from a null bloom cell
    val none = Contamination.bloomPrefiltered(train,
      evalSet.limit(0), "doc_id", "text", minShared = 5)
    assert(none.isEmpty)
  }

  test("bloomOf: overlapping calls that raise the bloom caps never write the caller's session") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.functions.{col, udf}
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(bitsKey)
    // a tiny fpp sizes past the 2^26-bit cap from a 50k-item index; the
    // two calls size differently, so each one's gate below recognises
    // its own raised cap in the tasks' propagated SQL confs
    val fpp = 1e-300
    val (nA, nB) = (50000L, 52000L)
    val (bitsA, bitsB) = (graft.functions.BloomFunctions.optimalNumBits(nA, fpp),
      graft.functions.BloomFunctions.optimalNumBits(nB, fpp))
    assert(bitsA > (1L << 26) && bitsB > bitsA)
    val aRunning, bRunning, aDone = new CountDownLatch(1)
    // the UDF closure ships to tasks, so it names its gate by key and
    // finds the latches in a JVM-wide registry
    def gated(n: Long, bits: Long, gate: () => Unit) = {
      val key = s"${java.util.UUID.randomUUID()}"
      BloomGates.gates.put(key, gate)
      val g = udf { (_: Long) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.getLocalProperty(bitsKey) == bits.toString)
          BloomGates.gates.get(key)()
        true
      }.asNondeterministic()
      spark.range(0, n, 1, 1).filter(g(col("id"))).select(col("id").as("f"))
    }
    // A's bloom collect waits until B's is running; B's waits until A
    // has returned, so A restores before B does
    val indexA = gated(nA, bitsA, () => { aRunning.countDown(); bRunning.await(120, TimeUnit.SECONDS) })
    val indexB = gated(nB, bitsB, () => { bRunning.countDown(); aDone.await(120, TimeUnit.SECONDS) })
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Array[Byte]]]
    def call(name: String, index: org.apache.spark.sql.DataFrame) = new Thread(() =>
      results.put(name,
        try Right(Contamination.bloomOf(index, fpp = fpp).get)
        catch { case t: Throwable => Left(t) }))
    val ta = call("a", indexA)
    ta.start()
    assert(aRunning.await(120, TimeUnit.SECONDS), s"call A never reached its bloom collect: $results")
    val tb = call("b", indexB)
    tb.start()
    val bStarted = bRunning.await(120, TimeUnit.SECONDS)
    val during = spark.conf.getOption(bitsKey)
    ta.join(120000)
    aDone.countDown()
    tb.join(120000)
    assert(bStarted, "call B never reached its bloom collect")
    Seq("a", "b").foreach(n => assert(results.get(n).isRight, s"call $n failed: ${results.get(n)}"))
    assert(during == before, s"caller's $bitsKey was $during while both calls ran (was $before)")
    assert(spark.conf.getOption(bitsKey) == before,
      s"caller's $bitsKey left at ${spark.conf.getOption(bitsKey)} (was $before)")
    // each filter was sized past the default cap, not clamped to it
    assert(results.get("a").toOption.get.length >= bitsA / 8)
    assert(results.get("b").toOption.get.length >= bitsB / 8)
  }
}

/** Latch callbacks the gated UDFs of the overlapping-`bloomOf` test run. */
private object BloomGates {
  val gates = new java.util.concurrent.ConcurrentHashMap[String, () => Unit]
}
