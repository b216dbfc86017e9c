package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the round-18 size-adaptive spread contract: the width is derived
  * from the plan-estimated bytes, never blanket-fanned to the requested
  * floor, and a frame whose estimate already fits its current layout is
  * returned UNCHANGED (no exchange node at all). */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))

  test("tiny frame: spread is the identity — zero exchanges added") {
    val df = (1L to 100L).map(i => (i, s"doc $i")).toDF("id", "text")
      .coalesce(1)
    val out = Spread.byKey(df, "id", 8)
    // ~2 KB estimated << 64 KB target: one partition suffices
    assert(out.queryExecution.toRdd.getNumPartitions == 1)
    assert(exchanges(out) == exchanges(df))
  }

  test("width scales with estimated bytes and clamps at minParallelism") {
    val big = (1L to 2000L)
      .map(i => (i, "x" * 600)).toDF("id", "text").coalesce(1)
    val out = Spread.byKey(big, "id", 8)
    val n = out.queryExecution.toRdd.getNumPartitions
    // ~1.2 MB estimate / 64 KB target = ~19, clamped to the floor of 8
    assert(n > 1 && n <= 8, s"expected (1, 8] partitions, got $n")
    // results are partitioning-invariant: same rows either way
    assert(out.orderBy("id").collect().toSeq ==
      big.orderBy("id").collect().toSeq)
  }

  test("minParallelism = 0 never repartitions (call-site default)") {
    val df = (1L to 50L).map(i => (i, s"t$i")).toDF("id", "text")
    assert(Spread.byKey(df, "id", 0) eq df)
  }

  test("costWeight 0: exchange stays un-numbered (AQE-sizable), tiny frames still skip it") {
    // `aqeSized = true` is what `costWeight = 0` used to select
    val tiny = (1L to 20L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1)
    assert(Spread.byKey(tiny, "id", 8, aqeSized = true) eq tiny)
    val big = (1L to 2000L).map(i => (i, "x" * 600)).toDF("id", "text").coalesce(1)
    val out = Spread.byKey(big, "id", 8, aqeSized = true)
    assert(exchanges(out) > exchanges(big))
    assert(out.queryExecution.analyzed.toString.contains("RepartitionByExpression"))
  }
}
