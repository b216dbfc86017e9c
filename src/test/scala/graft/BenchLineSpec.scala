package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver bench contract of the TERMINAL stdout line: it must
  * fit the driver's ~2000-byte stdout tail capture AND carry a
  * per-query map (VERDICT r18 item 2 — a total-only terminal line left
  * the driver's PERF per_query/scaling empty every round). */
class BenchLineSpec extends AnyFunSuite {

  // a corpus the shape of the real one and a little larger: 195 queries
  // (q01-q47, q50-q99, q100-q197) named qNN_some_long_suffix with
  // second-scale timings
  private val names =
    (1 to 47).map(i => f"q$i%02d_some_relational_query_name") ++
      (50 to 99).map(i => f"q$i%02d_dedup_or_text_query_name") ++
      (100 to 197).map(i => s"q${i}_llm_pipeline_query_long_name")
  private val results: Seq[(String, Double)] =
    names.zipWithIndex.map { case (n, i) => n -> (0.15 + (i % 70) * 0.1) }

  test("terminal line fits the driver tail budget and stays one line") {
    val line = Bench.terminalLine(results, 225.938, "0.1", 0, "0.952", false)
    assert(line.length <= 1900, s"terminal line too long: ${line.length}")
    assert(!line.contains("\n"))
  }

  test("terminal line is valid JSON carrying every query at qdiv resolution") {
    val line = Bench.terminalLine(results, 225.938, "0.1", 0, "null", false)
    // minimal structural parse (no JSON lib on the main classpath):
    // extract qdiv and the queries map and check exact recoverability
    val qdiv = "\"qdiv\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toInt)
    assert(qdiv.nonEmpty, s"no qdiv in: ${line.take(200)}")
    val entries = "\"(q\\d+)\":(-?\\d+)".r.findAllMatchIn(
      line.substring(line.indexOf("\"queries\":"))).toSeq
    assert(entries.size == results.size)
    val byPrefix = results.map { case (n, v) => n.split("_")(0) -> v }.toMap
    entries.foreach { m =>
      val want = math.round(byPrefix(m.group(1)) * qdiv.get)
      assert(m.group(2).toLong == want, s"${m.group(1)}: ${m.group(2)} != $want")
    }
    // headline fields the driver has always parsed stay present
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"value\":225.938"))
    assert(line.contains("\"failed\":0"))
  }

  test("failed-query sentinel stays negative in the compact map") {
    val withFail = results.updated(3, results(3)._1 -> -1.0)
    val line = Bench.terminalLine(withFail, -1.0, "0.1", 1, "null", false)
    val p = withFail(3)._1.split("_")(0)
    assert(("\"" + p + "\":-\\d+").r.findFirstIn(line).nonEmpty)
  }

  test("ambiguous prefixes degrade to the total-only line, never a wrong map") {
    val dup = Seq("q01_a" -> 1.0, "q01_b" -> 2.0)
    val line = Bench.terminalLine(dup, 3.0, "0.1", 0, "null", false)
    assert(!line.contains("\"queries\""))
    assert(line.contains("\"value\":3.000"))
  }

  test("a corpus too large even at qdiv 1 gets the over-budget marker and no map") {
    // 250 queries at 3-digit seconds: the keyed map alone passes the budget
    val big = (1 to 250).map(i => s"q${i}_long_running_query" -> (100.0 + i))
    val line = Bench.terminalLine(big, 62875.0, "0.1", 0, "null", false)
    assert(line.length <= 1900)
    assert(line.contains("\"queries_map_dropped\":\"over_budget\""))
    assert(!line.contains("\"queries\""))
    assert(!line.contains("\"qdiv\""))
    assert(line.contains("\"value\":62875.000"))
  }

  test("ambiguous prefixes name their cause in the marker") {
    val dup = Seq("q01_a" -> 1.0, "q01_b" -> 2.0)
    val line = Bench.terminalLine(dup, 3.0, "0.1", 0, "null", false)
    assert(line.contains("\"queries_map_dropped\":\"ambiguous_prefixes\""))
  }

  // ---- the per-query layer split of the full line ----

  private def job(run: String, startMs: Long, endMs: Long) =
    BenchJob(Option(run), startMs, endMs, tasks = 4, shuffleBytes = 100)

  test("layer split: overlapping jobs count their union once") {
    // AQE runs stages of one query concurrently: [0,400] ∪ [100,300] ∪
    // [350,600] is 600 ms of job time, not the 850 ms their sum gives
    val (split, unattributed) = Bench.layerSplit(Map("q01#1" -> 1.0),
      Seq(job("q01#1", 0, 400), job("q01#1", 100, 300), job("q01#1", 350, 600)))
    assert(split("q01#1") == Layers(3, 12, 300, 0.6, 0.4))
    assert(unattributed == 0)
  }

  test("layer split: disjoint jobs add up and the driver keeps the gaps") {
    val (split, _) = Bench.layerSplit(Map("q02#2" -> 2.0),
      Seq(job("q02#2", 1000, 1250), job("q02#2", 1500, 2000)))
    val l = split("q02#2")
    assert(l.jobs == 2 && math.abs(l.jobS - 0.75) < 1e-9)
    assert(math.abs(l.jobS + l.driverS - 2.0) < 1e-9)
  }

  test("layer split: a run without jobs is all driver time") {
    val (split, unattributed) = Bench.layerSplit(Map("q03#1" -> 0.25), Nil)
    assert(split("q03#1") == Layers(0, 0, 0, 0.0, 0.25))
    assert(unattributed == 0)
    assert(split("q03#1").json ==
      """{"jobs":0,"tasks":0,"shuffle_bytes":0,"job_s":0.000,"driver_s":0.250}""")
  }

  test("layer split: jobs without a run are counted, other passes' jobs are not") {
    val jobs = Seq(job("q04#2", 0, 100), job("q04#1", 0, 900),
      BenchJob(None, 50, 60, 1, 0), BenchJob(None, 70, 80, 1, 0))
    val (split, unattributed) = Bench.layerSplit(Map("q04#2" -> 0.5), jobs)
    assert(split("q04#2").jobs == 1 && split("q04#2").jobS == 0.1)
    assert(unattributed == 2)
    // job time never exceeds the wall time the bench measured
    val (capped, _) = Bench.layerSplit(Map("q04#1" -> 0.8), jobs)
    assert(capped("q04#1").jobS == 0.8 && capped("q04#1").driverS == 0.0)
  }

  test("a full line carrying layers still parses all of its queries entries") {
    val qs = results.take(30)
    val queries = qs.map { case (n, v) => "\"" + n + "\":" + Bench.r3(v) }
      .mkString("{", ",", "}")
    val layers = qs.map { case (n, v) =>
      "\"" + n + "\":" + Layers(2, 16, 4096, v / 2, v / 2).json }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":12.345,"unit":"sec","queries":$queries,"medians":$queries,"chains":{},"median_ratio_vs_committed":null,"uniform_inflation":false,"sf":0.1,"failed":0,"layers":$layers,"unattributed_jobs":0}"""
    val parsed = Bench.committedQueries(line)
    assert(parsed.size == qs.size)
    qs.foreach { case (n, v) => assert(math.abs(parsed(n) - v) < 1e-3, n) }
  }
}
