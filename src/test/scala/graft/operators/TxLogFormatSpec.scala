package graft.operators

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import TxLogFormat.{Checkpoint, CommitEntry, LogFile}

/** The log codec: every entry and checkpoint round-trips through
  * `render`/`parse` whatever its strings hold, and the writer's bytes
  * match the pre-codec writer's for ASCII paths. */
class TxLogFormatSpec extends AnyFunSuite {

  /** Deterministic sampling of a generator (fixed seeds → reproducible). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  /** Any valid string: printable ASCII, JSON's escapes (quote, backslash,
    * control characters), other BMP characters and surrogate pairs. */
  private val anyString: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.choose(0x20, 0x7e),
    2 -> Gen.oneOf('"'.toInt, '\\'.toInt, '/'.toInt),
    1 -> Gen.choose(0x00, 0x1f),
    1 -> Gen.oneOf(Gen.choose(0x80, 0xd7ff), Gen.choose(0xe000, 0xfffd)),
    1 -> Gen.choose(0x10000, 0x10ffff)
  )).map(cps => new String(cps.toArray, 0, cps.size))

  private val appId: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
    ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ "_:/.@=-")).map(_.mkString)

  private val logFile: Gen[LogFile] = for {
    p <- anyString
    s <- Gen.option(Gen.choose(0L, Long.MaxValue))
  } yield LogFile(p, s)

  private val dvs: Gen[Map[String, (String, Long)]] = Gen.mapOf(for {
    f <- anyString
    d <- anyString
    n <- Gen.choose(0L, 1L << 40)
  } yield f -> ((d, n)))

  private val schema: Gen[String] = Gen.nonEmptyListOf(for {
    name <- anyString
    dt <- Gen.oneOf(LongType, StringType, DoubleType, DateType,
      ArrayType(StringType), DecimalType(38, 20))
  } yield StructField(name, dt)).map(fs => StructType(fs).json)

  private val entry: Gen[CommitEntry] = for {
    v <- Gen.choose(0L, Long.MaxValue)
    ts <- Gen.option(Gen.choose(0L, Long.MaxValue))
    op <- Gen.option(Gen.alphaLowerStr)
    rebase <- Gen.oneOf(true, false)
    txn <- Gen.option(Gen.zip(appId, Gen.long))
    sch <- Gen.option(schema)
    d <- dvs
    files <- Gen.listOf(logFile)
  } yield CommitEntry(v, ts, op, rebase, txn, sch, d, files)

  private val checkpoint: Gen[Checkpoint] = for {
    v <- Gen.choose(0L, Long.MaxValue)
    txns <- Gen.mapOf(Gen.zip(appId, Gen.long))
    d <- dvs
    files <- Gen.listOf(logFile)
  } yield Checkpoint(v, txns, d, files)

  test("property: every commit entry round-trips through render and parse") {
    samples(entry, 300).foreach { e =>
      assert(CommitEntry.parse(e.render, "gen") == e, e.render)
    }
  }

  test("property: every checkpoint round-trips through render and parse") {
    samples(checkpoint, 300).foreach { c =>
      assert(Checkpoint.parse(c.render, "gen") == c, c.render)
    }
  }

  private val schemaJson =
    """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":%s,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
  private def schemaOf(idNullable: Boolean) =
    StructType(Seq(StructField("id", LongType, idNullable),
      StructField("v", StringType))).json
  private val f0 = "data-80286a84/part-00000-95970b8b-954b-42d8-9210-fe53ec2e31a1-c000.snappy.parquet"
  private val f1 = "data-99c344d6/part-00000-0fdaeba9-afe0-4d41-8d9b-82e2124dd824-c000.snappy.parquet"
  private val dv0 = Map(f0 -> (("data-dvs-577da241", 1L)))

  // the golden strings below are entries an append with a txn, a
  // deletion-vector delete and the version-10 checkpoint wrote before
  // the log had a codec

  test("golden: an append with a txn and a schema") {
    val golden = """{"version":0,"ts":1792458923993,"op":"append","txn":["ingest-a",0],"schema":"""" +
      schemaJson.format("false") + s"""","files":[{"p":"$f0","s":692}]}"""
    val e = CommitEntry(0, Some(1792458923993L), Some("append"), rebase = false,
      Some(("ingest-a", 0L)), Some(schemaOf(false)), Map.empty,
      Seq(LogFile(f0, Some(692))))
    assert(e.render == golden)
    assert(CommitEntry.parse(golden, "0.json") == e)
  }

  test("golden: a rebase with deletion vectors") {
    val golden = """{"version":2,"ts":1792458925299,"op":"dvdelete","rebase":true,"schema":"""" +
      schemaJson.format("true") +
      s"""","dvs":[{"f":"$f0","d":"data-dvs-577da241","n":1}],""" +
      s""""files":[{"p":"$f0","s":692},{"p":"$f1","s":692}]}"""
    val e = CommitEntry(2, Some(1792458925299L), Some("dvdelete"), rebase = true,
      None, Some(schemaOf(true)), dv0,
      Seq(LogFile(f0, Some(692)), LogFile(f1, Some(692))))
    assert(e.render == golden)
    assert(CommitEntry.parse(golden, "2.json") == e)
  }

  test("golden: a checkpoint with txns and deletion vectors") {
    val rest = Seq(
      "data-7788024a/part-00000-08a5575e-6d3d-46eb-a4c6-ee14329625f4-c000.snappy.parquet" -> 691L,
      "data-a2594504/part-00000-b5813351-6ff3-448b-876b-6f961c314639-c000.snappy.parquet" -> 692L,
      "data-efbe5a6c/part-00000-8fd26e49-b736-4778-abae-98e7b3dfeef1-c000.snappy.parquet" -> 692L,
      "data-cb657fad/part-00000-dcc4d825-8c33-4ac8-ab42-f30f8bba27ee-c000.snappy.parquet" -> 692L,
      "data-a9cdbef1/part-00000-22736b13-dd9c-497f-a184-ffe83faf6281-c000.snappy.parquet" -> 691L,
      "data-032d6434/part-00000-0d298d18-7448-40d8-b878-d42016492c83-c000.snappy.parquet" -> 692L,
      "data-aeb8f5a3/part-00000-189e1401-47dd-4d93-894c-9e4f8541a620-c000.snappy.parquet" -> 692L,
      "data-06a992df/part-00000-982f51d9-69ee-41f6-8322-4981c0946ed8-c000.snappy.parquet" -> 699L)
    val files = Seq(LogFile(f0, Some(692)), LogFile(f1, Some(692))) ++
      rest.map { case (p, s) => LogFile(p, Some(s)) }
    val golden = """{"version":10,"txns":{"ingest-a":10,"ingest-b":7},"dvs":[{"f":"data-80286a84/part-00000-95970b8b-954b-42d8-9210-fe53ec2e31a1-c000.snappy.parquet","d":"data-dvs-577da241","n":1}],""" +
      """"files":[{"p":"data-80286a84/part-00000-95970b8b-954b-42d8-9210-fe53ec2e31a1-c000.snappy.parquet","s":692},""" +
      """{"p":"data-99c344d6/part-00000-0fdaeba9-afe0-4d41-8d9b-82e2124dd824-c000.snappy.parquet","s":692},""" +
      """{"p":"data-7788024a/part-00000-08a5575e-6d3d-46eb-a4c6-ee14329625f4-c000.snappy.parquet","s":691},""" +
      """{"p":"data-a2594504/part-00000-b5813351-6ff3-448b-876b-6f961c314639-c000.snappy.parquet","s":692},""" +
      """{"p":"data-efbe5a6c/part-00000-8fd26e49-b736-4778-abae-98e7b3dfeef1-c000.snappy.parquet","s":692},""" +
      """{"p":"data-cb657fad/part-00000-dcc4d825-8c33-4ac8-ab42-f30f8bba27ee-c000.snappy.parquet","s":692},""" +
      """{"p":"data-a9cdbef1/part-00000-22736b13-dd9c-497f-a184-ffe83faf6281-c000.snappy.parquet","s":691},""" +
      """{"p":"data-032d6434/part-00000-0d298d18-7448-40d8-b878-d42016492c83-c000.snappy.parquet","s":692},""" +
      """{"p":"data-aeb8f5a3/part-00000-189e1401-47dd-4d93-894c-9e4f8541a620-c000.snappy.parquet","s":692},""" +
      """{"p":"data-06a992df/part-00000-982f51d9-69ee-41f6-8322-4981c0946ed8-c000.snappy.parquet","s":699}]}"""
    val c = Checkpoint(10, Map("ingest-b" -> 7L, "ingest-a" -> 10L), dv0, files)
    assert(c.render == golden)
    assert(Checkpoint.parse(golden, "10.checkpoint.json") == c)
  }

  test("legacy entries: bare-string files and absent fields read, and render back as they were") {
    val legacy = """{"version":3,"files":["data-a/x.parquet",{"p":"data-b/y.parquet","s":5}]}"""
    val e = CommitEntry.parse(legacy, "3.json")
    assert(e == CommitEntry(3, files = Seq(
      LogFile("data-a/x.parquet", None), LogFile("data-b/y.parquet", Some(5)))))
    assert(e.paths == Seq("data-a/x.parquet", "data-b/y.parquet"))
    assert(e.sizes == Map("data-b/y.parquet" -> 5L))
    assert(e.render == legacy)
  }

  test("an entry that is not valid JSON fails naming its file") {
    val bad = """{"version":0,"files":[{"p":"a"b.parquet","s":1}]}"""
    val err = intercept[IllegalStateException](CommitEntry.parse(bad, "/t/_log/0.json"))
    assert(err.getMessage.contains("/t/_log/0.json"), err.getMessage)
    intercept[IllegalStateException](Checkpoint.parse("{}", "/t/_log/10.checkpoint.json"))
  }

  test("stats documents round-trip their bounds") {
    import org.json4s._
    val bounds = Seq(
      "q\"uote.parquet" -> Seq(
        "x" -> ((JDecimal(BigDecimal("-1.5")), JDecimal(BigDecimal("10.25")))),
        "s" -> ((JString("a"), JString("z")))),
      "b.parquet" -> Seq.empty)
    val txt = TxLogFormat.renderStats(bounds)
    assert(txt == """{"files":{"q\"uote.parquet":{"x":{"min":-1.5,"max":10.25},""" +
      """"s":{"min":"a","max":"z"}},"b.parquet":{}}}""")
    assert(TxLogFormat.parseStats(txt) == bounds.map { case (f, cs) => f -> cs.toMap }.toMap)
  }
}
