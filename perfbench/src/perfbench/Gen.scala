package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Everything the program under test receives
  * (JSON events, order rows, documents, DML op parameters) is derived
  * here from the workload seed; the program never sees the seed. */
object Gen {

  /** One generated ingest event: the JSON line a client POSTs, plus what
    * the output checks need to know about it. `cfg` is the routing config
    * the event should reach ("A", "B", "C") or "none" for an unknown
    * stream id. */
  final case class Event(seq: Long, cfg: String, mtype: String, json: String,
      pii: Boolean)

  val EventEpochSec: Long = 1772323200L // 2026-03-01T00:00:00Z

  private val tiers = Array("free", "pro", "gold")
  private val paths = Array("/", "/docs", "/pricing", "/blog/a", "/blog/b", "/signup")
  private val oses = Array("ios", "android", "web")

  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  private def isoTs(sec: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochSecond(sec))

  /** Event `seq` of the run. Stream mix: 4% unknown stream ids, the rest
    * split 70/25/5 over config A (stream_id "web"), config B (routed by
    * its alt id through `projectId`), and the inactive config C. Events
    * from `driftFrom` on carry one extra top-level field. */
  def event(seed: Long, seq: Long, driftFrom: Long): Event = {
    val r = new SplittableRandom(seed * 1000003L + seq)
    val u = r.nextDouble()
    val ts = isoTs(EventEpochSec + seq * 2 + r.nextInt(60))
    val pii = r.nextDouble() < 0.1
    val sb = new StringBuilder(256)
    def field(k: String, v: String): Unit = sb.append(",\"").append(k).append("\":").append(v)
    def str(s: String): String = "\"" + s + "\""
    val (cfg, mtype) =
      if (u < 0.04) {
        sb.append("{\"stream_id\":").append(str(s"ghost-${r.nextInt(5)}"))
        ("none", "probe")
      } else {
        val v = (u - 0.04) / 0.96
        if (v < 0.70) {
          sb.append("{\"stream_id\":\"web\"")
          val t = r.nextDouble()
          ("A", if (t < 0.6) "page_view" else if (t < 0.9) "click" else "purchase")
        } else if (v < 0.95) {
          sb.append("{\"projectId\":\"proj-app\"")
          ("B", if (r.nextDouble() < 0.7) "session" else "error")
        } else {
          sb.append("{\"stream_id\":\"legacy\"")
          ("C", if (r.nextBoolean()) "heartbeat" else "status")
        }
      }
    field("type", str(mtype))
    field("seq", seq.toString)
    field("ts", str(ts))
    field("user", s"""{"id":${r.nextInt(5000)},"tier":"${pick(r, tiers)}"}""")
    val props = mtype match {
      case "page_view" =>
        s"""{"path":"${pick(r, paths)}","ms":${r.nextInt(2000)},"tags":["t${r.nextInt(4)}","t${r.nextInt(4)}"]}"""
      case "click" =>
        s"""{"target":"btn-${r.nextInt(12)}","x":${r.nextInt(1280)},"y":${r.nextInt(800)}}"""
      case "purchase" =>
        val items = (0 to r.nextInt(3)).map(i =>
          s"""{"sku":"s${r.nextInt(400)}","qty":${1 + r.nextInt(3)},"price":${r.nextInt(10000) / 100.0}}""")
        s"""{"items":[${items.mkString(",")}],"coupon":${r.nextBoolean()}}"""
      case "session" =>
        s"""{"device":{"os":"${pick(r, oses)}","ver":"${1 + r.nextInt(17)}.${r.nextInt(4)}"},"len_s":${r.nextInt(3600)}}"""
      case "error" =>
        s"""{"code":${400 + r.nextInt(120)},"stack":["f${r.nextInt(9)}","g${r.nextInt(9)}"]}"""
      case _ => s"""{"n":${r.nextInt(100)}}"""
    }
    field("properties", props)
    if (pii) {
      val note =
        if (r.nextBoolean()) f"ssn ${100 + r.nextInt(800)}%03d-${r.nextInt(100)}%02d-${r.nextInt(10000)}%04d"
        else f"call ${200 + r.nextInt(800)}%03d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
      field("note", str(note))
    }
    if (seq >= driftFrom) field("experiment", str(s"exp-${r.nextInt(3)}"))
    sb.append('}')
    Event(seq, cfg, mtype, sb.toString, pii)
  }

  // ---- lake_dml: orders-shaped rows ----

  /** One orders row; prices are exact cents held as doubles, dates are
    * timestamp micros. */
  final case class Order(key: Long, cust: Long, status: String, price: Double,
      dateMicros: Long, prio: String)

  private val statuses = Array("O", "F", "P")
  private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val day0Micros = 694224000L * 1000000L // 1992-01-01

  def order(r: SplittableRandom, key: Long): Order =
    Order(key, r.nextInt(15000).toLong, pick(r, statuses),
      (100000L + r.nextLong(50000000L)) / 100.0,
      day0Micros + r.nextInt(2400) * 86400L * 1000000L, pick(r, prios))

  // ---- curation: documents table ----

  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Documents 0..300 are the same for every seed: the chain, connected
    * components and LSH queries read only those, so their oracle results
    * are stored (`oracle.py`) rather than recomputed per run. */
  val FixedDocs = 301

  /** `n` documents shaped like the engine's corpus fixtures: 10–100 words
    * over a 30-word vocabulary, 5% planted near-duplicates (an earlier
    * document's text plus the token "dup"), 20 sources, 5 languages. The
    * first `FixedDocs` come from a fixed seed, the rest from `seed`. */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val fixed = new SplittableRandom(17L)
    val seeded = new SplittableRandom(seed * 7919L + 17L)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = if (i < FixedDocs) fixed else seeded
      val text =
        if (i > 10 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Iterator.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
      texts(i) = text
      (i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
    }
  }
}
