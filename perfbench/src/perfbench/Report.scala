package perfbench

import scala.collection.mutable

/** What one run hands back to `run.py`: metrics with units, op accounting,
  * output checks, and descriptive facts (seed, sizes). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks(name) = (ok, if (ok) "" else detail)

  /** Run `op`, counting it as attempted, and as failed if it throws. A
    * failed op returns None so it never contributes a latency sample. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  def json: String = {
    def m(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    m(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> m(metrics.map { case (k, (v, u)) =>
        k -> m(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "checks" -> m(checks.map { case (k, (ok, d)) =>
        k -> m(Seq("ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "info" -> m(info.map { case (k, v) => k -> Json.any(v) })))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + any(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 1]: the smallest sample with at
    * least a share `p` of the samples at or below it. Always a measured
    * value; interpolating between two samples is jumpy when they come
    * from ops of different kinds and cost. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  /** Samples strictly beyond percentile `p` (the "at least ten beyond it"
    * sizing rule). */
  def beyond(xs: scala.collection.Seq[Double], p: Double): Int = {
    val t = pct(xs, p); xs.count(_ > t)
  }

  def mean(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
