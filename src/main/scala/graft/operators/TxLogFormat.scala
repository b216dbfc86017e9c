package graft.operators

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The on-disk format of a [[TxLogTable]]: one typed value, one `render`
  * and one `parse` for each JSON file a table keeps beside its data.
  *
  * A commit entry `_log/<v>.json` is one JSON object with, in order:
  *  - `version` — the entry's version (its file name says the same);
  *  - `ts`, `op` — commit wall-clock ms and operation name;
  *  - `rebase: true` — the entry's `files` REPLACE the accumulated
  *    listing and its `dvs` replace the deletion-vector map (DML,
  *    compaction, DDL, overwrite, restore); without it the entry is an
  *    append and its `files` add to the listing;
  *  - `txn: [appId, txnVersion]` — the SetTransaction stamp of an
  *    idempotent writer;
  *  - `schema` — the read-back snapshot schema, as Spark's schema JSON
  *    in a string;
  *  - `dvs: [{"f": file, "d": dv dir, "n": masked rows}]`, by file;
  *  - `files` — each element `{"p": path, "s": bytes}`.
  *
  * A checkpoint `_log/<v>.checkpoint.json` is the snapshot at `v`:
  * `version`, `txns: {appId: latest txnVersion}` (by appId), `dvs` and
  * `files` as above. Rebases do not reset `txns`.
  *
  * Legacy forms still read: a `files` element may be a bare path string
  * (no recorded size, from logs that predate sizes), and every field
  * but `version` and `files` may be absent. Absent fields render as
  * absent, so `parse(render(e)) == e` for every entry.
  *
  * A data dir's `_stats.json` is `{"files": {file: {column: {"min": lo,
  * "max": hi}}}}` ([[renderStats]]/[[parseStats]]). */
object TxLogFormat {

  /** A listed data file, log-relative, with its byte size when recorded. */
  final case class LogFile(path: String, size: Option[Long])

  /** Data file → (dv parquet dir, masked row count). */
  type Dvs = Map[String, (String, Long)]

  sealed trait Listing {
    def files: Seq[LogFile]
    def paths: Seq[String] = files.map(_.path)
    def sizes: Map[String, Long] =
      files.iterator.flatMap(f => f.size.map(f.path -> _)).toMap
  }

  final case class CommitEntry(version: Long, ts: Option[Long] = None,
      op: Option[String] = None, rebase: Boolean = false,
      txn: Option[(String, Long)] = None, schema: Option[String] = None,
      dvs: Dvs = Map.empty, files: Seq[LogFile] = Nil) extends Listing {

    def structType: Option[StructType] =
      schema.map(DataType.fromJson).collect { case s: StructType => s }

    def render: String = compact(JObject(
      List[JField]("version" -> JLong(version)) ++
        ts.map("ts" -> JLong(_)) ++
        op.map("op" -> JString(_)) ++
        Option.when(rebase)("rebase" -> JBool(true)) ++
        txn.map { case (app, tv) =>
          "txn" -> JArray(List(JString(app), JLong(tv))) } ++
        schema.map("schema" -> JString(_)) ++
        dvsField(dvs) :+ filesField(files)))
  }

  object CommitEntry {
    def parse(text: String, source: String): CommitEntry =
      fields(text, source) { f =>
        CommitEntry(
          version = long(f("version")),
          ts = f.get("ts").map(long),
          op = f.get("op").map(string),
          rebase = f.get("rebase").contains(JBool(true)),
          txn = f.get("txn").map {
            case JArray(List(app, tv)) => (string(app), long(tv))
            case other => unexpected("txn", other)
          },
          schema = f.get("schema").map(string),
          dvs = f.get("dvs").map(parseDvs).getOrElse(Map.empty),
          files = parseFiles(f("files")))
      }
  }

  final case class Checkpoint(version: Long,
      txns: Map[String, Long] = Map.empty, dvs: Dvs = Map.empty,
      files: Seq[LogFile] = Nil) extends Listing {

    def render: String = compact(JObject(
      List[JField]("version" -> JLong(version)) ++
        Option.when(txns.nonEmpty)("txns" -> JObject(
          txns.toList.sortBy(_._1).map { case (app, tv) => app -> JLong(tv) })) ++
        dvsField(dvs) :+ filesField(files)))
  }

  object Checkpoint {
    def parse(text: String, source: String): Checkpoint =
      fields(text, source) { f =>
        Checkpoint(
          version = long(f("version")),
          txns = f.get("txns").map {
            case JObject(kv) => kv.map { case (app, tv) => app -> long(tv) }.toMap
            case other => unexpected("txns", other)
          }.getOrElse(Map.empty),
          dvs = f.get("dvs").map(parseDvs).getOrElse(Map.empty),
          files = parseFiles(f("files")))
      }
  }

  /** Min/max bounds per column, as the stats encodings write them. */
  type Bounds = Map[String, (JValue, JValue)]

  /** A `_stats.json` document: per file (in the given order), each of
    * its bounded columns (in the given order). */
  def renderStats(files: Seq[(String, Seq[(String, (JValue, JValue))])]): String =
    compact(JObject("files" -> JObject(files.toList.map { case (file, cols) =>
      file -> JObject(cols.toList.map { case (c, (lo, hi)) =>
        c -> JObject("min" -> lo, "max" -> hi)
      })
    })))

  /** A `_stats.json` document's bounds per file. Decimals parse as
    * BigDecimal: a DecimalType(38,20) bound must not round through a
    * double, which could move it toward the pruned side. */
  def parseStats(text: String): Map[String, Bounds] =
    JsonMethods.parse(text, useBigDecimalForDouble = true) \ "files" match {
      case JObject(perFile) => perFile.collect {
        case (file, JObject(cols)) => file -> cols.flatMap { case (c, o) =>
          for (lo <- (o \ "min").toOption; hi <- (o \ "max").toOption)
            yield c -> ((lo, hi))
        }.toMap
      }.toMap
      case _ => Map.empty
    }

  /** `s` as a JSON string literal, quotes included. */
  def quote(s: String): String = compact(JString(s))

  private def compact(v: JValue): String =
    JsonMethods.compact(JsonMethods.render(v))

  private def filesField(files: Seq[LogFile]): JField =
    "files" -> JArray(files.toList.map {
      case LogFile(p, Some(s)) => JObject("p" -> JString(p), "s" -> JLong(s))
      case LogFile(p, None) => JString(p)
    })

  private def dvsField(dvs: Dvs): Option[JField] =
    Option.when(dvs.nonEmpty)("dvs" -> JArray(dvs.toList.sortBy(_._1).map {
      case (f, (d, n)) =>
        JObject("f" -> JString(f), "d" -> JString(d), "n" -> JLong(n))
    }))

  /** The top-level fields of one log file; any malformed content throws
    * an error that names the file. */
  private def fields[T](text: String, source: String)(
      build: Map[String, JValue] => T): T =
    try JsonMethods.parse(text) match {
      case JObject(fs) => build(fs.toMap)
      case other => unexpected("entry", other)
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"malformed log file $source: ${e.getMessage}", e)
    }

  private def parseFiles(v: JValue): Seq[LogFile] = v match {
    case JArray(elems) => elems.map {
      case JString(p) => LogFile(p, None)
      case o: JObject => LogFile(string(o \ "p"), Some(long(o \ "s")))
      case other => unexpected("files element", other)
    }
    case other => unexpected("files", other)
  }

  private def parseDvs(v: JValue): Dvs = v match {
    case JArray(elems) => elems.map { o =>
      string(o \ "f") -> ((string(o \ "d"), long(o \ "n")))
    }.toMap
    case other => unexpected("dvs", other)
  }

  private def long(v: JValue): Long = v match {
    case JInt(i) if i.isValidLong => i.toLong
    case JLong(l) => l
    case other => unexpected("integer", other)
  }

  private def string(v: JValue): String = v match {
    case JString(s) => s
    case other => unexpected("string", other)
  }

  private def unexpected(what: String, v: JValue): Nothing =
    throw new IllegalArgumentException(s"expected $what, got $v")
}
