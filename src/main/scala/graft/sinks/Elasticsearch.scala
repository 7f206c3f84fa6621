package graft.sinks

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.Envelope
import graft.sources.Connectors.Sink

/** Elasticsearch bulk sink speaking the real `_bulk` NDJSON wire protocol
  * over HTTP — the reference's ES writer re-expressed for Spark
  * (`adaptor/elasticsearch/clients/v5/writer.go:59-127`: BulkProcessor
  * with flush at 1000 actions / 2 MB, index/update/delete per CDC op,
  * per-item failure detection; `transport.go` for the version probe we
  * don't need — the _bulk surface is version-stable for these actions).
  *
  * Spark mapping: each input PARTITION maintains its own NDJSON buffer
  * and POSTs `/_bulk` whenever either threshold trips — so a 1000-
  * executor cluster bulk-loads through 1000 parallel writers with
  * bounded memory (the buffer never exceeds bulkBytes + one doc), and
  * no driver round-trips. The reference's 5 s FlushInterval maps to the
  * streaming micro-batch trigger: each epoch ends with a final flush.
  *
  * Ordering: rows within a partition are sent in order (CDC per-key
  * order is preserved when the upstream partitions by key); across
  * partitions ordering is concurrent, exactly like the reference's
  * multi-worker BulkProcessor.
  */
final case class EsBulkSink(url: String, index: String, idCol: String,
    opCol: Option[String] = None, parentCol: Option[String] = None,
    bulkActions: Int = 1000, bulkBytes: Long = 2L << 20,
    legacyParent: Boolean = false) extends Sink {

  require(bulkActions > 0 && bulkBytes > 0, "flush thresholds must be > 0")

  def write(df: DataFrame): Unit = {
    // the document is the unwrapped row: no envelope field is indexed
    val docCols = Envelope.unwrap(df).columns.filter(c =>
      c != idCol && !opCol.contains(c) && !parentCol.contains(c))
    val op = opCol.map(col).getOrElse(lit(Envelope.Op.Insert))
    // parent id is hoisted OUT of the doc like _id (`writer.go:90-94`)
    val parent = parentCol.map(col(_).cast("string"))
      .getOrElse(lit(null).cast("string"))
    val rows = df.select(
      op.as("__op"),
      col(idCol).cast("string").as("__id"),
      parent.as("__parent"),
      to_json(struct(docCols.map(col): _*)).as("__doc"))
    // capture plain fields, not `this`, in the task closure
    val (u, idx, acts, bytes, lp) =
      (url, index, bulkActions, bulkBytes, legacyParent)
    rows.foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val buf = new EsBulkBuffer(u, idx, acts, bytes, lp)
        it.foreach(r => buf.add(r.getString(0), r.getString(1),
          Option(r.getString(2)), r.getString(3)))
        buf.close()
    }
  }
}

/** Version-sniffed writer registry — `setupWriter`/`determineVersion`
  * (`adaptor/elasticsearch/elasticsearch.go:84-174`) + the constraint
  * table of `clients/{v1,v2,v5}/writer.go:29,36,37`: GET the cluster
  * root, read `version.number`, walk the constraint registry in order
  * and build the first matching writer. Reproduced:
  *
  *   - the probe request/response contract: non-200 → "bad status code",
  *     unparseable body → "malformed JSON", missing `version.number` →
  *     "missing version", no matching constraint → "unsupported client"
  *     (all VersionError, `elasticsearch.go:139-174`);
  *   - the constraint lines: `>= 1.4, < 2.0` (v1), `>= 2.0, < 5.0` (v2),
  *     `>= 5.0` (v5) — versions below 1.4 are unsupported;
  *   - writer selection: every line lands on the same `_bulk` NDJSON
  *     surface (the wire shape is version-stable for index/update/
  *     delete); 2.x–5.x writers emit the `parent` bulk parameter
  *     (`v5/writer.go:103-114`), which 6+ rejects — so the sniffed sink
  *     sets legacyParent only for versions < 6 (the one deliberate
  *     improvement over the reference, whose v5 line would send `parent`
  *     at any >= 5 cluster).
  */
object EsVersionRegistry {

  final case class VersionError(uri: String, v: String, err: String)
    extends RuntimeException(s"version error on $uri ($v): $err")

  /** GET the cluster root and return `version.number`
    * (`determineVersion`, `elasticsearch.go:139-174`). */
  def determineVersion(url: String): String = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("GET")
      val code =
        try conn.getResponseCode
        catch { case e: java.io.IOException =>
          throw VersionError(url, "", s"connect error: ${e.getMessage}") }
      if (code != 200) throw VersionError(url, "", s"bad status code: $code")
      val body = new String(conn.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      JsonMethods.parseOpt(body) match {
        case Some(j) => j \ "version" \ "number" match {
          case JString(n) if n.nonEmpty => n
          case _ => throw VersionError(url, "", s"missing version: $body")
        }
        case None => throw VersionError(url, "", s"malformed JSON: $body")
      }
    } finally conn.disconnect()
  }

  private def majorMinor(v: String): (Int, Int) = {
    val parts = v.split("[.-]")
    def num(i: Int) = if (i < parts.length) parts(i).takeWhile(_.isDigit) match {
      case "" => 0; case d => d.toInt
    } else 0
    (num(0), num(1))
  }

  /** The constraint registry, walked in order (`clients/registry.go`);
    * each row maps to the bulk-sink configuration for that client line. */
  private val constraints: Seq[(String, ((Int, Int)) => Boolean, Boolean)] =
    Seq(
      // name, constraint check, legacyParent
      (">= 1.4, < 2.0", v => (v._1 == 1 && v._2 >= 4), false),
      (">= 2.0, < 5.0", v => v._1 >= 2 && v._1 < 5, true),
      (">= 5.0, < 6.0", v => v._1 == 5, true),
      (">= 6.0", v => v._1 >= 6, false))

  /** `setupWriter`: sniff, match, build — or fail loudly with the
    * reference's "unsupported client" VersionError. */
  def sinkFor(url: String, index: String, idCol: String,
      opCol: Option[String] = None, parentCol: Option[String] = None,
      bulkActions: Int = 1000, bulkBytes: Long = 2L << 20): EsBulkSink = {
    val v = determineVersion(url)
    val mm = majorMinor(v)
    constraints.find(_._2(mm)) match {
      case Some((_, _, legacy)) =>
        EsBulkSink(url, index, idCol, opCol, parentCol, bulkActions,
          bulkBytes, legacyParent = legacy && parentCol.isDefined)
      case None => throw VersionError(url, v, "unsupported client")
    }
  }
}

/** One partition's NDJSON accumulator + HTTP poster.
  *
  * `legacyParent` replays the reference v5 client's `parent` bulk
  * parameter (`writer.go:103-106,111-114`); ES 6+ removed it (join-field
  * parent/child uses `routing` alone) and rejects the whole `_bulk`
  * request with "unknown parameter [parent]" — so the modern default
  * emits `routing` only. */
private[sinks] final class EsBulkBuffer(url: String, index: String,
    bulkActions: Int, bulkBytes: Long, legacyParent: Boolean = false) {

  private val sb = new java.lang.StringBuilder
  private var actions = 0

  private def jsonStr(s: String): String =
    JsonMethods.compact(JString(s))

  def add(op: String, id: String, parent: Option[String],
      docJson: String): Unit = {
    val verb = op match {
      case Envelope.Op.Delete => "delete"
      case Envelope.Op.Update => "update"
      case _ => "index"
    }
    // a delete flushes pending writes FIRST (`writer.go:98-101`: ordering
    // vs concurrent workers — an index buffered behind the delete of the
    // same id must not land in the same unordered bulk)
    if (verb == "delete" && actions > 0) flush()
    // parent routing (`writer.go:103-106,111-114`): routing always; the
    // v5-only `parent` key additionally on index/update when legacyParent
    val routing = parent.map { p =>
      val r = s""","routing":${jsonStr(p)}"""
      if (legacyParent && verb != "delete")
        s""","parent":${jsonStr(p)}$r"""
      else r
    }.getOrElse("")
    sb.append(s"""{"$verb":{"_index":${jsonStr(index)},"_id":${jsonStr(id)}$routing}}""")
      .append('\n')
    verb match {
      case "delete" => // action line only
      case "update" => sb.append(s"""{"doc":$docJson}""").append('\n')
      case _ => sb.append(docJson).append('\n')
    }
    actions += 1
    if (actions >= bulkActions || sb.length >= bulkBytes) flush()
  }

  def close(): Unit = if (actions > 0) flush()

  private def flush(): Unit = {
    val body = sb.toString.getBytes(StandardCharsets.UTF_8)
    sb.setLength(0)
    actions = 0
    val conn = new URL(url.stripSuffix("/") + "/_bulk")
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/x-ndjson")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"_bulk HTTP $code from $url")
      val resp = new String(conn.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      checkItemErrors(resp)
    } finally conn.disconnect()
  }

  /** Reference behavior (`writer.go:141-168`): a bulk response can be
    * HTTP 200 with per-item failures; surface them as a job error rather
    * than silently dropping rows. */
  private def checkItemErrors(resp: String): Unit = {
    val json = JsonMethods.parse(resp)
    json \ "errors" match {
      case JBool(true) =>
        val failed = (json \ "items") match {
          case JArray(items) => items.flatMap { item =>
            item match {
              case JObject(fields) => fields.collectFirst {
                case (_, v) if (v \ "error") != JNothing =>
                  val id = v \ "_id" match {
                    case JString(s) => s; case _ => "?"
                  }
                  s"$id: ${JsonMethods.compact(v \ "error")}"
              }
              case _ => None
            }
          }
          case _ => Nil
        }
        throw new java.io.IOException(
          s"_bulk reported ${failed.size} failed items: " +
            failed.take(5).mkString("; "))
      case _ => ()
    }
  }
}
