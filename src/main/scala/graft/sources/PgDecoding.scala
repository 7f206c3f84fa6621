package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.core.Envelope
import graft.functions.Mejson

/** Postgres logical-decoding (test_decoding plugin) CDC parser — the
  * reference's hand-rolled tailer (`adaptor/postgres/tailer.go:35-288`)
  * rebuilt over an append-only text file standing in for
  * `pg_logical_slot_get_changes` (no live database in this environment;
  * the FORMAT is the real wire format).
  *
  * Each line is one change in the literal test_decoding shape:
  *
  *   table public.users: INSERT: id[integer]:1 name[character varying]:'ann'
  *
  * Reproduced semantics, cited to the reference:
  *
  *   - change matcher `^table <schema>.<table>: <INSERT|UPDATE|DELETE>: rest`
  *     (`tailer.go:77`); BEGIN/COMMIT and other non-change rows skipped;
  *     `(no-tuple-data)` rows skipped (`tailer.go:110-113`);
  *   - the tuple parser state machine (`tailer.go:139-234`):
  *     `label[type]:value` pairs, types may carry brackets (`integer[]`),
  *     values are space-delimited or single-quoted with `''` escapes,
  *     a line ending mid-value still flushes its last field;
  *   - `casifyValue` (`tailer.go:236-288`): null; integer/smallint/bigint;
  *     double precision/numeric/money ($-stripped); boolean; json and
  *     jsonb[] parsed as an object (plain `jsonb` falls through to string
  *     — the reference's own branch order, kept bug-compatible);
  *     `T[]` arrays CSV-parsed from `{...}` and element-casified
  *     recursively; `timestamp without time zone`; `date`; else string.
  *     Unparseable ints/floats become 0 (the reference ignores
  *     `strconv` errors); unparseable times become null (the reference
  *     returns Go's zero time — the one deliberate divergence, null being
  *     the engine's honest spelling of it).
  *
  * Documents leave the parser as extended-JSON strings (the `data`
  * column) so heterogeneous tables share one schema — decode per-table
  * with `Transforms.decode(schema)`. The parse runs inside
  * `ChangeLog.envelopes`, so the SAME code runs batch (fixtures,
  * backfill) and streaming (the 1 s poll loop of `tailer.go:57`,
  * expressed as a file stream).
  */
object PgDecoding {

  private val changeRe =
    """(?s)^table ([^\.]+)\.([^:]+): (INSERT|DELETE|UPDATE): (.+)$""".r

  /** One parsed change: namespace `schema.table`, normalized op, typed doc. */
  final case class Change(ns: String, op: String, doc: Map[String, Any])

  def parseLine(line: String): Option[Change] = line match {
    case changeRe(schema, table, action, rest) =>
      if (rest == "(no-tuple-data)") None
      else {
        val op = action match {
          case "INSERT" => Envelope.Op.Insert
          case "UPDATE" => Envelope.Op.Update
          case "DELETE" => Envelope.Op.Delete
        }
        Some(Change(s"$schema.$table", op, parseTuples(rest)))
      }
    case _ => None
  }

  /** The `label[type]:value ...` state machine (`tailer.go:139-234`). */
  def parseTuples(d: String): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val label = new StringBuilder
    val valueType = new StringBuilder
    val value = new StringBuilder
    var labelFinished = false
    var valueTypeFinished = false
    var openBracketInValueType = false
    var skippedColon = false
    var valueEndCharacter = ""
    var deferredSingleQuote = false

    def reset(): Unit = {
      label.clear(); valueType.clear(); value.clear()
      labelFinished = false; valueTypeFinished = false
      openBracketInValueType = false; skippedColon = false
      valueEndCharacter = ""; deferredSingleQuote = false
    }

    for (ch <- d) {
      var consumed = false
      var valueFinished = false
      if (!labelFinished) {
        if (ch == '[') labelFinished = true else label.append(ch)
        consumed = true
      } else if (!valueTypeFinished) {
        if (openBracketInValueType && ch == ']') {
          openBracketInValueType = false; valueType.append(ch)
        } else if (ch == ']') valueTypeFinished = true
        else {
          if (ch == '[') openBracketInValueType = true
          valueType.append(ch)
        }
        consumed = true
      } else if (!skippedColon && ch == ':') {
        skippedColon = true
        consumed = true
      }
      if (!consumed) {
        if (valueEndCharacter.isEmpty) {
          if (ch == '\'') { valueEndCharacter = "'"; consumed = true }
          else valueEndCharacter = " "
        }
        if (!consumed) {
          // quoted-value termination: an unescaped ' followed by a space
          // ends the value; '' collapses to one quote (`tailer.go:195-203`)
          if (deferredSingleQuote && ch == ' ') valueFinished = true
          else if (deferredSingleQuote && ch == '\'') deferredSingleQuote = false
          else if (ch == '\'' && !deferredSingleQuote) {
            deferredSingleQuote = true; consumed = true
          }
          if (valueEndCharacter == " " && ch == ' ') valueFinished = true
          if (!consumed && !valueFinished) value.append(ch)
          if (valueFinished) {
            out(label.result()) = casify(value.result(), valueType.result())
            reset()
          }
        }
      }
    }
    if (label.nonEmpty) // line ended mid-field: flush (`tailer.go:229-231`)
      out(label.result()) = casify(value.result(), valueType.result())
    out.toMap
  }

  private val arrayTypeRe = """\[\]$""".r
  private val tsFormat = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
    .toFormatter

  /** Go-map JSON semantics: `encoding/json` unmarshals every number as
    * float64 (`tailer.go:252-256`), so ints arrive as doubles. */
  private def jsonToGo(j: org.json4s.JValue): Any = j match {
    case org.json4s.JNull | org.json4s.JNothing => null
    case org.json4s.JString(s) => s
    case org.json4s.JBool(b) => b
    case org.json4s.JInt(i) => i.toDouble
    case org.json4s.JLong(l) => l.toDouble
    case org.json4s.JDouble(x) => x
    case org.json4s.JDecimal(x) => x.toDouble
    case org.json4s.JObject(fs) => fs.map { case (k, v) => k -> jsonToGo(v) }.toMap
    case org.json4s.JArray(xs) => xs.map(jsonToGo)
    case org.json4s.JSet(xs) => xs.toList.map(jsonToGo)
  }

  /** One CSV record, Go `encoding/csv` rules: comma-separated,
    * double-quote quoting, `""` escapes (`tailer.go:262-268`). */
  private def csvRecord(s: String): Seq[String] = {
    val fields = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else c match {
        case '"' => inQuotes = true
        case ',' => fields += cur.result(); cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    fields += cur.result()
    fields.toSeq
  }

  /** `casifyValue` (`tailer.go:236-288`), branch order preserved. */
  def casify(value: String, valueType: String): Any =
    if (value == "null") null
    else if (valueType == "integer" || valueType == "smallint" ||
             valueType == "bigint")
      value.toLongOption.getOrElse(0L) // Atoi error ignored → 0
    else if (valueType == "double precision" || valueType == "numeric" ||
             valueType == "money") {
      val v = if (valueType == "money") value.drop(1) else value
      v.toDoubleOption.getOrElse(0.0)
    }
    else if (valueType == "boolean") value == "true"
    else if (valueType == "jsonb[]" || valueType == "json")
      org.json4s.jackson.JsonMethods.parseOpt(value).map(jsonToGo).orNull
    else if (arrayTypeRe.findFirstIn(valueType).isDefined) {
      val elemType = arrayTypeRe.replaceAllIn(valueType, "")
      if (value.length < 2) value
      else csvRecord(value.substring(1, value.length - 1))
        .map(casify(_, elemType)).toList
    }
    else if (valueType == "timestamp without time zone")
      // Go's time.Parse yields UTC (`tailer.go:271-277`) — pin the zone
      // so the $date millis don't drift with the JVM default
      try java.sql.Timestamp.from(java.time.LocalDateTime
        .parse(value, tsFormat).toInstant(java.time.ZoneOffset.UTC))
      catch { case _: java.time.format.DateTimeParseException => null }
    else if (valueType == "date")
      try java.sql.Date.valueOf(java.time.LocalDate.parse(value))
      catch { case _: java.time.format.DateTimeParseException => null }
    else value

  // ---- DataFrame surface (batch AND streaming) ----

  /** Parse a text frame of test_decoding lines into CDC envelopes
    * (op, ts, ns, mode, data) with `data` as extended JSON
    * (`ChangeLog.envelopes`). Works on both `spark.read.text` and
    * `spark.readStream.text` frames — the stream is the reference's 1 s
    * poll loop over the slot (`tailer.go:57`) as a file stream. `nsRegex`
    * is the listing-level filterFn (`tailer.go:103-106`), applied after
    * parse like the reference. Mode is Sync for every row; the Copy phase
    * is the batch reader (`tailer.go:35-47`). */
  def changes(lines: DataFrame, nsRegex: String = ".*"): DataFrame =
    ChangeLog.envelopes(lines, Some(nsRegex)) { line =>
      parseLine(line).map(c =>
        ChangeLog.Entry(c.op, 0L, c.ns, 0L, Mejson.write(c.doc)))
    }
}
