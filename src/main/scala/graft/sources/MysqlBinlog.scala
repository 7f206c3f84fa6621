package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._

import graft.core.Envelope
import graft.functions.Mejson

/** MySQL binlog tailer + type casifier — the reference's mysql adaptor
  * CDC path made format-real (`adaptor/mysql/tailer.go:222-352`,
  * `reader.go:205-261`) over a textualized RowsEvent log (no live mysqld
  * in this environment; the EVENT SHAPE and the type semantics are the
  * reference's).
  *
  * Each line is one RowsEvent in the canal textual form: event type,
  * schema, table, and the row images as string cells (go-mysql surfaces
  * every cell as `[]uint8`, `tailer.go:387-391`):
  *
  *   {"type": "WRITE_ROWS_EVENTv2", "schema": "db", "table": "recipes",
  *    "pos": 4821, "ts": 1700000010,
  *    "rows": [["1", "Tacos"], ["2", "Soup"]]}
  *
  * `pos`/`ts` are the binlog EventHeader's LogPos and Timestamp (every
  * real RowsEvent carries them; go-mysql surfaces `e.Header.LogPos` /
  * `e.Header.Timestamp`). The reference applies events strictly in
  * binlog-stream order (`tailer.go:313-352` loops rows inside the event
  * loop), so position IS the total order; here it becomes the `seq`
  * column (`(pos << 16) | rowIndex` — row index keeps intra-event apply
  * order) that `Upsert.applyCdc` orders by, the same role
  * `MongoOplog.seq` (the raw MongoTimestamp) plays for the oplog. Lines
  * without `pos` get seq 0: ordering is then undefined and the rethink
  * sink's multi-op ambiguity guard will refuse such batches.
  *
  * Reproduced semantics, cited to the reference:
  *
  *   - event classification (`tailer.go:253-262`): WRITE_ROWS_EVENTv1/v2
  *     → Insert, DELETE_ROWS_EVENTv1/v2 → Delete, UPDATE_ROWS_EVENTv1/v2
  *     → Update; every other event type is skipped (`tailer.go:333-335`);
  *   - ns filter on `schema.table` (`tailer.go:246-251`);
  *   - update events carry [before, after] row images and ONLY row 0 is
  *     skipped (`tailer.go:317-320` — literally `i == 0`, so a
  *     multi-row update keeps later before-images; kept bug-compatible);
  *   - column names/types come from INFORMATION_SCHEMA in ordinal order
  *     (`tailer.go:281-303`) → the `columns` map parameter here, one
  *     `(name, data_type)` list per `schema.table`;
  *   - `parseEventRow` (`tailer.go:368-401`): string cells are casified;
  *     non-string cells pass through raw unless the type looks like an
  *     array (a postgres leftover — mysql has no arrays);
  *   - `casifyValue` (`reader.go:205-261`), branch order preserved:
  *     null; `bit` → hex-encode the raw bytes then ParseInt(hex, base
  *     TEN) then format base 2 (the reference's own bug — multi-nibble
  *     hex digits fail the base-10 parse and yield "0"; kept
  *     bug-compatible); the 8 spatial types → hex, strip the 4-byte SRID
  *     prefix, WKB-decode, WKT-marshal; int family → ParseInt with
  *     errors→0; double/float/decimal → ParseFloat with errors→0;
  *     `timestamp` (`2006-01-02 15:04:05.9` layout, fraction optional)
  *     and `date` → times, unparseable → null (the reference returns
  *     Go's zero time; null is the engine's honest spelling, same
  *     divergence as the pg parser); everything else → string.
  *
  * The parse runs inside `ChangeLog.envelopes`: the SAME code runs
  * batch and streaming (the binlog syncer loop as a file stream).
  */
object MysqlBinlog {

  // ---- casifyValue (reader.go:205-261) ----

  private val spatialTypes = Set("geometry", "point", "linestring",
    "polygon", "multipoint", "multilinestring", "multipolygon",
    "geometrycollection")
  private val intTypes = Set("int", "smallint", "tinyint", "mediumint",
    "bigint")
  private val floatTypes = Set("double", "float", "decimal")
  private val tsFormat = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
    .toFormatter

  private def hexEncode(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  def casifyValue(value: String, valueType: String): Any =
    if (value == "null") null
    else if (valueType == "bit") {
      // hex.EncodeToString then ParseInt(_, 10, 64): a DECIMAL parse of a
      // hex string (reader.go:216-223). "05" → 5 → "101"; any a-f digit
      // fails → 0 → "0". Bug-compatible by assignment.
      val bithex = hexEncode(value.getBytes("ISO-8859-1"))
      val bitint = bithex.toLongOption.getOrElse(0L)
      java.lang.Long.toBinaryString(bitint)
    }
    else if (spatialTypes.contains(valueType)) {
      // hex encode, strip the 4-byte SRID prefix (8 hex chars), WKB
      // decode, WKT marshal (reader.go:224-236)
      val raw = value.getBytes("ISO-8859-1")
      try wkbToWkt(raw.drop(4)) // SRID strip
      catch { case _: Exception => null } // parse error → printed + nil geom
    }
    else if (intTypes.contains(valueType))
      value.toLongOption.getOrElse(0L) // errors ignored (reader.go:239-241)
    else if (floatTypes.contains(valueType))
      value.toDoubleOption.getOrElse(0.0) // errors ignored (reader.go:242-244)
    else if (valueType == "timestamp")
      // layout "2006-01-02 15:04:05.9" (reader.go:245-251); Go parses UTC
      try java.sql.Timestamp.from(java.time.LocalDateTime
        .parse(value, tsFormat).toInstant(java.time.ZoneOffset.UTC))
      catch { case _: java.time.format.DateTimeParseException => null }
    else if (valueType == "date")
      try java.sql.Date.valueOf(java.time.LocalDate.parse(value))
      catch { case _: java.time.format.DateTimeParseException => null }
    else value

  // ---- minimal WKB reader → standard WKT (the reference delegates to
  // go-geom wkbhex/wkt; the bytes are the standard OGC well-known-binary
  // layout, and the output is standard well-known-text) ----

  private def fmtCoord(x: Double): String =
    if (x == x.toLong.toDouble && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  private[graft] def wkbToWkt(wkb: Array[Byte]): String =
    geom(ByteBuffer.wrap(wkb))

  private def geom(buf: ByteBuffer): String = {
    val order = buf.get()
    buf.order(if (order == 1) ByteOrder.LITTLE_ENDIAN
              else ByteOrder.BIG_ENDIAN)
    val gtype = buf.getInt()
    def point(): String = s"${fmtCoord(buf.getDouble())} ${fmtCoord(buf.getDouble())}"
    def ring(): String =
      (0 until buf.getInt()).map(_ => point()).mkString("(", ", ", ")")
    gtype match {
      case 1 => s"POINT (${point()})"
      case 2 => s"LINESTRING ${ring()}"
      case 3 =>
        val rings = (0 until buf.getInt()).map(_ => ring())
        s"POLYGON ${rings.mkString("(", ", ", ")")}"
      case 4 => // each member is a full WKB geometry with its own header
        val pts = (0 until buf.getInt()).map { _ =>
          geom(buf).stripPrefix("POINT ") }
        s"MULTIPOINT ${pts.mkString("(", ", ", ")")}"
      case 5 =>
        val ls = (0 until buf.getInt()).map(_ =>
          geom(buf).stripPrefix("LINESTRING "))
        s"MULTILINESTRING ${ls.mkString("(", ", ", ")")}"
      case 6 =>
        val ps = (0 until buf.getInt()).map(_ =>
          geom(buf).stripPrefix("POLYGON "))
        s"MULTIPOLYGON ${ps.mkString("(", ", ", ")")}"
      case 7 =>
        val gs = (0 until buf.getInt()).map(_ => geom(buf))
        s"GEOMETRYCOLLECTION ${gs.mkString("(", ", ", ")")}"
      case other =>
        throw new IllegalArgumentException(s"wkb geometry type $other")
    }
  }

  // ---- RowsEvent processing (tailer.go:222-352) ----

  /** One parsed event: op, ns, the row documents, the binlog
    * EventHeader's LogPos/Timestamp (0 when the textual line omits them),
    * and the binlog FILE the event came from ("" when omitted — see
    * [[fileOrdinal]]). */
  final case class RowsEvent(op: String, ns: String,
      docs: Seq[Map[String, Any]], pos: Long = 0L, ts: Long = 0L,
      file: String = "")

  /** Rotation ordinal of a binlog file name: the numeric suffix of
    * `<base>.<NNNNNN>` (mysql names binlog files with a monotonically
    * increasing index; a real syncer learns the current name from the
    * ROTATE_EVENT, go-mysql's `RotateEvent.NextLogName`). LogPos RESETS
    * at each rotation, so position alone is NOT a total order across a
    * batch that spans files — the ordinal goes in seq's high bits to
    * restore it. Lines without a `file` field get ordinal 0: correct for
    * single-file batches, and the documented contract is that a textual
    * producer spanning rotations must emit `file` per line (the per-line
    * field is what keeps the parse embarrassingly parallel — a stateful
    * ROTATE_EVENT replay would serialize it). Capped at 15 bits so seq
    * stays a positive long. */
  private[graft] def fileOrdinal(file: String): Long = {
    val dot = file.lastIndexOf('.')
    val suffix = if (dot < 0) "" else file.substring(dot + 1)
    val n = suffix.toLongOption.getOrElse(0L)
    math.min(math.max(n, 0L), 0x7fffL)
  }

  /** Total-order sequence for one row of one event:
    * `ordinal(15 bits) | LogPos(32 bits) | rowIndex(16 bits)` — 63 bits,
    * always positive. LogPos fits 32 bits by construction
    * (`max_binlog_size` caps a binlog file at 1 GiB, so positions stay
    * below 2³⁰). The row index SATURATES at 0xffff instead of wrapping:
    * a wrapped index would collide row 65536 with row 0 and misorder
    * same-id ops; saturation keeps every row ordered after all earlier
    * events (a single RowsEvent holds far fewer rows in practice — the
    * server splits them at `binlog_row_event_max_size`, 8 KiB default,
    * so the saturated tail is a theoretical corner documented here). */
  private[graft] def rowSeq(file: String, pos: Long, rowIndex: Int): Long =
    (fileOrdinal(file) << 48) | ((pos & 0xffffffffL) << 16) |
      math.min(rowIndex.toLong, 0xffffL)

  /** `parseEventRow` (`tailer.go:368-401`): positional cells + ordinal
    * (name, data_type) columns → document map. String cells casify; null
    * and non-string cells take the default branch (raw unless
    * array-typed — the postgres leftover). */
  def parseEventRow(columns: Seq[(String, String)], row: Seq[Any])
      : Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    row.iterator.zipWithIndex.foreach { case (cell, i) =>
      if (i < columns.size) {
        val (name, dtype) = columns(i)
        cell match {
          case s: String => out(name) = casifyValue(s, dtype)
          case other =>
            if (!dtype.endsWith("[]")) out(name) = other
        }
      }
    }
    out.toMap
  }

  /** `processEvent` (`tailer.go:222-352`) over one textual RowsEvent
    * line. Non-RowsEvent lines and unknown event types are skipped; an
    * update's row 0 (the before-image) is dropped — and ONLY row 0,
    * bug-compatible with `tailer.go:317-320`. */
  def processEvent(line: String,
      columns: Map[String, Seq[(String, String)]]): Option[RowsEvent] =
    org.json4s.jackson.JsonMethods.parseOpt(line).flatMap {
      case j: JObject =>
        val get = (f: String) => j \ f match {
          case JString(s) => Some(s); case _ => None
        }
        val getLong = (f: String) => j \ f match {
          case JInt(x) => x.toLong
          case JLong(x) => x
          case JDouble(x) => x.toLong
          case _ => 0L
        }
        for {
          etype <- get("type")
          schema <- get("schema")
          table <- get("table")
          op <- etype match {
            case "WRITE_ROWS_EVENTv1" | "WRITE_ROWS_EVENTv2" =>
              Some(Envelope.Op.Insert)
            case "DELETE_ROWS_EVENTv1" | "DELETE_ROWS_EVENTv2" =>
              Some(Envelope.Op.Delete)
            case "UPDATE_ROWS_EVENTv1" | "UPDATE_ROWS_EVENTv2" =>
              Some(Envelope.Op.Update)
            case _ => None // skip (tailer.go:333-335)
          }
        } yield {
          val ns = s"$schema.$table"
          val cols = columns.getOrElse(ns, Nil)
          val rows = j \ "rows" match {
            case JArray(rs) => rs.collect { case JArray(cells) =>
              cells.map {
                case JString(s) => s
                case JNull | JNothing => null
                case JInt(x) => x.toLong
                case JLong(x) => x
                case JDouble(x) => x
                case JBool(b) => b
                case other => org.json4s.jackson.JsonMethods.compact(other)
              }
            }
            case _ => Nil
          }
          val kept = rows.zipWithIndex.collect {
            // skip first row for an update (tailer.go:317-320)
            case (r, i) if !(i == 0 && op == Envelope.Op.Update) =>
              parseEventRow(cols, r)
          }
          RowsEvent(op, ns, kept, getLong("pos"), getLong("ts"),
            get("file").getOrElse(""))
        }
      case _ => None
    }

  // ---- DataFrame surface (batch AND streaming) ----

  /** Parse a text frame of RowsEvent lines into CDC envelopes
    * (op, ts, ns, mode, seq, data) with `data` as extended JSON. `columns`
    * carries each table's INFORMATION_SCHEMA (name, data_type) list in
    * ordinal order (`tailer.go:281-303` — the reference re-queries it
    * per event; here it's a broadcast-able constant per run).
    *
    * `seq` = `fileOrdinal << 48 | header.LogPos << 16 | rowIndex`
    * ([[rowSeq]]): binlog (file, position) is the stream's total order
    * (the reference applies events sequentially, `tailer.go:313-352`;
    * LogPos resets at each ROTATE, so the file ordinal carries the
    * cross-rotation order), row index preserves intra-event apply order.
    * `ts` = the EventHeader timestamp (seconds). Order `Upsert.applyCdc`
    * by `seq`, exactly like `MongoOplog.seq`. `nsRegex` is filterFn
    * (`tailer.go:246-251`). */
  def changes(lines: DataFrame,
      columns: Map[String, Seq[(String, String)]],
      nsRegex: String = ".*"): DataFrame =
    ChangeLog.envelopes(lines, Some(nsRegex), ordered = true) { line =>
      processEvent(line, columns).toSeq.flatMap(ev =>
        ev.docs.zipWithIndex.map { case (doc, i) =>
          ChangeLog.Entry(ev.op, ev.ts, ev.ns, rowSeq(ev.file, ev.pos, i),
            Mejson.write(doc))
        })
    }

  /** Spark schema for one table's INFORMATION_SCHEMA (name, data_type)
    * list, mirroring `casifyValue`'s output types: int family → long,
    * double/float/decimal → double, timestamp/date → their temporal
    * types, everything else (incl. `bit`'s binary string and the spatial
    * WKT) → string. */
  def sparkSchema(columns: Seq[(String, String)]): StructType =
    StructType(columns.map { case (name, dtype) =>
      val t: DataType =
        if (intTypes.contains(dtype)) org.apache.spark.sql.types.LongType
        else if (floatTypes.contains(dtype)) org.apache.spark.sql.types.DoubleType
        else if (dtype == "timestamp") org.apache.spark.sql.types.TimestampType
        else if (dtype == "date") org.apache.spark.sql.types.DateType
        else org.apache.spark.sql.types.StringType
      org.apache.spark.sql.types.StructField(name, t)
    })

  /** Apply a parsed binlog batch to a base table in binlog order: decode
    * and `Upsert.applyCdc` ordered by `seq` (binlog position), so a
    * delete-then-insert for one id within a batch resolves to the insert,
    * matching the reference's sequential apply (`tailer.go:313-352`). */
  def applyCdc(base: DataFrame, envelopes: DataFrame,
      schema: StructType, idCol: String): DataFrame =
    ChangeLog.applyCdc(base, envelopes, schema, idCol)
}
