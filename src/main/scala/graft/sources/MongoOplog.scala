package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.core.Envelope

/** MongoDB oplog tailer — the reference's CDC half of the flagship
  * adaptor (`adaptor/mongodb/reader.go:216-333`) made format-real over an
  * append-only log dir standing in for `local.oplog.rs` (no live mongod
  * in this environment; the DOCUMENT SHAPE is the real oplog shape).
  *
  * Each line is one oplog document in extended JSON, the literal
  * `oplogDoc` struct (`reader.go:317-333`):
  *
  *   {"ts": {"$timestamp": {"t": 1700000010, "i": 1}}, "h": -432718,
  *    "v": 2, "op": "i", "ns": "db.users", "o": {"_id": 7, "name": "ann"}}
  *
  * Reproduced semantics, cited to the reference:
  *
  *   - `validOp` (`reader.go:335-339`): only `i`/`u`/`d` ops whose `ns`
  *     matches pass; noops (`n`), commands (`c`) and foreign namespaces
  *     are skipped silently;
  *   - classification (`reader.go:245-264`): `i` → Insert carrying `o`,
  *     `d` → Delete carrying `o`, `u` → Update carrying... nothing usable:
  *     the oplog `o` of an update is the mutation, so the reference
  *     RE-FETCHES the current document by `o2._id` (`getOriginalDoc`,
  *     `reader.go:296-315` — "all updates work as wholesale document
  *     replaces"). Here the update envelope carries `o2` (the id pointer)
  *     until `resolveUpdates` joins it against current collection state —
  *     the same point lookup, expressed as a broadcast-able join instead
  *     of N driver round-trips. A missing document drops the update (the
  *     reference logs and `continue`s, `reader.go:258-262`);
  *   - `msg.TS = ts >> 32` (`reader.go:266`): the high 32 bits of a
  *     MongoTimestamp are unix seconds; the full 64-bit value is kept in
  *     `seq` — it is the oplog's total order, exactly what
  *     `Upsert.applyCdc` wants as its order column;
  *   - resume: `{ts: {$gte: oplogTime}}` (`reader.go:229-230`) →
  *     `sinceTs` filters on the raw timestamp;
  *   - Mode is Sync for every row (`reader.go:269-272`); the Copy phase
  *     is `Connectors.MongoSource` / the `graft-mongo` DSv2 scan.
  *
  * The parse runs inside `ChangeLog.envelopes`, so the SAME code runs
  * batch (fixtures, backfill) and streaming (the tail loop of
  * `reader.go:234-243`, expressed as a file stream).
  */
object MongoOplog {

  /** One parsed oplog document: raw 64-bit MongoTimestamp, op, ns, and
    * the `o`/`o2` payloads as compact extended-JSON strings. */
  final case class OplogEntry(ts: Long, op: String, ns: String,
      o: String, o2: String)

  private def tsOf(j: JValue): Option[Long] = j match {
    // extended-JSON spelling {"$timestamp": {"t": secs, "i": ordinal}}
    case JObject(fs) =>
      val m = fs.toMap
      (m.get("$timestamp") match {
        case Some(JObject(tf)) =>
          val tm = tf.toMap
          for {
            t <- tm.get("t").collect { case JInt(x) => x.toLong
                                       case JLong(x) => x
                                       case JDouble(x) => x.toLong }
            i <- tm.get("i").collect { case JInt(x) => x.toLong
                                       case JLong(x) => x
                                       case JDouble(x) => x.toLong }
                   .orElse(Some(0L))
          } yield (t << 32) | (i & 0xffffffffL)
        case _ => None
      })
    // raw numeric MongoTimestamp (secs already in the high 32 bits)
    case JInt(x) => Some(x.toLong)
    case JLong(x) => Some(x)
    case JDouble(x) => Some(x.toLong)
    case _ => None
  }

  /** Parse one oplog line; non-JSON lines and docs without the oplog
    * fields yield None (the mgo iterator never surfaces them). */
  def parseLine(line: String): Option[OplogEntry] =
    org.json4s.jackson.JsonMethods.parseOpt(line).flatMap {
      case j: JObject =>
        val render = (v: JValue) => v match {
          case JNothing | JNull => ""
          case other => org.json4s.jackson.JsonMethods.compact(other)
        }
        for {
          ts <- tsOf(j \ "ts")
          op <- j \ "op" match { case JString(s) => Some(s); case _ => None }
          ns <- j \ "ns" match { case JString(s) => Some(s); case _ => None }
        } yield OplogEntry(ts, op, ns, render(j \ "o"), render(j \ "o2"))
      case _ => None
    }

  /** `validOp` (`reader.go:335-339`): i/u/d only; ns filtering is the
    * regex form every adaptor listing uses (find() semantics). */
  def validOp(e: OplogEntry): Boolean =
    e.op == "i" || e.op == "u" || e.op == "d"

  /** Canonical id key for the refetch join, applied to BOTH sides:
    * extended-JSON number/oid wrappers collapse to their bare value so a
    * raw-JSON oplog `{"_id": 3}` meets a Mejson-rendered typed `_id`
    * (`{"$numberLong": "3"}`) on equal terms. */
  private[graft] def canonId(j: JValue): Option[String] = {
    val compact = (v: JValue) => org.json4s.jackson.JsonMethods.compact(v)
    j match {
      case JNothing | JNull => None
      case JObject(List(("$oid", JString(s)))) => Some(compact(JString(s)))
      case JObject(List(("$numberLong", JString(s)))) => Some(s)
      case JObject(List(("$numberInt", JString(s)))) => Some(s)
      case JDouble(x) if x == x.toLong.toDouble => Some(x.toLong.toString)
      case v => Some(compact(v))
    }
  }

  /** id key of a full document's `_id` (the envelope side). */
  private[graft] def idKey(docJson: String): Option[String] =
    org.json4s.jackson.JsonMethods.parseOpt(docJson)
      .flatMap(j => canonId(j \ "_id"))

  /** id key of a bare extended-JSON value (the collection side). */
  private[graft] def idKeyValue(valueJson: String): Option[String] =
    org.json4s.jackson.JsonMethods.parseOpt(valueJson).flatMap(canonId)

  /** Parse a text frame of oplog lines into CDC envelopes
    * (op, ts, ns, mode, seq, data) — `ChangeLog.envelopes`, so
    * `spark.read.text` and `spark.readStream.text` frames alike (the tail
    * loop of `reader.go:234-243` as a file stream). Update envelopes
    * carry the `o2` id pointer as `data` — resolve them with
    * `resolveUpdates` before applying; the reference also resolves at
    * apply time, against the LIVE collection (`reader.go:296-315`).
    * `sinceTs` is the raw-MongoTimestamp resume cursor
    * (`reader.go:229-230`, $gte semantics). */
  def changes(lines: DataFrame, nsRegex: String = ".*",
      sinceTs: Option[Long] = None): DataFrame = {
    val since = sinceTs.getOrElse(Long.MinValue)
    ChangeLog.envelopes(lines, Some(nsRegex), ordered = true) { line =>
      parseLine(line).filter(validOp).filter(_.ts >= since).map { e =>
        val (op, data) = e.op match {
          case "i" => (Envelope.Op.Insert, e.o)
          case "d" => (Envelope.Op.Delete, e.o)
          case "u" => (Envelope.Op.Update, e.o2) // id pointer; refetch
        }
        ChangeLog.Entry(op, e.ts >>> 32, e.ns, e.ts, data)
      }
    }
  }

  /** `getOriginalDoc` at scale (`reader.go:296-315`): update envelopes
    * carry only the `o2` `{_id}` pointer; join them against the CURRENT
    * collection state to fetch the wholesale replacement document.
    * `collection` is a typed frame holding `_id` plus document columns
    * (a `MongoSource`/`graft-mongo` read). Updates whose document no
    * longer exists are DROPPED, like the reference's log-and-continue.
    * The lookup side is one id-keyed join per batch — broadcast when the
    * epoch is small (the common CDC case), shuffle otherwise. */
  def resolveUpdates(envelopes: DataFrame, collection: DataFrame): DataFrame = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    require(collection.columns.contains("_id"),
      "resolveUpdates: collection state needs an _id column")
    val docCols = collection.columns.toSeq
    // current docs rendered back to extended JSON, keyed by canonical id.
    // Every step here is a codegen'd expression (MongoIdKey /
    // MongoIdTypedKey / MejsonWrite), not a ScalaUDF, so the apply path
    // stays inside whole-stage codegen (PlanShapeSpec pins this).
    import graft.functions.expressions.MongoIdKeys.{id_key_of_doc, id_key_of_typed, mejson_write}
    val lookup = collection.select(
      id_key_of_typed(col("_id")).as("__k"),
      mejson_write(struct(docCols.map(col): _*)).as("__doc"))
    val keyed = envelopes.withColumn("__k", id_key_of_doc(col("data")))
    val updates = keyed.filter(col(Envelope.OpCol) === Envelope.Op.Update)
      .join(lookup, Seq("__k")) // inner: missing doc → drop (reader.go:258-262)
      .withColumn("data", col("__doc")).drop("__doc")
    updates.unionByName(
        keyed.filter(col(Envelope.OpCol) =!= Envelope.Op.Update))
      .drop("__k")
  }

  /** Snapshot-then-tail end state in one call: resolve updates, decode,
    * and `Upsert.applyCdc` ordered by the oplog's own total order
    * (`seq` = the raw MongoTimestamp). `base` is the Copy-phase snapshot
    * (or the last epoch's state); `current` is the LIVE collection state
    * the reference's `getOriginalDoc` reads (`reader.go:296-315` hits
    * the collection as of refetch time, NOT the snapshot) — pass the
    * current collection read; it defaults to `base` for pure
    * replay-from-log scenarios where no fresher state exists. */
  def applyCdc(base: DataFrame, envelopes: DataFrame, schema: StructType,
      current: Option[DataFrame] = None): DataFrame =
    ChangeLog.applyCdc(base,
      resolveUpdates(envelopes, current.getOrElse(base)), schema, "_id")
}
