package graft.sources.dsv2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.Mejson

/** Mongo-shaped DSv2 connector — the reference's flagship adaptor
  * (`adaptor/mongodb/reader.go:41-214`) re-expressed over a database
  * DIRECTORY of collections, each collection a dir of extended-JSON
  * ("mejson") document files, one document per line. BSON-ish types ride
  * the mejson tags (`$date`/`$numberLong`/`$numberDecimal`/`$binary`),
  * decoded schema-driven by `graft.functions.Mejson` — the same codec the
  * reference uses at every string boundary (`pipeline/node.go:461-462`).
  *
  * Reader semantics reproduced, each plan-visible:
  *
  *   - **collection listing with `system.*` exclusion and ns-regex
  *     pushdown** (`reader.go:95-114` listCollections): only matching,
  *     non-system collection dirs are scanned — the filter prunes the
  *     listing, not rows;
  *   - **`collection_filters` server-side predicates**
  *     (`reader.go:172-181` catQuery; config `mongodb.go:40-46`): a JSON
  *     map of collection → filter doc (`{"f": v}` equality or
  *     `{"f": {"$gt": v}}` ops) evaluated DURING the scan, before any
  *     row is materialized;
  *   - **resumable `_id > last` cursor** (`reader.go:172-181`): Spark
  *     pushes the `GreaterThan(_id, last)` Filter into the scan
  *     (`SupportsPushDownFilters`), exactly the catQuery resume predicate.
  *     The reference's `sortable(_id)` gate (`reader.go:183-214`) maps to
  *     the pushable-type check: only atomic/timestamp `_id` types push;
  *   - **column pruning** (`SupportsPushDownRequiredColumns`): only
  *     requested fields are decoded from each document;
  *   - one InputPartition per (collection, file): a 100 TB database dir
  *     scans with file-level parallelism, no driver-side row handling.
  *
  * A schema field named `ns` is populated with the collection name
  * (the envelope's namespace — `message/message.go:69-77`); `EqualTo`/`In`
  * filters on it prune whole collections from the scan.
  *
  * Usage: `spark.read.format("graft-mongo").schema(s).load(dbDir)`, with
  * options `collection` (single), `ns` (regex over collection names),
  * `collection_filters` (JSON, as the reference config), and
  * `decode_errors` — what to do when a cell's mejson value does not decode
  * to its schema type: `fail` (default — the task fails with the
  * collection/field/value context) or `null` (permissive; the cell nulls,
  * but every such cell is COUNTED in the scan's `decodeFailures` custom
  * metric, plan-visible in the SQL UI). A tolerant catch that silently
  * nulls a whole column must be impossible to ship unnoticed.
  */
class MongoDocsTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-mongo"
  override def supportsExternalMetadata(): Boolean = true

  /** Schema inference over an N-doc sample spread across ALL listed
    * collections (SURVEY §1.2: mongo collections are heterogeneous — a
    * single-doc inference silently mis-types the rest). Types union
    * field-by-field (numeric widening, null defers, struct/array
    * recursion); a genuine conflict (e.g. long vs string) fails LOUDLY
    * with the field path — pass an explicit schema for such data.
    * `infer_sample` bounds the total docs read (default 100). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val sampleN = Option(options.get("infer_sample")).map(_.toInt)
      .getOrElse(100).max(1)
    val colls = MongoDocs.listCollections(options)
    if (colls.isEmpty) throw new IllegalArgumentException(
      s"graft-mongo: no documents found under ${options.get("path")}")
    val perColl = math.max(1, sampleN / colls.size)
    val docs: Seq[JObject] = colls.flatMap { case (_, files) =>
      val buf = scala.collection.mutable.ListBuffer.empty[JObject]
      val fit = files.iterator
      while (buf.size < perColl && fit.hasNext) {
        val src = scala.io.Source.fromFile(fit.next())
        try src.getLines().filter(_.nonEmpty)
          .takeWhile(_ => buf.size < perColl)
          .foreach { line =>
            JsonMethods.parseOpt(line) match {
              case Some(o: JObject) => buf += o
              case _ => throw new IllegalArgumentException(
                "graft-mongo: document is not an object")
            }
          }
        finally src.close()
      }
      buf.toList
    }
    if (docs.isEmpty) throw new IllegalArgumentException(
      s"graft-mongo: no documents found under ${options.get("path")}")
    MongoDocs.fillNulls(docs.map(MongoDocs.docSchema)
      .reduce(MongoDocs.unionSchema(_, _, "")))
      .asInstanceOf[StructType]
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new MongoDocsTable(schema, MongoDocs.listCollections(opts),
      MongoDocs.parseCollectionFilters(
        Option(opts.get("collection_filters"))))
  }
}

object MongoDocs {

  /** A mongo-style predicate from `collection_filters`: field, op, value.
    * Ops mirror the query-doc operators the reference forwards verbatim
    * into `Find` (`reader.go:174-176`). */
  final case class DocPredicate(field: String, op: String, value: JValue)

  /** List collection dirs under the database dir: excludes `system.*`
    * (`reader.go:104`), applies the `ns` regex (find() semantics, like
    * the reference's trimmed-regex filterFn), or pins to the single
    * `collection` option. Returns (collection, files) sorted. */
  def listCollections(options: CaseInsensitiveStringMap)
      : Seq[(String, Seq[String])] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-mongo requires a path"))
    val dbDir = java.nio.file.Paths.get(path)
    require(java.nio.file.Files.isDirectory(dbDir),
      s"graft-mongo: $path is not a database directory")
    val single = Option(options.get("collection"))
    val nsMatches = graft.core.Envelope.nsMatches(
      Option(options.get("ns")).getOrElse(".*"))
    val s = java.nio.file.Files.list(dbDir)
    val collDirs =
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    val chosen = collDirs.filter { c =>
      !c.startsWith("system.") &&
      single.map(_ == c).getOrElse(nsMatches(c))
    }
    chosen.map { c =>
      val cs = java.nio.file.Files.list(dbDir.resolve(c))
      val files =
        try cs.iterator().asScala.map(_.toString)
          .filter { f =>
            val n = new java.io.File(f).getName
            !new java.io.File(f).isDirectory && !n.endsWith(".crc") &&
            !n.startsWith("_") && !n.startsWith(".")
          }.toSeq.sorted
        finally cs.close()
      (c, files)
    }.filter(_._2.nonEmpty)
  }

  /** Parse the reference's `collection_filters` JSON
    * (`mongodb.go:40-46`, `ErrCollectionFilter` on malformed):
    * `{"coll": {"f": v, "g": {"$gt": v}}}`. */
  def parseCollectionFilters(json: Option[String])
      : Map[String, Seq[DocPredicate]] =
    json.filter(_.trim.nonEmpty).map { s =>
      JsonMethods.parseOpt(s) match {
        case Some(JObject(colls)) => colls.map {
          case (coll, JObject(fields)) => coll -> fields.flatMap {
            case (f, JObject(ops)) if ops.forall(_._1.startsWith("$")) =>
              ops.map { case (op, v) => DocPredicate(f, op, v) }
            case (f, v) => List(DocPredicate(f, "$eq", v))
          }
          case (coll, other) => throw new IllegalArgumentException(
            s"malformed collection_filters for '$coll': $other")
        }.toMap
        case _ => throw new IllegalArgumentException(
          s"malformed collection_filters: $s") // ErrCollectionFilter
      }
    }.getOrElse(Map.empty)

  /** Mejson-tag-aware type inference for a sampled document value. */
  /** Null-aware inference: JNull yields NullType so the sample union can
    * let a later doc's concrete type win ([[fillNulls]] turns any
    * still-unknown slot into StringType at the end). */
  private def inferTypeN(j: JValue): DataType = j match {
    case JNull | JNothing => NullType
    case JObject(fields) if fields.exists(_._1 == "$date") => TimestampType
    case JObject(fields) if fields.exists(_._1 == "$numberLong") => LongType
    case JObject(fields) if fields.exists(_._1 == "$numberDecimal") =>
      DecimalType(38, 18)
    case JObject(fields) if fields.exists(_._1 == "$numberDouble") => DoubleType
    case JObject(fields) if fields.exists(_._1 == "$binary") => BinaryType
    case JObject(fields) =>
      StructType(fields.map { case (k, v) => StructField(k, inferTypeN(v)) })
    case JArray(x :: _) => ArrayType(inferTypeN(x))
    case JArray(Nil) => ArrayType(NullType)
    case JBool(_) => BooleanType
    case JInt(_) | JLong(_) => LongType
    case JDouble(_) | JDecimal(_) => DoubleType
    case _ => StringType
  }

  def inferType(j: JValue): DataType = fillNulls(inferTypeN(j))

  /** One document's schema (null-aware; union across the sample before
    * [[fillNulls]]). */
  private[dsv2] def docSchema(o: JObject): DataType =
    StructType(o.obj.map { case (k, v) => StructField(k, inferTypeN(v)) })

  /** Union two inferred types: equal → keep; null defers; numerics widen
    * (double > decimal > long); structs union fields by name; arrays
    * union elements. Anything else is a CONFLICT and fails loudly with
    * the field path (SURVEY §1.2 — better than silently mis-typing). */
  private[dsv2] def unionSchema(a: DataType, b: DataType,
      path: String): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (x: StructType, y: StructType) =>
      val yf = y.fields.map(f => f.name -> f.dataType).toMap
      val merged = x.fields.map { f =>
        StructField(f.name, yf.get(f.name)
          .map(unionSchema(f.dataType, _, s"$path.${f.name}"))
          .getOrElse(f.dataType))
      } ++ y.fields.filterNot(f => x.fieldNames.contains(f.name))
      StructType(merged)
    case (ArrayType(x, _), ArrayType(y, _)) =>
      ArrayType(unionSchema(x, y, s"$path[]"))
    case (DoubleType, LongType) | (LongType, DoubleType) => DoubleType
    case (DoubleType, _: DecimalType) | (_: DecimalType, DoubleType) =>
      DoubleType
    case (LongType, d: DecimalType) => d
    case (d: DecimalType, LongType) => d
    case (x, y) => throw new IllegalArgumentException(
      s"graft-mongo: conflicting types for field '${path.stripPrefix(".")}'" +
        s": $x vs $y — pass an explicit schema")
  }

  /** Replace any still-unknown (all-null) slot with StringType. */
  private[dsv2] def fillNulls(dt: DataType): DataType = dt match {
    case NullType => StringType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = fillNulls(f.dataType))))
    case ArrayType(e, n) => ArrayType(fillNulls(e), n)
    case other => other
  }

  /** `decode_errors` option: true = permissive (`null`, counted), false =
    * fail the task (default). */
  private[dsv2] def lenientDecode(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("decode_errors")).map(_.toLowerCase) match {
      case None | Some("fail") => false
      case Some("null") => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-mongo: decode_errors must be 'fail' or 'null', got '$other'")
    }
}

/** Driver-side aggregate of the per-task decode-failure counts. */
final class DecodeFailuresMetric extends CustomSumMetric {
  override def name(): String = "decodeFailures"
  override def description(): String =
    "mejson cells that failed schema-driven decode (nulled under decode_errors=null)"
}

final case class DecodeFailuresTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "decodeFailures"
}

final class MongoDocsTable(tblSchema: StructType,
    collections: Seq[(String, Seq[String])],
    collFilters: Map[String, Seq[MongoDocs.DocPredicate]])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-mongo(${collections.map(_._1).mkString(",")})"
  override def schema(): StructType = tblSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new MongoDocsScanBuilder(tblSchema, collections, collFilters,
      MongoDocs.lenientDecode(options))
}

final class MongoDocsScanBuilder(fullSchema: StructType,
    collections: Seq[(String, Seq[String])],
    collFilters: Map[String, Seq[MongoDocs.DocPredicate]],
    lenient: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  // the reference's sortable() gate (`reader.go:208-214`): string,
  // float64, int64, time.Time — plus the rest of the atomic family
  private def pushableType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | FloatType |
         BooleanType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  private def isAtomic(attr: String): Boolean =
    fullSchema.fields.find(_.name == attr).exists(f => pushableType(f.dataType))

  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => isAtomic(a)
    case GreaterThan(a, _) => isAtomic(a)
    case GreaterThanOrEqual(a, _) => isAtomic(a)
    case LessThan(a, _) => isAtomic(a)
    case LessThanOrEqual(a, _) => isAtomic(a)
    case In(a, _) => isAtomic(a)
    case IsNotNull(a) => isAtomic(a)
    case IsNull(a) => isAtomic(a)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(pushable)
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // ns equality/in filters prune whole collections from the scan — the
    // plan-visible form of the reference's listing-level filterFn
    val nsPruned = pushed.foldLeft(collections) { (cs, f) =>
      f match {
        case EqualTo("ns", v: String) => cs.filter(_._1 == v)
        case In("ns", vs) => cs.filter(c => vs.exists(_ == c._1))
        case _ => cs
      }
    }
    new MongoDocsScan(fullSchema, required, nsPruned, collFilters, pushed,
      lenient)
  }
}

final case class MongoDocsInputPartition(collection: String, file: String)
    extends InputPartition

final class MongoDocsScan(fullSchema: StructType, required: StructType,
    collections: Seq[(String, Seq[String])],
    collFilters: Map[String, Seq[MongoDocs.DocPredicate]],
    filters: Array[Filter], lenient: Boolean = false) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-mongo Collections: [${collections.map(_._1).mkString(", ")}], " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}, " +
      s"DecodeErrors: ${if (lenient) "null(counted)" else "fail"}"

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new DecodeFailuresMetric)

  /** Exposed for plan-level asserts. */
  def pushedFilters: Seq[Filter] = filters.toSeq
  def scannedCollections: Seq[String] = collections.map(_._1)

  override def planInputPartitions(): Array[InputPartition] =
    collections.flatMap { case (c, files) =>
      files.map(MongoDocsInputPartition(c, _): InputPartition)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new MongoDocsReaderFactory(fullSchema, required, collFilters, filters,
      lenient)
}

final class MongoDocsReaderFactory(fullSchema: StructType,
    required: StructType, collFilters: Map[String, Seq[MongoDocs.DocPredicate]],
    filters: Array[Filter], lenient: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MongoDocsInputPartition]
    new MongoDocsPartitionReader(mp.collection, mp.file, fullSchema, required,
      collFilters.getOrElse(mp.collection, Nil), filters, lenient)
  }
}

/** Streams one collection file: parse extended JSON → collection_filters →
  * pushed Spark filters → schema-driven materialization of the required
  * columns only. */
final class MongoDocsPartitionReader(collection: String, file: String,
    fullSchema: StructType, required: StructType,
    docPreds: Seq[MongoDocs.DocPredicate], filters: Array[Filter],
    lenient: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val source = scala.io.Source.fromFile(file)
  private val lines = source.getLines()
  private var current: InternalRow = _
  private var decodeFailures: Long = 0L

  private val fieldTypes: Map[String, DataType] =
    fullSchema.fields.map(f => f.name -> f.dataType).toMap

  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(required)

  /** Decode one top-level field to its external (Row-land) value; `ns` is
    * the collection name (`message/message.go:69-77`), shadowing any doc
    * field of that name. A cell that fails schema-driven decode is LOUD:
    * the task fails with full context, unless `decode_errors=null` asked
    * for the permissive null — and even then the failure is counted in
    * the scan's `decodeFailures` metric. */
  private def extValue(obj: Map[String, JValue], attr: String): Any =
    if (attr == "ns" && fieldTypes.get("ns").contains(StringType)) collection
    else fieldTypes.get(attr) match {
      case Some(dt) => obj.get(attr)
        .map(jv => try Mejson.fromJValue(jv, dt) catch {
          case e: RuntimeException if lenient =>
            decodeFailures += 1; null
          case e: RuntimeException => throw new IllegalStateException(
            s"graft-mongo: collection '$collection' field '$attr' does not " +
              s"decode as ${dt.sql}: ${e.getMessage} (file: $file). " +
              "Pass decode_errors=null to null such cells (counted in the " +
              "decodeFailures scan metric).", e)
        }).orNull
      case None => null
    }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(DecodeFailuresTaskMetric(decodeFailures))

  private def millis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case t: java.time.LocalDateTime =>
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case d: java.sql.Date => d.getTime
    case d: java.time.LocalDate =>
      d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    case _ => sys.error(s"not a time value: $v")
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Int, y: Number) => Some(java.lang.Long.compare(x.toLong, y.longValue()))
    case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue()))
    case (x: Float, y: Number) => Some(java.lang.Double.compare(x.toDouble, y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x @ (_: java.sql.Timestamp | _: java.sql.Date |
               _: java.time.LocalDateTime),
          y @ (_: java.sql.Timestamp | _: java.sql.Date |
               _: java.time.Instant | _: java.time.LocalDate |
               _: java.time.LocalDateTime)) =>
      Some(java.lang.Long.compare(millis(x), millis(y)))
    case _ => None
  }

  private def evalSpark(f: Filter, obj: Map[String, JValue]): Boolean = f match {
    case EqualTo(a, v) => cmp(extValue(obj, a), v).contains(0)
    case GreaterThan(a, v) => cmp(extValue(obj, a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(extValue(obj, a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(extValue(obj, a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(extValue(obj, a), v).exists(_ <= 0)
    case In(a, vs) => vs.exists(v => cmp(extValue(obj, a), v).contains(0))
    case IsNotNull(a) => extValue(obj, a) != null
    case IsNull(a) => extValue(obj, a) == null
    case _ => true
  }

  /** Evaluate one collection_filters predicate — the decoded-field value
    * against the filter doc's JSON literal (the reference hands these to
    * the server verbatim; here the scan IS the server). */
  private def evalDoc(p: MongoDocs.DocPredicate,
      obj: Map[String, JValue]): Boolean = {
    val lhs = extValue(obj, p.field)
    val rhs: Any = p.value match {
      case JString(s) => s
      case JBool(b) => b
      case JInt(i) => i.longValue
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JNull => null
      case other => Mejson.fromJValue(other,
        fieldTypes.getOrElse(p.field, StringType))
    }
    p.op match {
      case "$eq" => cmp(lhs, rhs).contains(0)
      case "$ne" => cmp(lhs, rhs).exists(_ != 0)
      case "$gt" => cmp(lhs, rhs).exists(_ > 0)
      case "$gte" => cmp(lhs, rhs).exists(_ >= 0)
      case "$lt" => cmp(lhs, rhs).exists(_ < 0)
      case "$lte" => cmp(lhs, rhs).exists(_ <= 0)
      case "$in" => p.value match {
        case JArray(vs) => vs.exists(v =>
          evalDoc(MongoDocs.DocPredicate(p.field, "$eq", v), obj))
        case _ => false
      }
      case other => throw new IllegalArgumentException(
        s"collection_filters: unsupported operator '$other'")
    }
  }

  override def next(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      if (line.nonEmpty) {
        JsonMethods.parseOpt(line) match {
          case Some(JObject(fields)) =>
            val obj = fields.toMap
            if (docPreds.forall(evalDoc(_, obj)) &&
                filters.forall(evalSpark(_, obj))) {
              val ext = Row.fromSeq(required.fields.toSeq.map(rf =>
                extValue(obj, rf.name)))
              current = toCatalyst(ext).asInstanceOf[InternalRow]
              return true
            }
          case _ => // skip malformed line (permissive, like the reference)
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = source.close()
}
