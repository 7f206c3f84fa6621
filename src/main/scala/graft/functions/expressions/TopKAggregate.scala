package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData,
  SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-heap top-k aggregation: `top_k_by(sim, id, k)` keeps the k
  * best (sim desc, id asc ties) rows per group in O(k) state.
  *
  * This is the scale-correct replacement for `row_number over
  * (partition by group order by sim desc) <= k`: the window form
  * shuffles EVERY scored row to one reducer per group (parallelism =
  * #groups, each reducer sorting |corpus| rows), while this aggregate
  * partial-combines map-side — each input partition maintains a ≤k heap
  * per group, so the shuffle carries only ≤ (#partitions × #groups)
  * k-sized buffers and the final merge per group is #partitions heap
  * merges of size k. At 100 TB the shuffle volume drops from |corpus|
  * rows per query to k×#partitions rows per query.
  *
  * The id is carried in its SOURCE type (any orderable atomic type:
  * integrals, string, date, timestamp, float/double), so string-UUID
  * corpora rank identically to bigint ones and the output `corpus_id`
  * field keeps the input type. Unsupported id types fail at analysis
  * time via `checkInputDataTypes`, never with an executor-side
  * ClassCastException.
  *
  * Runs under `ObjectHashAggregateExec` (same machinery as
  * `collect_list`/`percentile`) with partial + final modes, so it works
  * unchanged in groupBy aggregation and under AQE.
  */
object TopKAggregate {
  /** Top-k rows as array<struct<corpus_id:<idType>, sim:double>>, best
    * first. `sim` is cast to double here (so float scores are fine); null
    * sims are skipped (a null cosine means a zero-norm vector, which
    * "never matches" by contract — see Similarity.cosine). */
  def top_k_by(sim: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByAggregate(Bridge.expression(sim.cast("double")),
      Bridge.expression(id), k).toAggregateExpression())

  /** `top_k_by` with a float-vector PAYLOAD riding along each kept entry
    * (output structs gain a `payload: array<float>` field). Selection and
    * ordering are identical to [[top_k_by]] — the payload never
    * participates in comparisons, it is just carried — so the kept id
    * set is bit-for-bit the payload-free aggregate's.
    *
    * This exists for the pair-generation paths (IVF near-dup / SemDeDup):
    * computing a pair metric AFTER capped-bucket candidate generation
    * otherwise requires joining the vectors back onto the candidate-pair
    * rows — an exchange of |pairs| × 2·dim floats (measured 15-30 GB at
    * the 100× bench rung, all spill). With the vector carried through the
    * heap, the shuffle moves |corpus|·nprobe vectors ONCE into the bucket
    * aggregate, the pair metric is computed inside the post-agg
    * projection (no exchange sees a pair row with payloads), and only
    * threshold SURVIVORS reach the distinct. */
  def top_k_by_carry(sim: Column, id: Column, payload: Column, k: Int): Column =
    Bridge.column(TopKByAggregate(Bridge.expression(sim.cast("double")),
      Bridge.expression(id), k,
      payExpr = Some(Bridge.expression(payload.cast("array<float>"))))
      .toAggregateExpression())

  /** The cosine pairs of one [[top_k_by_carry]] heap (payload = vector)
    * as array<struct<id_a, id_b, cos>>: every entry pair with
    * `id_a < id_b` and `cos >= threshold` ([[BucketCosinePairs]]). */
  def bucket_cosine_pairs(tops: Column, threshold: Double): Column =
    Bridge.column(BucketCosinePairs(Bridge.expression(tops), threshold))

  /** Id types the heap can order AND (de)serialize. */
  private[expressions] val supportedIdTypes: Seq[DataType] = Seq(
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    DateType, TimestampType, TimestampNTZType, StringType)
}

/** Mutable bounded min-heap: the root is the WORST kept entry (lowest sim;
  * ties: highest id), so a better candidate replaces the root in O(log k).
  * Ids are stored as internal Catalyst values and compared with the
  * interpreted ordering for the id's data type.
  *
  * Storage grows geometrically up to k instead of allocating k slots up
  * front: group-heavy aggregations (the LSH bucket cap creates one heap
  * PER BUCKET with k ≈ 1000, across hundreds of thousands of buckets
  * holding a handful of entries each) would otherwise allocate ~16 KB of
  * arrays per group, dominating the aggregation in GC churn.
  */
final class TopKHeap(val k: Int, val idOrd: Ordering[Any],
                     val hasPay: Boolean = false) {
  private var cap = math.min(k, 8)
  var sims = new Array[Double](cap)
  var ids = new Array[Any](cap)
  // payload slots exist only for the _carry form — the common id-only
  // heaps pay nothing for the feature
  var pays: Array[Any] = if (hasPay) new Array[Any](cap) else null
  var size = 0

  private def ensureRoom(): Unit =
    if (size == cap && cap < k) {
      cap = math.min(k, cap * 2)
      sims = java.util.Arrays.copyOf(sims, cap)
      ids = java.util.Arrays.copyOf(ids.asInstanceOf[Array[AnyRef]], cap)
        .asInstanceOf[Array[Any]]
      if (hasPay)
        pays = java.util.Arrays.copyOf(pays.asInstanceOf[Array[AnyRef]], cap)
          .asInstanceOf[Array[Any]]
    }

  // entry a is worse than entry b (worse = evicted first)
  @inline private def worse(sa: Double, ia: Any, sb: Double, ib: Any): Boolean =
    sa < sb || (sa == sb && idOrd.gt(ia, ib))

  @inline private def swap(i: Int, w: Int): Unit = {
    val ts = sims(i); val ti = ids(i)
    sims(i) = sims(w); ids(i) = ids(w)
    sims(w) = ts; ids(w) = ti
    if (hasPay) { val tp = pays(i); pays(i) = pays(w); pays(w) = tp }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(sims(i), ids(i), sims(p), ids(p))) {
        swap(i, p)
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < size && worse(sims(l), ids(l), sims(w), ids(w))) w = l
      if (r < size && worse(sims(r), ids(r), sims(w), ids(w))) w = r
      if (w == i) return
      swap(i, w)
      i = w
    }
  }

  def offer(sim: Double, id: Any): Unit = offer(sim, id, null)

  def offer(sim: Double, id: Any, pay: Any): Unit =
    if (size < k) {
      ensureRoom()
      sims(size) = sim; ids(size) = id
      if (hasPay) pays(size) = pay
      size += 1
      siftUp(size - 1)
    } else if (worse(sims(0), ids(0), sim, id)) {
      sims(0) = sim; ids(0) = id
      if (hasPay) pays(0) = pay
      siftDown()
    }

  def mergeFrom(other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) {
      offer(other.sims(i), other.ids(i),
        if (hasPay) other.pays(i) else null)
      i += 1
    }
    this
  }

  /** (sim, id, payload-or-null) triples sorted best-first: sim desc,
    * id asc. */
  def sorted: Array[(Double, Any, Any)] = {
    val idx = Array.range(0, size).sortWith { (a, b) =>
      sims(a) > sims(b) || (sims(a) == sims(b) && idOrd.lt(ids(a), ids(b)))
    }
    idx.map(i => (sims(i), ids(i), if (hasPay) pays(i) else null))
  }
}

case class TopKByAggregate(simExpr: Expression, idExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0,
    payExpr: Option[Expression] = None)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, "top_k_by requires k > 0")

  override def children: Seq[Expression] = Seq(simExpr, idExpr) ++ payExpr
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(
    Seq(StructField("corpus_id", idExpr.dataType),
        StructField("sim", DoubleType, nullable = false)) ++
    payExpr.map(p => StructField("payload", p.dataType))),
    containsNull = false)
  override def prettyName: String =
    if (payExpr.isDefined) "top_k_by_carry" else "top_k_by"

  override def checkInputDataTypes(): TypeCheckResult =
    if (simExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by score must be DOUBLE, got ${simExpr.dataType.sql}")
    else if (!TopKAggregate.supportedIdTypes.contains(idExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by id type ${idExpr.dataType.sql} is not orderable here; " +
          s"supported: ${TopKAggregate.supportedIdTypes.map(_.sql).mkString(", ")}")
    else payExpr match {
      case Some(p) if p.dataType != ArrayType(FloatType) &&
          p.dataType != ArrayType(FloatType, containsNull = false) =>
        TypeCheckResult.TypeCheckFailure(
          s"top_k_by_carry payload must be ARRAY<FLOAT>, got ${p.dataType.sql}")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val idType: DataType = idExpr.dataType
  private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idType).asInstanceOf[Ordering[Any]]

  override def createAggregationBuffer(): TopKHeap =
    new TopKHeap(k, idOrdering, hasPay = payExpr.isDefined)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = simExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      // UTF8String from an UnsafeRow aliases a reused buffer — copy before
      // the heap retains it across rows
      val id = i match {
        case u: UTF8String => u.clone()
        case other => other
      }
      // same aliasing hazard for the payload ArrayData
      val pay = payExpr match {
        case Some(p) => p.eval(input) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
          case other => other
        }
        case None => null
      }
      buf.offer(s.asInstanceOf[Double], id, pay)
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap =
    buf.mergeFrom(other)

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sorted.map { case (s, i, p) =>
      if (payExpr.isDefined) new GenericInternalRow(Array[Any](i, s, p))
      else new GenericInternalRow(Array[Any](i, s))
    })

  private def writeId(out: java.io.DataOutputStream, id: Any): Unit =
    idType match {
      case ByteType => out.writeByte(id.asInstanceOf[Byte].toInt)
      case ShortType => out.writeShort(id.asInstanceOf[Short].toInt)
      case IntegerType | DateType => out.writeInt(id.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        out.writeLong(id.asInstanceOf[Long])
      case FloatType => out.writeFloat(id.asInstanceOf[Float])
      case DoubleType => out.writeDouble(id.asInstanceOf[Double])
      case StringType =>
        val b = id.asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b)
      case t => throw new IllegalStateException(s"unreachable id type $t")
    }

  private def readId(in: java.io.DataInputStream): Any =
    idType match {
      case ByteType => in.readByte()
      case ShortType => in.readShort()
      case IntegerType | DateType => in.readInt()
      case LongType | TimestampType | TimestampNTZType => in.readLong()
      case FloatType => in.readFloat()
      case DoubleType => in.readDouble()
      case StringType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        UTF8String.fromBytes(b)
      case t => throw new IllegalStateException(s"unreachable id type $t")
    }

  private def writePay(out: java.io.DataOutputStream, pay: Any): Unit =
    pay match {
      case null => out.writeInt(-1)
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        val fa = a.toFloatArray()
        out.writeInt(fa.length)
        var j = 0
        while (j < fa.length) { out.writeFloat(fa(j)); j += 1 }
    }

  private def readPay(in: java.io.DataInputStream): Any = {
    val n = in.readInt()
    if (n < 0) null
    else {
      val fa = new Array[Float](n)
      var j = 0
      while (j < n) { fa(j) = in.readFloat(); j += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(fa)
    }
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(8 + 16 * buf.size)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.k); out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.sims(i)); writeId(out, buf.ids(i))
      if (buf.hasPay) writePay(out, buf.pays(i))
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val hasPay = payExpr.isDefined
    val heap = new TopKHeap(in.readInt(), idOrdering, hasPay = hasPay)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val s = in.readDouble(); val id = readId(in)
      val pay = if (hasPay) readPay(in) else null
      heap.offer(s, id, pay)
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(simExpr = newChildren(0), idExpr = newChildren(1),
      payExpr = if (newChildren.length > 2) Some(newChildren(2)) else None)
}

/** Every within-bucket pair of a `top_k_by_carry` heap scored in one
  * pass: each vector's norm is computed once per bucket (not once per
  * pair occurrence), and no pair row exists before it passes the
  * threshold. The values are EXACTLY those of the plan it replaces —
  * explode the heap twice, keep `a.corpus_id < b.corpus_id`, project
  * `Similarity.cosine(a, b, l2norm(a), l2norm(b))`, filter
  * `cos >= threshold` (`BucketPairsSpec` keeps that plan as the oracle):
  *   - dots are [[DotProductFloat]]'s double accumulation of float
  *     products in element order over min(|a|, |b|) components;
  *   - `cos = dot(a, b) / (sqrt(dot(a, a)) · sqrt(dot(b, b)))`;
  *   - a zero norm product or a null vector gives a null cosine, which
  *     the threshold drops; a NaN cosine passes, as Spark's `>=` orders
  *     NaN above every number;
  *   - ids compare with Spark's ordering for their type, so equal ids
  *     never pair. */
case class BucketCosinePairs(child: Expression, threshold: Double)
    extends UnaryExpression {

  private def entry: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val idField = entry("corpus_id")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.fieldNames.contains("corpus_id") &&
        st.find(_.name == "payload").exists(_.dataType.isInstanceOf[ArrayType]) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucket_cosine_pairs needs a top_k_by_carry heap, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", idField.dataType, idField.nullable),
    StructField("id_b", idField.dataType, idField.nullable),
    StructField("cos", DoubleType))), containsNull = false)
  override def prettyName: String = "bucket_cosine_pairs"

  @transient private lazy val idOrd: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idField.dataType).asInstanceOf[Ordering[Any]]

  private def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override def nullSafeEval(input: Any): Any = pairs(input.asInstanceOf[ArrayData])

  /** Generated code calls the same Scala loop: a fallback expression
    * would take its Generate out of whole-stage codegen. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pairs", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.pairs($t);")
  }

  def pairs(tops: ArrayData): ArrayData = {
    val (idIdx, payIdx) = (entry.fieldIndex("corpus_id"), entry.fieldIndex("payload"))
    val n = tops.numElements()
    val ids = new Array[Any](n)
    val vs = new Array[ArrayData](n)
    val norms = new Array[Double](n)
    for (i <- 0 until n) {
      val e = tops.getStruct(i, entry.size)
      ids(i) = e.get(idIdx, idField.dataType)
      if (!e.isNullAt(payIdx)) {
        vs(i) = e.getArray(payIdx)
        norms(i) = math.sqrt(dot(vs(i), vs(i)))
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (i <- 0 until n; j <- i + 1 until n if vs(i) != null && vs(j) != null) {
      val c = idOrd.compare(ids(i), ids(j))
      val a = if (c < 0) i else j
      val b = i + j - a
      val denom = norms(a) * norms(b)
      if (c != 0 && denom != 0.0) {
        val cos = dot(vs(a), vs(b)) / denom
        if (SQLOrderingUtil.compareDoubles(cos, threshold) >= 0)
          out += InternalRow(ids(a), ids(b), cos)
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
