package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Centroid-codebook expressions: every centroid scan of the ANN stack
  * (IVF assign/probe, PQ encode, IVF-ADC/IVF-SQ coarse dots and LUTs).
  *
  * The codebook is bound as ONE attached `float[][]` reference object
  * (`ctx.addReferenceObj` — shipped with the serialized plan once, like
  * a broadcast small table), so plan size is O(1) in nlist × dim and the
  * per-row scan is a tight generated loop over the array. A literal
  * form (one `dot_product_f(x, array(dim literals))` struct per
  * centroid) has Catalyst analyze O(nlist × dim) nodes on every
  * construction and, for the PQ encode, generates code past Janino's
  * 64 KB method limit. Scores accumulate in double in element order and
  * ties break toward the smaller centroid index — the literal form's
  * `array_min`/`array_sort` over (score, idx) structs, which
  * `CodebookEquivalenceSpec` keeps as the bit-for-bit oracle.
  *
  * Equal codebooks compare and hash equal ([[ValueArrays]]): the
  * analyzed plan's `semanticHash` — [[graft.operators.Memo]]'s input
  * fingerprint — must not change when a caller rebuilds the same array.
  */
object CodebookExpressions {

  /** Indices of the `n` smallest-score centroids (ascending score, ties
    * by index). `metric = "dot"`: score_j = −(x·c_j) — argmax dot, the
    * cosine assignment against pre-normalized centroids. `metric = "l2"`:
    * score_j = ‖c_j‖² − 2·x·c_j — argmin L2 with the row-common ‖x‖²
    * dropped. Returns int for n = 1, array<int> otherwise. */
  def codebook_topn(vec: Column, codebook: Array[Array[Float]],
      metric: String, n: Int): Column =
    Bridge.column(CodebookTopN(Bridge.expression(vec), codebook, metric, n))

  /** x·c_j for every centroid j, as array<double>. */
  def codebook_dots(vec: Column, codebook: Array[Array[Float]]): Column =
    Bridge.column(CodebookDots(Bridge.expression(vec), codebook))

  /** Hyperplane-LSH sign bits of an `array<float>` column under the
    * seeded `bits × dim` plane set of [[LshSignature]], as one long. */
  def lsh_signature(vec: Column, dim: Int, bits: Int): Column =
    Bridge.column(LshSignature(Bridge.expression(vec), dim, bits))
}

/** Sign-bit signature under `bits` seeded hyperplanes of `dim`
  * components: bit p is set when x·plane_p is not below 0. The planes
  * are ONE attached `float[][]` reference object (the [[CodebookTopN]]
  * pattern), so the expression is one node whatever `bits × dim` — the
  * literal form (one `dot_product_f(x, array(dim literals)) >= 0` branch
  * per bit) had Catalyst analyze and optimize `bits × dim` literals on
  * every construction. Semantics are EXACTLY that form's: `float` planes
  * (`planeComponent` narrowed as `cast(array<float>)` does), double
  * accumulation in element order over min(|x|, dim) components as in
  * [[DotProductFloat]], and Spark's `>=` on doubles — −0.0 sets the
  * bit, and so does a NaN dot (Spark orders NaN above every number). A
  * null vector gives 0: every branch of the literal form fell to its
  * `otherwise(0)`. The planes are derived from (dim, bits), so equal
  * expressions compare and hash equal. */
case class LshSignature(child: Expression, dim: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_signature"

  @transient private lazy val planes: Array[Array[Float]] =
    Array.tabulate(bits, dim)((p, j) =>
      LshSignature.planeComponent(p, j).toFloat)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    var sig = 0L
    if (v != null) {
      val x = v.asInstanceOf[ArrayData]
      var p = 0
      while (p < planes.length) {
        val c = planes(p)
        val d = math.min(x.numElements(), c.length)
        var dot = 0.0
        var i = 0
        while (i < d) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
        if (!(dot < 0.0)) sig |= 1L << p
        p += 1
      }
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = child.genCode(ctx)
    val pl = ctx.addReferenceObj("planes", planes, "float[][]")
    val arr = ctx.freshName("x")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val c = ctx.freshName("c")
    val d = ctx.freshName("d")
    val dot = ctx.freshName("dot")
    ev.copy(code = code"""
      |${x.code}
      |long ${ev.value} = 0L;
      |if (!${x.isNull}) {
      |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${x.value};
      |  for (int $p = 0; $p < $pl.length; $p++) {
      |    float[] $c = $pl[$p];
      |    int $d = Math.min($arr.numElements(), $c.length);
      |    double $dot = 0.0;
      |    for (int $i = 0; $i < $d; $i++) {
      |      $dot += (double) $arr.getFloat($i) * (double) $c[$i];
      |    }
      |    if (!($dot < 0.0)) ${ev.value} |= 1L << $p;
      |  }
      |}
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignature {

  /** Component j of hyperplane p: a hash-derived value in [-1, 1).
    * Seeded, so stable across runs and executors — and the same
    * constants the DuckDB oracles inline to replicate a signature. */
  def planeComponent(p: Int, j: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((p, j, 42))
    h.toDouble / Int.MaxValue.toDouble
  }
}

/** Value identity for an expression holding attached `float[][]`
  * codebooks: a case class compares and hashes an array field by
  * reference, so two constructions over the same centroids (each
  * `normalized` call makes a new array) would be different expressions.
  * Arrays compare by content, floats by bit pattern. */
private[expressions] trait ValueArrays extends Product {
  @transient private lazy val valueHash = productIterator.map {
    case a: Array[AnyRef] => java.util.Arrays.deepHashCode(a)
    case x => x.##
  }.toSeq.##
  override def hashCode(): Int = valueHash
  override def equals(o: Any): Boolean = o match {
    case e: ValueArrays if e.getClass == getClass => (this eq e) ||
      productIterator.zip(e.productIterator).forall {
        case (a: Array[AnyRef], b: Array[AnyRef]) => java.util.Arrays.deepEquals(a, b)
        case (x, y) => x == y
      }
    case _ => false
  }
}

/** Top-`n` centroid indices by score over an attached codebook.
  * One fused loop per row: nlist sub-scores, bounded insertion into an
  * n-slot selection (n is 1 or nprobe — tiny), no intermediate arrays.
  */
case class CodebookTopN(child: Expression, codebook: Array[Array[Float]],
    metric: String, n: Int) extends UnaryExpression with ValueArrays {
  require(metric == "dot" || metric == "l2", s"bad metric $metric")
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType =
    if (n == 1) IntegerType else ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = s"codebook_top${n}_$metric"

  // ‖c_j‖² terms, computed once driver-side exactly as the literal path
  // does (double accumulation over the float components in order)
  private lazy val c2: Array[Double] =
    codebook.map(_.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble))

  @transient private lazy val negateDot = metric == "dot"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val k = codebook.length
    val bestS = Array.fill(math.min(n, k))(Double.PositiveInfinity)
    val bestI = Array.fill(math.min(n, k))(-1)
    var j = 0
    while (j < k) {
      val c = codebook(j)
      val d = math.min(x.numElements(), c.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
      val s = if (negateDot) -dot else c2(j) - 2.0 * dot
      // strict <: on ties the EARLIER index stays — the literal form's
      // (score, idx) struct-ordering tie-break
      if (s < bestS(bestS.length - 1)) {
        var p = bestS.length - 1
        while (p > 0 && s < bestS(p - 1)) {
          bestS(p) = bestS(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestS(p) = s; bestI(p) = j
      }
      j += 1
    }
    if (n == 1) java.lang.Integer.valueOf(bestI(0))
    else new GenericArrayData(bestI.filter(_ >= 0))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cb = ctx.addReferenceObj("codebook", codebook, "float[][]")
      val c2Ref = ctx.addReferenceObj("c2", c2, "double[]")
      val slots = ctx.freshName("slots")
      val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val s = ctx.freshName("s")
      val score =
        if (negateDot) s"-$dot" else s"$c2Ref[$j] - 2.0 * $dot"
      val emit =
        if (n == 1) s"${ev.value} = $bestI[0];"
        else {
          val cnt = ctx.freshName("cnt")
          s"""
             |int $cnt = 0;
             |while ($cnt < $slots && $bestI[$cnt] >= 0) $cnt++;
             |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
             |    java.util.Arrays.copyOf($bestI, $cnt));
           """.stripMargin
        }
      s"""
         |int $slots = Math.min($n, $cb.length);
         |double[] $bestS = new double[$slots];
         |int[] $bestI = new int[$slots];
         |java.util.Arrays.fill($bestS, Double.POSITIVE_INFINITY);
         |java.util.Arrays.fill($bestI, -1);
         |for (int $j = 0; $j < $cb.length; $j++) {
         |  float[] $c = $cb[$j];
         |  int $d = Math.min($x.numElements(), $c.length);
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += (double) $x.getFloat($i) * (double) $c[$i];
         |  }
         |  double $s = $score;
         |  if ($s < $bestS[$slots - 1]) {
         |    int $p = $slots - 1;
         |    while ($p > 0 && $s < $bestS[$p - 1]) {
         |      $bestS[$p] = $bestS[$p - 1]; $bestI[$p] = $bestI[$p - 1]; $p--;
         |    }
         |    $bestS[$p] = $s; $bestI[$p] = $j;
         |  }
         |}
         |$emit
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** x·c_j for every centroid of an attached codebook, as array<double>.
  * The per-query coarse-dot table and ADC lookup table of
  * [[graft.operators.ProductQuantizer.ivfAdcTopK]]. */
case class CodebookDots(child: Expression, codebook: Array[Array[Float]])
    extends UnaryExpression with ValueArrays {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "codebook_dots"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val out = new Array[Double](codebook.length)
    var j = 0
    while (j < codebook.length) {
      val c = codebook(j)
      val d = math.min(x.numElements(), c.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
      out(j) = dot
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cb = ctx.addReferenceObj("codebook", codebook, "float[][]")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      s"""
         |double[] $out = new double[$cb.length];
         |for (int $j = 0; $j < $cb.length; $j++) {
         |  float[] $c = $cb[$j];
         |  int $d = Math.min($x.numElements(), $c.length);
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += (double) $x.getFloat($i) * (double) $c[$i];
         |  }
         |  $out[$j] = $dot;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
