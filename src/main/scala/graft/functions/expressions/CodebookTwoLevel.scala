package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Two-level (inverted-multi-index-style) coarse routing for LARGE list
  * counts.
  *
  * The flat quantizer scores every centroid per row: O(nlist × dim) per
  * vector. Under the occupancy rule the pair-generation paths size
  * nlist ∝ N, so flat TRAINING (sample × nlist × dim per Lloyd
  * iteration) and flat ASSIGNMENT (N × nlist × dim) are both quadratic
  * in corpus size — measured as the binding cost at the 1000× bench
  * rung (2M vectors → 62.5k lists → ~10¹³ FLOP of flat scoring).
  *
  * Here the list space is factored into k1 cells × k2 sub-lists
  * (k1 ≈ k2 ≈ √nlist): a row scores the k1 level-1 cells, descends into
  * its `probe1` best, and scores only those cells' k2 sub-lists —
  * O((k1 + probe1·k2) × dim) = O(√nlist) per vector. With probe1 = k1
  * the expression degrades to an exhaustive scan of all k1×k2 lists and
  * matches the flat form over the same centroid set (up to exact
  * cross-cell score ties, unreachable on float data — pinned by
  * `CodebookTwoLevelSpec`); smaller probe1 trades that exactness for
  * the √nlist economy, the standard IMI recall trade.
  *
  * Scoring is bit-deterministic the same way [[CodebookTopN]] is:
  * double accumulation in element order over attached `float[][]`
  * references, strict `<` so ties keep the smaller index. Output list
  * ids are GLOBAL (cell·k2 + sub), int for n = 1, array<int> (ascending
  * score) otherwise — drop-in for the flat probe's output.
  */
object CodebookTwoLevel {
  def codebook_topn_2l(vec: Column, l1: Array[Array[Float]],
      l2flat: Array[Array[Float]], k2: Int, metric: String, n: Int,
      probe1: Int): Column =
    Bridge.column(CodebookTopNTwoLevel(Bridge.expression(vec), l1, l2flat,
      k2, metric, n, probe1))
}

/** Top-`n` GLOBAL list indices via two-level routing: `l1` holds the k1
  * cell centroids, `l2flat` the k1·k2 sub-list centroids laid out so
  * global list j belongs to cell j / k2. */
case class CodebookTopNTwoLevel(child: Expression,
    l1: Array[Array[Float]], l2flat: Array[Array[Float]], k2: Int,
    metric: String, n: Int, probe1: Int) extends UnaryExpression
    with ValueArrays {
  require(metric == "dot" || metric == "l2", s"bad metric $metric")
  require(n >= 1 && probe1 >= 1, "n and probe1 must be >= 1")
  require(l2flat.length == l1.length * k2,
    s"l2flat must hold k1*k2 = ${l1.length * k2} lists, got ${l2flat.length}")

  override def dataType: DataType =
    if (n == 1) IntegerType else ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = s"codebook_top${n}_2l_$metric"

  private lazy val c2l1: Array[Double] =
    l1.map(_.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble))
  private lazy val c2l2: Array[Double] =
    l2flat.map(_.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble))

  @transient private lazy val negateDot = metric == "dot"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    // level 1: top-probe1 cells
    val p1 = math.min(probe1, l1.length)
    val cellS = Array.fill(p1)(Double.PositiveInfinity)
    val cellI = Array.fill(p1)(-1)
    var j = 0
    while (j < l1.length) {
      val c = l1(j)
      val d = math.min(x.numElements(), c.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
      val s = if (negateDot) -dot else c2l1(j) - 2.0 * dot
      if (s < cellS(p1 - 1)) {
        var p = p1 - 1
        while (p > 0 && s < cellS(p - 1)) {
          cellS(p) = cellS(p - 1); cellI(p) = cellI(p - 1); p -= 1
        }
        cellS(p) = s; cellI(p) = j
      }
      j += 1
    }
    // level 2: top-n global lists among the probed cells' sub-lists
    val slots = math.min(n, p1 * k2)
    val bestS = Array.fill(slots)(Double.PositiveInfinity)
    val bestI = Array.fill(slots)(-1)
    var q = 0
    while (q < p1 && cellI(q) >= 0) {
      val base = cellI(q) * k2
      var t = 0
      while (t < k2) {
        val g = base + t
        val c = l2flat(g)
        val d = math.min(x.numElements(), c.length)
        var dot = 0.0
        var i = 0
        while (i < d) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
        val s = if (negateDot) -dot else c2l2(g) - 2.0 * dot
        // strict < keeps the earlier-scanned on ties — here: smaller
        // cell RANK first, then smaller sub idx. Within a cell (where
        // exact duplicates land together) this is the flat scan's
        // smaller-global-idx contract; ACROSS cells an exact level-2
        // score tie resolves by cell rank instead of global idx — only
        // reachable when distinct lists in differently-ranked cells
        // score bit-identically, which random float data never does
        // (the equivalence spec exercises probe1 = k1 on random data)
        if (s < bestS(slots - 1)) {
          var p = slots - 1
          while (p > 0 && s < bestS(p - 1)) {
            bestS(p) = bestS(p - 1); bestI(p) = bestI(p - 1); p -= 1
          }
          bestS(p) = s; bestI(p) = g
        }
        t += 1
      }
      q += 1
    }
    if (n == 1) java.lang.Integer.valueOf(bestI(0))
    else new GenericArrayData(bestI.filter(_ >= 0))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val l1Ref = ctx.addReferenceObj("l1", l1, "float[][]")
      val l2Ref = ctx.addReferenceObj("l2flat", l2flat, "float[][]")
      val c2l1Ref = ctx.addReferenceObj("c2l1", c2l1, "double[]")
      val c2l2Ref = ctx.addReferenceObj("c2l2", c2l2, "double[]")
      val p1 = ctx.freshName("p1")
      val cellS = ctx.freshName("cellS")
      val cellI = ctx.freshName("cellI")
      val slots = ctx.freshName("slots")
      val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val t = ctx.freshName("t")
      val g = ctx.freshName("g")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val s = ctx.freshName("s")
      val score1 =
        if (negateDot) s"-$dot" else s"$c2l1Ref[$j] - 2.0 * $dot"
      val score2 =
        if (negateDot) s"-$dot" else s"$c2l2Ref[$g] - 2.0 * $dot"
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
         |int $p1 = Math.min($probe1, $l1Ref.length);
         |double[] $cellS = new double[$p1];
         |int[] $cellI = new int[$p1];
         |java.util.Arrays.fill($cellS, Double.POSITIVE_INFINITY);
         |java.util.Arrays.fill($cellI, -1);
         |for (int $j = 0; $j < $l1Ref.length; $j++) {
         |  float[] $c = $l1Ref[$j];
         |  int $d = Math.min($x.numElements(), $c.length);
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += (double) $x.getFloat($i) * (double) $c[$i];
         |  }
         |  double $s = $score1;
         |  if ($s < $cellS[$p1 - 1]) {
         |    int $p = $p1 - 1;
         |    while ($p > 0 && $s < $cellS[$p - 1]) {
         |      $cellS[$p] = $cellS[$p - 1]; $cellI[$p] = $cellI[$p - 1]; $p--;
         |    }
         |    $cellS[$p] = $s; $cellI[$p] = $j;
         |  }
         |}
         |int $slots = Math.min($n, $p1 * $k2);
         |double[] $bestS = new double[$slots];
         |int[] $bestI = new int[$slots];
         |java.util.Arrays.fill($bestS, Double.POSITIVE_INFINITY);
         |java.util.Arrays.fill($bestI, -1);
         |for (int $q = 0; $q < $p1 && $cellI[$q] >= 0; $q++) {
         |  for (int $t = 0; $t < $k2; $t++) {
         |    int $g = $cellI[$q] * $k2 + $t;
         |    float[] $c = $l2Ref[$g];
         |    int $d = Math.min($x.numElements(), $c.length);
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $d; $i++) {
         |      $dot += (double) $x.getFloat($i) * (double) $c[$i];
         |    }
         |    double $s = $score2;
         |    if ($s < $bestS[$slots - 1]) {
         |      int $p = $slots - 1;
         |      while ($p > 0 && $s < $bestS[$p - 1]) {
         |        $bestS[$p] = $bestS[$p - 1]; $bestI[$p] = $bestI[$p - 1]; $p--;
         |      }
         |      $bestS[$p] = $s; $bestI[$p] = $g;
         |    }
         |  }
         |}
         |$emit
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
