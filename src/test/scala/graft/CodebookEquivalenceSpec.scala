package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.CreateArray
import graft.functions.expressions.HashExpressions._
import graft.functions.expressions.CodebookExpressions._
import graft.operators.{ProductQuantizer, Similarity}

/** The bound codebook forms: every centroid scan of the ANN stack is a
  * [[CodebookTopN]] / [[CodebookDots]] with the codebook attached as one
  * reference object. The per-centroid literal forms the stack used at
  * small list counts live on HERE, as the oracle. These tests pin (a)
  * bit-identity between the two forms — so dropping the literal form
  * moved no pinned oracle — and (b) that IVF / IVF-ADC actually build
  * and run at nlist = 4096, where the literal form's ~10⁵–10⁶
  * expression nodes would kill analysis/Janino at plan time.
  */
class CodebookEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def mkVec(rnd: scala.util.Random): Array[Float] =
    Array.fill(dim)(rnd.nextFloat() * 2f - 1f)

  /** 1500 centroids incl. a deliberate duplicate
    * pair, so the smaller-index tie-break is actually exercised. */
  private lazy val cents: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    val cs = Array.fill(1500)(mkVec(rnd))
    cs(700) = cs(13).clone()
    cs
  }

  private lazy val vecs: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 400).map(i => (i.toLong, mkVec(rnd).toSeq))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
  }

  // the literal forms, exactly as the small-nlist paths built them
  // (Similarity.assignExpr / ProductQuantizer.argminL2) before every
  // scan took the bound codebook
  private def litDot(vec: Column, cs: Array[Array[Float]]): Seq[Column] =
    cs.zipWithIndex.map { case (c, i) =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      val unit = if (n == 0) c else c.map(x => (x / n).toFloat)
      val centLit = array(unit.map(lit(_)): _*).cast("array<float>")
      struct((-dot_product_f(vec, centLit)).as("d"), lit(i).as("c"))
    }.toSeq

  private def litL2(vec: Column, cs: Array[Array[Float]]): Seq[Column] =
    cs.zipWithIndex.map { case (c, j) =>
      val c2 = c.map(v => v.toDouble * v).sum
      val centLit = array(c.map(lit(_)): _*).cast("array<float>")
      struct((lit(c2) - lit(2.0) * dot_product_f(vec, centLit)).as("d"),
        lit(j).as("c"))
    }.toSeq

  private def normalized(cs: Array[Array[Float]]): Array[Array[Float]] =
    cs.map { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      if (n == 0) c else c.map(x => (x / n).toFloat)
    }

  // literal expressions over 1500 centroids are slow to ANALYZE (that is
  // why the stack binds codebooks) — keep the literal sides to a 128-centroid
  // slice and compare against the codebook form on the SAME slice
  private lazy val centsSmall = cents.take(128)

  test("codebook_topn(dot, 1) bit-matches the literal argmin form") {
    val literal = vecs.select(col("id"),
      array_min(array(litDot(col("v"), normalized(centsSmall)): _*))
        .getField("c").as("cl"))
    val bound = vecs.select(col("id"),
      codebook_topn(col("v"), normalized(centsSmall), "dot", 1).as("cl"))
    val diff = literal.as("a").join(bound.as("b"), "id")
      .filter(col("a.cl") =!= col("b.cl"))
    assert(diff.count() == 0)
  }

  test("codebook_topn(dot, n) bit-matches the literal sort/slice probe form") {
    val literal = vecs.select(col("id"),
      transform(slice(array_sort(
        array(litDot(col("v"), normalized(centsSmall)): _*)), 1, 4),
        s => s.getField("c")).as("probes"))
    val bound = vecs.select(col("id"),
      codebook_topn(col("v"), normalized(centsSmall), "dot", 4).as("probes"))
    val diff = literal.as("a").join(bound.as("b"), "id")
      .filter(to_json(col("a.probes")) =!= to_json(col("b.probes")))
    assert(diff.count() == 0)
  }

  test("codebook_topn(l2, 1 and n) bit-matches the literal L2 forms") {
    val literal = vecs.select(col("id"),
      array_min(array(litL2(col("v"), centsSmall): _*))
        .getField("c").as("cl"),
      transform(slice(array_sort(
        array(litL2(col("v"), centsSmall): _*)), 1, 3),
        s => s.getField("c")).as("probes"))
    val bound = vecs.select(col("id"),
      codebook_topn(col("v"), centsSmall, "l2", 1).as("cl"),
      codebook_topn(col("v"), centsSmall, "l2", 3).as("probes"))
    val diff = literal.as("a").join(bound.as("b"), "id")
      .filter(col("a.cl") =!= col("b.cl") ||
        to_json(col("a.probes")) =!= to_json(col("b.probes")))
    assert(diff.count() == 0)
  }

  test("codebook_topn duplicate-centroid tie resolves to the smaller index") {
    // cents(700) == cents(13): a probe that reaches both must list 13
    // before 700, and argmin must never return 700
    val out = vecs.limit(50).select(
      codebook_topn(col("v"), normalized(cents), "dot", 1500).as("all"))
      .select(array_position(col("all"), 13).as("p13"),
        array_position(col("all"), 700).as("p700"))
      .collect()
    assert(out.forall(r => r.getLong(0) + 1 == r.getLong(1)),
      "duplicate centroids must rank adjacently, smaller index first")
  }

  test("codebook_dots bit-matches per-centroid dot_product_f literals") {
    val literal = vecs.select(col("id"),
      array(centsSmall.map { c =>
        dot_product_f(col("v"), array(c.map(lit(_)): _*).cast("array<float>"))
      }: _*).as("dots"))
    val bound = vecs.select(col("id"),
      codebook_dots(col("v"), centsSmall).as("dots"))
    val diff = literal.as("a").join(bound.as("b"), "id")
      .filter(to_json(col("a.dots")) =!= to_json(col("b.dots")))
    assert(diff.count() == 0)
  }

  test("codebook_topn eval == codegen (interpreted parity)") {
    // HOF callers (transform etc.) run expressions interpreted; both
    // engines must agree. Compare a collected codegen projection against
    // direct nullSafeEval calls.
    val rows = vecs.select(col("id"), col("v"),
      codebook_topn(col("v"), centsSmall, "l2", 3).as("probes")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val expr = graft.functions.expressions.CodebookTopN(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        centsSmall, "l2", 3)
      val ev = expr.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
      assert(ev == r.getSeq[Int](2), s"id=${r.getLong(0)}")
    }
  }

  // ---- the scale gate: nlist = 4096 must build and run ----------------

  private lazy val bigCorpus: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0 until 6000).map(i => (i.toLong, mkVec(rnd).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
  }

  /** No projection anywhere in the plan may carry a centroid-table-sized
    * literal array: that is the plan-build ceiling the codebook form
    * removes. (Small CreateArrays — band keys, probe structs — are fine;
    * 1024 was the largest centroid count the literal form ever took.) */
  private def assertNoGiantLiteralArray(df: DataFrame): Unit = {
    val sizes = df.queryExecution.optimizedPlan.collect { case p => p }
      .flatMap(_.expressions)
      .flatMap(_.collect { case ca: CreateArray => ca.children.size })
    assert(sizes.forall(_ <= 1024),
      s"giant literal array in plan: max=${sizes.maxOption.getOrElse(0)}")
  }

  test("ivfTopK builds and runs at nlist=4096 with no giant literal arrays") {
    val q = bigCorpus.filter(col("vec_id") < 5)
    val out = Similarity.ivfTopK(bigCorpus, q, "vec_id", "embedding",
      k = 5, dim = dim, nlist = 4096, nprobe = 4, iters = 1)
    assertNoGiantLiteralArray(out)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("codebook_top"), plan.take(2000))
    // ~1.5 vectors/list at this nlist: a query's nprobe lists can hold
    // fewer than k candidates — correct IVF behavior, so bound, not pin
    val n = out.count()
    assert(n > 0 && n <= 25, s"n=$n")
  }

  test("ivfAdcTopK builds and runs at nlist=4096 with no giant literal arrays") {
    val q = bigCorpus.filter(col("vec_id") < 5)
    val out = ProductQuantizer.ivfAdcTopK(bigCorpus, q, "vec_id", "embedding",
      k = 5, dim = dim, nlist = 4096, nprobe = 4, m = 4, ksub = 16,
      iters = 1)
    assertNoGiantLiteralArray(out)
    val n = out.count()
    assert(n > 0 && n <= 25, s"n=$n")
  }

  test("ivfTopK at nlist just under vs just over the threshold agrees on " +
    "probed-list candidate semantics (smoke: same result shape)") {
    // not a bit-compare (different nlist ⇒ different quantizer); pins
    // that the codebook path produces ranked per-query rows like the
    // literal path does
    val q = bigCorpus.filter(col("vec_id") < 3)
    val small = Similarity.ivfTopK(bigCorpus, q, "vec_id", "embedding",
      k = 3, dim = dim, nlist = 64, nprobe = 4, iters = 1)
    val big = Similarity.ivfTopK(bigCorpus, q, "vec_id", "embedding",
      k = 3, dim = dim, nlist = 2048, nprobe = 8, iters = 1)
    assert(small.columns.toSeq == big.columns.toSeq)
    assert(small.count() == 9 && big.count() == 9)
  }
}
