package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.expressions.TopKAggregate.{bucket_cosine_pairs,
  top_k_by_carry}
import graft.operators.Similarity

/** `bucket_cosine_pairs` — the IVF pair index's one-kernel scoring of a
  * capped bucket — against the plan it replaced, kept here as the
  * oracle: explode the heap twice, keep `a.corpus_id < b.corpus_id`,
  * project `Similarity.cosine` over `l2norm`s, filter `>= threshold`.
  * The (id_a, id_b, cos) multisets must be EXACTLY equal, doubles
  * compared bit for bit. */
class BucketPairsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("__cl", IntegerType),
    StructField("id", LongType),
    StructField("v", ArrayType(FloatType))))

  private def heaps(listed: DataFrame, cap: Int): DataFrame =
    listed.groupBy("__cl")
      .agg(top_k_by_carry(lit(0.0), col("id"), col("v"), cap + 1).as("tops"))
      .filter(size(col("tops")) <= cap)

  /** The pre-kernel plan, verbatim. */
  private def explodeForm(listed: DataFrame, threshold: Double,
      cap: Int): DataFrame = {
    val pairVec = (s: org.apache.spark.sql.Column) => s.getField("payload")
    heaps(listed, cap)
      .select(col("tops"))
      .select(explode(col("tops")).as("a"), col("tops"))
      .select(col("a"), explode(col("tops")).as("b"))
      .filter(col("a").getField("corpus_id") < col("b").getField("corpus_id"))
      .select(col("a").getField("corpus_id").as("id_a"),
        col("b").getField("corpus_id").as("id_b"),
        Similarity.cosine(pairVec(col("a")), pairVec(col("b")),
          Similarity.l2norm(pairVec(col("a"))),
          Similarity.l2norm(pairVec(col("b")))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def kernelForm(listed: DataFrame, threshold: Double,
      cap: Int): DataFrame =
    heaps(listed, cap).select(inline(bucket_cosine_pairs(col("tops"), threshold)))

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted

  /** A vector: usually random in one of two dimensions (64, or a short
    * 5), sometimes all zeros or null; near-copies of an earlier vector
    * plant real high-cosine pairs. */
  private val genVec: Gen[Option[Array[Float]]] = Gen.frequency(
    8 -> (for {
      d <- Gen.oneOf(64, 5)
      xs <- Gen.listOfN(d, Gen.choose(-1.0f, 1.0f))
    } yield Some(xs.toArray)),
    1 -> Gen.oneOf(64, 5).map(d => Some(Array.fill(d)(0.0f))),
    1 -> Gen.const(None))

  private val genCase = for {
    lists <- Gen.choose(1, 4)
    n <- Gen.choose(2, 24)
    vs <- Gen.listOfN(n, genVec)
    cls <- Gen.listOfN(n, Gen.choose(0, lists - 1))
    dup <- Gen.listOfN(n, Gen.choose(0, 3))
    cap <- Gen.choose(3, 12)
    exact <- Gen.oneOf(true, false)
    fixed <- Gen.oneOf(0.0, 0.45, 0.9, -1.0)
  } yield {
    // every 4th vector re-uses an earlier one with a tiny nudge
    val vecs = vs.toArray
    vecs.indices.foreach { i =>
      if (i > 0 && dup(i) == 0) vecs(i) = vecs(i - 1).map(_.map(_ + 1e-3f))
    }
    val listed = vecs.indices.map(i =>
      Row(cls(i), (i * 7 % 31).toLong + i * 100L, vecs(i).map(_.toSeq).orNull))
    (listed, cap, exact, fixed)
  }

  test("property: the kernel's (id_a, id_b, cos) rows equal the explode form's") {
    import scala.jdk.CollectionConverters._
    var exactHits = 0
    var overCap = 0
    val prop = Prop.forAll(genCase) { case (listed, cap, exact, fixed) =>
      val df = spark.createDataFrame(listed.asJava, schema)
      val perList = listed.groupBy(_.getInt(0)).values.map(_.size)
      if (perList.exists(_ > cap)) overCap += 1
      // "exact": the threshold IS one of the bucket's cosines, so the
      // >= boundary is exercised on an equal value
      val all = rows(explodeForm(df, Double.NegativeInfinity, cap))
      val threshold =
        if (exact && all.nonEmpty) {
          exactHits += 1
          java.lang.Double.longBitsToDouble(all(all.size / 2)._3)
        } else fixed
      val want = rows(explodeForm(df, threshold, cap))
      val got = rows(kernelForm(df, threshold, cap))
      if (got != want) println(s"[bucket-pairs] threshold=$threshold cap=$cap " +
        s"want=${want.take(5)} got=${got.take(5)}")
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
    assert(exactHits > 0 && overCap > 0,
      s"generator missed a case: exact=$exactHits overCap=$overCap")
  }

  test("a zero-norm or null vector never pairs; equal ids never pair") {
    import scala.jdk.CollectionConverters._
    val v = Seq(0.6f, 0.8f)
    val df = spark.createDataFrame(Seq(
      Row(0, 1L, v), Row(0, 2L, v), Row(0, 3L, Seq(0f, 0f)),
      Row(0, 4L, null), Row(0, 2L, v)).asJava, schema)
    val got = rows(kernelForm(df, -1.0, 10))
    assert(got == rows(explodeForm(df, -1.0, 10)))
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 2L), (1L, 2L)))
  }
}
