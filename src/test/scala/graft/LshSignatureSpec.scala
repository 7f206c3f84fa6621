package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.expressions.HashExpressions.dot_product_f
import graft.operators.Similarity

/** `Similarity.lshSignature` is one expression node that binds its planes
  * as one attached array. Its oracle is the literal form it replaced —
  * one `when(dot_product_f(v, array(dim literals)) >= 0, 1 << p)` branch
  * per bit, OR-ed — kept here in test code only: the two must agree bit
  * for bit, on the interpreted path (a projection over a local frame
  * folds on the driver) and on the generated one, over seeded random and
  * adversarial vectors. */
class LshSignatureSpec extends SparkSpec {

  private def literalSignature(v: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { p =>
      val plane = array((0 until dim).map(j =>
        lit(Similarity.planeComponent(p, j))): _*)
      when(dot_product_f(v.cast("array<float>"), plane.cast("array<float>"))
        >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Seeded random vectors plus the adversarial ones: null vectors, NaN
    * and infinite components, ±0.0, and arrays shorter and longer than
    * `dim` (including empty). */
  private def vectors(dim: Int, seed: Int): Seq[Seq[java.lang.Float]] = {
    val rnd = new scala.util.Random(seed)
    def f(x: Float): java.lang.Float = java.lang.Float.valueOf(x)
    val random = (0 until 300).map { _ =>
      val n = rnd.nextInt(4) match {
        case 0 => dim
        case 1 => rnd.nextInt(dim)
        case 2 => dim + 1 + rnd.nextInt(dim)
        case _ => dim
      }
      Seq.fill(n)(f(rnd.nextGaussian().toFloat))
    }
    val adversarial = Seq(
      null,
      Seq.empty,
      Seq.fill(dim)(f(0.0f)),
      Seq.fill(dim)(f(-0.0f)),
      Seq.tabulate(dim)(j => f(if (j % 2 == 0) 0.0f else -0.0f)),
      Seq.fill(dim)(f(Float.NaN)),
      f(Float.NaN) +: Seq.fill(dim - 1)(f(1.0f)),
      Seq.fill(dim - 1)(f(1.0f)) :+ f(Float.NaN),
      Seq.fill(dim)(f(Float.PositiveInfinity)),
      Seq.fill(dim)(f(Float.NegativeInfinity)),
      f(Float.PositiveInfinity) +: Seq.fill(dim - 1)(f(0.0f)),
      Seq.fill(dim)(f(Float.MinPositiveValue)),
      Seq.fill(dim)(f(-Float.MaxValue)),
      Seq(f(1.0f)),
      Seq.fill(dim * 3)(f(0.5f)),
      // NaN past `dim`: ignored, as the literal form's min-length loop does
      Seq.fill(dim)(f(1.0f)) :+ f(Float.NaN))
    random ++ adversarial
  }

  private def frame(dim: Int, seed: Int, elem: DataType): DataFrame = {
    val rows = vectors(dim, seed).zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null
        else if (elem == DoubleType) v.map(x => x.toDouble) else v)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(elem, containsNull = false)))))
  }

  private def compare(df: DataFrame, dim: Int, bits: Int): Int = {
    val got = df.select(col("id"),
      Similarity.lshSignature(col("v"), dim, bits).as("one"),
      literalSignature(col("v"), dim, bits).as("lit")).collect()
    val bad = got.filter(r => r.getLong(1) != r.getLong(2))
    assert(bad.isEmpty, s"dim $dim bits $bits: " + bad.take(5).map(r =>
      s"id ${r.getLong(0)}: ${r.getLong(1).toBinaryString} vs literal " +
        r.getLong(2).toBinaryString).mkString("; "))
    got.length
  }

  for (dim <- Seq(8, 64); bits <- Seq(24, 48); elem <- Seq(FloatType, DoubleType))
    test(s"one-node signature equals the literal form: dim $dim, bits $bits, $elem") {
      val local = frame(dim, dim * 1000 + bits, elem)
      val n = compare(local, dim, bits) // interpreted (folded on the driver)
      assert(compare(local.repartition(3), dim, bits) == n) // generated code
    }

  test("the signature is one expression node, with no literal planes") {
    val e = org.apache.spark.sql.graftbridge.Bridge.expression(
      Similarity.lshSignature(col("v"), 64, 48))
    assert(e.collect { case l: org.apache.spark.sql.catalyst.expressions.Literal
      => l }.isEmpty)
    assert(e.collect { case c: org.apache.spark.sql.catalyst.expressions.CaseWhen
      => c }.isEmpty)
  }

  test("a null vector signs as 0 and a NaN dot sets its bit, as in the literal form") {
    val df = frame(8, 1, FloatType).filter(col("v").isNull)
    assert(df.select(Similarity.lshSignature(col("v"), 8, 24))
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    val nan = spark.createDataFrame(Seq(Row(Seq.fill(8)(Float.NaN))).asJava,
      StructType(Seq(StructField("v", ArrayType(FloatType)))))
    val Array(r) = nan.select(Similarity.lshSignature(col("v"), 8, 24),
      literalSignature(col("v"), 8, 24)).collect()
    // Spark orders NaN above every number, so `NaN >= 0` holds: every bit
    assert(r.getLong(1) == (1L << 24) - 1)
    assert(r.getLong(0) == r.getLong(1))
  }
}
