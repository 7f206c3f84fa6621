package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.CodebookExpressions.codebook_dots

/** Model-based document quality scoring: a regularized linear probe over
  * hashed TF-IDF vectors — the linear-classifier-over-hashed-features
  * family the LLM data pipelines use to filter text (Brown et al. 2020
  * appendix A trains an LR over hashed n-gram features; the fastText
  * filters of Dolma/RedPajama are the same linear shape). Here the
  * probe is fit in CLOSED FORM (ridge normal equations) instead of by
  * iterated gradient steps: one dim²-bounded aggregate builds the Gram
  * matrix, the driver solves a (dim+1)×(dim+1) system, and the model
  * ships back into the plan as a codegen'd expression.
  *
  * Scale shape: training is a single pass — per-doc nonzero-feature
  * pair products partial-aggregated map-side into ≤ (dim+1)² cells
  * (the shuffle carries dim² partial sums, never per-doc vectors);
  * scoring is map-only with the weight vector attached to a
  * `codebook_dots` reference object (no join, no shuffle, plan size
  * O(1) in dim, whole-stage codegen). At 100 TB both sides hold: the
  * Gram aggregate is bounded by dim², not corpus size, and scoring is
  * one fused dot product per document.
  *
  * Deterministic BY CONSTRUCTION (the engine's integer-grid rule):
  * every Gram/moment cell is a BIGINT sum of per-doc contributions
  * floored to a 1e-9 grid — exact and order-independent — and the
  * driver-side elimination is a fixed-order double computation, so the
  * learned weights are bit-identical under any partition layout and
  * scores are pinnable cross-run.
  */
object QualityModel {

  /** dim hashed-feature weights + intercept. Weights are float (the
    * element type `codebook_dots` binds); the solve runs in double and
    * rounds once. */
  case class Model(weights: Array[Float], bias: Double)

  /** x/‖x‖ as array<float> (zero vectors pass through) — a linear probe
    * over raw hashed tf-idf magnitudes would mostly learn document
    * length; unit-scale features make the probe read term *composition*.
    * Per-row map-only math, deterministic (sequential float→double dot,
    * like `l2norm`). */
  def unitize(vecCol: Column): Column = {
    val nrm = Similarity.l2norm(vecCol)
    transform(vecCol, x =>
      when(nrm === 0.0, x)
        .otherwise((x.cast("double") / nrm).cast("float")))
  }

  /** w·x + b for `vecCol: array<float>` of length `model.weights.length`
    * — a single fused codegen'd loop per row, weights attached as a
    * reference object (not a plan literal). For a probe trained on 0/1
    * labels this is the predicted gate value, ~[0, 1]. */
  def margin(vecCol: Column, model: Model): Column =
    element_at(codebook_dots(vecCol, Array(model.weights)), 1) +
      lit(model.bias)

  /** Predicted label probability, clamped to [0, 1]; map-only. */
  def score(vecCol: Column, model: Model): Column =
    least(greatest(margin(vecCol, model), lit(0.0)), lit(1.0))

  /** Fit the ridge probe on `vecs(vecCol: array<float>[dim],
    * labelCol: 0/1)`: minimize ‖Xw − y‖² + λ‖w‖² (intercept
    * unpenalized).
    *
    * One Spark pass computes the augmented moments: nonzero features
    * (posexplode, rows ∝ corpus nnz) plus an intercept pseudo-feature,
    * per-doc pair products floored to the 1e-9 grid, BIGINT-summed into
    * the ≤ (dim+1)² Gram cells and the dim+1 X^T y moments. The driver
    * solves by Gaussian elimination with partial pivoting (fixed
    * operation order — deterministic). */
  def train(vecs: DataFrame, idCol: String, vecCol: String,
            labelCol: String, dim: Int, lambda: Double = 1e-3): Model = {
    val base = vecs.select(col(idCol).as("__doc"), col(vecCol).as("__x"),
      col(labelCol).cast("double").as("__y"))
    val feats = base
      .select(col("__doc"), col("__y"),
        posexplode(col("__x")).as(Seq("__j", "__xj")))
      .filter(col("__xj") =!= 0.0f)
      .select(col("__doc"), col("__y"), col("__j"),
        col("__xj").cast("double").as("__v"))
      .unionAll(base.select(col("__doc"), col("__y"),
        lit(dim).as("__j"), lit(1.0).as("__v")))
    // Gram upper triangle: per-doc nnz² pair rows (nnz ≤ dim+1),
    // map-side combined into ≤ (dim+1)(dim+2)/2 cells
    val gram = feats.as("a").join(feats.as("b"), Seq("__doc"))
      .filter(col("a.__j") <= col("b.__j"))
      .select(col("a.__j").as("j1"), col("b.__j").as("j2"),
        floor(col("a.__v") * col("b.__v") * lit(1e9))
          .cast("bigint").as("v9"))
      .groupBy("j1", "j2").agg(sum("v9").as("v9"))
    val moments = feats
      .select(col("__j").as("j1"), lit(-1).as("j2"),
        floor(col("__v") * col("__y") * lit(1e9)).cast("bigint").as("v9"))
      .groupBy("j1", "j2").agg(sum("v9").as("v9"))
    val cells = gram.unionAll(moments).collect()

    val n = dim + 1
    val a = Array.ofDim[Double](n, n)
    val b = new Array[Double](n)
    cells.foreach { r =>
      val (j1, j2, v) = (r.getInt(0), r.getInt(1), r.getLong(2) / 1e9)
      if (j2 == -1) b(j1) = v
      else { a(j1)(j2) = v; a(j2)(j1) = v }
    }
    var i = 0
    while (i < dim) { a(i)(i) += lambda; i += 1 }
    val sol = solve(a, b)
    Model(sol.take(dim).map(_.toFloat), sol(dim))
  }

  /** In-place Gaussian elimination with partial pivoting; fixed
    * operation order → deterministic for identical inputs. */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (k <- 0 until n) {
      var p = k
      for (i <- k + 1 until n) if (math.abs(a(i)(k)) > math.abs(a(p)(k))) p = i
      val tr = a(k); a(k) = a(p); a(p) = tr
      val tb = b(k); b(k) = b(p); b(p) = tb
      require(a(k)(k) != 0.0, s"singular normal matrix at pivot $k")
      for (i <- k + 1 until n) {
        val f = a(i)(k) / a(k)(k)
        var j = k
        while (j < n) { a(i)(j) -= f * a(k)(j); j += 1 }
        b(i) -= f * b(k)
      }
    }
    val x = new Array[Double](n)
    for (k <- n - 1 to 0 by -1) {
      var s = b(k)
      var j = k + 1
      while (j < n) { s -= a(k)(j) * x(j); j += 1 }
      x(k) = s / a(k)(k)
    }
    x
  }

  /** Train-once memoization keyed by corpus dir: the model is the
    * ingest-time artifact, scoring reuses it. */
  def trainCached(vecs: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, dim: Int, lambda: Double,
                  cacheKey: String): Model =
    Memo.shared.once(Some(cacheKey), s"quality-model/$dim/$lambda") {
      train(vecs, idCol, vecCol, labelCol, dim, lambda)
    }

  /** Mean squared error of the probe on `vecs` — the fit metric the
    * spec asserts improves over the zero model. Exact-grid aggregation
    * for the same layout-independence as training. */
  def mse(vecs: DataFrame, vecCol: String, labelCol: String,
          model: Model): Double = {
    val e = margin(col(vecCol), model) - col(labelCol).cast("double")
    val Array(row) = vecs.select(
      sum(floor(e * e * lit(1e9)).cast("bigint")).as("l9"),
      count(lit(1)).as("n")).collect()
    row.getLong(0).toDouble / 1e9 / row.getLong(1).toDouble
  }
}
