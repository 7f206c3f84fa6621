package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.HashExpressions._
import graft.functions.expressions.TopKAggregate.top_k_by

/** SQ8 scalar quantization — the train-free middle point of the ANN
  * memory ladder (raw float32 → SQ8 → PQ). Each dimension of the
  * UNIT-normalized vector is quantized independently to an 8-bit code
  * on a per-dimension [min, max] grid, so a dim-float embedding
  * (4·dim bytes) becomes dim bytes: a 4× smaller code table than raw
  * vectors with near-exact recall, against PQ's 16–32× at real recall
  * loss. The same technique faiss ships as `IndexScalarQuantizer`
  * (QT_8bit); no codebook training — the "index build" is one exact
  * min/max aggregation scan.
  *
  * Scoring is asymmetric (the ADC idea): the query stays float; a
  * candidate's approximate inner product decodes algebraically —
  *
  *   q · decode(code) = q · min + Σ_d (q_d · scale_d) · code_d
  *
  * so per query we precompute one double `offset` (q·min, a fused
  * dot) and a premultiplied array `sq_d = q_d · scale_d`, and a
  * candidate costs dim integer-indexed multiply-adds inside codegen
  * (`zip_with` + `aggregate` — the exact shape the PQ LUT scan uses).
  * Top-`rerank` by approximate score, then exact-cosine rerank of the
  * shortlist only.
  *
  * Determinism contract (what makes the query surface pinnable, the
  * [[Similarity]] / [[ProductQuantizer]] argument): per-dimension
  * min/max are EXACT aggregates (order-independent by definition —
  * no sampling, no seeds), the code is one double-rounded affine map
  * per value, and the per-row decode fold is sequential — bit-identical
  * under any partition/core layout.
  *
  * Scale shape: bounds = one map-side-combinable agg scan (2·dim
  * doubles of state); encode = one scan, cached per corpus key like
  * the PQ code table (at 100 TB the dim-byte codes are the ~25 TB
  * artifact built once at ingest — `IncrementalAnnIndex`'s model);
  * probe = broadcast queries over the code scan, k-bounded heaps out.
  */
object ScalarQuantizer {

  /** Per-dimension quantization grid over unit vectors: code c ∈
    * [0, 255] decodes to `mins(d) + c · scales(d)`. */
  final case class Bounds(mins: Array[Double], scales: Array[Double]) {
    def dim: Int = mins.length
  }

  private val Levels = 255 // 8-bit codes: 0 .. 255

  /** EXACT per-dimension min/max of the unit-normalized vectors — one
    * aggregation scan, no sampling (min/max need none: they are
    * layout-independent and cheap). Empty-range dims get scale 0 and
    * always encode/decode to the constant. `prep` maps the raw vector
    * to the value actually quantized: [[ProductQuantizer.unit]] for
    * plain SQ (cosine == inner product), the coarse residual for
    * IVF-SQ. */
  def bounds(corpus: DataFrame, vecCol: String, dim: Int,
      prep: Column => Column = ProductQuantizer.unit): Bounds = {
    // project the prepped vector ONCE and aggregate over the attribute:
    // inlining `prep` into each of the 2·dim aggregates duplicates its
    // whole expression tree per dimension — with the IVF residual prep
    // (which embeds the coarse codebook) that is dim × (nlist·dim)
    // nodes, an O(dim²·nlist) analysis-time blowup at embedding dims
    val prepped = corpus.select(prep(col(vecCol)).as("__u"))
    val perDim = (0 until dim).map { d =>
      val x = element_at(col("__u"), d + 1).cast("double")
      struct(min(x).as("mn"), max(x).as("mx"))
    }
    val row = prepped.agg(perDim.head, perDim.tail: _*).head()
    val mins = new Array[Double](dim)
    val scales = new Array[Double](dim)
    for (d <- 0 until dim) {
      val s = row.getStruct(d)
      mins(d) = s.getDouble(0)
      scales(d) = (s.getDouble(1) - mins(d)) / Levels
    }
    Bounds(mins, scales)
  }

  /** codes_d = clamp(round((x_d − min_d) / scale_d)) over an
    * already-prepped array column.
    *
    * The per-dim grids ship as SINGLE array Literals (`lit(Array)`), not
    * per-element `array(lit, lit, …)` trees: a CreateArray of 2·dim
    * literal nodes re-enters the Catalyst/Janino plan-size regime the
    * codebook budget exists for once dim reaches embedding scale
    * (ConstantFolding collapses it to this same Literal eventually, but
    * only AFTER analysis walks the O(dim) tree — at dim 1024 that is
    * thousands of nodes per call site). One Literal is the 1-D analogue
    * of CodebookDots' reference object: O(1) plan nodes, bit-identical
    * arithmetic (SqLiteralFormSpec pins both claims). */
  private def codesExpr(prepped: Column, b: Bounds): Column = {
    val minsLit = lit(b.mins)
    val invLit = lit(b.scales.map(s => if (s == 0.0) 0.0 else 1.0 / s))
    zip_with(
      zip_with(prepped, minsLit, (x, mn) => x.cast("double") - mn),
      invLit,
      (cen, inv) => least(lit(Levels),
        greatest(lit(0), round(cen * inv).cast("int"))))
  }

  /** One-scan encode: (id, codes array<int> of length dim), each code
    * round((u_d − min_d) / scale_d) clamped to [0, 255]. Codes of the
    * UNIT vector, so decoded inner products are cosines. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      b: Bounds): DataFrame =
    df.select(col(idCol),
      codesExpr(ProductQuantizer.unit(col(vecCol)), b).as("codes"))

  /** SQ8 approximate top-k with exact rerank. `queries` must be
    * broadcastable (hint-forced), like every query side in
    * [[Similarity]]. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, rerank: Int = 0,
      cacheKey: Option[String] = None): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val b = Memo.shared.once(cacheKey, s"sq-bounds/$dim") {
      bounds(corpus, vecCol, dim)
    }
    val codes = ProductQuantizer.memoCodes(cacheKey, s"sq/$dim") {
      encode(corpus, idCol, vecCol, b)
        .select(col(idCol).as("corpus_id"), col("codes"))
    }

    // per-query decode factors: offset = qUnit · mins (sequential fused
    // dot — deterministic), sq_d = qUnit_d · scale_d
    val qUnit = ProductQuantizer.unit(col(vecCol))
    val minsF = lit(b.mins.map(_.toFloat)) // one Literal (see codesExpr)
    val scalesLit = lit(b.scales)
    val q = queries.select(col(idCol).as("query_id"),
      dot_product_f(qUnit, minsF).as("offset"),
      zip_with(qUnit, scalesLit, (x, s) => x.cast("double") * s).as("sq"))

    // approx score = offset + Σ_d sq_d · code_d: integer-indexed
    // multiply-add fold, stays in codegen (the PQ LUT-scan shape)
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (col("offset") + aggregate(
          zip_with(col("codes"), col("sq"), (c, s) => c.cast("double") * s),
          lit(0.0), (acc, x) => acc + x)).as("approx"))
    val shortlist = scored.groupBy("query_id")
      .agg(top_k_by(col("approx"), col("corpus_id"), r).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"))

    ProductQuantizer.exactRerank(shortlist, corpus, queries, idCol,
      vecCol, k, cacheKey)
  }

  /** Composed IVF-SQ8 (the faiss "IVF,SQ8" index): coarse lists route
    * candidates (equi-join on the list id, probes broadcast — the
    * [[ProductQuantizer.ivfAdcTopK]] join shape, coarse quantizer
    * SHARED via the same cache), SQ8 codes of the RESIDUAL u − c_list
    * score them. With decode(code) = min + code·scale,
    *
    *   q · (c_list + decode(code))
    *     = q·c_list + q·min + Σ_d (q_d·scale_d)·code_d
    *
    * so the per-candidate cost is the list dot (precomputed per probed
    * list) + one global per-query offset + the same premultiplied fold
    * as flat SQ — and the index is dim bytes/vector at ~full-precision
    * within-list resolution (residual ranges are ~1/nlist of the unit
    * cube, so the 8-bit grid step shrinks with nlist: the SQ analogue of
    * residual PQ's resolution argument). Exact rerank of the top-R.
    * Deterministic end-to-end: decimal-exact coarse training + exact
    * residual min/max bounds. */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nlist: Int = 0, nprobe: Int = 4,
      iters: Int = 3, rerank: Int = 0,
      cacheKey: Option[String] = None): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val nl =
      if (nlist > 0) nlist
      else Similarity.autoNlist(corpus.select(col(idCol)).count())

    val cq = ProductQuantizer.pqCoarse(corpus, idCol, vecCol, dim, nl,
      iters, cacheKey)
    val table = cq.table
    val residual: Column => Column = { v =>
      val u = ProductQuantizer.unit(v)
      zip_with(u,
        element_at(table, cq.assign(u) + 1),
        (a, b) => a - b).cast("array<float>")
    }

    // residual bounds: exact per-dim min/max over u − c_assigned
    val b = Memo.shared.once(cacheKey,
        s"sq-bounds/ivfsq/$dim/$nl/$iters") {
      bounds(corpus, vecCol, dim, prep = residual)
    }

    // index scan: (corpus_id, list, residual codes) — memoized per
    // cacheKey; only the first materialization scans the corpus
    val codes = ProductQuantizer.memoCodes(cacheKey,
        s"ivfsq/$dim/$nl/$iters") {
      val u = ProductQuantizer.unit(col(vecCol))
      corpus
        .select(col(idCol).as("corpus_id"), u.as("__u"),
          cq.assign(u).as("list"))
        .select(col("corpus_id"), col("list"),
          codesExpr(zip_with(col("__u"),
            element_at(table, col("list") + 1),
            (a, c) => a - c).cast("array<float>"), b).as("codes"))
    }

    // query side: probed lists + q·c_list per probed list + the flat-SQ
    // offset/premultiplied pair over the residual grid
    val qUnit = ProductQuantizer.unit(col(vecCol))
    val minsF = lit(b.mins.map(_.toFloat)) // one Literal (see codesExpr)
    val scalesLit = lit(b.scales)
    val qProbes = queries
      .select(col(idCol).as("query_id"), qUnit.as("__q"),
        cq.probe(qUnit, nprobe).as("__probes"),
        dot_product_f(qUnit, minsF).as("offset"),
        zip_with(qUnit, scalesLit,
          (x, s) => x.cast("double") * s).as("sq"))
      .select(col("query_id"), explode(col("__probes")).as("list"),
        col("__q"), col("offset"), col("sq"))
      .select(col("query_id"), col("list"),
        dot_product_f(col("__q"), element_at(table, col("list") + 1))
          .as("coarse_dot"),
        col("offset"), col("sq"))

    val scored = codes.join(broadcast(qProbes), Seq("list"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (col("coarse_dot") + col("offset") + aggregate(
          zip_with(col("codes"), col("sq"), (c, s) => c.cast("double") * s),
          lit(0.0), (acc, x) => acc + x)).as("approx"))
    val shortlist = scored.groupBy("query_id")
      .agg(top_k_by(col("approx"), col("corpus_id"), r).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"))

    ProductQuantizer.exactRerank(shortlist, corpus, queries, idCol,
      vecCol, k, cacheKey)
  }
}
