package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.HashExpressions._
import graft.functions.expressions.CodebookExpressions._
import graft.functions.expressions.TopKAggregate.top_k_by

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory half of the ANN scale story.
  * IVF ([[Similarity.ivfTopK]]) bounds per-query CANDIDATE volume; PQ
  * bounds per-vector MEMORY: a dim-float embedding (4·dim bytes) becomes
  * m small codes (m bytes at ksub ≤ 256), so a 100 TB embedding corpus
  * scans as a ~3 TB code table — the difference between an ANN sweep
  * that fits the cluster's page cache and one that re-reads the corpus.
  *
  * Pipeline: vectors are unit-normalized (cosine == inner product), each
  * split into `m` sub-vectors of dim/m; per subspace an L2 k-means
  * codebook of `ksub` centroids is trained; a vector's code is its
  * per-subspace nearest-centroid index. Query scoring is ADC
  * (asymmetric distance computation): the query builds an m × ksub
  * lookup table of exact sub-dot-products, a candidate's approximate
  * inner product is m table lookups summed — no float math against
  * corpus vectors at all — and the ADC top-R then rerank exactly.
  *
  * Same determinism contract as the IVF quantizer: hash-sampled
  * training set (stable under partitioning), id-hash-ordered seeds,
  * exact decimal-summed centroid means — bit-identical codebooks under
  * any core/partition layout, so the query surface is pinnable.
  *
  * Scale shape: training cost is corpus-size-independent
  * ([[Similarity.autoSampleMod]]'s sampling, one job per Lloyd
  * iteration covering ALL m subspaces); encode is one scan (m · ksub
  * fused sub-dot-products per row over bound codebooks); the ADC scan
  * shuffles only k-bounded heaps per query ([[top_k_by]]); the exact
  * rerank touches R · #queries vectors, never the corpus.
  *
  * The sub-quantizer is L2, NOT the cosine assignment the IVF coarse
  * quantizer uses: sub-vectors of unit vectors are not unit, and
  * argmax-dot against normalized centroids would ignore the ‖c‖² term
  * of ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² that PQ's reconstruction error
  * minimizes.
  */
object ProductQuantizer {

  /** books(s)(j) = centroid j of subspace s (dim/m floats each). */
  type Codebooks = Array[Array[Array[Float]]]

  private[graft] def unit(v: Column): Column = {
    val n = Similarity.l2norm(v)
    when(n === 0.0, v.cast("array<float>"))
      .otherwise(transform(v, x => (x.cast("double") / n).cast("float")))
  }

  private def subVec(v: Column, s: Int, dsub: Int): Column =
    slice(v, s * dsub + 1, dsub).cast("array<float>")

  /** argmin_j ‖x − c_j‖² as one codegen'd expression over the bound
    * codebook: ‖x‖² is common per row, so score_j = ‖c_j‖² − 2·x·c_j
    * with ‖c_j‖² precomputed ([[CodebookTopN]]'s `l2` metric). */
  private def argminL2(x: Column, cents: Array[Array[Float]]): Column =
    codebook_topn(x, cents, "l2", 1)

  /** The per-query ADC lookup table: lut(s)(j) = q_s · c_{s,j}, exact
    * sub-dot-products against each bound sub-codebook. */
  private def lutCol(q: Column, books: Codebooks): Column = {
    val dsub = books(0)(0).length
    array(books.indices.map(s => codebook_dots(subVec(q, s, dsub), books(s))): _*)
  }

  /** Train the m × ksub codebooks. One Lloyd job per iteration covers
    * every subspace: the assignment row is built BELOW the explode
    * (the [[Similarity.ivfCentroids]] generator-recompute lesson), then
    * (subspace, cluster, pos) means are exact decimal sums.
    *
    * `prep` maps the raw vector column to the value actually quantized:
    * [[unit]] for plain PQ (cosine == inner product), the coarse
    * residual for IVF-ADC (already centered — re-normalizing residuals
    * would destroy the geometry PQ is fitting). */
  def codebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int = 3,
      sampleMod: Int = 0,
      prep: Column => Column = unit): Codebooks = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val mod =
      if (sampleMod > 0) sampleMod
      else Similarity.autoSampleMod(corpus.select(col(idCol)).count(), ksub)
    val sample = corpus
      .filter(pmod(hash(col(idCol)), lit(mod)) === 0)
      .select(col(idCol).as("__id"), prep(col(vecCol)).as("__v"))
      .persist()
    try {
      // seed every subspace from the SAME ksub smallest-id-hash rows
      // (one collect; deterministic under any layout)
      val seedRows = sample.orderBy(hash(col("__id")), col("__id"))
        .limit(ksub).collect().map(_.getSeq[Float](1).toArray)
      require(seedRows.nonEmpty, "pq codebooks: empty corpus sample")
      var books: Codebooks = Array.tabulate(m) { s =>
        seedRows.map(v => v.slice(s * dsub, (s + 1) * dsub))
      }
      for (_ <- 1 to iters) {
        val perSub = (0 until m).map { s =>
          struct(lit(s).as("s"),
            argminL2(subVec(col("__v"), s, dsub), books(s)).as("cl"),
            subVec(col("__v"), s, dsub).as("x"))
        }
        val assigned = sample
          .select(array(perSub: _*).as("__a"))
          .select(explode(col("__a")).as("__e"))
          .select(col("__e.s").as("s"), col("__e.cl").as("cl"),
            posexplode(col("__e.x")).as(Seq("pos", "x")))
        val means = assigned
          .groupBy("s", "cl", "pos")
          .agg((sum(col("x").cast("decimal(32,15)")).cast("double") /
            count(lit(1)).cast("double")).as("mean"))
          .collect()
        val next = books.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            r.getDouble(3).toFloat
        }
        books = next // empty clusters keep their previous centroid
      }
      books
    } finally { sample.unpersist(); () }
  }

  /** One-scan encode: (id, codes array<int> of length m). Codes of the
    * UNIT-normalized vector — ADC scores are then inner products of
    * unit vectors, i.e. cosine. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      books: Codebooks): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val u = unit(col(vecCol))
    df.select(col(idCol),
      array((0 until m).map(s => argminL2(subVec(u, s, dsub), books(s))): _*)
        .as("codes"))
  }

  /** Corpus-code memo: in a real deployment the codes ARE the index,
    * built once at ingest (exactly what `IncrementalAnnIndex` models) —
    * re-assigning and re-PQ-encoding the whole corpus on every probe
    * call would make the probe cost O(corpus) in float math instead of
    * O(candidates) in table lookups. Persisted MEMORY_AND_DISK because
    * at scale the code table is the ~3 TB artifact that must not be
    * recomputed per query batch. */
  private[operators] def memoCodes(cacheKey: Option[String], subKey: String)(
      build: => DataFrame): DataFrame =
    Memo.shared.once(cacheKey, s"pq-codes/$subKey") {
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** ADC approximate top-k with exact rerank: score every corpus CODE
    * against each query's lookup table (m integer-indexed lookups per
    * pair — the corpus vectors themselves are never touched), keep the
    * ADC top `rerank` per query via the bounded-heap aggregate, then
    * rerank those exactly by true cosine and cut to `k`.
    *
    * `queries` must be broadcastable (hint-forced), like every query
    * side in [[Similarity]]. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 3, rerank: Int = 0,
      cacheKey: Option[String] = None): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val books = Memo.shared.once(cacheKey, s"pq-books/$dim/$m/$ksub/$iters") {
      codebooks(corpus, idCol, vecCol, dim, m, ksub, iters)
    }
    val codes = memoCodes(cacheKey, s"adc/$dim/$m/$ksub/$iters") {
      encode(corpus, idCol, vecCol, books)
        .select(col(idCol).as("corpus_id"), col("codes"))
    }

    val q = queries.select(col(idCol).as("query_id"),
      lutCol(unit(col(vecCol)), books).as("lut"), col(vecCol).as("qv"))

    // ADC score = sum_s lut(s)(code_s): zip the code array against the
    // LUT row and fold — integer lookups only, stays in codegen
    val adc = codes.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        aggregate(
          zip_with(col("codes"), col("lut"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc"))
    val shortlist = adc.groupBy("query_id")
      .agg(top_k_by(col("adc"), col("corpus_id"), r).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"))

    exactRerank(shortlist, corpus, queries, idCol, vecCol, k, cacheKey)
  }

  /** Exact-cosine rerank of an ADC shortlist: R·#queries vector
    * fetches, never a corpus scan. The corpus (id, vec, norm) frame is
    * memoized per cacheKey — at scale the rerank reads candidates from
    * the STORED vector table (`IncrementalAnnIndex` keeps exactly this,
    * hash-partitioned by id), not by re-scanning and re-normalizing the
    * raw corpus per probe batch. */
  private[operators] def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, cacheKey: Option[String] = None): DataFrame = {
    val c = memoCodes(cacheKey, "rerank-vecs") {
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
        .withColumn("cnorm", Similarity.l2norm(col("cv")))
    }
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", Similarity.l2norm(col("qv")))
    val scored = shortlist
      .join(c, Seq("corpus_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("sim", Similarity.cosine(col("cv"), col("qv"),
        col("cnorm"), col("qnorm")))
    scored.groupBy("query_id")
      .agg(top_k_by(col("sim"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.corpus_id").as("corpus_id"), col("t.sim").as("sim"))
  }

  // ---- IVF-ADC (the composed 100 TB architecture) ---------------------

  /** IVF-ADC approximate top-k (Jégou 2011 §IV: IVFADC): coarse
    * quantizer routes vectors to inverted lists, PQ encodes the
    * RESIDUAL x − c_list, queries probe `nprobe` lists and ADC-score
    * only those lists' codes as q·c_list + Σ_s LUT_s[code_s], then the
    * top `rerank` rerank exactly.
    *
    * The composition is what survives 100 TB: IVF bounds per-query
    * candidate volume (~N·nprobe/nlist), PQ bounds per-candidate cost
    * and index memory (m bytes/vector), and the candidate join is an
    * equi-join on the list id — corpus codes hash-partition by list,
    * query probes broadcast. Residual encoding (vs raw-vector PQ)
    * spends the codebook's resolution on the within-list geometry,
    * which is why IVFADC reranks less than plain ADC at equal recall.
    *
    * Same determinism contract as both halves; coarse and PQ training
    * run on the same auto-sized hash sample. */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nlist: Int = 0, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 16, iters: Int = 3, rerank: Int = 0,
      cacheKey: Option[String] = None): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val nl =
      if (nlist > 0) nlist
      else Similarity.autoNlist(corpus.select(col(idCol)).count())
    val dsub = dim / m

    // coarse quantizer trained in UNIT space (all scoring is cosine ==
    // unit-vector inner product); flat at oracle scale, two-level above
    // [[Similarity.TwoLevelMinLists]]
    val cq = pqCoarse(corpus, idCol, vecCol, dim, nl, iters, cacheKey)
    val table = cq.table

    // residual PQ: prep = unit vector minus its assigned coarse centroid
    val residualPrep: Column => Column = { v =>
      val u = unit(v)
      val cl = cq.assign(u)
      zip_with(u, element_at(table, cl + 1), (a, b) => a - b)
        .cast("array<float>")
    }
    val books = Memo.shared.once(cacheKey,
        s"pq-books/ivfadc/$dim/$nl/$m/$ksub/$iters") {
      codebooks(corpus, idCol, vecCol, dim, m, ksub, iters,
        prep = residualPrep)
    }

    // index scan: list id + residual codes per corpus vector (assign
    // below the derived columns, one projection, no recompute explosion).
    // Memoized per cacheKey — the (list, codes) table is the INDEX; only
    // its first materialization scans the corpus.
    val codes = memoCodes(cacheKey, s"ivfadc/$dim/$nl/$m/$ksub/$iters") {
      val u = unit(col(vecCol))
      corpus
        .select(col(idCol).as("corpus_id"), u.as("__u"),
          cq.assign(u).as("list"))
        .select(col("corpus_id"), col("list"),
          zip_with(col("__u"), element_at(table, col("list") + 1),
            (a, b) => a - b).cast("array<float>").as("__r"))
        .select(col("corpus_id"), col("list"),
          array((0 until m).map(s =>
            argminL2(subVec(col("__r"), s, dsub), books(s))): _*).as("codes"))
    }

    // query side: probed lists + q·c_list per probed list + the LUT over
    // the residual codebooks (the LUT is against q itself — the coarse
    // term is added separately per probed list)
    val qUnit = unit(col(vecCol))
    val qProbes = queries
      .select(col(idCol).as("query_id"), qUnit.as("__q"),
        cq.probe(qUnit, nprobe).as("__probes"), lutCol(qUnit, books).as("lut"))
      .select(col("query_id"), explode(col("__probes")).as("list"),
        col("__q"), col("lut"))
      .select(col("query_id"), col("list"),
        dot_product_f(col("__q"), element_at(table, col("list") + 1))
          .as("coarse_dot"),
        col("lut"))

    // candidate generation is an equi-join on the list id; ADC score =
    // coarse term + residual LUT fold (integer lookups, codegen'd)
    val adc = codes.join(broadcast(qProbes), Seq("list"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (col("coarse_dot") + aggregate(
          zip_with(col("codes"), col("lut"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0), (acc, x) => acc + x)).as("adc"))
    val shortlist = adc.groupBy("query_id")
      .agg(top_k_by(col("adc"), col("corpus_id"), r).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"))

    exactRerank(shortlist, corpus, queries, idCol, vecCol, k, cacheKey)
  }

  /** Memoized coarse quantizer in UNIT space — shared by IVF-ADC and
    * IVF-SQ so the two composed indexes over one corpus train the coarse
    * stage once. */
  private[operators] def coarseCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nl: Int, iters: Int,
      cacheKey: Option[String]): Array[Array[Float]] =
    Memo.shared.once(cacheKey, s"pq-coarse/$dim/$nl/$iters") {
      Similarity.ivfCentroids(
        corpus.select(col(idCol), unit(col(vecCol)).as(vecCol)),
        idCol, vecCol, dim, nl, iters)
    }

  /** The IVF-ADC / IVF-SQ coarse stage behind the flat/two-level
    * switch (the [[Similarity.Coarse]] twin, in UNIT space with L2
    * routing). `allCents` is the flat GLOBAL-list centroid table either
    * way — residual lookups and probed-list dots (`table` + `element_at`
    * by list id) are form-identical across the switch, which is what
    * lets the composed indexes keep their exact residual algebra while
    * the ROUTING cost drops from O(nlist) to O(√nlist) per vector. */
  private[operators] sealed trait PqCoarse {
    def assign(x: Column): Column
    def probe(x: Column, nprobe: Int): Column
    def allCents: Array[Array[Float]]
    /** `allCents` as ONE constant `array<array<float>>` Literal: plan
      * size O(1) in nlist × dim. */
    def table: Column = typedlit[Seq[Seq[Float]]](allCents.map(_.toSeq).toSeq)
      .cast("array<array<float>>")
  }
  private[operators] final case class PqFlat(cents: Array[Array[Float]])
      extends PqCoarse {
    def assign(x: Column): Column = argminL2(x, cents)
    def probe(x: Column, nprobe: Int): Column =
      if (nprobe == 1) array(assign(x))
      else codebook_topn(x, cents, "l2", nprobe)
    def allCents: Array[Array[Float]] = cents
  }
  private[operators] final case class PqTwoLevel(l1: Array[Array[Float]],
      l2flat: Array[Array[Float]], k2: Int) extends PqCoarse {
    import graft.functions.expressions.CodebookTwoLevel.codebook_topn_2l
    // RAW (unnormalized) centroids under the L2 metric — exactly
    // PqFlat's convention; the c² terms live in the expression
    def assign(x: Column): Column =
      codebook_topn_2l(x, l1, l2flat, k2, "l2", 1, 1)
    def probe(x: Column, nprobe: Int): Column =
      codebook_topn_2l(x, l1, l2flat, k2, "l2", nprobe, nprobe)
    def allCents: Array[Array[Float]] = l2flat
  }

  /** Flat below [[Similarity.TwoLevelMinLists]], two-level above —
    * where flat coarse training (sample × nlist × dim per iteration)
    * and corpus assignment (N × nlist × dim) turn quadratic in N. */
  private[operators] def pqCoarse(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nl: Int, iters: Int,
      cacheKey: Option[String]): PqCoarse =
    if (nl <= Similarity.TwoLevelMinLists)
      PqFlat(coarseCentroids(corpus, idCol, vecCol, dim, nl, iters, cacheKey))
    else {
      val (l1, l2, k2) = Memo.shared.once(cacheKey,
          s"pq-coarse-2l/$dim/$nl/$iters") {
        Similarity.ivfCentroidsTwoLevel(
          corpus.select(col(idCol), unit(col(vecCol)).as(vecCol)),
          idCol, vecCol, dim, nl, iters)
      }
      PqTwoLevel(l1, l2, k2)
    }
}
