package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.HashExpressions._
import graft.functions.expressions.CodebookExpressions._
import graft.functions.expressions.TopKAggregate.top_k_by

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query
  *     set against the (huge) corpus; one corpus scan, per-partition
  *     bounded-heap top-k combined map-side. The baseline and the verifier
  *     for the approximate path, and itself shaped for the full corpus.
  *   - `lshTopK` / `nearDupPairs`: random-hyperplane LSH — corpus is
  *     bucketed by sign-bit signature; queries probe only their bucket
  *     (and optionally neighboring bands). The 100 TB path: candidate
  *     count per query is ~corpus/2^bits instead of corpus.
  *
  * The dot product is a custom codegen'd expression (one fused loop per
  * row); hyperplanes are seeded deterministically so results are stable.
  */
object Similarity {

  /** Zero-norm vectors (padding/missing rows) get null similarity instead
    * of an ANSI DIVIDE_BY_ZERO that would kill the whole job; null sims
    * sort last and never pass a >= threshold. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dot_product_f(a, b) / denom)
  }

  def l2norm(v: Column): Column = sqrt(dot_product_f(v, v))

  /** Rank the scored (query_id, corpus_id, sim) rows to per-query top-k via
    * the bounded-heap aggregate: partial top-k per input partition map-side,
    * so the shuffle carries ≤ k×#partitions rows per query instead of every
    * scored row funneling to #queries reducers (the window-form bottleneck
    * flagged in round 1). The corpus id flows through in its SOURCE type
    * (string UUIDs included); unsupported id types fail at analysis time. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(top_k_by(col("sim"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.corpus_id").as("corpus_id"), col("t.sim").as("sim"))

  /** Hard-negative mining for contrastive training: each query's k
    * nearest corpus vectors with a DIFFERENT label — the closest items
    * that are NOT the query's class are exactly the negatives a
    * contrastive loss learns most from (the in-batch-random alternative
    * wastes gradient on easy negatives). Exact linear-scan baseline
    * (the [[bruteForceTopK]] shape + the label anti-filter before the
    * bounded heap); [[ivfHardNegatives]] is the routed scale path. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        col(labelCol).as("__clbl"))
      .withColumn("cnorm", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("__qlbl"))
      .withColumn("qnorm", l2norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id") &&
        col("__clbl") =!= col("__qlbl"))
      .withColumn("sim", cosine(col("cv"), col("qv"),
        col("cnorm"), col("qnorm")))
    rankTopK(scored, k)
  }

  /** [[hardNegatives]] through the IVF coarse quantizer: probed lists
    * route candidates (the [[ivfTopK]] join), the label anti-filter
    * runs before the heap — per-query cost is the probed lists' volume,
    * never the corpus (the corpus-side list assignment is the memoized
    * ingest-built index, see [[memoKinds]] — probe calls never re-run the
    * quantizer). Same determinism contract as ivfTopK (decimal-
    * exact centroids), so the output pins. Candidates are only mined
    * from probed lists: a cross-class neighbor hiding in an unprobed
    * list is missed, the standard IVF recall trade. */
  def ivfHardNegatives(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int, dim: Int, nlist: Int = 0, nprobe: Int = 4,
                       iters: Int = 3,
                       cacheKey: Option[String] = None): DataFrame = {
    val nl = resolveNlist(corpus, idCol, nlist, cacheKey)
    val quant = trainCoarse(corpus, idCol, vecCol, dim, nl, iters, 0,
      cacheKey)
    val lists = Memo.shared(cacheKey,
        s"listsLbl/$idCol/$vecCol/$labelCol/$dim/$nl/$iters/0") {
      corpus.select(col(idCol).as("corpus_id"),
          col(vecCol).cast("array<float>").as("cv"),
          col(labelCol).as("__clbl"))
        .withColumn("__cl", quant.assign(col("cv")))
        .withColumn("cnorm", l2norm(col("cv")))
    }
    val qProbes = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<float>").as("qv"),
        col(labelCol).as("__qlbl"))
      .withColumn("qnorm", l2norm(col("qv")))
      .withColumn("__cl", explode(quant.probe(col("qv"), nprobe)))
    val scored = lists.join(broadcast(qProbes), Seq("__cl"))
      .filter(col("corpus_id") =!= col("query_id") &&
        col("__clbl") =!= col("__qlbl"))
      .withColumn("sim", cosine(col("cv"), col("qv"),
        col("cnorm"), col("qnorm")))
    rankTopK(scored, k)
  }

  /** Exact top-k neighbors for each query vector.
    * `queries` must be small enough to broadcast (it is hint-forced).
    * One shuffle of k-bounded heaps: see `rankTopK`. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("cnorm", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", l2norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("cv"), col("qv"), col("cnorm"), col("qnorm")))
    rankTopK(scored, k)
  }

  /** All embedding pairs with cosine >= threshold, by exhaustive O(n²/2)
    * comparison — the exact small-corpus baseline and the verifier for
    * `nearDupPairs`. Quadratic BY DESIGN: use it on corpora small enough
    * to afford n²/2 dot products (validation sets, per-bucket rerank);
    * the 100 TB path is the LSH-bucketed `nearDupPairs`, whose candidate
    * count this function bounds from above. The join is still fully
    * distributed (each task scores one (partition_a × partition_b)
    * block); only total work, not per-task work, is quadratic. */
  def bruteForcePairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", l2norm(col("va")))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", l2norm(col("vb")))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * hash-derived value in [-1, 1). Seeded — stable across runs/executors,
    * and exposed so the DuckDB oracle can inline the SAME constants and
    * replicate the signature bit-for-bit. */
  private[graft] def planeComponent(p: Int, j: Int): Double =
    graft.functions.expressions.LshSignature.planeComponent(p, j)

  /** Sign-bit signature of a vector under `bits` hyperplanes, as a Column:
    * bit p = (Σ_j v[j] · plane[p][j]) >= 0, over the `float` planes of
    * [[planeComponent]]; a null vector signs as 0. ONE expression node
    * ([[graft.functions.expressions.LshSignature]]) that binds its planes
    * as one attached array and stays inside codegen — never a tree of
    * `bits × dim` literals for Catalyst to analyze on every
    * construction. */
  def lshSignature(vecCol: Column, dim: Int, bits: Int): Column =
    lsh_signature(vecCol.cast("array<float>"), dim, bits)

  /** Banded bucket keys from a signature: `numBands` structs of
    * (band_idx, band_bits) where each band uses `bitsPerBand` sign bits.
    * OR-amplification: two vectors are candidates if ANY band matches —
    * P(candidate) = 1 - (1 - p^r)^b for per-bit agreement p = 1 - θ/π.
    * This is what makes hyperplane LSH usable for moderate cosine (a
    * single AND-only table has vanishing recall there). */
  private[graft] def bandKeys(sigCol: Column, bitsPerBand: Int, numBands: Int): Column =
    array((0 until numBands).map { bIdx =>
      struct(lit(bIdx).as("band_idx"),
        shiftright(sigCol, bIdx * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("band_bits"))
    }: _*)

  /** Approximate top-k: probe every band bucket of the query, union the
    * candidates, rerank exactly. Recall tuned by (bitsPerBand, numBands). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              bitsPerBand: Int = 4, numBands: Int = 6): DataFrame = {
    val bits = bitsPerBand * numBands
    val cBase = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // candidate generation on ids only; vectors join back for rerank
    val cBuckets = cBase
      .withColumn("sig", lshSignature(col("cv"), dim, bits))
      .select(col("corpus_id"),
        explode(bandKeys(col("sig"), bitsPerBand, numBands)).as("bk"))
    val qBuckets = qBase
      .withColumn("sig", lshSignature(col("qv"), dim, bits))
      .select(col("query_id"),
        explode(bandKeys(col("sig"), bitsPerBand, numBands)).as("bk"))
    val candidates = cBuckets.join(broadcast(qBuckets), Seq("bk"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id")
      .distinct()
    val scored = candidates
      .join(cBase.withColumn("cnorm", l2norm(col("cv"))), Seq("corpus_id"))
      .join(broadcast(qBase.withColumn("qnorm", l2norm(col("qv")))),
        Seq("query_id"))
      .withColumn("sim", cosine(col("cv"), col("qv"), col("cnorm"), col("qnorm")))
    rankTopK(scored, k)
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  /** Expected k-means training-sample size `autoSampleMod` targets: large
    * enough that the quantizer sees the corpus geometry, small enough
    * that Lloyd iterations stay cheap at any corpus scale. */
  val TrainTargetVectors: Long = 1L << 20

  /** Sampling modulus that keeps the expected k-means training sample at
    * ~[[TrainTargetVectors]] (never below 32 vectors per centroid): the
    * quantizer's cost is then INDEPENDENT of corpus size — the property
    * that makes IVF training safe at 100 TB by default instead of only
    * when the caller remembers to size the sample. */
  private[graft] def autoSampleMod(corpusCount: Long, nlist: Int): Int =
    math.min(Int.MaxValue.toLong, math.max(1L,
      corpusCount / math.max(TrainTargetVectors, 32L * nlist))).toInt

  /** Target inverted-list size for auto-sized IVF. */
  val TargetListSize: Int = 128

  /** List count when the caller passes `nlist <= 0`: ~corpus/
    * [[TargetListSize]], floor 16 — the standard IVF sizing rule, and
    * the property that keeps same-list candidate volume LINEAR in corpus
    * size (per-list pairs ~ listSize²  and lists ~ N/listSize, so total
    * pairs ~ N × listSize). A FIXED nlist at growing N makes every list
    * O(N) and the pair stage quadratic — measured as a 133× blowup at a
    * 10× scale-up before this rule existed. */
  private[graft] def autoNlist(corpusCount: Long): Int =
    math.min(1L << 16, math.max(16L,
      (corpusCount + TargetListSize - 1) / TargetListSize)).toInt

  /** Deterministic k-means coarse quantizer for IVF: Lloyd iterations on
    * a hash-sampled subset (`pmod(hash(id), sampleMod) == 0` — stable
    * across runs and partitionings, unlike `sample()`), seeded with the
    * `nlist` sampled vectors of smallest id-hash. Centroids are tiny
    * (nlist × dim) and live on the driver like any broadcast dimension
    * table; each iteration is one scan of the sample plus an
    * elementwise-mean shuffle of nlist × dim cells.
    *
    * `sampleMod <= 0` (the default) auto-sizes from a column-pruned
    * corpus count so training sees ~[[TrainTargetVectors]] vectors
    * regardless of corpus size; pass an explicit modulus to override.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, nlist: Int, iters: Int = 3,
                   sampleMod: Int = 0): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    val mod =
      if (sampleMod > 0) sampleMod
      else autoSampleMod(corpus.select(col(idCol)).count(), nlist)
    val sample = corpus
      .filter(pmod(hash(col(idCol)), lit(mod)) === 0)
      .select(col(idCol).as("__id"), col(vecCol).cast("array<float>").as("__v"))
      .persist()
    try {
      // seed: the nlist sample vectors with smallest hashed id (stable)
      var cents: Array[Array[Float]] = sample
        .orderBy(hash(col("__id")), col("__id"))
        .limit(nlist)
        .collect().map(_.getSeq[Float](1).toArray)
      require(cents.nonEmpty, "ivfCentroids: empty corpus sample")
      for (_ <- 1 to iters) {
        // assign BELOW the explode: a generator's outer projection runs
        // per exploded row, so putting assignExpr there recomputes the
        // nlist-way argmin dim× per vector — measured 64× redundant work
        // at dim=64 once nlist grows past the toy range
        val assigned = sample
          .select(assignExpr(col("__v"), cents).as("__cl"), col("__v"))
          .select(col("__cl"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        // mean via EXACT decimal summation, not float avg: decimal adds
        // are order-independent, so the centroids (and every recall
        // number downstream) are bit-identical under any partition
        // layout / core count — a raw double sum would drift with the
        // partial-aggregation order and make the quantizer depend on
        // cluster topology. decimal(32,15) holds 1M×|x|≤1e10 floats at
        // scale 15 without overflow.
        val means = assigned
          .groupBy("__cl", "__pos")
          .agg((sum(col("__x").cast("decimal(32,15)")).cast("double") /
            count(lit(1)).cast("double")).as("__m"))
          .collect()
        val next = cents.map(_.clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
        }
        cents = next // clusters with no members keep their old centroid
      }
      cents
    } finally { sample.unpersist(); () }
  }

  private def normalized(cents: Array[Array[Float]]): Array[Array[Float]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      if (n == 0) c else c.map(x => (x / n).toFloat)
    }

  /** argmin over centroids as one codegen'd expression: per row, nlist
    * fused dot products against the L2-normalized centroids (argmax dot
    * == argmax cosine since |v| is common), the codebook bound as one
    * attached array ([[CodebookTopN]]) — plan size O(1) in nlist × dim
    * at every list count. */
  private[graft] def assignExpr(vec: Column, cents: Array[Array[Float]]): Column =
    codebook_topn(vec, normalized(cents), "dot", 1)

  /** The nprobe nearest centroid ids for a vector (sorted by distance),
    * always as an array. */
  private[graft] def probeExpr(vec: Column, cents: Array[Array[Float]],
                               nprobe: Int): Column =
    if (nprobe == 1) array(assignExpr(vec, cents))
    else codebook_topn(vec, normalized(cents), "dot", nprobe)

  /** Kinds of the IVF artifacts this object memoizes in [[Memo.shared]]:
    * the auto-nlist corpus count, trained centroids and corpus list
    * assignments. The (id, list, vector, norm) table — for the pair
    * paths the (id, vector, probe-list array) table, one row per
    * vector — IS the IVF inverted index, built once at ingest (the
    * ProductQuantizer codes twin). Re-running `assignExpr`/
    * `probeExpr` over the whole corpus on every probe call costs
    * O(N·nlist·dim) float work per call — and under [[autoNlist]]
    * (nlist ~ N/128) that is QUADRATIC in corpus size, which is exactly
    * the super-linear term the sf1 spot of the routed hard-negative
    * slot measured (4.2× at 10× data). With the index memoized the
    * probe touches the assignment table, never the quantizer.
    * MEMORY_AND_DISK: at scale this is the multi-TB artifact that must
    * not be recomputed per query batch. Values are bit-identical with
    * or without the memo (persist changes nothing downstream; training
    * is deterministic), so every pinned oracle is unaffected. Key
    * contract and eviction: [[Memo]]. */
  private[graft] val memoKinds = Set("ivf-count", "ivf-centroids",
    "ivf-centroids-2l", "listsLbl", "lists", "probedv", "assign")

  /** `nlist <= 0` → auto-size from a column-pruned corpus count (a
    * parquet-metadata read). At the test fixtures' scales (≤2000
    * vectors) auto resolves to the floor of 16, identical to the old
    * fixed default — the pinned oracles are unaffected. */
  private def resolveNlist(corpus: DataFrame, idCol: String, nlist: Int,
      cacheKey: Option[String]): Int =
    if (nlist > 0) nlist
    else autoNlist(corpusCount(corpus, idCol, cacheKey))

  /** The corpus row count behind auto-nlist, a [[Memo.shared]] `once`
    * entry under `cacheKey` — the snapshot contract the centroids
    * trained at that nlist already rely on. */
  private def corpusCount(corpus: DataFrame, idCol: String,
      cacheKey: Option[String]): Long =
    Memo.shared.once(cacheKey, s"ivf-count/$idCol")(
      corpus.select(col(idCol)).count())

  /** List count above which the pair-generation paths switch from the
    * flat coarse quantizer to the two-level (IMI-style) one. The
    * occupancy rule sizes nlist ∝ N for those paths, which makes FLAT
    * training (sample × nlist × dim per Lloyd iteration) and assignment
    * (N × nlist × dim) quadratic in corpus size — the binding cost at
    * the 1000× bench rung (2M vectors → 62.5k lists → ~10¹³ FLOP of
    * flat scoring before a single candidate pair exists). Two-level
    * routing scores k1 + probe1·k2 ≈ √nlist centroids per vector
    * instead ([[graft.functions.expressions.CodebookTopNTwoLevel]]).
    * Every pinned-oracle path trains at nlist ≤ 64 (fixture floor 16)
    * and stays flat; the switch only engages at real corpus sizes. */
  private[graft] val TwoLevelMinLists = 1024

  /** Two-level coarse quantizer training: k1 ≈ √nlist level-1 cells via
    * the standard deterministic Lloyd ([[ivfCentroids]]), then k2 =
    * ⌈nlist/k1⌉ sub-lists PER CELL refined by Lloyd iterations whose
    * assignment routes through the (fixed) level-1 cells — each
    * iteration scores k1 + k2 centroids per sample vector instead of
    * nlist, so training cost is O(sample · √nlist · dim). Sub-list
    * seeds are, per cell, the k2 sample vectors of smallest hashed id
    * (the [[ivfCentroids]] seeding rule applied cell-wise via the
    * bounded-heap carry aggregate); cells with fewer sample members
    * than k2 pad with copies of their cell centroid (duplicate
    * centroids are harmless — strict-< argmin routes everything to the
    * first). Means use the same exact-decimal summation as the flat
    * trainer, so the result is bit-deterministic under any partition
    * layout. Returns (l1 cells, l2 flat sub-lists, k2) with global list
    * j belonging to cell j / k2. */
  def ivfCentroidsTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int, iters: Int = 3,
      sampleMod: Int = 0): (Array[Array[Float]], Array[Array[Float]], Int) = {
    import graft.functions.expressions.TopKAggregate.top_k_by_carry
    val mod =
      if (sampleMod > 0) sampleMod
      else autoSampleMod(corpus.select(col(idCol)).count(), nlist)
    val k1 = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val k2 = math.max(1, (nlist + k1 - 1) / k1)
    val l1 = ivfCentroids(corpus, idCol, vecCol, dim, k1, iters, mod)
    val sample = corpus
      .filter(pmod(hash(col(idCol)), lit(mod)) === 0)
      .select(col(idCol).as("__id"), col(vecCol).cast("array<float>").as("__v"))
      .persist()
    try {
      val seeded = sample
        .select(assignExpr(col("__v"), l1).as("__cell"), col("__id"),
          col("__v"))
        .groupBy("__cell")
        // sim = −hash ⇒ the heap keeps the k2 SMALLEST signed hashes
        // (ties by id) — the flat trainer's orderBy(hash, id) seed rule
        .agg(top_k_by_carry(-hash(col("__id")).cast("double"),
          col("__id"), col("__v"), k2).as("tops"))
        .collect()
      var l2 = Array.tabulate(k1 * k2)(g => l1(g / k2).clone())
      seeded.foreach { r =>
        val cell = r.getInt(0)
        r.getSeq[org.apache.spark.sql.Row](1).zipWithIndex.foreach {
          case (t, s) =>
            l2(cell * k2 + s) =
              t.getAs[scala.collection.Seq[Float]]("payload").toArray
        }
      }
      for (_ <- 1 to iters) {
        val assigned = sample
          .select(twoLevelRoute(col("__v"), l1, l2, k2, n = 1, probe1 = 1)
            .as("__cl"), col("__v"))
          .select(col("__cl"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        val means = assigned
          .groupBy("__cl", "__pos")
          .agg((sum(col("__x").cast("decimal(32,15)")).cast("double") /
            count(lit(1)).cast("double")).as("__m"))
          .collect()
        val next = l2.map(_.clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
        }
        l2 = next
      }
      (l1, l2, k2)
    } finally { sample.unpersist(); () }
  }

  /** Two-level routing column: cosine scoring (normalized centroids +
    * dot, exactly [[assignExpr]]/[[probeExpr]]'s convention) through the
    * level-1 cells into their sub-lists. n = 1 → the single best global
    * list (training/assignment); n = nprobe with probe1 = nprobe → the
    * multi-probe list set for the pair paths. */
  private[graft] def twoLevelRoute(vec: Column, l1: Array[Array[Float]],
      l2flat: Array[Array[Float]], k2: Int, n: Int, probe1: Int): Column =
    graft.functions.expressions.CodebookTwoLevel.codebook_topn_2l(
      vec, normalized(l1), normalized(l2flat), k2, "dot", n, probe1)

  /** A trained coarse quantizer behind one routing interface: flat
    * centroid scan at oracle/fixture list counts, two-level routing
    * above [[TwoLevelMinLists]] — so every IVF path gets the
    * sub-quadratic train/assign without per-path branching. `assign`
    * routes greedily (probe1 = 1 through the hierarchy); `probe`
    * descends into nprobe cells, the multi-probe convention of the flat
    * [[probeExpr]]. The PQ coarse stage stays flat for now: it needs
    * the centroid VECTORS downstream (residuals, ADC dot tables) —
    * `l2flat` already IS that flat table, so the same switch drops in
    * there when its scale rung warrants it. */
  private[graft] sealed trait Coarse {
    def assign(vec: Column): Column
    def probe(vec: Column, nprobe: Int): Column
  }
  private[graft] final case class FlatCoarse(cents: Array[Array[Float]])
      extends Coarse {
    def assign(vec: Column): Column = assignExpr(vec, cents)
    def probe(vec: Column, nprobe: Int): Column = probeExpr(vec, cents, nprobe)
  }
  private[graft] final case class TwoLevelCoarse(l1: Array[Array[Float]],
      l2flat: Array[Array[Float]], k2: Int) extends Coarse {
    def assign(vec: Column): Column =
      twoLevelRoute(vec, l1, l2flat, k2, n = 1, probe1 = 1)
    def probe(vec: Column, nprobe: Int): Column =
      twoLevelRoute(vec, l1, l2flat, k2, n = nprobe, probe1 = nprobe)
  }

  /** Train (or memo-fetch) the right quantizer for `nl` lists. */
  private[graft] def trainCoarse(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nl: Int, iters: Int, sampleMod: Int,
      cacheKey: Option[String]): Coarse =
    if (nl <= TwoLevelMinLists)
      FlatCoarse(Memo.shared.once(cacheKey,
          s"ivf-centroids/$dim/$nl/$iters/$sampleMod") {
        ivfCentroids(corpus, idCol, vecCol, dim, nl, iters, sampleMod)
      })
    else {
      val (l1, l2, k2) = Memo.shared.once(cacheKey,
          s"ivf-centroids-2l/$dim/$nl/$iters/$sampleMod") {
        ivfCentroidsTwoLevel(corpus, idCol, vecCol, dim, nl, iters,
          sampleMod)
      }
      TwoLevelCoarse(l1, l2, k2)
    }

  /** `nlist` sizing for the MULTI-ASSIGN pair-generation paths
    * (ivfNearDupPairs / semanticKept): each corpus vector lands in
    * `nprobe` lists, so the occupancy that governs per-list pair volume
    * is N·nprobe/nlist — sizing on N alone leaves occupancy nprobe×
    * over [[TargetListSize]] and pair volume nprobe²× over the single-
    * assign intent (per-list pairs ~ occupancy²). Measured: the sf1→sf3
    * rung ran exponent 1.5–1.7 before this rule, ~1.0 after. At fixture
    * scale the floor of 16 still wins, so every pinned oracle is
    * unchanged; recall at fixed nprobe trades smaller lists for the
    * same number of probed second-choice lists (re-verified by the
    * recall specs and the semantic keep-set's exact-oracle gate row). */
  private def resolveNlistMulti(corpus: DataFrame, idCol: String,
      nlist: Int, nprobe: Int, cacheKey: Option[String]): Int =
    if (nlist > 0) nlist
    else autoNlist(
      corpusCount(corpus, idCol, cacheKey) * math.max(1, nprobe))

  /** IVF approximate top-k: corpus vectors are assigned to their nearest
    * centroid's inverted list (ONE scan, hash-partitioned by list);
    * each query probes its `nprobe` nearest lists and reranks exactly
    * within them via the bounded-heap aggregate.
    *
    * The 100 TB path alongside `lshTopK`: per-query candidate work is
    * ~corpus × nprobe/nlist, the lists are disjoint (no band
    * duplication), and recall degrades gracefully with data geometry
    * instead of hash luck. Training auto-sizes its sample to
    * ~[[TrainTargetVectors]] vectors regardless of corpus size
    * (`sampleMod = 0`); pass an explicit modulus to override.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, nlist: Int = 0,
              nprobe: Int = 4, iters: Int = 3,
              sampleMod: Int = 0, cacheKey: Option[String] = None): DataFrame = {
    val nl = resolveNlist(corpus, idCol, nlist, cacheKey)
    val quant = trainCoarse(corpus, idCol, vecCol, dim, nl, iters,
      sampleMod, cacheKey)
    val cBase = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<float>").as("cv"))
    val lists = Memo.shared(cacheKey,
        s"lists/$idCol/$vecCol/$dim/$nl/$iters/$sampleMod") {
      cBase.withColumn("__cl", quant.assign(col("cv")))
        .withColumn("cnorm", l2norm(col("cv")))
    }
    val qProbes = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<float>").as("qv"))
      .withColumn("qnorm", l2norm(col("qv")))
      .withColumn("__cl", explode(quant.probe(col("qv"), nprobe)))
    val scored = lists.join(broadcast(qProbes), Seq("__cl"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("cv"), col("qv"),
        col("cnorm"), col("qnorm")))
    rankTopK(scored, k)
  }

  /** Embedding near-duplicate pairs via the IVF coarse quantizer: two
    * vectors are candidates when they land in the same inverted list —
    * the natural pair generator when an IVF index already exists (the
    * quantizer is paid for once, `cacheKey`), with candidate volume
    * governed by nlist instead of band parameters. Candidates route
    * through the same capped bounded-heap bucket selection as every
    * other near-dup path (a hot list caps at `maxBucketSize` members
    * instead of going quadratic in one task — `Dedup.bucketPairs`
    * semantics, here via `top_k_by_carry` so the vectors ride the heap
    * and the exact-cosine rerank never joins payloads onto pair rows). Each vector is MULTI-ASSIGNED to its
    * `nprobe` nearest lists (the standard multi-probe indexing trick,
    * same `probeExpr` the query path uses), so a true pair split across
    * one list boundary still meets in the second-choice list — recall
    * rises with nprobe at the cost of nprobe× candidate rows; the
    * hyperplane-LSH path ([[nearDupPairs]]) remains the alternative
    * with band-tunable recall. Deterministic end-to-end (centroids are
    * decimal-summed, layout-independent). */
  def ivfNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, threshold: Double = 0.9, nlist: Int = 0,
                      nprobe: Int = 2, iters: Int = 3,
                      maxBucketSize: Int = 10000, sampleMod: Int = 0,
                      cacheKey: Option[String] = None): DataFrame = {
    val nl = resolveNlistMulti(corpus, idCol, nlist, nprobe, cacheKey)
    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))
    // Flat quantizer at oracle/fixture scale; two-level past
    // [[TwoLevelMinLists]], where flat train+assign turn quadratic in N
    // (nlist ∝ N under the occupancy rule).
    val quant = trainCoarse(corpus, idCol, vecCol, dim, nl, iters,
      sampleMod, cacheKey)
    // The multi-probe assignment IS the ingest-built IVF index
    // ([[memoKinds]]): without the memo each call pays the full quantizer
    // scan per query call. It holds ONE row per vector — (id, vector,
    // probe-list array) — and the explode into (list, id, vector) rows
    // runs after the memo read, so the persisted artifact is ~1/nprobe
    // of the exploded one.
    val listed = Memo.shared(cacheKey,
        s"probedv/$idCol/$vecCol/$dim/$nl/$nprobe/$iters/$sampleMod") {
      base.select(col("id"), col("v"),
        quant.probe(col("v"), nprobe).as("__cls"))
    }.select(col("id"), col("v"), explode(col("__cls")).as("__cl"))
    // Capped-bucket pair generation with the vector CARRIED through the
    // bounded heap (same membership as Dedup.bucketPairs: constant score
    // → deterministic smallest-id set, over-cap buckets dropped), and
    // the exact-cosine rerank computed by one kernel over each heap
    // ([[graft.functions.expressions.BucketCosinePairs]]: norms once
    // per bucket member, only threshold survivors become rows). The
    // alternative — distinct the id pairs, then join vectors back —
    // exchanges |candidate pairs| × 2·dim floats (measured 15-30 GB of
    // shuffle-spill at the 100× bench rung); here no exchange ever sees
    // a pair row with payloads: the shuffle into the aggregate moves
    // N·nprobe vectors once, and only threshold SURVIVORS reach the
    // distinct. Per-bucket pair work stays in the bucket's task, bounded
    // by cap²·dim.
    import graft.functions.expressions.TopKAggregate.{bucket_cosine_pairs,
      top_k_by_carry}
    listed
      .groupBy("__cl")
      .agg(top_k_by_carry(lit(0.0), col("id"), col("v"),
        maxBucketSize + 1).as("tops"))
      .filter(size(col("tops")) <= maxBucketSize)
      .select(inline(bucket_cosine_pairs(col("tops"), threshold)))
      .distinct()
  }

  /** SemDeDup-style semantic dedup KEEP set (Abbas et al. 2023,
    * arXiv:2303.09540): cluster-route the corpus through the IVF coarse
    * quantizer (multi-probe keeps boundary pairs co-bucketed), compare
    * cosines only within shared inverted lists, and drop every row with a
    * smaller-id semantic duplicate at `threshold` — the embedding-space
    * sibling of `Dedup.minhashKept`'s one-hop keep rule, completing the
    * pairs/kept symmetry the text dedup family already has.
    *
    * Scale shape: candidate volume is per-list (~N·avg_occupancy, capped
    * by `maxBucketSize`), never the N² cartesian; the anti-join dropper
    * is a distinct on ids only (8 bytes/row through the shuffle). At
    * 100 TB the centroid table is a broadcast object and the only wide
    * exchange is the (list, id) bucket join — the same plan that holds
    * for `ivfNearDupPairs`. */
  def semanticKept(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, threshold: Double = 0.9, nlist: Int = 0,
                   nprobe: Int = 2, iters: Int = 3,
                   maxBucketSize: Int = 10000, sampleMod: Int = 0,
                   cacheKey: Option[String] = None): DataFrame = {
    val drop = ivfNearDupPairs(corpus, idCol, vecCol, dim, threshold,
      nlist, nprobe, iters, maxBucketSize, sampleMod, cacheKey)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  /** (id, cluster_id) hard assignment of every corpus vector to its
    * nearest IVF centroid — the k-means clustering the coarse quantizer
    * already computes, exposed as a first-class corpus-organization
    * operator (topic/domain discovery over embeddings). Map-only after
    * the (cached) centroid training: `assignExpr` is a codegen'd scan
    * over the broadcast codebook, so the assignment pass is one
    * projection over the corpus — no shuffle at all. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                dim: Int, nlist: Int = 0, iters: Int = 3,
                sampleMod: Int = 0,
                cacheKey: Option[String] = None): DataFrame = {
    val nl = resolveNlist(corpus, idCol, nlist, cacheKey)
    val quant = trainCoarse(corpus, idCol, vecCol, dim, nl, iters,
      sampleMod, cacheKey)
    Memo.shared(cacheKey, s"assign/$idCol/$vecCol/$dim/$nl/$iters/$sampleMod") {
      corpus.select(col(idCol),
        quant.assign(col(vecCol).cast("array<float>")).as("cluster_id"))
    }
  }

  /** D4-style cluster-balanced selection (Tirumala et al. 2023,
    * arXiv:2308.12284 — the diversify step that follows SemDeDup's
    * dedup step): cap each embedding-space cluster at `perCluster`
    * rows so no dense topical region dominates the training mix.
    * Kept rows are the deterministic (hash48, id)-smallest per cluster
    * ([[Splits.stratifiedSample]] semantics — stable under re-runs,
    * re-partitioning, and appends). Returns (id, cluster_id) kept rows.
    *
    * Plan: map-only assignment (cached centroids) → one k-bounded-heap
    * aggregate per cluster → broadcast semi-join of the ≤ nlist·k
    * survivor ids. No window funnels a hot cluster into one task. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, perCluster: Int, salt: String,
      nlist: Int = 0, iters: Int = 3, sampleMod: Int = 0,
      cacheKey: Option[String] = None): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, dim, nlist, iters,
      sampleMod, cacheKey)
    Splits.capPerGroup(assigned, "cluster_id", idCol, perCluster, salt)
  }

  /** Embedding near-duplicate pairs: banded LSH self-join, verified by
    * exact cosine ≥ threshold. The embedding analogue of
    * Dedup.minhashPairs. Shuffle is keyed by band bucket; candidate count
    * per bucket is ~corpus/2^bitsPerBand per band. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, threshold: Double = 0.9,
                   bitsPerBand: Int = 4, numBands: Int = 8): DataFrame = {
    val bits = bitsPerBand * numBands
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // The vectors ride the (id, band) rows INTO the band self-join, so
    // the exact-cosine verify happens in the join's output projection —
    // before any further exchange — and only threshold SURVIVORS reach
    // the distinct. The join-back alternative (distinct the candidate
    // ids, then two joins to refetch vectors) exchanges |candidate
    // pairs| × 2·dim floats, the spill wall the IVF sibling measured at
    // its 100× rung; here the only payload-bearing shuffle is the band
    // sort of N·numBands rows — linear. A pair colliding in b bands
    // computes its cosine b times (identical value each time — the
    // distinct on the functional (id_a, id_b, cos) triple collapses
    // them), trading ≤ numBands fused dots per duplicate for the fat
    // exchange.
    val bucketed = base
      .withColumn("sig", lshSignature(col("v"), dim, bits))
      .withColumn("nrm", l2norm(col("v")))
      .select(col("id"), col("v"), col("nrm"),
        explode(bandKeys(col("sig"), bitsPerBand, numBands)).as("bk"))
    bucketed.select(col("bk"), col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a"))
      .join(bucketed.select(col("bk"), col("id").as("id_b"),
        col("v").as("v_b"), col("nrm").as("n_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("v_a"), col("v_b"), col("n_a"), col("n_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Diversity-aware top-k: exact shortlist of `shortlist` candidates,
    * then greedy MMR (Carbonell & Goldstein 1998) selection of `k` via
    * the [[graft.functions.expressions.MmrSelect]] expression — each
    * step takes the candidate maximizing λ·sim(q,c) − (1−λ)·max cos to
    * the already-selected. λ = 1 degrades to plain top-k.
    *
    * Scale shape: the shortlist is any top-R stage (exact here;
    * compose with ivfTopK / sqTopK / ivfAdcTopK for 100 TB corpora —
    * MMR only ever sees R rows per query), the candidate vectors ride
    * a broadcastable R·#queries join, and the O(k·R·dim) greedy loop
    * is one expression eval per QUERY row — in the dataflow, no driver
    * loop. Deterministic (sequential folds, ties → smaller id,
    * array-order-independent argmax) → pinnable. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double,
      shortlist: Int = 30): DataFrame = {
    import graft.functions.expressions.MmrExpressions.mmr_select
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, shortlist)
    val withVec = cand.join(
      corpus.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).cast("array<float>").as("__v")), Seq("corpus_id"))
    withVec.groupBy("query_id")
      .agg(collect_list(struct(col("corpus_id").as("id"),
        col("sim").as("sim"), col("__v").as("vec"))).as("cands"))
      .select(col("query_id"),
        explode(mmr_select(col("cands"), k, lambda)).as("m"))
      .select(col("query_id"), col("m.rank").as("rank"),
        col("m.id").as("corpus_id"))
  }
}
