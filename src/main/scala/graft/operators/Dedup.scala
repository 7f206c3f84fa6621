package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.expressions.HashExpressions._

/** Deduplication operators for large-scale corpus curation. The reference
  * has no dedup (its idempotent upsert-by-id is the closest analogue,
  * SURVEY §2.7); these are the training-data-pipeline extensions.
  *
  * Scale design, common to all variants:
  *   - everything is expression-level (codegen'd) + shuffles keyed so work
  *     is proportional to candidates, never all-pairs;
  *   - candidate generation (LSH banding / ngram anchoring) bounds the
  *     join fan-out; exact verification runs only on candidate pairs;
  *   - no driver-side state: a 100 TB corpus just means more partitions.
  */
object Dedup {

  /** Exact dedup: group on a content hash, keep the smallest id per group.
    * Single shuffle on the hash; partial agg map-side. At 100 TB, hash the
    * (cheap, short) md5 instead of grouping on the full text so shuffle
    * rows are ~50 bytes. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprintMd5(col(textCol)).as("text_hash"),
        col(idCol))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup (the kept representatives). */
  def exactKept(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash + LSH banded near-dup pairs.
    *
    * shingle → one-pass minhash signature (custom expression) → split into
    * `bands` bands → explode (doc, band_idx, band_hash) → self-join on the
    * band key → exact Jaccard verification on the candidate pairs only.
    *
    * Tuning: P(candidate) = 1 - (1 - j^r)^b for Jaccard j, r = hashes/band.
    * Defaults (128 hashes, 32 bands, r=4) catch j ≳ 0.5 reliably.
    *
    * Scale: the only all-to-all movement is the explode+join keyed by
    * band_hash (rows = docs × bands, ~50 B each). A pathological key (e.g.
    * millions of identical docs) makes one bucket quadratic — cap it with
    * `maxBucketSize`. Over-cap buckets are DROPPED from candidate
    * generation (a recall loss on homogeneous corpora); audit them with
    * `minhashDroppedBuckets`, which returns exactly the (band, hash,
    * size) buckets this function skipped. Identical docs are better
    * handled by `exact` first.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
                   jaccardThreshold: Double = 0.5,
                   maxBucketSize: Int = 1000): DataFrame = {
    val buckets = minhashBuckets(df, idCol, textCol, shingleK, numHashes, bands)

    // Bucket cap + candidate generation in ONE aggregation pass. NOT
    // count().over(partitionBy(bucket)) — a flooded bucket lands in one
    // window task — and NOT groupBy-count + anti-join either, which
    // re-derives the (expensive) signatures a second time for the join
    // side. Instead each bucket collects up to cap+1 member ids through
    // the bounded-heap top_k_by aggregate: partial heaps combine
    // map-side, state per bucket is O(cap), and a heap that comes back
    // FULL (cap+1 ids) marks an over-cap bucket, which is dropped whole
    // (same recall trade as before — audit via minhashDroppedBuckets).
    val candidates = bucketPairs(buckets, Seq("band_idx", "band_hash"),
      idCol, maxBucketSize)

    // exact verification: shingle ONLY the docs that appear in a candidate
    // pair (semi-join prefilter), then join those back by id — the full
    // corpus is shingled exactly once (in the bucket pass) regardless of
    // how many verify joins follow.
    val candidateIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val shingled = df.join(candidateIds, Seq(idCol), "left_semi")
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(
          TextFunctions.wordShinglesFromTokens(col("__toks"), shingleK))
          .as("shingles"))
    candidates
      .join(shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a")),
        Seq("id_a"))
      .join(shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b")),
        Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Distinct candidate pairs from capped LSH buckets, single pass:
    * per bucket, collect ≤ cap+1 ids via the bounded-heap aggregate
    * (score constant → deterministic smallest-id set), drop buckets whose
    * heap filled (over cap), and emit all in-bucket pairs from the
    * collected array. Shuffle carries ≤ (cap+1)-id buffers per bucket per
    * input partition; no bucket ever pins a single task. */
  private[graft] def bucketPairs(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucketSize: Int): DataFrame = {
    import graft.functions.expressions.TopKAggregate.top_k_by
    buckets
      .groupBy(bucketCols.map(col): _*)
      .agg(top_k_by(lit(0.0), col(idCol), maxBucketSize + 1).as("tops"))
      .filter(size(col("tops")) <= maxBucketSize)
      .select(transform(col("tops"), t => t.getField("corpus_id")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** (id, band_idx, band_hash) LSH bucket rows for the corpus.
    * Candidate generation flows ONLY these — the shingle arrays never
    * enter the explode/join shuffles. No array_distinct before the
    * signature: min() is duplicate-insensitive. Tokens are bound to an
    * attribute in their own projection: the shingle lambda re-reads the
    * array per element, so the text is split ONCE per row (inlining it
    * would make shingling O(tokens²) per doc). */
  private def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                             shingleK: Int, numHashes: Int,
                             bands: Int): DataFrame =
    bandRows(signatures(df, idCol, textCol, shingleK, numHashes),
      idCol, numHashes, bands)

  /** (id, sig) one-pass minhash signatures (shared with the incremental
    * index — `streaming.IncrementalDedup` persists exactly these). */
  private[graft] def signatures(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int): DataFrame =
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        minhash_signature(
          TextFunctions.wordShinglesFromTokens(col("__toks"), shingleK),
          numHashes).as("sig"))

  /** (id, band_idx, band_hash) LSH band keys from an (id, sig) frame. */
  private[graft] def bandRows(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        xxhash64(lit(b) +: (0 until r).map(i => col("sig")(b * r + i)): _*)
          .as("band_hash"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol),
        col("bk.band_idx").as("band_idx"), col("bk.band_hash").as("band_hash"))
  }

  /** Audit of the recall loss `maxBucketSize` introduces: the LSH buckets
    * `minhashPairs` DROPS at the given cap, with their sizes. Empty result
    * = the cap lost nothing. Run it (same params) alongside a dedup job
    * whose corpus may contain large homogeneous clusters. */
  def minhashDroppedBuckets(df: DataFrame, idCol: String, textCol: String,
                            shingleK: Int = 3, numHashes: Int = 128,
                            bands: Int = 32,
                            maxBucketSize: Int = 1000): DataFrame =
    minhashBuckets(df, idCol, textCol, shingleK, numHashes, bands)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)

  /** Docs surviving MinHash near-dedup: drop the higher id of each
    * confirmed pair (transitive chains collapse to the smallest id via
    * iteration-free approximation: keep ids that are never an `id_b`). */
  def minhashKept(df: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
                  jaccardThreshold: Double = 0.5,
                  maxBucketSize: Int = 1000): DataFrame = {
    val drop = minhashPairs(df, idCol, textCol, shingleK, numHashes, bands,
      jaccardThreshold, maxBucketSize).select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Transitive near-dup CLUSTERS: MinHash pair graph → connected
    * components. `minhashKept`'s one-hop "never an id_b" rule over-drops
    * on chains (a~b, b~c but a!~c drops both b and c); clustering gets
    * the transitive answer right: one representative (min doc id) per
    * component. Every doc gets a cluster_id; singletons are their own
    * cluster. Cost on top of the pair join: O(log² n) star rounds over
    * the (tiny) pair graph — see [[Clustering.connectedComponents]]. */
  def clusterAssign(df: DataFrame, idCol: String, textCol: String,
                    shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
                    jaccardThreshold: Double = 0.5,
                    maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleK, numHashes, bands,
      jaccardThreshold, maxBucketSize)
    val comps = Clustering.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(comps, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** Docs surviving transitive near-dedup: the min-id representative of
    * each cluster (cluster_id == own id). */
  def clusterKept(df: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
                  jaccardThreshold: Double = 0.5,
                  maxBucketSize: Int = 1000): DataFrame =
    clusterAssign(df, idCol, textCol, shingleK, numHashes, bands,
      jaccardThreshold, maxBucketSize)
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))

  /** Docs surviving transitive near-dedup keeping each cluster's BEST
    * member by `scoreCol` (highest score, ties to the smaller id) — the
    * keep rule real curation runs use: near-dup clusters hold re-crawls
    * and quality variants of one page, and dropping all but the min id
    * throws away the best copy whenever it is not the earliest. One
    * bounded aggregation over the cluster assignment — no windows, no
    * per-cluster driver work. The winner is min(struct(−score, id)), so
    * the SCORE (always numeric) carries the negation and the id stays
    * type-agnostic like the sibling keep rules (string UUIDs work);
    * NaN scores sort greatest under Spark ordering, so −NaN (= NaN)
    * loses to every real score — a NaN-scored doc never wins a cluster
    * that has any finite-scored member. */
  def clusterKeepBest(df: DataFrame, idCol: String, textCol: String,
                      scoreCol: String,
                      shingleK: Int = 3, numHashes: Int = 128,
                      bands: Int = 32, jaccardThreshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    val assign = clusterAssign(df, idCol, textCol, shingleK, numHashes,
      bands, jaccardThreshold, maxBucketSize)
    val best = assign
      .join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
      // min over (-score, id): highest score wins, then SMALLEST id —
      // negation on the numeric score keeps the id type-agnostic
      .groupBy("cluster_id")
      .agg(min(struct((-col(scoreCol)).as("ns"), col(idCol).as("i")))
        .as("w"))
      .select(col("w.i").as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** SimHash near-dup pairs: 64-bit signature banded into maxHamming+1
    * chunks — by pigeonhole, two signatures within hamming distance
    * maxHamming agree on at least one whole chunk, so candidate recall is
    * total. Verify with exact hamming distance.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame =
    hamming64Pairs(df, idCol,
      simhash64(TextFunctions.tokens(col(textCol))), maxHamming,
      maxBucketSize)

  /** Banded hamming near-dup pairs over ANY 64-bit signature expression
    * (simhash over tokens, a perceptual image dHash, …): the signature is
    * banded into maxHamming+1 chunks — by pigeonhole, two signatures
    * within hamming distance maxHamming agree on at least one whole
    * chunk, so candidate recall is total — then candidates verify with
    * exact hamming.
    *
    * `materializeSigs` picks who pays for the verify pass's signatures:
    *   - `false` (cheap sigs — simhash is a few hashes per token):
    *     `sigExpr` re-evaluates on the (tiny) semi-joined candidate set;
    *     nothing is materialized corpus-wide.
    *   - `true` (EXPENSIVE sigs — an image dHash is a full PNG decode +
    *     box filter): the chunk pass's (id, sig) rows persist
    *     (16 bytes/row — a 10¹⁰-doc corpus caches in ~160 GB across the
    *     cluster, far cheaper than decoding every candidate image a
    *     second time) and the verify join reuses them by id. */
  private[graft] def hamming64Pairs(df: DataFrame, idCol: String,
      sigExpr: Column, maxHamming: Int,
      maxBucketSize: Int = 1000,
      materializeSigs: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "maxHamming must be in [0, 15] (chunks need >= 4 bits to be selective)")
    val numChunks = maxHamming + 1
    val width = 64 / numChunks // last chunk absorbs the remainder bits
    val withSig0 = df.select(col(idCol), sigExpr.as("sig"))
    val withSig =
      if (materializeSigs)
        withSig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else withSig0
    val chunks = (0 until numChunks).map { c =>
      val hi = if (c == numChunks - 1) 64 else (c + 1) * width
      val mask = if (hi - c * width == 64) -1L else (1L << (hi - c * width)) - 1
      struct(lit(c).as("chunk_idx"),
        shiftright(col("sig"), c * width).bitwiseAND(lit(mask)).as("chunk"))
    }
    // candidate generation on (id, chunk) rows only, capped buckets via
    // the same single-pass bounded-heap collect as minhashPairs (simhash
    // signatures of homogeneous corpora cluster hard)
    val bucketed = withSig
      .select(col(idCol), explode(array(chunks: _*)).as("ck"))
      .select(col(idCol),
        col("ck.chunk_idx").as("chunk_idx"), col("ck.chunk").as("chunk"))
    val candidates = bucketPairs(bucketed, Seq("chunk_idx", "chunk"),
      idCol, maxBucketSize)
    // verify: signatures for docs appearing in a candidate pair —
    // reused from the persisted chunk pass when materialized, else
    // re-derived on the (tiny) semi-joined candidate set
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val sigs =
      if (materializeSigs) withSig.join(candIds, Seq(idCol), "left_semi")
      else df.join(candIds, Seq(idCol), "left_semi")
        .select(col(idCol), sigExpr.as("sig"))
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Character n-gram Jaccard near-dup pairs. Candidates are anchored on
    * the `anchors` smallest ngram hashes per doc (a deterministic sample —
    * docs sharing any anchor are compared; equivalent to 1-row minhash
    * bands). Verification = exact Jaccard over distinct char ngrams.
    *
    * Candidate generation runs through the same single-pass bounded-heap
    * bucket cap as minhash/simhash: a hot anchor (homogeneous corpus,
    * boilerplate prefix) caps at `maxBucketSize` members instead of going
    * quadratic in one task. Over-cap anchors are dropped whole — audit
    * the recall loss with [[ngramDroppedAnchors]].
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, anchors: Int = 4,
                        threshold: Double = 0.5,
                        maxBucketSize: Int = 1000): DataFrame = {
    val grams = df.select(col(idCol),
      array_distinct(TextFunctions.charNgrams(col(textCol), n)).as("grams"))
    // candidates on (id, anchor) only; ngram arrays join back for verify
    val anchored = ngramAnchors(grams, idCol, anchors)
    val candidates = bucketPairs(anchored, Seq("anchor"), idCol, maxBucketSize)
    candidates
      .join(grams.select(col(idCol).as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(grams.select(col(idCol).as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
        size(array_union(col("g_a"), col("g_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** (id, anchor) rows: the `anchors` smallest distinct-ngram hashes per
    * doc (shared between candidate generation and the dropped-anchor
    * audit so the two always agree). */
  private def ngramAnchors(grams: DataFrame, idCol: String,
      anchors: Int): DataFrame =
    grams.select(col(idCol),
      explode(slice(array_sort(transform(col("grams"), g => xxhash64(g))),
        1, anchors)).as("anchor"))

  /** Audit of the recall loss `maxBucketSize` introduces in
    * [[ngramJaccardPairs]]: the anchor buckets it DROPS at the given cap,
    * with their sizes. Empty result = the cap lost nothing. */
  def ngramDroppedAnchors(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, anchors: Int = 4,
                          maxBucketSize: Int = 1000): DataFrame = {
    val grams = df.select(col(idCol),
      array_distinct(TextFunctions.charNgrams(col(textCol), n)).as("grams"))
    ngramAnchors(grams, idCol, anchors)
      .groupBy("anchor")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
  }

  /** EXACT all-pairs Jaccard similarity self-join via prefix filtering
    * (AllPairs, Bayardo et al. WWW'07; length + positional filters, PPJoin,
    * Xiao et al. WWW'08). Where `minhashPairs` trades recall for speed
    * probabilistically and `ngramJaccardPairs` anchor-samples, this returns
    * EXACTLY the pairs with distinct-token-set Jaccard >= tNum/tDen — no
    * missed pairs, no bucket caps — while never materializing all pairs:
    *
    *   - one document-frequency aggregate orders the vocabulary
    *     rarest-first (ties by token);
    *   - each doc keeps only its PREFIX — the |x| - ceil(t·|x|) + 1 rarest
    *     tokens. Two sets with Jaccard >= t overlap in >= ceil(t·|x|)
    *     tokens, so they MUST share a prefix token: inverted-index
    *     self-join on prefix tokens has total recall;
    *   - candidates prune by the length filter (t·max(|x|,|y|) <= min) and
    *     the positional bound (overlap <= 1 + min(|x|-i, |y|-j) at the
    *     first shared prefix token) before any verification;
    *   - exact verification joins the distinct-token arrays back by id for
    *     surviving candidates only.
    *
    * The threshold is a RATIONAL tNum/tDen so every prefix length and
    * comparison is exact integer arithmetic in both engines — a double
    * `ceil(0.8 * 5)` is 5, not 4, and would silently shrink prefixes.
    *
    * Scale: prefix elements are each doc's RAREST elements, so inverted
    * buckets stay naturally small (an element with global df = f appears
    * in at most f prefixes, and frequent elements almost never make a
    * prefix). Candidate generation runs entirely on 64-bit ELEMENT-CLASS
    * HASHES — df counting, the rarest-first order, prefixes, and the
    * inverted-index join all move 8-byte keys, never element strings
    * (at sf0.1 the string-keyed form spent 10+ s pushing ~30-byte
    * shingles through three wide exchanges; the hashed form is ~4×
    * cheaper). Recall is exact up to 64-bit collisions: in the common
    * case hashing MERGES distinct elements into one class, which never
    * lowers set similarity (shared elements map to shared classes, the
    * union can only shrink), so J_hash >= J_true and a true pair
    * survives the hash-level prefix/length/positional pruning. The one
    * exception is two SHARED elements colliding into a single class
    * (x={a,b,c}, y={a,b,d} with hash(a)==hash(b) gives J_hash = 1/3 <
    * J_true = 1/2), which could prune a true pair — probability
    * ~2^-64 per co-occurring element pair with xxhash64, negligible but
    * nonzero; derive classes from the verified string sets if absolute
    * exactness is required. The exact verification over the REAL string
    * sets discards any collision-induced spurious candidate, so
    * precision is absolute either way. The inherent worst case is an
    * output-quadratic corpus (everything near-identical) — run [[exact]]
    * first, as with the LSH variants.
    *
    * `shingleK > 0` makes the set elements word k-shingles instead of raw
    * tokens (the [[minhashPairs]] set definition) — raw distinct-token
    * sets are topical fingerprints (same-domain docs overlap heavily: at
    * t = 1/2 the fixture yields 74% of ALL pairs), while shingle sets
    * isolate genuine near-dups (25 pairs on the same fixture) AND give
    * the prefix filter selective rare elements to anchor on. */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         tNum: Int = 1, tDen: Int = 2,
                         shingleK: Int = 0): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    // (id, toks): the doc's DISTINCT string elements (Jaccard undefined
    // on empty sets — token-less docs drop out)
    def elemSets(in: DataFrame): DataFrame =
      if (shingleK <= 0)
        in.select(col(idCol),
            array_distinct(TextFunctions.tokens(col(textCol))).as("toks"))
          .filter(size(col("toks")) > 0)
      else
        in.select(col(idCol),
            TextFunctions.tokens(col(textCol)).as("__toks"))
          .filter(size(col("__toks")) > 0) // else [] shingles to [""]
          .select(col(idCol), array_distinct(
            TextFunctions.wordShinglesFromTokens(col("__toks"), shingleK))
            .as("toks"))

    // ---- candidate generation on element-class hashes ----
    // One tokenize+shingle pass total: the element sets are REFERENCED
    // multiple times (df counting, the rarest-first sort, both sides of
    // the exact-verify join), and the fence below is load-bearing TWICE:
    //   - as a PLAN BARRIER: without it CollapseProject substitutes the
    //     tokenizer into the shingle lambda, which re-evaluates the
    //     split per output element — O(tokens²) per row, measured
    //     19 ms/row (~5× the whole slot) when the barrier was dropped;
    //   - as a MATERIALIZATION so the shingle pass runs once per call.
    // r10-r16 used localCheckpoint(eager) here, but checkpoint blocks
    // are PINNED (truncated lineage — Spark can never evict or
    // recompute them), so every call leaked a full copy of the corpus
    // shingle sets into storage until the session GC-thrashed (measured
    // 4.2 s fresh-JVM vs 24-42 s with 120-160 s of GC in a warm bench
    // JVM). [[Fence.persistedOnce]] keeps the barrier but persists
    // EVICTABLE blocks with live lineage and retires prior calls' fences.
    val sets = Fence.persistedOnce(elemSets(df))
    val hashRows = sets
      .select(col(idCol),
        explode(array_distinct(transform(col("toks"), e => xxhash64(e))))
          .as("h"))
    val dfCounts = hashRows.groupBy("h").agg(count(lit(1)).as("h_df"))
    // per-doc class list sorted rarest-first under the global (df, hash)
    // order; collect_list order is layout-dependent but array_sort
    // canonicalizes it (struct compare: h_df then h)
    val sorted = hashRows.join(dfCounts, Seq("h"))
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("h_df").as("d"),
        col("h").as("t")))).as("st"))
      .select(col(idCol),
        transform(col("st"), s => s.getField("t")).as("sorted_h"))
    // prefix length p = n - ceil(t·n) + 1 over the CLASS-set size, all-
    // integer ceil (the theorem applies to class sets: J_hash >= t)
    val n = size(col("sorted_h"))
    val p = n - ((n * tNum + lit(tDen - 1)) / tDen).cast("int") + 1
    val prefixRows = sorted
      .select(col(idCol), n.as("sz"),
        posexplode(slice(col("sorted_h"), lit(1), p)).as(Seq("pos0", "h")))
      .select(col(idCol), col("sz"), (col("pos0") + 1).as("pos"), col("h"))
    val a = prefixRows.select(col(idCol).as("id_a"), col("sz").as("sz_a"),
      col("pos").as("pos_a"), col("h"))
    val b = prefixRows.select(col(idCol).as("id_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"), col("h"))
    val candidates = a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      // length filter: t·max <= min  ⟺  tNum·max <= tDen·min
      .filter(greatest(col("sz_a"), col("sz_b")) * tNum <=
        least(col("sz_a"), col("sz_b")) * tDen)
      // positional filter at this shared class: overlap needed is
      // alpha = ceil(t/(1+t)·(sza+szb)); upper bound is
      // 1 + min(sza-pos_a, szb-pos_b); integer form of ub >= alpha
      .filter((lit(1) + least(col("sz_a") - col("pos_a"),
        col("sz_b") - col("pos_b"))) * (tNum + tDen) >=
        (col("sz_a") + col("sz_b")) * tNum)
      .select("id_a", "id_b").distinct()
    // ---- exact verification over the REAL string sets, built for
    // candidate docs only (the minhashPairs semi-join economy) ----
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val tokSets = sets.join(candIds, Seq(idCol), "left_semi")
    candidates
      .join(tokSets.select(col(idCol).as("id_a"), col("toks").as("t_a")),
        Seq("id_a"))
      .join(tokSets.select(col(idCol).as("id_b"), col("toks").as("t_b")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("t_a"), col("t_b"))))
      .withColumn("uni", size(col("t_a")) + size(col("t_b")) - col("inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("uni").cast("double"))
          .as("jaccard"))
  }

  /** Docs surviving the EXACT prefix-filter near-dedup: drop the higher
    * id of each confirmed pair (the [[minhashKept]] one-hop keep rule,
    * with no recall caveat — every true pair is found). */
  def jaccardPrefixKept(df: DataFrame, idCol: String, textCol: String,
                        tNum: Int = 1, tDen: Int = 2,
                        shingleK: Int = 0): DataFrame = {
    val drop = jaccardPrefixPairs(df, idCol, textCol, tNum, tDen, shingleK)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }
}
