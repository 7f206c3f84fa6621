package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.TextFunctions
import graft.functions.expressions.TopKAggregate.top_k_by

/** Distributed BM25 keyword search (Robertson & Zaragoza 2009) over a
  * document corpus — the retrieval primitive a training-data pipeline
  * uses for corpus exploration, targeted decontamination sweeps, and
  * seed-query expansion.
  *
  * Scale shape: the postings list (term → (doc, tf)) is ONE tokenize +
  * partial-aggregated groupBy over the corpus, hash-partitioned by
  * term; document frequencies ride the same aggregate; query terms are
  * a broadcast side, so scoring touches only the postings of queried
  * terms (never a corpus scan per query); the per-query top-k is the
  * bounded-heap aggregate (map-side combined, no window funnel). All
  * corpus-sized shuffles are keyed by term — hot terms pre-combine
  * map-side like any aggregation key.
  *
  * Scoring detail: idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the
  * Lucene-style always-positive form); per-term contributions are
  * computed in doubles, then each (query, doc) score is a fixed-order
  * fold — with the per-term products floor-scaled to an exact 1e-9
  * integer grid before summing, so partial-aggregation ORDER cannot
  * change a score (the embed_label_stats trick): results are
  * bit-identical under any partition layout, which is what lets the
  * query surface pin its oracle.
  *
  * Corpus stats (N, Σdl) are LAZY broadcast 1-row sides, bound by
  * `spark.sql.broadcastTimeout` (default 300 s). With AQE on (every
  * shipped session) the corpus pass runs as a shuffle stage first and
  * the timeout covers only the 1-row collect; with AQE off it covers
  * the whole tokenize pass — raise it for corpora that outlast it.
  */
object TextSearch {

  /** Inverted postings with BM25 statistics: (term, doc, tf, dl) plus
    * the corpus-level (df) per term. One corpus pass. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).as("dl"),
        explode(col("__t")).as("term"))
      .filter(col("term") =!= "")
    toks.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-term document frequency over a postings table — the one df
    * sub-plan every scorer shares (BM25 idf, tf-idf smooth idf). */
  private def docFreq(post: DataFrame): DataFrame =
    post.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))

  /** BM25 top-k: `queries` is (query_id, query_text); scores every doc
    * containing at least one query term. Returns (query_id, rank,
    * doc_id, score_e9) where score_e9 is the exact integer-grid score
    * (sum of per-term floor(contribution × 1e9)) — integer output keeps
    * the surface pinnable and cross-engine comparable. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(docs, idCol, textCol)

    // corpus stats (N, Σdl) as a LAZY broadcast 1-row side instead of an
    // eager .collect(): the collected form ran a full tokenize pass as
    // its own driver-synced job on EVERY call — in the hybrid
    // composites that serialized 3-4 corpus passes per probe (guide
    // §1.2/§5: no driver actions in query paths). n/avgdl reach the
    // scoring expressions through the same IEEE double ops
    // (cast(count), cast(sum)/cast(count)) the driver computed, so
    // scores are bit-identical to the collected form.
    val stats = docs.select(col(idCol),
      size(TextFunctions.tokens(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sumdl"))

    val joined = broadcast(
      queryTerms(queries, queryIdCol, queryTextCol).join(docFreq(post), "term"))
      .join(post, Seq("term"))
      .crossJoin(broadcast(stats))
    scoreBm25Joined(joined, col("__n").cast("double"),
      col("__sumdl").cast("double") / col("__n").cast("double"), k1, b, k)
  }

  /** Deduplicated (query_id, term) rows — BM25's bag-of-words form
    * dedups web-style short queries, and dedup keeps scoring
    * deterministic. */
  private[graft] def queryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col(queryTextCol))))
        .as("term"))
      .filter(col("term") =!= "")

  /** [[queryTerms]] as a driver-local frame (a `LocalRelation`): the
    * query side's (query_id, array_distinct(tokens)) rows are collected
    * ONCE — no job when `queries` is itself local (the projection folds
    * into its `LocalRelation`), one collect job when it is distributed —
    * and exploded on the driver, so every use downstream (bucket ids,
    * the join) is a local relation too. The query batch must fit on the
    * driver. */
  private[graft] def localQueryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame = {
    val toks = queries.select(col(queryIdCol).as("query_id"),
      array_distinct(TextFunctions.tokens(col(queryTextCol))).as("terms"))
    val rows = toks.collect().toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else r.getSeq[String](1).filter(t => t != null && t.nonEmpty)
        .map(t => Row(r.get(0), t))
    }
    queries.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      toks.schema("query_id"), StructField("term", StringType, false))))
  }

  /** The incremental index's scoring tail, over the touched postings and
    * a driver-local [[localQueryTerms]] frame, in ONE shuffle: the
    * postings join the broadcast query terms, are hash-partitioned on
    * `query_id`, and each (query_id, term) window counts its distinct
    * documents as df — complete for any queried term, because a term's
    * postings all sit in its own bucket of the term-partitioned index —
    * before the [[scoreBm25Joined]] expressions, whose aggregates need no
    * further exchange. Same rows as [[bm25TopK]]'s `docFreq` join; the
    * trade-off is one task per query in the window and the aggregates.
    * N/avgdl are scalars here (the epoch stats markers); the batch path
    * binds them as columns. */
  private[graft] def scoreBm25(post: DataFrame, qTerms: DataFrame,
      n: Long, avgdl: Double, k1: Double, b: Double, k: Int): DataFrame =
    scoreBm25Joined(
      post.join(broadcast(qTerms), Seq("term"))
        .repartition(col("query_id"))
        .withColumn("df", size(collect_set(col("doc_id"))
          .over(Window.partitionBy("query_id", "term")))),
      lit(n.toDouble), lit(avgdl), k1, b, k)

  /** BM25 scoring over a joined (query_id, doc_id, tf, dl, df, …) frame
    * with the corpus stats bound as COLUMNS — literals on the
    * incremental path, a broadcast 1-row aggregate on the batch path;
    * the expressions are shared so the two paths cannot drift. */
  private def scoreBm25Joined(joined: DataFrame, nD: Column, avgdlD: Column,
      k1: Double, b: Double, k: Int): DataFrame = {
    // score contributions: only postings of queried terms are touched.
    // floor-scale each contribution to the 1e-9 integer grid so the
    // per-(query, doc) sum is order-independent (exact BIGINT adds).
    val idf = log(
      (nD - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf").cast("double") * (lit(k1) + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdlD))
    val contrib = joined
      .select(col("query_id"), col("doc_id"),
        floor(idf * tfNorm * lit(1e9)).cast("bigint").as("c9"))

    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("c9")).as("score_e9"))
    // the heap's score type is double; grid scores ≲ 1e11 sit far below
    // 2^53, so the round-trip through double is exact
    scored.groupBy("query_id")
      .agg(top_k_by(col("score_e9").cast("double"), col("doc_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.corpus_id").as("doc_id"),
        col("t.sim").cast("bigint").as("score_e9"))
  }

  /** Convenience: literal query strings → the DataFrame `bm25TopK`
    * wants (query_id = position). */
  def queriesDf(spark: SparkSession, qs: Seq[String]): DataFrame = {
    import spark.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("query_id", "query_text")
  }

  /** Hashed TF-IDF document vectors (the feature-hashing trick,
    * Weinberger et al. 2009): every document becomes a dense
    * `dim`-bucket `array<float>` with NO trained model — terms hash to
    * buckets, weights are tf × smooth-idf. The bridge from raw text
    * into the engine's ANN stack ([[Similarity]], [[ProductQuantizer]])
    * when no embedding model has run: doc-to-doc similarity, clustering,
    * near-dup at the TOPIC level rather than the string level.
    *
    * Same scale/determinism shape as [[bm25TopK]]: one postings pass,
    * idf floored to an exact 1e-9 integer grid so (doc, bucket) weights
    * are order-independent BIGINT sums (layout-independent vectors —
    * pinnable downstream), assembled per doc from a map (one groupBy,
    * O(dim + nnz) per doc, no per-bucket shuffle). */
  def hashedTfIdf(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val post = postings(docs, idCol, textCol)
    // corpus size as a LAZY broadcast 1-row side (was an eager .count()
    // per call — a separate driver-synced job); cast(count) follows the
    // same long→double conversion the literal did
    val nDf = docs.select(col(idCol)).agg(count(lit(1)).as("__n"))
    val df = docFreq(post)
    // smooth idf on the integer grid: floor((ln((N+1)/(df+1)) + 1)·1e9)
    val idfE9 = floor((log((col("__n").cast("double") + 1.0) /
      (col("df").cast("double") + 1.0)) + lit(1.0)) * lit(1e9))
      .cast("bigint")
    val weights = post.join(df, Seq("term"))
      .crossJoin(broadcast(nDf))
      .groupBy(col("doc_id"),
        pmod(hash(col("term")), lit(dim)).as("bucket"))
      .agg(sum(col("tf") * idfE9).as("w9"))
    val mapped = weights.groupBy("doc_id")
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("w9")))).as("__m"))
    // left join from the full id set: a term-less document (empty text)
    // still gets its all-zero vector (element_at on a null map → null
    // → coalesce 0)
    docs.select(col(idCol).as("doc_id")).join(mapped, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (coalesce(element_at(col("__m"), i), lit(0L)).cast("double") /
            lit(1e9)).cast("float")).as("tfidf"))
  }

  /** [[hashedTfIdf]] memoized per named corpus and persisted: the
    * feature table is an ingest-time artifact (like PQ codes — built
    * once, probed many), not per-query work. Values are identical to
    * the uncached form — the grid weights are layout-independent by
    * construction. */
  def hashedTfIdfCached(docs: DataFrame, idCol: String, textCol: String,
      dim: Int, cacheKey: String): DataFrame =
    Memo.shared.once(Some(cacheKey), s"tfidf/$dim") {
      hashedTfIdf(docs, idCol, textCol, dim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Hybrid lexical+semantic retrieval fused with Reciprocal Rank
    * Fusion (Cormack, Clarke & Büttcher, SIGIR 2009): per query, the
    * top-`perArm` BM25 ranking and the top-`perArm` hashed-tf-idf
    * dot-product ranking fuse as
    * `rrf(d) = Σ_arms floor(1e9 / (rrfK + rank_arm(d)))` over the arms
    * where `d` appears (a missing arm contributes nothing) — the
    * standard trained-model-free way to combine keyword and vector
    * retrieval for corpus exploration and decontamination sweeps.
    *
    * Determinism: BM25 contributions are already on the 1e-9 integer
    * grid; the semantic arm puts smooth-idf on a 1e-3 grid so BIGINT
    * weight products and their ≤`dim`-bucket sums stay far below 2^53
    * (exact through the heap's double), and the fused score is integer
    * arithmetic over arm ranks — every stage is layout-independent and
    * ties break (score desc, id asc), so the surface pins.
    *
    * Scale shape: the lexical arm touches only queried-term postings
    * (broadcast query side); the semantic arm is a sparse integer dot
    * product by bucket equi-join against a BROADCAST query-vector side
    * (never a cross join), partial-aggregated on (query, doc); arm
    * top-`perArm` and the fused top-`k` are bounded-heap aggregates —
    * no window funnels. Brute-force semantic scoring touches every doc
    * sharing a bucket with the query (≈ the corpus at small `dim`);
    * the 100 TB path swaps that arm for the IVF-routed ANN probe over
    * the same vectors — the fusion join is unchanged. */
  def hybridRrfTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, dim: Int = 64, perArm: Int = 20, rrfK: Int = 60): DataFrame =
    rrfFuse(Seq(
      bm25TopK(docs, idCol, textCol, queries, queryIdCol, queryTextCol,
        perArm),
      tfIdfDotTopK(docs, idCol, textCol, queries, queryIdCol,
        queryTextCol, perArm, dim)), k, rrfK)

  /** The semantic retrieval arm on its own: per query, top-k documents
    * by hashed-tf-idf integer dot product. Query vectors are built with
    * the CORPUS idf (a term unseen in the corpus — df = 0 — keeps its
    * smooth-idf weight instead of dropping); smooth-idf sits on a 1e-3
    * grid so BIGINT weight products and their ≤`dim`-bucket sums stay
    * far below 2^53 (exact through the heap's double). Scoring is a
    * sparse bucket equi-join against a BROADCAST query-vector side —
    * never a cross join — partial-aggregated on (query, doc), with the
    * bounded-heap top-k. Returns (query_id, rank, doc_id, dot_e3). */
  def tfIdfDotTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, dim: Int = 64): DataFrame = {
    val post = postings(docs, idCol, textCol)
    // corpus size LAZY (was an eager .count() per call); the identical
    // 1-row subtree feeds both weight legs, so the broadcast exchange
    // is planned once and reused
    val nDf = docs.select(col(idCol)).agg(count(lit(1)).as("__n"))
    val dfT = docFreq(post)
    def idfE3(dfCol: Column): Column =
      floor((log((col("__n").cast("double") + 1.0) /
        (dfCol.cast("double") + 1.0)) + lit(1.0)) * lit(1e3))
        .cast("bigint")
    val docW = post.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDf))
      .groupBy(col("doc_id"), pmod(hash(col("term")), lit(dim)).as("bucket"))
      .agg(sum(col("tf") * idfE3(col("df"))).as("w3"))
    val qW = postings(queries, queryIdCol, queryTextCol)
      .withColumnRenamed("doc_id", "query_id")
      .join(dfT.withColumnRenamed("df", "cdf"), Seq("term"), "left")
      .crossJoin(broadcast(nDf))
      .groupBy(col("query_id"), pmod(hash(col("term")), lit(dim)).as("bucket"))
      .agg(sum(col("tf") * idfE3(coalesce(col("cdf"), lit(0L)))).as("q3"))

    docW.join(broadcast(qW), Seq("bucket"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w3") * col("q3")).as("dot3"))
      .filter(col("dot3") > 0)
      .groupBy("query_id")
      .agg(top_k_by(col("dot3").cast("double"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.corpus_id").as("doc_id"),
        col("t.sim").cast("bigint").as("dot_e3"))
  }

  /** A query-independent document PRIOR as an RRF arm: the global top-k
    * of a (id, score) table — e.g. cross-site authority (PageRank /
    * domain rank over the link graph) fused beside the lexical and
    * semantic arms via [[rrfFuse]], the standard production retrieval
    * shape once a link index exists. The prior ranking is the same for
    * every query, so it is computed ONCE (bounded-heap global top-k,
    * map-side combined — one k-row reduce, never a sort of the corpus)
    * and replicated across query ids with a broadcast constant-key join
    * (both sides bounded: |queries| × k rows — no corpus-sized cross).
    * Ties (score desc, id asc) — deterministic, pinnable. Integer
    * scores ≤ ~1e15 round-trip the heap's double exactly. Returns
    * (query_id, doc_id, rank). */
  def priorArm(scores: DataFrame, idCol: String, scoreCol: String,
      queries: DataFrame, queryIdCol: String, k: Int): DataFrame = {
    val top = scores
      .groupBy()
      .agg(top_k_by(col(scoreCol).cast("double"), col(idCol), k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).as("rank"),
        col("t.corpus_id").as("doc_id"), lit(1).as("__k"))
    queries.select(col(queryIdCol).as("query_id")).distinct()
      .withColumn("__k", lit(1))
      .join(broadcast(top), Seq("__k"))
      .select("query_id", "doc_id", "rank")
  }

  /** Reciprocal Rank Fusion over any number of (query_id, doc_id, rank)
    * rankings — the fusion tail of [[hybridRrfTopK]], factored so
    * ingest-time indexes compose the same way: the incremental BM25
    * probe ([[graft.streaming.IncrementalSearchIndex]]) or an ANN-index
    * probe re-shaped to (query_id, doc_id, rank) fuses identically to
    * the batch arms. `rrf(d) = Σ_arms floor(1e9/(rrfK + rank_arm(d)))`
    * over the arms where d appears; integer arithmetic, bounded-heap
    * top-k, ties (score desc, id asc) — layout-independent whenever the
    * input rankings are. */
  def rrfFuse(arms: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one ranking")
    val scored = arms.map(_.select(col("query_id"), col("doc_id"),
      floor(lit(1e9) / (lit(rrfK.toDouble) + col("rank")))
        .cast("bigint").as("arm_e9")))
      .reduce(_ unionAll _)
    scored.groupBy("query_id", "doc_id")
      .agg(sum(col("arm_e9")).as("rrf_e9"))
      .groupBy("query_id")
      .agg(top_k_by(col("rrf_e9").cast("double"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.corpus_id").as("doc_id"),
        col("t.sim").cast("bigint").as("rrf_e9"))
  }
}
