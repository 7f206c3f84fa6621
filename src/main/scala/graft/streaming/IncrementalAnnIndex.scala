package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}
import graft.operators.Similarity
import graft.functions.expressions.TopKAggregate.top_k_by
import graft.streaming.GenStore.Side

/** Incremental similarity-search index — the embedding counterpart of
  * `IncrementalDedup`: vectors are indexed at ingest into persistent
  * hyperplane-LSH band buckets, and queries probe the index without ever
  * scanning the vector corpus.
  *
  * Layout under `cfg.dir` (same touched-partition discipline as the
  * dedup index; each side bucket-repartitioned before its partitioned
  * write — ONE file per touched bucket per epoch, the r14 link-index
  * layout lesson):
  *
  *   - `buckets/epoch=N/` — (vec_id, band_idx, band_bits), partitioned
  *     by `bb_mod = pmod(hash(band_idx, band_bits), hashBuckets)`: a
  *     query batch computes, on the driver, the ≤ hashBuckets partition
  *     values its band keys hash into and reads ONLY those partitions;
  *   - `vecs/epoch=N/` — (vec_id, vec), partitioned by
  *     `vm_mod = pmod(xxhash64(vec_id), hashBuckets)` (bounded files per
  *     epoch). The exact-cosine rerank reads the whole side: a query's
  *     candidates are about 1 − (15/16)⁶ ≈ 32% of the corpus at the LSH
  *     defaults, so past a few hundred vectors every `vm_mod` bucket
  *     holds one and a candidate-bucket prune cannot prune (measured:
  *     8 of 8 buckets on every probe of a 1,000-vector corpus) — it only
  *     cost a checkpoint and a job per probe;
  *   - `stats/epoch=N/` — one row (n_vecs), written LAST: the epoch's
  *     replay/commit marker, `_SUCCESS`-fenced (r15 — previously the
  *     vecs dir itself played the marker role, which [[gc]] would have
  *     broken: reclaiming a folded epoch's vec files must not reopen
  *     the epoch for replay);
  *   - `buckets-compact/gen=G/`, `vecs-compact/gen=G/`,
  *     `stats-compact/gen=G/` — compaction generations ([[GenStore]]).
  *
  * Probing unions candidates across the query's bands
  * (OR-amplification) and reranks them EXACTLY with the bounded-heap
  * top-k aggregate — identical quality contract to `Similarity.lshTopK`,
  * but against a continuously growing stored index, read through one
  * consistent committed view (generations ∪ remainder epochs).
  */
object IncrementalAnnIndex extends EpochIndex {

  final case class Config(dir: String, dim: Int, bitsPerBand: Int = 4,
      numBands: Int = 6, hashBuckets: Int = 64)
  type Cfg = Config

  /** An index from before the `stats` tree (object doc) fails loudly in
    * [[committed]]; [[backfillLegacyMarkers]] upgrades it in place. */
  def layout(cfg: Config): GenStore.Layout = GenStore.Layout(cfg.dir, Seq(
      Side("buckets", "bb_mod", cfg.hashBuckets,
        Seq("vec_id", "band_idx", "band_bits")),
      Side("vecs", "vm_mod", cfg.hashBuckets, Seq("vec_id", "vec"))),
    legacySide = Some("vecs"))

  private def bits(cfg: Config) = cfg.bitsPerBand * cfg.numBands

  /** Upgrade a pre-r15 legacy index in place: write the missing
    * `stats/epoch=N` replay/commit marker for every job-committed vecs
    * epoch, n_vecs recounted from the stored vectors. Idempotent. */
  def backfillLegacyMarkers(spark: SparkSession, cfg: Config): Unit =
    GenStore.markedEpochs(spark, s"${cfg.dir}/vecs").foreach { e =>
      val marker = s"${cfg.dir}/stats/epoch=$e"
      if (!GenStore.hasSuccess(spark, marker))
        spark.read.parquet(s"${cfg.dir}/vecs/epoch=$e")
          .agg(count(lit(1)).as("n_vecs"))
          .coalesce(1).write.mode("overwrite").parquet(marker)
    }

  /** The (band_idx, band_bits) keys of a `vec` column, one array per
    * row; the signature is computed once per row as its own attribute. */
  private def withBandKeys(cfg: Config, vecs: DataFrame): DataFrame =
    vecs
      .withColumn("sig",
        Similarity.lshSignature(col("vec"), cfg.dim, bits(cfg)))
      .withColumn("bks", Similarity.bandKeys(col("sig"), cfg.bitsPerBand,
        cfg.numBands))
      .drop("sig")

  /** A band key's bucket — the ingest's partition value and the probe's
    * prune key. */
  private def bbMod(cfg: Config): Column =
    pmod(hash(col("band_idx"), col("band_bits")), lit(cfg.hashBuckets))
      .cast("long")

  private def bucketRows(cfg: Config, vecs: DataFrame): DataFrame =
    withBandKeys(cfg, vecs)
      .select(col("vec_id"), explode(col("bks")).as("bk"))
      .select(col("vec_id"), col("bk.band_idx").as("band_idx"),
        col("bk.band_bits").as("band_bits"))
      .withColumn("bb_mod", bbMod(cfg))

  /** Index one epoch of (idCol, vecCol) rows. Idempotent per epochId
    * ([[GenStore.ingestEpoch]]). */
  def ingestBatch(cfg: Config, batch: DataFrame, idCol: String,
      vecCol: String, epochId: Long): Unit =
    GenStore.ingestEpoch(batch.sparkSession, layout(cfg), epochId) {
      val vecs = batch
        .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
        .localCheckpoint(eager = true)
      (Seq("buckets" -> bucketRows(cfg, vecs),
          "vecs" -> vecs.withColumn("vm_mod",
            pmod(xxhash64(col("vec_id")), lit(cfg.hashBuckets)))),
        vecs.agg(count(lit(1)).as("n_vecs")).coalesce(1))
    }

  protected def ingest(cfg: Config, batch: DataFrame, cols: Seq[String],
      epochId: Long): Unit =
    ingestBatch(cfg, batch, cols(0), cols(1), epochId)

  /** Approximate top-k neighbors of each query row against everything
    * ingested so far, built as ONE plan with no Spark job before the
    * caller's action. The query front is driver-local: each query's
    * vector and band keys are collected once (no job for a local query
    * frame, one collect for a distributed one) and their `bb_mod`
    * buckets computed on the driver with the ingest's own expression.
    * The plan: touched-bucket scan ⋈ broadcast band keys → distinct
    * candidates (query's own id excluded) ⋈ the `vecs` side → exact
    * cosine → bounded-heap top-k, all through ONE consistent committed
    * view. The query batch must fit on the driver. Output (query_id,
    * corpus_id, sim), best first per query. */
  def topK(spark: SparkSession, cfg: Config, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    def empty = {
      import spark.implicits._
      val idType = q.schema("query_id").dataType
      spark.emptyDataset[(Long, Long, Double)]
        .toDF("query_id", "corpus_id", "sim")
        .select(col("query_id").cast(idType), col("corpus_id").cast(idType),
          col("sim"))
    }
    // querying an index with no committed epoch yet: no neighbors, not
    // an AnalysisException from the missing parquet dirs
    val eps = committed(spark, cfg)
    if (eps.isEmpty) return empty
    val front = withBandKeys(cfg, q.withColumnRenamed("qv", "vec")).collect()
    val qLocal = spark.createDataFrame(
      front.map(r => Row(r.get(0), r.get(1))).toSeq.asJava, q.schema)
    val qBands = spark.createDataFrame(
        front.toSeq.flatMap(r => r.getSeq[Row](2).map(b =>
          Row(r.get(0), b.getInt(0), b.getLong(1)))).asJava,
        StructType(Seq(q.schema("query_id"),
          StructField("band_idx", IntegerType, false),
          StructField("band_bits", LongType, false))))
    val touched = qBands.select(bbMod(cfg)).collect().map(_.getLong(0))
      .distinct.sorted

    val v = GenStore.view(spark, cfg.dir, eps)
    val idx = GenStore.sideRead(spark, v, "buckets",
        GenStore.sidePresence(spark, v, "buckets"),
        Seq("bb_mod", "vec_id", "band_idx", "band_bits")) match {
      case None => return empty // committed epochs, all vector-less
      case Some(df) => df.filter(col("bb_mod").isin(touched: _*))
    }
    val vecs = GenStore.sideRead(spark, v, "vecs",
        GenStore.sidePresence(spark, v, "vecs"),
        Seq("vec_id", "vec")) match {
      case None => return empty
      case Some(df) => df.select(col("vec_id").as("corpus_id"),
        col("vec").as("cv"))
    }
    val candidates = idx
      .select(col("band_idx"), col("band_bits"), col("vec_id").as("corpus_id"))
      .join(broadcast(qBands), Seq("band_idx", "band_bits"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id").distinct()
    val scored = candidates
      .join(vecs, Seq("corpus_id"))
      .join(broadcast(qLocal), Seq("query_id"))
      .withColumn("sim", Similarity.cosine(col("cv"), col("qv"),
        Similarity.l2norm(col("cv")), Similarity.l2norm(col("qv"))))
    scored.groupBy(col("query_id"))
      .agg(top_k_by(col("sim"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"),
        col("t.sim").as("sim"))
  }
}
