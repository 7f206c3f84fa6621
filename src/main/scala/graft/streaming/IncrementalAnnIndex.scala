package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  *     query batch collects the ≤ hashBuckets partition values its band
  *     keys hash into and reads ONLY those partitions;
  *   - `vecs/epoch=N/` — (vec_id, vec), partitioned by
  *     `vm_mod = pmod(xxhash64(vec_id), hashBuckets)`: the exact-cosine
  *     rerank joins back only the partitions holding candidate ids;
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
object IncrementalAnnIndex {

  final case class Config(dir: String, dim: Int, bitsPerBand: Int = 4,
      numBands: Int = 6, hashBuckets: Int = 64)

  private def sides(cfg: Config) = Seq(
    Side("buckets", "bb_mod", cfg.hashBuckets,
      Seq("vec_id", "band_idx", "band_bits")),
    Side("vecs", "vm_mod", cfg.hashBuckets, Seq("vec_id", "vec")))

  private def bits(cfg: Config) = cfg.bitsPerBand * cfg.numBands

  /** Committed epochs: stats marker job-committed. Fails loudly on the
    * pre-r15 LEGACY layout (committed vecs epochs but no `stats/` tree
    * at all — the marker used to live on the vecs dir itself): treating
    * it as "no committed epochs" would silently return zero neighbors
    * from a populated index AND re-land every epoch on replay (r15
    * ADVICE). A PRESENT stats tree with a missing epoch is not legacy —
    * it is the ordinary crashed-before-marker state the replay retry
    * repairs. [[backfillLegacyMarkers]] upgrades a legacy index in
    * place. */
  private def committed(spark: SparkSession, cfg: Config): Seq[Long] = {
    val eps = GenStore.markedEpochs(spark, s"${cfg.dir}/stats")
    if (eps.isEmpty &&
        !GenStore.fs(spark, cfg.dir)
          .exists(new org.apache.hadoop.fs.Path(s"${cfg.dir}/stats"))) {
      val legacy = GenStore.markedEpochs(spark, s"${cfg.dir}/vecs")
      if (legacy.nonEmpty)
        throw new IllegalStateException(
          s"ann index at ${cfg.dir} uses the pre-stats legacy layout " +
            s"(job-committed vecs epochs ${legacy.mkString(",")} but no " +
            "stats marker tree) — run backfillLegacyMarkers to upgrade. " +
            "An ingest of the index's FIRST-ever epoch that crashed " +
            "between the vecs write and the stats marker is on-disk " +
            "indistinguishable from this state; retrying that epoch's " +
            "ingest (the ordinary replay) repairs it too. Refusing to " +
            "serve an empty result from a populated index either way")
    }
    eps
  }

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

  private def bucketRows(cfg: Config, vecs: DataFrame): DataFrame =
    vecs
      .withColumn("sig",
        Similarity.lshSignature(col("vec"), cfg.dim, bits(cfg)))
      .select(col("vec_id"),
        explode(Similarity.bandKeys(col("sig"), cfg.bitsPerBand,
          cfg.numBands)).as("bk"))
      .select(col("vec_id"), col("bk.band_idx").as("band_idx"),
        col("bk.band_bits").as("band_bits"))
      .withColumn("bb_mod",
        pmod(hash(col("band_idx"), col("band_bits")), lit(cfg.hashBuckets))
          .cast("long"))

  /** Index one epoch of (idCol, vecCol) rows. Idempotent per epochId:
    * a job-committed `stats/epoch=N` means the epoch fully landed. */
  def ingestBatch(cfg: Config, batch: DataFrame, idCol: String,
      vecCol: String, epochId: Long): Unit = {
    val spark = batch.sparkSession
    val marker = s"${cfg.dir}/stats/epoch=$epochId"
    if (GenStore.hasSuccess(spark, marker)) return
    val vecs = batch
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .localCheckpoint(eager = true)
    bucketRows(cfg, vecs)
      .repartition(cfg.hashBuckets, col("bb_mod"))
      .write.mode("overwrite").partitionBy("bb_mod")
      .parquet(s"${cfg.dir}/buckets/epoch=$epochId")
    vecs.withColumn("vm_mod",
        pmod(xxhash64(col("vec_id")), lit(cfg.hashBuckets)))
      .repartition(cfg.hashBuckets, col("vm_mod"))
      .write.mode("overwrite").partitionBy("vm_mod")
      .parquet(s"${cfg.dir}/vecs/epoch=$epochId")
    // marker LAST: a crash between the data writes and here leaves the
    // epoch uncommitted; the replay's overwrites replace it whole
    vecs.agg(count(lit(1)).as("n_vecs"))
      .coalesce(1).write.mode("overwrite").parquet(marker)
  }

  /** foreachBatch hook for a vector stream. */
  def sink(cfg: Config, idCol: String, vecCol: String)
      : (DataFrame, Long) => Unit =
    (batch, epochId) => ingestBatch(cfg, batch, idCol, vecCol, epochId)

  /** Registry sink (`ann-index`): config-driven ingest-time vector
    * indexing (banded-LSH buckets + vectors, epoch-idempotent). */
  final case class AnnIndexSink(cfg: Config, idCol: String,
      vecCol: String,
      maintain: Option[Maintenance.Policy] = None)
      extends graft.sources.Connectors.EpochSink {
    def writeEpoch(df: DataFrame, epochId: Long): Unit = {
      ingestBatch(cfg, df, idCol, vecCol, epochId)
      maintain.foreach(p => maintainIfDue(df.sparkSession, cfg, p))
    }
  }

  /** Policy-gated maintenance pass (tiered compact + gc) — skip loudly
    * on a held claim ([[Maintenance.maybeRun]]). */
  def maintainIfDue(spark: SparkSession, cfg: Config,
      pol: Maintenance.Policy): Boolean =
    Maintenance.maybeRun(spark, cfg.dir, Seq("buckets", "vecs"),
        committed(spark, cfg), pol) {
      compact(spark, cfg, pol.sizeRatio)
      gc(spark, cfg, pol.graceMs)
    }

  /** Approximate top-k neighbors of each query row against everything
    * ingested so far: probe → pruned bucket read → pruned vector read →
    * exact cosine rerank (query's own id excluded), all through ONE
    * consistent committed view. Output (query_id, corpus_id, sim), best
    * first per query. */
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
    val v = GenStore.view(spark, cfg.dir, eps)
    val qBuckets = bucketRows(cfg,
        q.select(col("query_id").as("vec_id"), col("qv").as("vec")))
      .select(col("vec_id").as("query_id"), col("band_idx"),
        col("band_bits"), col("bb_mod"))
      .localCheckpoint(eager = true) // drives the prune AND the join
    val touched = GenStore.pruneSet(qBuckets.select("bb_mod"))
    val idx = GenStore.sideRead(spark, v, "buckets",
        GenStore.sidePresence(spark, v, "buckets"),
        Seq("bb_mod", "vec_id", "band_idx", "band_bits")) match {
      case None => return empty // committed epochs, all vector-less
      case Some(df) => df.filter(col("bb_mod").isin(touched: _*))
    }
    val candidates = qBuckets
      .join(idx.select(col("band_idx"), col("band_bits"),
        col("vec_id").as("corpus_id")), Seq("band_idx", "band_bits"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id").distinct()
      .localCheckpoint(eager = true)
    val candMods = GenStore.pruneSet(candidates
      .select(pmod(xxhash64(col("corpus_id")), lit(cfg.hashBuckets))))
    val vecs = GenStore.sideRead(spark, v, "vecs",
        GenStore.sidePresence(spark, v, "vecs"),
        Seq("vm_mod", "vec_id", "vec")) match {
      case None => return empty
      case Some(df) => df.filter(col("vm_mod").isin(candMods: _*))
        .select(col("vec_id").as("corpus_id"), col("vec").as("cv"))
    }
    val scored = candidates
      .join(vecs, Seq("corpus_id"))
      .join(q, Seq("query_id"))
      .withColumn("sim", Similarity.cosine(col("cv"), col("qv"),
        Similarity.l2norm(col("cv")), Similarity.l2norm(col("qv"))))
    scored.groupBy(col("query_id"))
      .agg(top_k_by(col("sim"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.corpus_id").as("corpus_id"),
        col("t.sim").as("sim"))
  }

  /** Fold committed epochs' buckets+vecs (and size-ratio-admissible
    * generations) into a new generation — [[GenStore.compact]]; the
    * stats markers (replay fence) are never folded. */
  def compact(spark: SparkSession, cfg: Config,
      sizeRatio: Double = Double.PositiveInfinity)
      : Option[GenStore.CompactStats] =
    GenStore.compact(spark, cfg.dir, sides(cfg),
      committed(spark, cfg), sizeRatio)

  /** Reclaim superseded buckets/vecs files, grace-windowed
    * ([[GenStore.gc]]); epoch dirs and stats markers remain. */
  def gc(spark: SparkSession, cfg: Config,
      graceMs: Long = 3600000L): Unit =
    GenStore.gc(spark, cfg.dir, Seq("buckets", "vecs"), graceMs)
}
