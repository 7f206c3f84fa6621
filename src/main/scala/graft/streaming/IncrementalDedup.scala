package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.GenStore.Side

/** Incremental near-duplicate detection at ingest — the continuous form
  * of `Dedup.minhashPairs`: a persistent MinHash index that every
  * arriving epoch joins against, so a document duplicating ANYTHING ever
  * ingested is caught at arrival, without rescanning the corpus.
  *
  * The index under `cfg.dir` (each side bucket-repartitioned before its
  * partitioned write — ONE file per touched bucket per epoch, the r14
  * link-index layout lesson):
  *
  *   - `bands/epoch=N/` — (doc_id, band_idx, band_hash), partitioned by
  *     `bh_mod = pmod(band_hash, hashBuckets)`: an epoch's candidate
  *     join first collects the ≤ hashBuckets distinct `bh_mod` values
  *     its batch touches (bounded driver data) and reads ONLY those
  *     partitions — at 100 TB the per-epoch read is proportional to the
  *     batch's bucket spread, never the index;
  *   - `sigs/epoch=N/` — (doc_id, sig), partitioned by
  *     `did_mod = pmod(xxhash64(doc_id), hashBuckets)`; verification
  *     joins read only the partitions holding the epoch's matched ids;
  *   - `decisions/epoch=N/` — (doc_id, kept, dup_of, est_jaccard):
  *     the epoch's output AND its replay/commit marker (written LAST,
  *     `_SUCCESS`-fenced) — never compacted, never gc'd;
  *   - `bands-compact/gen=G/`, `sigs-compact/gen=G/`,
  *     `stats-compact/gen=G/` — compaction generations ([[GenStore]]:
  *     size-tiered folds, marker-written-last, grace-windowed [[gc]]).
  *     Folding collapses epochs × buckets index files to buckets;
  *     decisions are untouched and later epochs' candidate joins read
  *     the generation ∪ remainder view bit-identically.
  *
  * Verification is ESTIMATED Jaccard — the fraction of equal signature
  * slots (±~1/√numHashes ≈ 0.09 at 128 hashes) — because the index by
  * design does not keep document text. This is the standard trade for
  * online dedup; the batch operator remains the exact-verify variant.
  *
  * Epoch protocol (at-least-once safe): a replayed epoch sees its
  * job-committed decisions dir and SKIPS — decisions and index contents
  * are idempotent. The index reads inside one epoch are fenced to the
  * COMMITTED view (decisions marker present), which is also the
  * crash-replay fence: a crash after the bands/sigs appends but before
  * the decisions marker leaves epoch N uncommitted, so its own partial
  * index writes are invisible to the replay (without the fence every
  * kept batch doc would band-match its own index entry, est_jaccard =
  * 1.0, and be dropped as a duplicate of itself). Only KEPT documents
  * enter the index, so duplicate chains collapse onto their surviving
  * representative exactly like `minhashKept`.
  */
object IncrementalDedup extends EpochIndex {

  final case class Config(dir: String, shingleK: Int = 3,
      numHashes: Int = 128, bands: Int = 32, estThreshold: Double = 0.8,
      hashBuckets: Int = 64, maxBucketSize: Int = 1000)
  type Cfg = Config

  /** The decisions tree is the epoch marker (object doc). */
  def layout(cfg: Config): GenStore.Layout = GenStore.Layout(cfg.dir, Seq(
      Side("bands", "bh_mod", cfg.hashBuckets,
        Seq("doc_id", "band_idx", "band_hash")),
      Side("sigs", "did_mod", cfg.hashBuckets, Seq("doc_id", "sig"))),
    marker = "decisions")

  /** Process one epoch: decide kept/dropped for every batch doc, append
    * kept docs to the index, write decisions. Idempotent per epochId
    * ([[GenStore.ingestEpoch]]). */
  def ingestBatch(cfg: Config, batch: DataFrame, idCol: String,
      textCol: String, epochId: Long): Unit =
    GenStore.ingestEpoch(batch.sparkSession, layout(cfg), epochId) {
      val spark = batch.sparkSession
      val sigs = Dedup.signatures(batch, idCol, textCol, cfg.shingleK,
        cfg.numHashes)
        .select(col(idCol).as("doc_id"), col("sig"))
        .localCheckpoint(eager = true) // one signature pass per epoch
      val bands = Dedup.bandRows(sigs, "doc_id", cfg.numHashes, cfg.bands)
        .withColumn("bh_mod", pmod(col("band_hash"), lit(cfg.hashBuckets)))

      // prune the index read to the batch's touched hash buckets (bounded:
      // ≤ hashBuckets ints on the driver)
      val touched = GenStore.pruneSet(bands.select("bh_mod"))
      // ONE consistent committed view for both index reads — this is also
      // the crash-replay fence (object doc): this epoch is not committed,
      // so its own half-landed index writes are invisible here
      val v = GenStore.view(spark, cfg.dir, committed(spark, cfg))
      val oldBands = GenStore.sideRead(spark, v, "bands",
          GenStore.sidePresence(spark, v, "bands"),
          Seq("bh_mod", "doc_id", "band_idx", "band_hash"))
        .map(_.filter(col("bh_mod").isin(touched: _*)))

      // candidates: batch × index plus batch × batch (smaller id first)
      val newB = bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("id_new"))
      val crossCand = oldBands.map { ob =>
        newB.join(ob.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("id_old")),
          Seq("band_idx", "band_hash"))
          .filter(col("id_new") =!= col("id_old")) // belt-and-braces vs self
          .select("id_new", "id_old").distinct()
      }
      // intra-batch candidates run through the SAME capped bucket pass as
      // the batch operator — a flooded band bucket inside one epoch is
      // dropped (auditable), never quadratic
      val selfCand = Dedup.bucketPairs(bands, Seq("band_idx", "band_hash"),
          "doc_id", cfg.maxBucketSize)
        .select(col("id_a").as("id_keep"), col("id_b").as("id_drop"))

      // estimated Jaccard = fraction of equal signature slots
      def estimate(cand: DataFrame, aCol: String, bCol: String,
          aSigs: DataFrame, bSigs: DataFrame): DataFrame =
        cand
          .join(aSigs.select(col("doc_id").as(aCol), col("sig").as("sig_a")),
            Seq(aCol))
          .join(bSigs.select(col("doc_id").as(bCol), col("sig").as("sig_b")),
            Seq(bCol))
          .withColumn("est_jaccard",
            aggregate(zip_with(col("sig_a"), col("sig_b"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).cast("double") /
              lit(cfg.numHashes.toDouble))
          .filter(col("est_jaccard") >= cfg.estThreshold)

      // the sigs side is partitioned by pmod(xxhash64(doc_id), N):
      // verification reads only the partitions holding this epoch's
      // matched ids (bounded collect of ≤ hashBuckets mod values), never
      // the whole index — same committed view as the bands read
      val crossHits = crossCand.map { c0 =>
        val c = c0.localCheckpoint(true) // drives the prune AND the join
        val oldMods = GenStore.pruneSet(c
          .select(pmod(xxhash64(col("id_old")), lit(cfg.hashBuckets))))
        val oldSigs = GenStore.sideRead(spark, v, "sigs",
            GenStore.sidePresence(spark, v, "sigs"),
            Seq("did_mod", "doc_id", "sig"))
          .map(_.filter(col("did_mod").isin(oldMods: _*))
            .select("doc_id", "sig"))
          .getOrElse(sigs.limit(0))
        estimate(c, "id_new", "id_old", sigs, oldSigs)
          .select(col("id_new").as("doc_id"), col("id_old").as("dup_of"),
            col("est_jaccard"))
      }
      val selfHits = estimate(selfCand, "id_keep", "id_drop", sigs, sigs)
        .select(col("id_drop").as("doc_id"), col("id_keep").as("dup_of"),
          col("est_jaccard"))

      val hits = crossHits.map(_.union(selfHits)).getOrElse(selfHits)
        .groupBy("doc_id")
        .agg(min(col("dup_of")).as("dup_of"),
          max(col("est_jaccard")).as("est_jaccard"))
        .localCheckpoint(eager = true) // decisions drive two writes below

      val decisions = sigs.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of").isNull.as("kept"),
          col("dup_of"), col("est_jaccard"))

      // only kept docs enter the index (object doc); sigs land before
      // bands, and the decisions — this epoch's marker — last
      val kept = sigs.join(
        decisions.filter(col("kept")).select("doc_id"), Seq("doc_id"))
      (Seq("sigs" -> kept.withColumn("did_mod",
            pmod(xxhash64(col("doc_id")), lit(cfg.hashBuckets))),
          "bands" -> Dedup.bandRows(kept, "doc_id", cfg.numHashes, cfg.bands)
            .withColumn("bh_mod",
              pmod(col("band_hash"), lit(cfg.hashBuckets)))),
        decisions)
    }

  protected def ingest(cfg: Config, batch: DataFrame, cols: Seq[String],
      epochId: Long): Unit =
    ingestBatch(cfg, batch, cols(0), cols(1), epochId)

  /** All decisions so far (doc_id, kept, dup_of, est_jaccard, epoch). */
  def decisions(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.option("basePath", s"${cfg.dir}/decisions")
      .parquet(s"${cfg.dir}/decisions")
}
