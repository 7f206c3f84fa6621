package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** Incremental DSIR quality gate — the data-SELECTION member of the
  * ingest-time index family ([[IncrementalSearchIndex]] /
  * [[IncrementalAnnIndex]] / [[IncrementalDedup]]): the raw-corpus
  * hashed unigram LM accumulates epoch by epoch as documents arrive,
  * and any document set can be importance-scored against the frozen
  * TARGET LM + the raw LM as ingested so far — data selection as a
  * continuously-maintained artifact instead of a batch sweep.
  *
  * Layout under `cfg.dir` (r16: the full [[GenStore]] maintenance
  * protocol — previously the gate sat outside the family and grew one
  * tiny counts file per epoch, unbounded in ingest history):
  *
  *   - `target/` — the target corpus's (bucket, cnt) rows, written ONCE
  *     by [[initTarget]] (the reference distribution is fixed by
  *     definition; re-init overwrites).
  *   - `counts/epoch=N/b_mod=0/` — the epoch's raw (bucket, cnt) rows:
  *     ≤ dim rows per epoch, the cheapest state in the index family.
  *     The bucket column is degenerate (one bucket — the whole side is
  *     dim-bounded, there is nothing to prune), carried so the side
  *     folds through the shared [[GenStore.compact]] machinery.
  *   - `stats/epoch=N/` — one row, written LAST: the epoch's
  *     replay/commit marker, `_SUCCESS`-fenced like the rest of the
  *     family (half-written epochs neither skip their retry nor leak
  *     into scoring).
  *   - `counts-compact/gen=G/`, `stats-compact/gen=G/` — compaction
  *     generations + markers ([[GenStore]]: size-tiered folds,
  *     single-maintainer claim, marker-written-last, grace-windowed
  *     gc). A fold unions the per-epoch rows into ONE file per
  *     generation — the accumulated raw LM is a bucket-wise integer
  *     SUM, so summing the unioned rows equals summing the epochs.
  *
  * The accumulated raw LM is the BUCKET-WISE SUM over the committed
  * view (generations ∪ remainder epochs) — exact integer addition, so
  * after ingesting epochs 1..E the grid ratio table equals what batch
  * [[Dsir]] computes on the union corpus, and [[score]] returns
  * BIT-IDENTICAL weights to the batch operator regardless of when (or
  * whether) the index was compacted (asserted in the spec). At 100 TB
  * the state read per scoring call is ≤ (gens + remainder)·dim integer
  * rows — independent of corpus size — and compaction keeps the FILE
  * count O(generations) instead of O(epochs). */
object IncrementalDsirGate extends EpochIndex {

  final case class Config(dir: String, dim: Int = 256, alpha: Double = 1.0)
  type Cfg = Config

  /** A gate from before the `stats` tree (the counts write's own
    * `_SUCCESS` used to play the marker role) fails loudly in
    * [[committed]] — read as empty it would score every document zero;
    * [[backfillLegacyMarkers]] upgrades it in place. */
  def layout(cfg: Config): GenStore.Layout = GenStore.Layout(cfg.dir,
    Seq(GenStore.Side("counts", "b_mod", 1, Seq("bucket", "cnt"))),
    legacySide = Some("counts"))

  /** Freeze the target LM (bucket counts) — call once at gate setup. */
  def initTarget(cfg: Config, target: DataFrame, idCol: String,
      textCol: String): Unit =
    Dsir.hashedCounts(target, idCol, textCol, cfg.dim)
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"${cfg.dir}/target")

  /** Fold one epoch's documents into the raw LM. Idempotent per
    * epochId ([[GenStore.ingestEpoch]]): the marker is one row. */
  def ingestBatch(cfg: Config, batch: DataFrame, idCol: String,
      textCol: String, epochId: Long): Unit =
    GenStore.ingestEpoch(batch.sparkSession, layout(cfg), epochId) {
      (Seq("counts" -> Dsir.hashedCounts(batch, idCol, textCol, cfg.dim)
          .groupBy("bucket").agg(sum("cnt").as("cnt"))
          .withColumn("b_mod", lit(0L))),
        batch.sparkSession.range(1).select(lit(epochId).as("epoch_id"))
          .coalesce(1))
    }

  protected def ingest(cfg: Config, batch: DataFrame, cols: Seq[String],
      epochId: Long): Unit =
    ingestBatch(cfg, batch, cols(0), cols(1), epochId)

  /** Upgrade a pre-r16 legacy gate in place: per job-committed flat
    * counts epoch, rewrite the rows under the bucketed layout and write
    * the missing stats marker LAST. Idempotent, including across a
    * crash INSIDE the per-epoch rewrite (r16 ADVICE): the rewrite's
    * delete-then-rename window can leave an epoch's only copy under
    * `counts-upgrade/`, so a re-run first restores any such stranded
    * epoch before the loop — without that, the loop would skip the
    * epoch (no counts dir, no marker) and the final cleanup would
    * delete the surviving data, silently diverging from batch Dsir. */
  def backfillLegacyMarkers(spark: SparkSession, cfg: Config): Unit = {
    val f = GenStore.fs(spark, cfg.dir)
    val upBase = new Path(s"${cfg.dir}/counts-upgrade")
    if (f.exists(upBase))
      f.listStatus(upBase).filter(_.getPath.getName.startsWith("epoch="))
        .foreach { st =>
          val dest = new Path(s"${cfg.dir}/counts/${st.getPath.getName}")
          if (!f.exists(dest)) {
            f.mkdirs(dest.getParent)
            require(f.rename(st.getPath, dest),
              s"legacy-upgrade recovery rename failed: ${st.getPath} -> $dest")
          }
        }
    GenStore.markedEpochs(spark, s"${cfg.dir}/counts").foreach { e =>
      val marker = s"${cfg.dir}/stats/epoch=$e"
      if (!GenStore.hasSuccess(spark, marker)) {
        val dir = s"${cfg.dir}/counts/epoch=$e"
        val rows = spark.read.parquet(dir)
        if (!rows.columns.contains("b_mod")) {
          val tmp = s"${cfg.dir}/counts-upgrade/epoch=$e"
          rows.select(col("bucket"), col("cnt"))
            .withColumn("b_mod", lit(0L)).repartition(1)
            .write.mode("overwrite").partitionBy("b_mod").parquet(tmp)
          f.delete(new Path(dir), true)
          f.rename(new Path(tmp), new Path(dir))
        }
        spark.range(1).select(lit(e).as("epoch_id"))
          .coalesce(1).write.mode("overwrite").parquet(marker)
      }
    }
    f.delete(new Path(s"${cfg.dir}/counts-upgrade"), true)
  }

  /** The committed view's raw-LM totals — generations ∪ remainder
    * epochs, each read as EXPLICIT committed paths (a half-written
    * uncommitted epoch's files are never listed, let alone read). */
  private def rawTotals(spark: SparkSession, cfg: Config): Array[Long] = {
    val a = new Array[Long](cfg.dim)
    val eps = committed(spark, cfg)
    if (eps.isEmpty) return a
    val v = GenStore.view(spark, cfg.dir, eps)
    val pres = GenStore.sidePresence(spark, v, "counts")
    val gens = v.liveGens.flatMap(m => pres.genDirs.get(m.gen))
      .map(p => graft.core.Tables.parquet(spark, p).select("bucket", "cnt"))
    val remDirs = v.remainder.map(ep => s"${cfg.dir}/counts/epoch=$ep")
      .filter(p => GenStore.dirHasDataFiles(spark, p))
    val rem =
      if (remDirs.isEmpty) Nil
      else Seq(spark.read
        // explicit committed dirs under one partition root: basePath
        // keeps the epoch=/b_mod= levels parsing as partition columns
        .option("basePath", s"${cfg.dir}/counts")
        .parquet(remDirs: _*).select("bucket", "cnt"))
    (gens ++ rem).reduceOption(_ unionByName _).foreach {
      _.groupBy("bucket").agg(sum("cnt").as("cnt")).collect()
        .foreach(r => a(r.getInt(0)) = r.getLong(1))
    }
    a
  }

  private def targetTotals(spark: SparkSession, cfg: Config): Array[Long] = {
    val a = new Array[Long](cfg.dim)
    val p = s"${cfg.dir}/target"
    if (GenStore.hasSuccess(spark, p))
      spark.read.parquet(p).select("bucket", "cnt").collect()
        .foreach(r => a(r.getInt(0)) = r.getLong(1))
    a
  }

  /** floor(1e9·log-ratio) per bucket from the state as ingested so far
    * — exactly [[Dsir.logRatioGrid]] over the accumulated counts. */
  def currentRatioGrid(cfg: Config, spark: SparkSession): Array[Long] =
    Dsir.logRatioGrid(rawTotals(spark, cfg), targetTotals(spark, cfg),
      cfg.alpha)

  /** (idCol, w9): exact-grid importance weight of `docs` under the
    * gate's current state — bit-identical to batch
    * [[Dsir.importanceWeights]] over the union of ingested epochs. */
  def score(cfg: Config, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ratioCol = lit(currentRatioGrid(cfg, docs.sparkSession))
    val summed = Dsir.hashedCounts(docs, idCol, textCol, cfg.dim)
      .groupBy(idCol)
      .agg(sum(col("cnt") * element_at(ratioCol, col("bucket") + 1))
        .as("w9"))
    docs.select(col(idCol)).join(summed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("w9"), lit(0L)).as("w9"))
  }
}
