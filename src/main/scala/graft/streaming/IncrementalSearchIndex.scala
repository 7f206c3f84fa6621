package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.TextSearch
import graft.streaming.GenStore.Side

/** Incremental BM25 search index — the text counterpart of
  * [[IncrementalAnnIndex]]: documents are indexed at ingest into a
  * persistent term-partitioned postings table, and keyword queries probe
  * only the partitions their terms hash into — never a corpus scan, and
  * never a rebuild of postings already written.
  *
  * Layout under `cfg.dir`:
  *
  *   - `postings/epoch=N/` — (term, doc_id, dl, tf), partitioned by
  *     `t_mod = pmod(hash(term), hashBuckets)` and bucket-repartitioned
  *     before the write so each epoch lands ONE file per touched bucket
  *     (r15: the r14 link-index layout lesson — without the repartition
  *     every writer task emits a file into every bucket dir, tasks ×
  *     buckets small files per epoch, and probe listing cost grows with
  *     ingest history). A term's postings land in the same `t_mod`
  *     value in EVERY epoch and generation, so a probe reads only the
  *     query terms' `t_mod` partitions and the document frequency
  *     computed from what it reads is complete.
  *   - `stats/epoch=N/` — one row (n_docs, sum_dl) per epoch; probes sum
  *     them for the global N and avgdl, reading each committed row once
  *     per session ([[GenStore.markerRows]]). Written LAST: it is the
  *     epoch's replay marker, `_SUCCESS`-fenced on both sides.
  *   - `postings-compact/gen=G/` + `stats-compact/gen=G/` — compaction
  *     generations ([[GenStore]]: size-tiered folds, marker-written-last
  *     adoption, grace-windowed [[gc]]). Folding collapses epochs ×
  *     buckets files to buckets; probes are bit-identical across the
  *     swap because the view is the same postings union and the scoring
  *     tail is layout-independent. Epoch stats markers are NEVER folded
  *     or removed — they carry the N/avgdl sums and the replay fence.
  *
  * Scoring is [[TextSearch.scoreBm25]] — identical integer-grid BM25 to
  * the batch operator, so `probe` over E ingested epochs returns EXACTLY
  * what `bm25TopK` would on the union corpus (asserted in the spec and
  * by the `bm25_incr_probe` / `bm25_incr_compact_probe` gate rows).
  * Ingest contract: document ids are unique across epochs (re-ingesting
  * a doc id would double-count it, as in any append-only index).
  */
object IncrementalSearchIndex extends EpochIndex {

  final case class Config(dir: String, hashBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75)
  type Cfg = Config

  def layout(cfg: Config): GenStore.Layout = GenStore.Layout(cfg.dir, Seq(
    Side("postings", "t_mod", cfg.hashBuckets,
      Seq("term", "doc_id", "dl", "tf"))))

  /** A term's postings bucket — the ingest's partition value and the
    * probe's prune key. */
  private def tMod(cfg: Config): Column =
    pmod(hash(col("term")), lit(cfg.hashBuckets)).cast("long")

  /** Index one epoch of (idCol, textCol) documents. Idempotent per
    * epochId ([[GenStore.ingestEpoch]]). */
  def ingestBatch(cfg: Config, batch: DataFrame, idCol: String,
      textCol: String, epochId: Long): Unit =
    GenStore.ingestEpoch(batch.sparkSession, layout(cfg), epochId) {
      val docs = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .localCheckpoint(eager = true)
      val postings = TextSearch.postings(docs, "doc_id", "text")
        .withColumn("t_mod", tMod(cfg))
      // stats row counts EVERY doc (term-less docs too — they contribute
      // to N and avgdl exactly as in the batch operator)
      (Seq("postings" -> postings),
        docs.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(TextFunctions.tokens(col("text")))), lit(0L))
              .as("sum_dl"))
          .coalesce(1))
    }

  protected def ingest(cfg: Config, batch: DataFrame, cols: Seq[String],
      epochId: Long): Unit =
    ingestBatch(cfg, batch, cols(0), cols(1), epochId)

  /** BM25 top-k of each (query_id, query_text) row against everything
    * ingested so far, built as ONE plan with no Spark job before the
    * caller's action: the query terms are a driver-local frame
    * ([[TextSearch.localQueryTerms]] — no job for a local query frame,
    * one collect for a distributed one), their `t_mod` buckets are
    * computed on the driver with the ingest's own `pmod(hash(term))`
    * expression, and the touched-bucket postings read (generations ∪
    * remainder epochs, one consistent [[GenStore.GenView]]) feeds the
    * single-shuffle scoring tail ([[TextSearch.scoreBm25]]). N/avgdl
    * come from the committed epochs' stats rows, read once per session.
    * The query batch must fit on the driver. Output (query_id, rank,
    * doc_id, score_e9), best first. */
  def probe(spark: SparkSession, cfg: Config, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Long, Int, Long, Long)]
      .toDF("query_id", "rank", "doc_id", "score_e9")
    // committed epochs = those with a job-committed stats marker (stats
    // is written LAST). A crash between the postings write and the
    // stats write leaves a half-landed epoch whose postings must NOT
    // score: its docs would be ranked while N/avgdl exclude them. The
    // whole probe therefore fences to ONE view of the committed list.
    val eps = committed(spark, cfg)
    if (eps.isEmpty) return empty

    val qTerms = TextSearch.localQueryTerms(queries, queryIdCol,
      queryTextCol)
    val touched = qTerms.select(tMod(cfg)).collect().map(_.getLong(0))
      .distinct.sorted
    if (touched.isEmpty) return empty

    // N and avgdl from the committed epochs' stats rows, each read once
    // per session (GenStore's read-once metadata contract)
    val stats = GenStore.markerRows(spark, cfg.dir, "index-stats",
      eps.map(e => s"${cfg.dir}/stats/epoch=$e"),
      Seq("n_docs", "sum_dl")).flatten
    val n = stats.map(_.getLong(0)).sum
    val avgdl = stats.map(_.getLong(1)).sum.toDouble / n.toDouble

    val v = GenStore.view(spark, cfg.dir, eps)
    val pres = GenStore.sidePresence(spark, v, "postings")
    GenStore.sideRead(spark, v, "postings", pres,
        Seq("t_mod", "term", "doc_id", "dl", "tf")) match {
      case None => empty // every committed epoch was term-less
      case Some(post) =>
        TextSearch.scoreBm25(
          post.filter(col("t_mod").isin(touched: _*))
            .select("term", "doc_id", "dl", "tf"),
          qTerms, n, avgdl, cfg.k1, cfg.b, k)
    }
  }
}
