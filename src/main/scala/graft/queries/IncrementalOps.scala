package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Memo
import graft.streaming.{IncrementalDedup, IncrementalLinkIndex,
  IncrementalSearchIndex}

/** Gate queries for the INCREMENTAL (ingest-time) index family — the
  * architecture's headline claim surfaced on the cross-engine gate, not
  * just in ScalaTest.
  *
  * The queries epoch-split the `documents` fixture, ingest each epoch
  * through the same `EpochSink` code path the streaming/registry sinks
  * use ([[IncrementalSearchIndex.ingestBatch]] /
  * [[IncrementalDedup.ingestBatch]]), then probe the on-disk index. The
  * oracle is in each case the BATCH equivalent's oracle, verbatim:
  *
  *   - `bm25_incr_probe` must equal `text_search_bm25` — the probe reads
  *     only the query terms' hash-bucket partitions across epochs, yet
  *     the document frequencies it recovers are complete, and the shared
  *     integer-grid scoring tail makes the result bit-identical to
  *     `bm25TopK` over the union corpus.
  *   - `minhash_incr_kept` must equal `dedup_minhash_kept` (the REAL
  *     brute-force exact-Jaccard DuckDB oracle): epochs split by
  *     CONTIGUOUS doc_id range so a duplicate's smaller id is always in
  *     an earlier-or-same epoch, making the incremental keep-min-id
  *     decision coincide with the batch rule; the fixture's planted
  *     near-dup pairs sit far above the 0.8 threshold, so estimated
  *     (signature-slot) Jaccard agrees with exact verification.
  *
  * The index build is memoized per (fixture dir) into a fresh per-JVM
  * temp directory — repeated calls (bench iterations, the threaded
  * verify dump) probe the already-built index, which is exactly the
  * production shape: ingest once at arrival, probe many times.
  */
object IncrementalOps {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) =
    Tables.table(s, dir, "documents")

  /** Build (once per fixture dir) the link index over the link-fixture
    * crawl records, three mod-3 epochs — epoch assignment is irrelevant
    * to the union the probes read, and a link may target a page of a
    * LATER epoch, which is exactly the cross-epoch resolution the
    * probe-time join exists for. */
  private def builtLinkIdx(s: SparkSession, dir: String): String =
    Memo.shared.once(Some(dir), "link-index") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-link-incr").toString
      val d = docs(s, dir).select("doc_id", "text")
      val n = d.count()
      val pages = CurationOps.crawlPages(d, n, withText = true)
      val cfg = IncrementalLinkIndex.Config(s"$tmp/index")
      (0 until 3).foreach { e =>
        IncrementalLinkIndex.ingestBatch(cfg,
          pages.filter(pmod(col("doc_id"), lit(3)) === e),
          "doc_id", "url", "html", e.toLong)
      }
      // maintenance hook: persist the rank tables for this committed
      // view — PageRank + domain (r16), HITS + the mod-97 TrustRank
      // seed set (r17) — so retrieval/steady-state probes read parquet
      // instead of paying the fixed point per call (r15 verdict #1,
      // r16 verdict #2)
      IncrementalLinkIndex.refreshPriors(s, cfg,
        trustSeeds = Seq("mod97" -> (col("doc_id") % 97 === 0)))
      s"$tmp/index"
    }

  /** A SECOND link index, epoch-ingested then COMPACTED and GC'd (the
    * whole corpus folded to one generation of `hashBuckets` files per
    * side, the folded epochs' data reclaimed) — its probes must still
    * equal the batch oracles verbatim, which is the compaction
    * correctness claim surfaced cross-engine. Built separately from
    * [[builtLinkIdx]] so the uncompacted probes keep exercising the
    * epoch-tree read path in the same gate run. */
  private def builtCompactLinkIdx(s: SparkSession, dir: String): String =
    Memo.shared.once(Some(dir), "link-index-compact") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-link-compact").toString
      val d = docs(s, dir).select("doc_id", "text")
      val n = d.count()
      val pages = CurationOps.crawlPages(d, n, withText = true)
      val cfg = IncrementalLinkIndex.Config(s"$tmp/index")
      (0 until 3).foreach { e =>
        IncrementalLinkIndex.ingestBatch(cfg,
          pages.filter(pmod(col("doc_id"), lit(3)) === e),
          "doc_id", "url", "html", e.toLong)
      }
      IncrementalLinkIndex.compact(s, cfg)
      IncrementalLinkIndex.gc(s, cfg, graceMs = 0L)
      s"$tmp/index"
    }

  private[graft] val searchCfg =
    (dir: String) => IncrementalSearchIndex.Config(dir, hashBuckets = 64)

  private val stdQueries = Seq("spark window agg", "customer join filter")

  /** Build (once per fixture dir) the BM25 search index, three mod-3
    * epochs; `maintain = true` additionally compacts + gc's it (grace 0
    * — offline maintenance), so its probes exercise the generation read
    * path. */
  private def builtSearchIdx(s: SparkSession, dir: String,
      maintain: Boolean): String =
    Memo.shared.once(Some(dir),
        if (maintain) "bm25-index-compact" else "bm25-index") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-bm25-incr").toString
      val d = docs(s, dir).select("doc_id", "text")
      (0 until 3).foreach { e =>
        IncrementalSearchIndex.ingestBatch(searchCfg(s"$tmp/index"),
          d.filter(pmod(col("doc_id"), lit(3)) === e),
          "doc_id", "text", e.toLong)
      }
      if (maintain) {
        IncrementalSearchIndex.compact(s, searchCfg(s"$tmp/index"))
        IncrementalSearchIndex.gc(s, searchCfg(s"$tmp/index"), graceMs = 0L)
      }
      s"$tmp/index"
    }

  private def bm25Probe(s: SparkSession, idx: String): DataFrame =
    IncrementalSearchIndex.probe(s, searchCfg(idx),
      graft.operators.TextSearch.queriesDf(s, stdQueries),
      "query_id", "query_text", k = 5)
      .orderBy("query_id", "rank")

  /** Build (once per fixture dir) the minhash dedup index, three
    * CONTIGUOUS-range epochs; `maintain = true` compacts + gc's after
    * the SECOND epoch, so the third epoch's candidate join reads the
    * generation — the ingest-time maintenance composition. */
  private def builtDedupIdx(s: SparkSession, dir: String,
      maintain: Boolean): String =
    Memo.shared.once(Some(dir),
        if (maintain) "minhash-index-compact" else "minhash-index") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-dedup-incr").toString
      val d = docs(s, dir).select("doc_id", "text")
      val maxId = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val cut = maxId / 3 + 1
      val cfg = IncrementalDedup.Config(s"$tmp/index",
        shingleK = 3, numHashes = 128, bands = 32, estThreshold = 0.8)
      (0 until 3).foreach { e =>
        IncrementalDedup.ingestBatch(cfg,
          d.filter(col("doc_id") >= e * cut &&
            col("doc_id") < (e + 1) * cut),
          "doc_id", "text", e.toLong)
        if (maintain && e == 1) {
          IncrementalDedup.compact(s, cfg)
          IncrementalDedup.gc(s, cfg, graceMs = 0L)
        }
      }
      s"$tmp/index"
    }

  private def keptSet(s: SparkSession, idx: String): DataFrame =
    IncrementalDedup.decisions(s, IncrementalDedup.Config(idx))
      .filter(col("kept"))
      .select("doc_id")
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    // Incremental BM25: three mod-3 epoch ingests (epoch assignment is
    // irrelevant to the union index), then the same two queries / k as
    // text_search_bm25. Equality with the batch pin proves the
    // touched-partition probe reconstructs complete df/N/avgdl.
    "bm25_incr_probe" -> ((s, dir) =>
      bm25Probe(s, builtSearchIdx(s, dir, maintain = false))),

    // The same probe over a COMPACTED + GC'd search index (r15: the
    // link index's `link_incr_compact_rank` pattern propagated) — the
    // generation read path must reproduce the batch pin bit-exactly.
    "bm25_incr_compact_probe" -> ((s, dir) =>
      bm25Probe(s, builtSearchIdx(s, dir, maintain = true))),

    // Incremental minhash dedup: three CONTIGUOUS-range epoch ingests
    // (order-preserving, see scaladoc), then the accumulated kept set.
    "minhash_incr_kept" -> ((s, dir) =>
      keptSet(s, builtDedupIdx(s, dir, maintain = false))),

    // The same decisions when the index is compacted + GC'd MID-INGEST
    // (after epoch 1): epoch 2's candidate join reads the generation,
    // and the kept set still equals the batch exact-Jaccard oracle.
    "minhash_incr_compact_kept" -> ((s, dir) =>
      keptSet(s, builtDedupIdx(s, dir, maintain = true))),

    // Incremental link graph (r13): pages parsed ONCE at ingest into the
    // materialized (src, abs, anchor-text) link table; the rank probe
    // reads edges, never HTML. Equality with the batch
    // `web_link_pipeline` oracle proves the ingest-time extraction +
    // probe-time cross-epoch resolution reproduce the per-call-parse
    // answer exactly — n_links/n_out pin the extraction leg, rank_fp
    // the fixed-point recurrence.
    "link_incr_rank" -> ((s, dir) =>
      IncrementalLinkIndex.rank(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 5)
        .orderBy("doc_id")),

    // Same index, the inbound anchor-text rollup — must equal the batch
    // `link_anchor_texts` oracle (texts sorted per target, boilerplate
    // links dead via the corpus join).
    "link_incr_anchors" -> ((s, dir) =>
      IncrementalLinkIndex.anchors(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)))
        .orderBy("doc_id")),

    // TrustRank probe over the SAME materialized edges (r14 probe
    // parity): teleport mass restricted to the seed whitelist the batch
    // `link_trustrank` uses — equality with its oracle proves the
    // seeded recurrence reads the ingest-time index bit-identically.
    "link_incr_trustrank" -> ((s, dir) =>
      IncrementalLinkIndex.rank(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 5,
          teleport = Some(col("doc_id") % 97 === 0))
        .select("doc_id", "rank_fp")
        .orderBy("doc_id")),

    // HITS probe over the materialized edges — the batch `link_hits`
    // oracle verbatim: hubs/authorities without the per-call HTML
    // re-derivation (30.8 s of parse at sf100 in the batch form).
    "link_incr_hits" -> ((s, dir) =>
      IncrementalLinkIndex.hits(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 3)
        .orderBy("doc_id")),

    // Registered-domain rank probe: the page edges collapsed to host
    // pairs (multiplicity kept, weighted-multigraph form) straight off
    // the materialized edge table — the batch `domain_rank` oracle
    // verbatim, minus its per-call parse + collapse.
    "domain_incr_rank" -> ((s, dir) =>
      IncrementalLinkIndex.domainRank(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 5)
        .orderBy("domain")),

    // Epoch compaction (r14): the same rank contract read from an index
    // whose three epochs were FOLDED into one generation and GC'd —
    // equality with the batch oracle proves the marker-last fold
    // preserves the union bit-exactly while collapsing the file count
    // from epochs × buckets to buckets.
    "link_incr_compact_rank" -> ((s, dir) =>
      IncrementalLinkIndex.rank(s,
          IncrementalLinkIndex.Config(builtCompactLinkIdx(s, dir)),
          iters = 5)
        .orderBy("doc_id")),

    // The MATERIALIZED TrustRank table (r16 verdict #2: the computed
    // probe pays 43.6 s of cold fixed point at sf100 for what a
    // steady-state consumer reads as parquet) — keyed by the mod-97
    // seed tag alongside iters/scale, built at index-refresh time, and
    // pinned to the SAME batch oracle as the computed twin
    // `link_incr_trustrank`, which stays in the gate as the parity row.
    "link_incr_trustrank_prior" -> ((s, dir) =>
      IncrementalLinkIndex.trustRankPrior(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)),
          teleport = col("doc_id") % 97 === 0, seedTag = "mod97",
          iters = 5)
        .select("doc_id", "rank_fp")
        .orderBy("doc_id")),

    // The materialized HITS table — same machinery, same batch
    // `link_hits` oracle as the computed parity row `link_incr_hits`
    // (64.2 s cold at sf100 computed; the prior read is a scan).
    "link_incr_hits_prior" -> ((s, dir) =>
      IncrementalLinkIndex.hitsPrior(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 3)
        .orderBy("doc_id")),

    // Link-prior hybrid retrieval over the INGEST-TIME indexes (r15):
    // the search index's BM25 probe and the link index's PageRank
    // prior, fused with the same integer RRF as the batch family —
    // "probe the link index and the search index together", the
    // production shape of a retrieval surface that maintains both at
    // ingest. The prior arm reads the MATERIALIZED rank table
    // (persisted per committed view at index-build time, r16 — the r15
    // form recomputed the 5-iteration fixed point per probe call, the
    // board's top slot), then one bounded-heap global top-k replicated
    // per query by a broadcast constant-key join (no cartesian). Both
    // arms stay bit-identical to their batch twins (the bm25_incr_probe
    // / link_incr_rank parity rows), so the fusion pins.
    "hybrid_link_incr_rrf" -> ((s, dir) => {
      val ts = graft.operators.TextSearch
      val q = ts.queriesDf(s, stdQueries)
      val lex = IncrementalSearchIndex.probe(s,
        searchCfg(builtSearchIdx(s, dir, maintain = false)), q,
        "query_id", "query_text", k = 20)
      val prior = ts.priorArm(
        IncrementalLinkIndex.rankPrior(s,
          IncrementalLinkIndex.Config(builtLinkIdx(s, dir)), iters = 5),
        "doc_id", "rank_fp", q, "query_id", k = 20)
      ts.rrfFuse(Seq(lex, prior), k = 5)
        .orderBy("query_id", "rank")
    })
  )

  /** The batch equivalents' oracles, verbatim — the whole point: the
    * incremental path must reproduce the batch answer. */
  val oracle: Map[String, String] = Map(
    "bm25_incr_probe" -> TextOps.oracle("text_search_bm25"),
    "bm25_incr_compact_probe" -> TextOps.oracle("text_search_bm25"),
    "minhash_incr_kept" -> TextOps.oracle("dedup_minhash_kept"),
    "minhash_incr_compact_kept" -> TextOps.oracle("dedup_minhash_kept"),
    // pinned (scripts/pin_layouts.sh — both arms bit-identical to their
    // batch twins, fusion integer arithmetic; see HybridLinkPins)
    "hybrid_link_incr_rrf" -> HybridLinkPins.incr,
    "link_incr_rank" -> CurationOps.oracle("web_link_pipeline"),
    "link_incr_anchors" -> CurationOps.oracle("link_anchor_texts"),
    "link_incr_trustrank" -> CurationOps.oracle("link_trustrank"),
    "link_incr_hits" -> CurationOps.oracle("link_hits"),
    "link_incr_trustrank_prior" -> CurationOps.oracle("link_trustrank"),
    "link_incr_hits_prior" -> CurationOps.oracle("link_hits"),
    "domain_incr_rank" -> CurationOps.oracle("domain_rank"),
    "link_incr_compact_rank" -> CurationOps.oracle("web_link_pipeline")
  )
}
