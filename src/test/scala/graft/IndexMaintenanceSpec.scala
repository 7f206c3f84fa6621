package graft

import org.apache.spark.sql.functions._
import graft.streaming.{IncrementalAnnIndex, IncrementalDedup,
  IncrementalLinkIndex, IncrementalSearchIndex}
import graft.operators.{Dedup, Memo, TextSearch}
import graft.queries.CurationOps

/** The r15 propagation of the link index's maintenance discipline to
  * the whole ingest-time index family (r14 verdict #1-#3):
  *
  *   - search/dedup/ann compact+gc: probes bit-identical across the
  *     fold, file counts collapse from epochs × buckets to buckets,
  *     post-compaction ingest reads the generation ∪ remainder view;
  *   - size-tiered compaction: a small-delta fold does NOT rewrite the
  *     big generation (write amplification bounded by the delta);
  *   - gc grace window: files superseded more recently than `graceMs`
  *     survive (an in-flight probe on the old view keeps its files),
  *     and a crashed compaction's orphan generation is swept once aged.
  */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    java.nio.file.Files.walk(root)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
  }

  // ---------------------------------------------------------------- search

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private val Queries = Seq("spark window agg", "customer join filter")

  private def bm25Collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("search index: compact+gc is probe-invisible, collapses files, composes with later ingest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sc").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index", hashBuckets = 8)
    val q = TextSearch.queriesDf(spark, Queries)
    (0 until 3).foreach { e =>
      IncrementalSearchIndex.ingestBatch(cfg,
        docs.filter(col("doc_id") % 4 === e), "doc_id", "text", e.toLong)
    }
    val threeEp = docs.filter(col("doc_id") % 4 < 3)
    val want3 = bm25Collect(TextSearch.bm25TopK(threeEp, "doc_id", "text",
      q, "query_id", "query_text", 10))
    assert(bm25Collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10)) == want3)

    // the r14 layout discipline: each epoch landed ONE file per touched
    // bucket (repartition-before-partitionBy), so 3 epochs ≤ 3 × buckets
    val epochFiles = dataFiles(s"$tmp/index/postings")
    assert(epochFiles.nonEmpty && epochFiles.size <= 3 * 8,
      s"epoch tree should hold <= epochs*buckets files, got ${epochFiles.size}")

    val stats = IncrementalSearchIndex.compact(spark, cfg).get
    assert(stats.foldedEpochs == Seq(0L, 1L, 2L))
    IncrementalSearchIndex.gc(spark, cfg, graceMs = 0L)
    assert(dataFiles(s"$tmp/index/postings").isEmpty,
      "gc must strip folded epoch postings")
    val gen = dataFiles(s"$tmp/index/postings-compact")
    assert(gen.nonEmpty && gen.size <= 8,
      s"generation should hold <= buckets files, got ${gen.size}")
    assert(bm25Collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10)) == want3,
      "compact+gc changed a probe result")

    // replay of a folded epoch stays a no-op (stats markers survive gc)
    IncrementalSearchIndex.ingestBatch(cfg,
      docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", 1L)
    assert(dataFiles(s"$tmp/index/postings").isEmpty,
      "replay after gc must not re-land folded postings")

    // a later epoch unions with the generation: == batch on 4 epochs
    IncrementalSearchIndex.ingestBatch(cfg,
      docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", 3L)
    val want4 = bm25Collect(TextSearch.bm25TopK(docs, "doc_id", "text",
      q, "query_id", "query_text", 10))
    assert(bm25Collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10)) == want4,
      "generation + remainder probe != batch on the union")
  }

  // ---------------------------------------------------------------- dedup

  private def dedupCorpus = {
    val base = docs.select("doc_id", "text").as[(Long, String)]
      .collect().take(60)
    val planted = base.take(8).map { case (id, t) =>
      (10000L + id, t + " tailtoken")
    }
    (base ++ planted).toSeq
  }

  test("dedup index: compact+gc between epochs — later epochs dedup against the generation") {
    val all = dedupCorpus
    val epochs = all.grouped((all.size + 2) / 3).toSeq

    def decisions(dir: String, maintainAfter: Int): Set[(Long, Boolean)] = {
      val cfg = IncrementalDedup.Config(s"$dir/index", hashBuckets = 8)
      epochs.zipWithIndex.foreach { case (rows, i) =>
        IncrementalDedup.ingestBatch(cfg,
          rows.toDF("doc_id", "text"), "doc_id", "text", i.toLong)
        if (i == maintainAfter) {
          IncrementalDedup.compact(spark, cfg)
          IncrementalDedup.gc(spark, cfg, graceMs = 0L)
        }
      }
      IncrementalDedup.decisions(spark, cfg)
        .select("doc_id", "kept").as[(Long, Boolean)].collect().toSet
    }

    val tmpA = java.nio.file.Files.createTempDirectory("graft-dc-a").toString
    val tmpB = java.nio.file.Files.createTempDirectory("graft-dc-b").toString
    val plain = decisions(tmpA, maintainAfter = -1)
    val folded = decisions(tmpB, maintainAfter = 1) // compact+gc after epoch 1
    assert(folded == plain,
      "dedup decisions diverged when epoch 2 joined against the generation")
    // the folded index's epoch trees hold only epoch 2's files; the
    // generation holds ≤ buckets files per side
    assert(dataFiles(s"$tmpB/index/bands-compact").size <= 8 &&
      dataFiles(s"$tmpB/index/sigs-compact").size <= 8)
    // planted dups caught in both
    val dropped = folded.filter(!_._2).map(_._1)
    assert(all.filter(_._1 >= 10000L).map(_._1).toSet.subsetOf(dropped))
  }

  // ------------------------------------------------------------------ ann

  test("ann index: compact+gc is probe-invisible and collapses files") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ac").toString
    val cfg = IncrementalAnnIndex.Config(s"$tmp/index", dim = 64,
      hashBuckets = 8)
    (0 until 3).foreach { e =>
      IncrementalAnnIndex.ingestBatch(cfg,
        emb.filter(col("vec_id") % 3 === e), "vec_id", "embedding", e.toLong)
    }
    val queries = emb.filter(col("vec_id") < 8)
    def probe() = IncrementalAnnIndex.topK(spark, cfg, queries,
        "vec_id", "embedding", 10)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe()
    assert(before.nonEmpty)

    IncrementalAnnIndex.compact(spark, cfg)
    IncrementalAnnIndex.gc(spark, cfg, graceMs = 0L)
    assert(probe() == before, "compact+gc changed ann probe results")
    assert(dataFiles(s"$tmp/index/buckets").isEmpty &&
      dataFiles(s"$tmp/index/vecs").isEmpty,
      "gc must strip folded epoch data")
    assert(dataFiles(s"$tmp/index/buckets-compact").size <= 8 &&
      dataFiles(s"$tmp/index/vecs-compact").size <= 8)

    // replay of a folded epoch is a no-op (stats markers survive)
    IncrementalAnnIndex.ingestBatch(cfg,
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", 1L)
    assert(dataFiles(s"$tmp/index/vecs").isEmpty)
    assert(probe() == before)
  }

  // ---------------------------------------------------- tiered compaction

  private def crawl = {
    val d = docs.select("doc_id", "text")
    CurationOps.crawlPages(d, d.count(), withText = true)
  }

  test("size-tiered compaction: a small-delta fold does not rewrite the big generation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tier").toString
    // 2 buckets: at sf0.001 the per-file parquet overhead would
    // otherwise swamp the byte sizes the tier rule compares — with 2
    // files per side the generation's bytes track its rows
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 2)
    val pages = crawl
    // big base: 4 large epochs; small deltas: two SINGLE-page epochs
    // from the mod-6==4 ids (page ids stay unique across epochs)
    val slices: Seq[org.apache.spark.sql.Column] = Seq(
      pmod(col("doc_id"), lit(6)) === 0, pmod(col("doc_id"), lit(6)) === 1,
      pmod(col("doc_id"), lit(6)) === 2, pmod(col("doc_id"), lit(6)) === 3,
      col("doc_id") === 4, col("doc_id") === 10)
    def ingest(c: IncrementalLinkIndex.Config, e: Int): Unit =
      IncrementalLinkIndex.ingestBatch(c, pages.filter(slices(e)),
        "doc_id", "url", "html", e.toLong)

    (0 until 4).foreach(e => ingest(cfg, e))
    val s0 = IncrementalLinkIndex.compact(spark, cfg).get
    assert(s0.gen == 0L && s0.foldedEpochs == Seq(0L, 1L, 2L, 3L))
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    val gen0Files = dataFiles(s"$tmp/index/links-compact/gen=0")
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    assert(gen0Files.nonEmpty)

    // small delta: epoch 4 alone; ratio 2 must NOT admit the ~300×
    // bigger gen 0
    ingest(cfg, 4)
    val s1 = IncrementalLinkIndex.compact(spark, cfg, sizeRatio = 2.0).get
    assert(s1.gen == 1L && s1.foldedEpochs == Seq(4L) &&
      s1.foldedGens.isEmpty,
      s"small-delta fold dragged the big generation in: $s1")
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    val gen0After = dataFiles(s"$tmp/index/links-compact/gen=0")
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    assert(gen0After == gen0Files,
      "the big generation was rewritten (or gc'd) by a small-delta fold")

    // another small delta: epoch 5 + the similar-sized gen 1 merge into
    // gen 2; gen 0 stays
    ingest(cfg, 5)
    val s2 = IncrementalLinkIndex.compact(spark, cfg, sizeRatio = 2.0).get
    assert(s2.gen == 2L && s2.foldedEpochs == Seq(4L, 5L) &&
      s2.foldedGens == Seq(1L),
      s"second small fold should merge the small generation only: $s2")
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/index/links-compact/gen=1")),
      "gc must reclaim the folded small generation")
    assert(dataFiles(s"$tmp/index/links-compact/gen=0").nonEmpty,
      "gc must keep the live big generation")

    // probes over the two-generation view == the plain 6-epoch index
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    val plainCfg = IncrementalLinkIndex.Config(s"$tmp/plain",
      hashBuckets = 2)
    (0 until 6).foreach(e => ingest(plainCfg, e))
    def snap(c: IncrementalLinkIndex.Config) =
      IncrementalLinkIndex.rank(spark, c).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(snap(cfg) == snap(plainCfg),
      "tiered multi-generation view != plain epoch view")

    // a ∞-ratio compact folds both generations; a SECOND ∞ compact
    // right after is a no-op (already one generation, no delta)
    assert(IncrementalLinkIndex.compact(spark, cfg).isDefined)
    assert(IncrementalLinkIndex.compact(spark, cfg).isEmpty,
      "re-compacting an already-compacted index should be a no-op")
  }

  // ------------------------------------------------------- gc grace window

  test("gc grace window: young superseded files survive; aged orphans are swept") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-grace").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 4)
    val pages = crawl
    (0L until 2L).foreach(e => IncrementalLinkIndex.ingestBatch(cfg,
      pages.filter(pmod(col("doc_id"), lit(3)) === e), "doc_id", "url",
      "html", e))
    // an in-flight probe plan resolved against the PRE-compaction view
    val inflight = IncrementalLinkIndex.resolved(spark, cfg)
    val wantRows = inflight.count()

    IncrementalLinkIndex.compact(spark, cfg)
    // grace = 1h: the just-superseded epoch files must all survive
    IncrementalLinkIndex.gc(spark, cfg) // default graceMs = 1h
    assert(dataFiles(s"$tmp/index/links").nonEmpty &&
      dataFiles(s"$tmp/index/urls").nonEmpty,
      "gc deleted files inside the grace window")
    // ... so the in-flight probe completes against the old files (drop
    // the memo's persisted copy first — the claim is about the FILES)
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    assert(inflight.count() == wantRows)

    // grace 0: now they go
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    assert(dataFiles(s"$tmp/index/links").isEmpty &&
      dataFiles(s"$tmp/index/urls").isEmpty)

    // crashed compaction: orphan generation (no committed marker) is
    // invisible and swept by an aged gc, kept by a young one. Ingest a
    // fresh epoch so the fold has a remainder to take.
    IncrementalLinkIndex.ingestBatch(cfg,
      pages.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "url",
      "html", 2L)
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    val before = IncrementalLinkIndex.rank(spark, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    IncrementalLinkIndex.compact(spark, cfg) // gen 1 (folds gen 0 + ep 2)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(s"$tmp/index/stats-compact/gen=1"))
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    assert(IncrementalLinkIndex.rank(spark, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet == before,
      "an unmarked (crashed) generation leaked into the probe view")
    IncrementalLinkIndex.gc(spark, cfg) // young orphan: kept
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/index/links-compact/gen=1")))
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L) // aged orphan: swept
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/index/links-compact/gen=1")),
      "aged orphan generation must be swept")
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    assert(IncrementalLinkIndex.rank(spark, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet == before)
  }
}
