package graft

import org.apache.spark.sql.functions._
import graft.operators.Memo
import graft.streaming.IncrementalLinkIndex
import graft.queries.CurationOps

/** Epoch compaction of the link index (r14): folding every committed
  * epoch into one generation is bit-invisible to every probe, collapses
  * the file count from epochs × buckets to buckets, survives crashes at
  * any step (marker-written-last), keeps streaming replay a no-op after
  * GC, and composes with post-compaction ingest and re-compaction. */
class IncrementalLinkCompactSpec extends SparkSpec {

  private lazy val docs = graft.core.Tables.table(spark, sf, "documents")
    .select("doc_id", "text")

  private def crawl = {
    val n = docs.count()
    CurationOps.crawlPages(docs, n, withText = true)
  }

  private def ingest(cfg: IncrementalLinkIndex.Config, mod: Int,
      eps: Range): Unit =
    eps.foreach { e =>
      IncrementalLinkIndex.ingestBatch(cfg,
        crawl.filter(pmod(col("doc_id"), lit(mod)) === e % mod),
        "doc_id", "url", "html", e.toLong)
    }

  private def snapshot(cfg: IncrementalLinkIndex.Config) = (
    IncrementalLinkIndex.rank(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet,
    IncrementalLinkIndex.anchors(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet,
    IncrementalLinkIndex.hits(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
    IncrementalLinkIndex.domainRank(spark, cfg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet,
    IncrementalLinkIndex.inlinks(spark, cfg,
        Seq("https://news.example.com/articles/item-0"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
  )

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    java.nio.file.Files.walk(root)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
  }

  test("compact + gc: probes bit-identical, files collapse to buckets, replay still no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lc1").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 8)
    ingest(cfg, 3, 0 until 3)
    val before = snapshot(cfg)

    val stats = IncrementalLinkIndex.compact(spark, cfg).get
    assert(stats.gen == 0L && stats.foldedEpochs == Seq(0L, 1L, 2L))
    assert(snapshot(cfg) == before, "compaction changed a probe result")

    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    // cold-read the GC'd layout: the memo would otherwise serve the
    // pre-gc artifacts under the unchanged view key (bit-transparent,
    // but this assertion is about the on-disk state)
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    assert(snapshot(cfg) == before, "gc changed a probe result")
    // the epoch trees hold no data files; the generation holds at most
    // hashBuckets files per side
    assert(dataFiles(s"$tmp/index/links").isEmpty &&
      dataFiles(s"$tmp/index/urls").isEmpty,
      "gc must strip folded epoch data")
    val genLinks = dataFiles(s"$tmp/index/links-compact")
    assert(genLinks.nonEmpty && genLinks.size <= 8,
      s"generation should hold <= buckets files, got ${genLinks.size}")

    // streaming replay of a folded epoch is STILL a no-op (epoch stats
    // markers survive compaction + gc)
    IncrementalLinkIndex.ingestBatch(cfg,
      crawl.filter(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "url", "html", 1L)
    assert(snapshot(cfg) == before, "replay after gc changed the index")
    assert(dataFiles(s"$tmp/index/links").isEmpty,
      "replay after gc must not re-land folded epoch data")
  }

  test("ingest after compaction unions generation + new epochs; re-compaction folds both") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lc2").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 8)
    // epochs 0,1 -> compact+gc -> epoch 2 arrives -> must equal the
    // plain 3-epoch index
    ingest(cfg, 3, 0 until 2)
    IncrementalLinkIndex.compact(spark, cfg)
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    ingest(cfg, 3, 2 until 3)

    val plain = IncrementalLinkIndex.Config(s"$tmp/plain", hashBuckets = 8)
    ingest(plain, 3, 0 until 3)
    assert(snapshot(cfg) == snapshot(plain),
      "generation + remainder view != plain epoch view")

    // second compaction folds gen 0 + epoch 2 into gen 1; gc drops gen 0
    val s2 = IncrementalLinkIndex.compact(spark, cfg).get
    assert(s2.gen == 1L && s2.foldedEpochs == Seq(0L, 1L, 2L))
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds) // cold-read the gc'd layout
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/index/links-compact/gen=0")),
      "gc must drop the superseded generation")
    assert(snapshot(cfg) == snapshot(plain))
  }

  test("crash windows: an unmarked generation is invisible; a marked one without dirs throws") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lc3").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 8)
    ingest(cfg, 3, 0 until 3)
    val before = snapshot(cfg)

    // simulate a crash between the gen writes and the marker: copy the
    // shape compact() would leave by running it, then DELETING the
    // marker — probes must fall back to the epoch view untouched
    IncrementalLinkIndex.compact(spark, cfg)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(s"$tmp/index/stats-compact"))
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds) // force cold reads
    assert(snapshot(cfg) == before,
      "an unmarked (crashed) generation leaked into the probe view")
    // re-running compact after the crash picks gen 0 again and commits
    val s = IncrementalLinkIndex.compact(spark, cfg).get
    assert(s.gen == 0L)
    assert(snapshot(cfg) == before)

    // the inverse corruption: marker present, gen dir deleted -> loud
    rmrf(new java.io.File(s"$tmp/index/links-compact"))
    Memo.shared.invalidate("", IncrementalLinkIndex.memoKinds)
    val err = intercept[IllegalStateException] {
      IncrementalLinkIndex.rank(spark, cfg).count()
    }
    assert(err.getMessage.contains("gen 0") &&
      err.getMessage.contains("missing"))
  }

  test("zero-anchor corpus compacts: probes stay empty-edged, pages stay ranked") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lc4").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 4)
    import spark.implicits._
    val pages = Seq((1L, "https://a.example.com/p1", "<p>no links</p>"))
      .toDF("doc_id", "url", "html")
    IncrementalLinkIndex.ingestBatch(cfg, pages, "doc_id", "url", "html", 0L)
    val stats = IncrementalLinkIndex.compact(spark, cfg).get
    assert(stats.rows("links") == 0L && stats.rows("urls") == 1L)
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    assert(IncrementalLinkIndex.resolved(spark, cfg).count() == 0)
    assert(IncrementalLinkIndex.inlinks(spark, cfg,
      Seq("https://a.example.com/p1")).count() == 0)
    val ranks = IncrementalLinkIndex.rank(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(ranks.toSeq == Seq((1L, 0L, 150000000000L)))
  }
}
