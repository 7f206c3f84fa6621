package graft

import org.apache.spark.sql.functions._
import graft.streaming.IncrementalLinkIndex
import graft.queries.CurationOps

/** Ingest-time link index probes == the batch link operators on the
  * union corpus, EXACTLY (same extraction, same integer rank
  * recurrences — PageRank, TrustRank, HITS, domain rank); epochs
  * idempotent; point probe partition-pruned; zero-anchor pages ranked
  * (never dropped); corrupted indexes fail loudly (never empty). */
class IncrementalLinkSpec extends SparkSpec {

  private lazy val docs = graft.core.Tables.table(spark, sf, "documents")
    .select("doc_id", "text")

  private def built(tmp: String): IncrementalLinkIndex.Config = {
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 16)
    val n = docs.count()
    val pages = CurationOps.crawlPages(docs, n, withText = true)
    (0 until 3).foreach { e =>
      IncrementalLinkIndex.ingestBatch(cfg,
        pages.filter(pmod(col("doc_id"), lit(3)) === e),
        "doc_id", "url", "html", e.toLong)
    }
    cfg
  }

  test("rank/trustrank/hits/domain probes == their batch twins; anchors == batch; replay no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-link").toString
    val cfg = built(tmp)

    val wantRank = graft.SparkEntry.queries("web_link_pipeline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val gotRank = IncrementalLinkIndex.rank(spark, cfg, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(gotRank == wantRank,
      s"rank != batch: ${gotRank.diff(wantRank).take(3)} / ${
        wantRank.diff(gotRank).take(3)}")

    // r14 probe parity: the seeded, HITS, and domain recurrences over
    // the SAME materialized edges equal their batch gate twins
    val wantTrust = graft.SparkEntry.queries("link_trustrank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotTrust = IncrementalLinkIndex.rank(spark, cfg, iters = 5,
        teleport = Some(col("doc_id") % 97 === 0))
      .select("doc_id", "rank_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotTrust == wantTrust,
      s"trustrank != batch: ${gotTrust.diff(wantTrust).take(3)}")

    val wantHits = graft.SparkEntry.queries("link_hits")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotHits = IncrementalLinkIndex.hits(spark, cfg, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotHits == wantHits,
      s"hits != batch: ${gotHits.diff(wantHits).take(3)}")

    val wantDom = graft.SparkEntry.queries("domain_rank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gotDom = IncrementalLinkIndex.domainRank(spark, cfg, iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotDom == wantDom,
      s"domain rank != batch: ${gotDom.diff(wantDom).take(3)} / ${
        wantDom.diff(gotDom).take(3)}")

    val wantAnch = graft.SparkEntry.queries("link_anchor_texts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val gotAnch = IncrementalLinkIndex.anchors(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(gotAnch == wantAnch,
      s"anchors != batch: ${gotAnch.diff(wantAnch).take(3)} / ${
        wantAnch.diff(gotAnch).take(3)}")

    // replaying a landed epoch is a no-op (stats marker)
    val n = docs.count()
    IncrementalLinkIndex.ingestBatch(cfg,
      CurationOps.crawlPages(docs, n, withText = true)
        .filter(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "url", "html", 1L)
    val again = IncrementalLinkIndex.anchors(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(again == wantAnch, "replay changed the index")
  }

  test("point in-link probe: correct vs full resolution, and reads only touched buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-link2").toString
    val cfg = built(tmp)

    // two real corpus page urls (one of each domain family)
    val targets = Seq(
      "https://news.example.com/articles/item-0",
      "https://blog.sample.org/articles/item-1")
    val got = IncrementalLinkIndex.inlinks(spark, cfg, targets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    val want = IncrementalLinkIndex.resolved(spark, cfg)
      .filter(col("abs").isin(targets: _*))
      .select("abs", "src", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == want, s"inlinks mismatch: ${got.diff(want).take(3)}")
    assert(got.nonEmpty, "fixture should have in-links for item-0/item-1")

    // the probe canonicalizes its targets with the ingest's expressions:
    // upper-case scheme/host, a tracking param, a fragment and a
    // trailing slash all probe the same rows as the canonical URL
    def probe(url: String) = IncrementalLinkIndex.inlinks(spark, cfg, Seq(url))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    val canonical = probe(targets.head)
    assert(canonical.nonEmpty, "fixture should have in-links for item-0")
    assert(probe("HTTPS://NEWS.EXAMPLE.COM/articles/item-0/?utm_source=x#top")
      == canonical, "non-canonical spelling probed different rows")

    // partition-pruned: the scan carries a b_mod partition filter and
    // the executed read touches fewer files than the full bucket set
    // (inputFiles lists the UNpruned relation, so assert on the plan +
    // the numFiles metric instead)
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = IncrementalLinkIndex.inlinks(spark, cfg, targets)
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.partitionFilters.map(_.toString).mkString
        .contains("b_mod"), s"no b_mod partition filter in ${
          scan.partitionFilters}")
      val readFiles = scan.metrics("numFiles").value
      val allFiles = df.sparkSession.read
        .parquet(s"${cfg.dir}/links").inputFiles.length
      assert(readFiles > 0 && readFiles < allFiles,
        s"probe read $readFiles of $allFiles files — pruning did nothing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("zero-anchor corpus: edges empty, but the page still gets a rank row (n_links=0)") {
    // every page linkless -> the partitioned links write lands no
    // parquet data files; edge probes degrade to empty, and rank KEEPS
    // the page — a linkless page is a valid authority (r13 verdict #2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-link0").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 4)
    import spark.implicits._
    val pages = Seq((1L, "https://a.example.com/p1", "<p>no links</p>"))
      .toDF("doc_id", "url", "html")
    IncrementalLinkIndex.ingestBatch(cfg, pages, "doc_id", "url", "html", 0L)
    assert(IncrementalLinkIndex.resolved(spark, cfg).count() == 0)
    assert(IncrementalLinkIndex.anchors(spark, cfg).count() == 0)
    assert(IncrementalLinkIndex.inlinks(spark, cfg,
      Seq("https://a.example.com/p1")).count() == 0)
    val ranks = IncrementalLinkIndex.rank(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // sole node, no edges: rank = the damped base share 0.15 * 1e12
    assert(ranks.toSeq == Seq((1L, 0L, 0L, 150000000000L)),
      s"zero-anchor page dropped or mis-counted: ${ranks.toSeq}")
  }

  test("zero-anchor page INSIDE a linked corpus: batch and incremental keep it, in lockstep") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-link4").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 4)
    import spark.implicits._
    val u = (i: Long) => s"https://site$i.example.com/p"
    // page 3 has NO anchors but is linked BY 1 and 2 (an authority);
    // pages 1 and 2 link to each other and to 3
    val pages = Seq(
      (1L, u(1), s"""<p>one</p><a href="${u(2)}">two</a> <a href="${u(3)}">three</a>"""),
      (2L, u(2), s"""<a href="${u(1)}">one</a><a href="${u(3)}">three</a>"""),
      (3L, u(3), "<p>linkless authority</p>"))
      .toDF("doc_id", "url", "html")
    (0 until 2).foreach { e =>
      IncrementalLinkIndex.ingestBatch(cfg,
        pages.filter(pmod(col("doc_id"), lit(2)) === e),
        "doc_id", "url", "html", e.toLong)
    }
    val urlmap = pages.select(
      graft.functions.Urls.normalize(col("url")).as("url_norm"),
      col("doc_id").as("dst"))
    val want = CurationOps.webLinkRank(pages, urlmap,
        pages.select("doc_id"), cacheKey = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = IncrementalLinkIndex.rank(spark, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want, s"lockstep broken: $got vs $want")
    val three = got.find(_._1 == 3L)
    assert(three.exists(t => t._2 == 0L && t._3 == 0L && t._4 > 0L),
      s"zero-anchor page must keep a rank row with n_links=n_out=0: $three")
    // and it is the best-ranked page (two in-links, the others one)
    assert(three.get._4 == got.map(_._4).max)
  }

  test("probes refuse an empty index loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-link3").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/none")
    intercept[IllegalArgumentException] {
      IncrementalLinkIndex.rank(spark, cfg)
    }
    intercept[IllegalArgumentException] {
      IncrementalLinkIndex.inlinks(spark, cfg, Seq("https://x.example/"))
    }
  }

  test("corrupted index fails loudly, never empty (r14: no AnalysisException catch)") {
    import spark.implicits._
    val pages = Seq((1L, "https://a.example.com/p1",
      "<a href=\"https://a.example.com/p2\">two</a>"),
      (2L, "https://a.example.com/p2", "<p>plain</p>"))
      .toDF("doc_id", "url", "html")

    // (a) a committed epoch whose links/ directory was deleted out from
    // under the stats marker: refuse with context, don't serve seed-only
    val tmpA = java.nio.file.Files.createTempDirectory("graft-linkc1").toString
    val cfgA = IncrementalLinkIndex.Config(s"$tmpA/index", hashBuckets = 4)
    IncrementalLinkIndex.ingestBatch(cfgA, pages, "doc_id", "url", "html", 0L)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(s"$tmpA/index/links/epoch=0"))
    val err = intercept[IllegalStateException] {
      IncrementalLinkIndex.rank(spark, cfgA).count()
    }
    assert(err.getMessage.contains("epoch 0") &&
      err.getMessage.contains("missing"))

    // (b) data files present but unreadable (corrupt footers): the read
    // error propagates instead of degrading to an empty edge set
    val tmpB = java.nio.file.Files.createTempDirectory("graft-linkc2").toString
    val cfgB = IncrementalLinkIndex.Config(s"$tmpB/index", hashBuckets = 4)
    IncrementalLinkIndex.ingestBatch(cfgB, pages, "doc_id", "url", "html", 0L)
    val parts = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$tmpB/index/links"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(parts.nonEmpty, "fixture must land parquet data files")
    parts.foreach(p => java.nio.file.Files.write(p,
      "not a parquet file".getBytes("UTF-8")))
    val thrown = intercept[Exception] {
      IncrementalLinkIndex.rank(spark, cfgB).count()
    }
    assert(!thrown.isInstanceOf[IllegalArgumentException],
      s"expected a read failure, got: $thrown")
  }

  test("materialized rank priors == the computed fixed points; stale on a new epoch; superseded tables gc-swept") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-linkm").toString
    val cfg = IncrementalLinkIndex.Config(s"$tmp/index", hashBuckets = 16)
    val n = docs.count()
    val pages = CurationOps.crawlPages(docs, n, withText = true)
    (0 until 2).foreach { e =>
      IncrementalLinkIndex.ingestBatch(cfg,
        pages.filter(pmod(col("doc_id"), lit(3)) === e),
        "doc_id", "url", "html", e.toLong)
    }
    def rankSnap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def domSnap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def matDirs() = {
      val d = new java.io.File(s"${cfg.dir}/rank-mat")
      if (d.isDirectory) d.listFiles().map(_.getName).toSet
      else Set.empty[String]
    }

    // first access materializes; the table is bit-identical to rank()
    val want2 = rankSnap(IncrementalLinkIndex.rank(spark, cfg, iters = 5))
    assert(rankSnap(IncrementalLinkIndex.rankPrior(spark, cfg, iters = 5))
      == want2)
    assert(domSnap(IncrementalLinkIndex.domainRankPrior(spark, cfg))
      == domSnap(IncrementalLinkIndex.domainRank(spark, cfg)))
    val dirs2 = matDirs()
    assert(dirs2.size == 2, s"expected rank+domain tables, got $dirs2")

    // a new committed epoch keys a NEW table: the prior reflects the
    // 3-epoch view (staleness = the committed-epoch set), and the old
    // tables remain until gc
    IncrementalLinkIndex.ingestBatch(cfg,
      pages.filter(pmod(col("doc_id"), lit(3)) === 2),
      "doc_id", "url", "html", 2L)
    val want3 = rankSnap(IncrementalLinkIndex.rank(spark, cfg, iters = 5))
    assert(want3 != want2, "fixture regression: epoch 2 changed nothing")
    assert(rankSnap(IncrementalLinkIndex.rankPrior(spark, cfg, iters = 5))
      == want3, "prior served a stale epoch set")
    assert(matDirs().size == 3, "the superseded table should survive until gc")

    // gc sweeps aged superseded tables, keeps the current ones
    IncrementalLinkIndex.gc(spark, cfg, graceMs = 0L)
    val kept = matDirs()
    assert(kept.size == 1 && !kept.exists(dirs2.contains),
      s"gc kept the wrong prior tables: $kept")
    assert(rankSnap(IncrementalLinkIndex.rankPrior(spark, cfg, iters = 5))
      == want3)
  }
}
