package graft

import org.apache.spark.sql.functions._
import graft.queries.CurationOps
import graft.streaming.{GenStore, IncrementalLinkIndex,
  IncrementalSearchIndex, Maintenance}

/** Policy-driven ingest-path maintenance (r16 verdict #1 — the
  * reference's interval compactor, `pipeline/node.go:33,417-436`, as an
  * epoch-commit hook instead of a CLI an operator must remember):
  *
  *   - the trigger fires AT the threshold, not before;
  *   - a held claim (another maintainer) SKIPS loudly — the stream
  *     survives, and the next epoch's check retries;
  *   - a config-driven stream drive compacts and refreshes the rank
  *     tables MID-STREAM, with probe parity against a plain
  *     epoch-ingested twin;
  *   - the file-count trigger arms independently of the epoch trigger.
  */
class MaintenancePolicySpec extends SparkSpec {

  private lazy val docs = graft.core.Tables.table(spark, sf, "documents")
    .select("doc_id", "text")

  test("epoch trigger fires at the threshold, not before; probes stay parity") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mpol").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index", hashBuckets = 8)
    val plain = IncrementalSearchIndex.Config(s"$tmp/plain", hashBuckets = 8)
    val sink = new IncrementalSearchIndex.IndexSink(cfg, Seq("doc_id", "text"),
      maintain = Some(Maintenance.Policy(everyEpochs = 3, graceMs = 0L)))
    def gens = GenStore.committedGens(spark, cfg.dir)
    (0 until 4).foreach { e =>
      val slice = docs.filter(pmod(col("doc_id"), lit(4)) === e)
      sink.writeEpoch(slice, e.toLong)
      IncrementalSearchIndex.ingestBatch(plain, slice, "doc_id", "text",
        e.toLong)
      // remainder after epochs 0,1 is 1,2 (< 3): must NOT have fired;
      // epoch 2 makes remainder 3 (== threshold): must fire exactly
      // there; epoch 3's remainder is 1 again
      if (e < 2) assert(gens.isEmpty, s"fired early at epoch $e")
      else assert(gens == Seq(0L), s"wrong generation set after epoch $e")
    }
    // the folded epochs' data was gc'd at grace 0, markers remain
    assert(GenStore.markedEpochs(spark, s"${cfg.dir}/stats") ==
      Seq(0L, 1L, 2L, 3L))
    val q = graft.operators.TextSearch.queriesDf(spark,
      Seq("spark window agg", "customer join filter"))
    def probe(c: IncrementalSearchIndex.Config) =
      IncrementalSearchIndex.probe(spark, c, q, "query_id", "query_text", 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(probe(cfg) == probe(plain),
      "self-maintained index != plain epoch twin")
  }

  test("held claim skips loudly; the next epoch retries and maintains") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mpol2").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index", hashBuckets = 8)
    val sink = new IncrementalSearchIndex.IndexSink(cfg, Seq("doc_id", "text"),
      maintain = Some(Maintenance.Policy(everyEpochs = 2, graceMs = 0L)))
    sink.writeEpoch(docs.filter(pmod(col("doc_id"), lit(3)) === 0), 0L)

    // another maintainer holds the claim when the threshold epoch lands:
    // the ingest must COMMIT its epoch and skip the pass, not die
    val claim = new java.io.File(s"${cfg.dir}/stats-compact/_claim_gen=0")
    claim.getParentFile.mkdirs()
    assert(claim.createNewFile())
    sink.writeEpoch(docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1L)
    assert(GenStore.markedEpochs(spark, s"${cfg.dir}/stats") == Seq(0L, 1L),
      "the epoch itself must commit even when maintenance is skipped")
    assert(GenStore.committedGens(spark, cfg.dir).isEmpty,
      "a skipped pass must not fold anything")

    // the claim clears (its holder finished or was gc'd): the next
    // epoch's check sees remainder 3 >= 2 and maintains
    assert(claim.delete())
    sink.writeEpoch(docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
    assert(GenStore.committedGens(spark, cfg.dir) == Seq(0L))
  }

  test("file-count trigger arms independently of the epoch trigger") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mpol3").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index", hashBuckets = 8)
    IncrementalSearchIndex.ingestBatch(cfg,
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text", 0L)
    val eps = GenStore.markedEpochs(spark, s"${cfg.dir}/stats")
    val epochPol = Maintenance.Policy(everyEpochs = 8)
    val prEpoch = Maintenance.pressure(spark, cfg.dir, Seq("postings"),
      eps, withFiles = false)
    assert(prEpoch.remainderEpochs == 1 && prEpoch.liveFiles == -1L)
    assert(!Maintenance.due(prEpoch, epochPol))
    val filePol = Maintenance.Policy(everyEpochs = 8, maxLiveFiles = 1L)
    val prFiles = Maintenance.pressure(spark, cfg.dir, Seq("postings"),
      eps, withFiles = true)
    assert(prFiles.liveFiles >= 1L, s"$prFiles")
    assert(Maintenance.due(prFiles, filePol))
    // and the boundary is >=, not >
    assert(!Maintenance.due(prFiles,
      Maintenance.Policy(everyEpochs = 8, maxLiveFiles = prFiles.liveFiles + 1)))
  }

  test("config-driven stream drive self-maintains mid-stream (link index)") {
    import graft.pipeline.ConfigLoader
    val work = java.nio.file.Files.createTempDirectory("graft-mpol4").toString
    val inDir = s"$work/in"
    val d = docs
    val n = d.count()
    val pages = CurationOps.crawlPages(d, n, withText = true)
      .localCheckpoint(true)
    // three arrival files = three micro-batch epochs (the source caps
    // one file per trigger); the policy fires on the SECOND epoch
    (0 until 3).foreach { e =>
      val stage = s"$work/stage$e"
      pages.filter(pmod(col("doc_id"), lit(3)) === e)
        .coalesce(1).write.mode("overwrite").json(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".json")).get
      new java.io.File(inDir).mkdirs()
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(inDir, f"$e%03d.jsonl"))
    }
    ConfigLoader.parse(
      s"""{"name": "crawl-index", "mode": "stream",
         | "checkpoint": "$${CKPT}",
         | "source": {"adaptor": "file", "uri": "$${IN}",
         |   "schema": "doc_id long, url string, html string",
         |   "max_files_per_trigger": 1},
         | "sinks": [{"adaptor": "link-index", "dir": "$${IDX}",
         |   "hash_buckets": 8, "maintain_every": 2,
         |   "maintain_grace_ms": 0}]}""".stripMargin,
      Map("CKPT" -> s"$work/ckpt", "IN" -> inDir,
        "IDX" -> s"$work/index")).run(spark)

    val cfg = IncrementalLinkIndex.Config(s"$work/index", hashBuckets = 8)
    // mid-stream maintenance happened: epochs 0+1 folded into gen 0
    // while epoch 2 stayed remainder, and the rank tables of the fold's
    // view were materialized at that moment
    assert(GenStore.markedEpochs(spark, s"${cfg.dir}/stats") ==
      Seq(0L, 1L, 2L))
    assert(GenStore.committedGens(spark, cfg.dir) == Seq(0L))
    val mats = new java.io.File(s"${cfg.dir}/rank-mat").listFiles()
    assert(mats != null && mats.exists(_.getName.startsWith("rank-")) &&
      mats.exists(_.getName.startsWith("hits-")),
      "mid-stream maintenance must materialize the rank tables")

    // probe parity: the self-maintained stream index == a plain
    // epoch-ingested twin (same slices, no maintenance)
    val plain = IncrementalLinkIndex.Config(s"$work/plain", hashBuckets = 8)
    (0 until 3).foreach { e =>
      IncrementalLinkIndex.ingestBatch(plain,
        pages.filter(pmod(col("doc_id"), lit(3)) === e),
        "doc_id", "url", "html", e.toLong)
    }
    def snap(c: IncrementalLinkIndex.Config) =
      IncrementalLinkIndex.rank(spark, c).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(snap(cfg) == snap(plain),
      "stream-maintained index != plain epoch twin")
  }
}
