package graft

import org.apache.spark.sql.functions._
import graft.streaming.IncrementalSearchIndex
import graft.operators.TextSearch

/** Incremental BM25 index probes == the batch operator on the union
  * corpus, EXACTLY (same integer-grid scoring tail, complete df within
  * touched partitions); epochs idempotent; empty index probes empty. */
class IncrementalSearchSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private val Queries = Seq("spark window agg", "customer join filter")

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("three-epoch ingest == batch bm25TopK on the union; replay no-op; empty index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-srch").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index")
    val q = TextSearch.queriesDf(spark, Queries)

    // probe before any ingest: empty, not an AnalysisException
    assert(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10).count() == 0)

    (0 until 3).foreach { e =>
      IncrementalSearchIndex.ingestBatch(cfg,
        docs.filter(col("doc_id") % 3 === e), "doc_id", "text", e.toLong)
    }
    val got = collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10))
    val want = collect(TextSearch.bm25TopK(docs, "doc_id", "text", q,
      "query_id", "query_text", 10))
    assert(got == want, s"probe != batch: ${got.diff(want)} / ${want.diff(got)}")

    // replaying an already-landed epoch is a no-op (stats marker)
    IncrementalSearchIndex.ingestBatch(cfg,
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", 1L)
    val again = collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10))
    assert(again == want, "replay changed the index")

    // a query with no indexed terms returns nothing
    val none = IncrementalSearchIndex.probe(spark, cfg,
      TextSearch.queriesDf(spark, Seq("zzznope qqq")),
      "query_id", "query_text", 10)
    assert(none.count() == 0)

    // HALF-LANDED epoch: postings written, stats (the replay marker)
    // missing — a crash between the two writes. The probe must fence to
    // committed epochs: scoring the orphan postings while N/avgdl
    // exclude them would return inconsistent BM25 scores
    TextSearch.postings(
        docs.limit(50).select(col("doc_id") + 100000, col("text"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("t_mod", pmod(hash(col("term")), lit(64)).cast("long"))
      .write.mode("overwrite").partitionBy("t_mod")
      .parquet(s"${cfg.dir}/postings/epoch=99")
    val fenced = collect(IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10))
    assert(fenced == want, "probe scored postings from an uncommitted epoch")
  }

  test("streaming foreachBatch drive: index accumulates, probe == batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-srch2").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index")
    val dir = s"$tmp/in"
    val all = docs.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (e1, e2) = all.splitAt(all.size / 2)
    def write(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").json(dir)
      Thread.sleep(300)
    }
    write(e1); write(e2)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        IncrementalSearchIndex.ingestBatch(cfg, b, "doc_id", "text", id)
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val queries = TextSearch.queriesDf(spark, Queries)
    val got = collect(IncrementalSearchIndex.probe(spark, cfg, queries,
      "query_id", "query_text", 10))
    val want = collect(TextSearch.bm25TopK(docs, "doc_id", "text", queries,
      "query_id", "query_text", 10))
    assert(got == want, "stream-built index != batch on the same corpus")
  }

  test("ingest-time hybrid: incremental BM25 probe fused via rrfFuse == " +
      "batch hybridRrfTopK") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hyb").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index")
    val q = TextSearch.queriesDf(spark, Queries)
    (0 until 3).foreach { e =>
      IncrementalSearchIndex.ingestBatch(cfg,
        docs.filter(col("doc_id") % 3 === e), "doc_id", "text", e.toLong)
    }
    // lexical arm from the INGEST-TIME index, semantic arm batch, fused
    // with the factored rrfFuse — must equal the all-batch hybrid (the
    // probe is exactly bm25TopK on the union corpus, and fusion only
    // sees (query_id, doc_id, rank))
    val lex = IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 20)
    val sem = TextSearch.tfIdfDotTopK(docs, "doc_id", "text", q,
      "query_id", "query_text", 20)
    val fused = TextSearch.rrfFuse(Seq(lex, sem), k = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = TextSearch.hybridRrfTopK(docs, "doc_id", "text", q,
      "query_id", "query_text", k = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fused == want, "index-probe hybrid != batch hybrid")
  }
}
