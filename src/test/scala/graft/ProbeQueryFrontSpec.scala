package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextSearch
import graft.streaming.{IncrementalAnnIndex, IncrementalSearchIndex}

/** The probes' query front is driver-local: a query frame read from
  * parquet (distributed) costs one collect job at construction, a local
  * frame none, and both return exactly the same rows. */
class ProbeQueryFrontSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-qfront").toString

  private def annRows(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("BM25: a parquet query frame probes exactly as the local frame") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val cfg = IncrementalSearchIndex.Config(s"$tmp/search", hashBuckets = 8)
    (0 until 2).foreach(e => IncrementalSearchIndex.ingestBatch(cfg,
      docs.filter(pmod(col("doc_id"), lit(2)) === e), "doc_id", "text",
      e.toLong))
    val texts = Seq("spark window agg", "customer order", "", "zzz-no-match",
      "the the of")
    val local = TextSearch.queriesDf(spark, texts)
    local.write.parquet(s"$tmp/bm25-queries")
    val dist = spark.read.parquet(s"$tmp/bm25-queries")
    def probe(q: DataFrame) = IncrementalSearchIndex.probe(spark, cfg, q,
      "query_id", "query_text", 10)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    probe(local).collect() // warm the index metadata
    val (l, lJobs) = jobsDuring(probe(local))
    assert(lJobs == 0, s"a local query frame fired $lJobs construction jobs")
    val (d, dJobs) = jobsDuring(probe(dist))
    info(s"construction jobs: local $lJobs, parquet $dJobs")
    val want = rows(l)
    assert(want.nonEmpty)
    assert(rows(d) == want)
    assert(want == rows(TextSearch.bm25TopK(docs, "doc_id", "text", local,
      "query_id", "query_text", 10)))
  }

  test("ANN: a parquet query frame probes exactly as the local frame") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cfg = IncrementalAnnIndex.Config(s"$tmp/ann", dim = 64,
      hashBuckets = 8)
    (0 until 2).foreach(e => IncrementalAnnIndex.ingestBatch(cfg,
      emb.filter(pmod(col("vec_id"), lit(2)) === e), "vec_id", "embedding",
      e.toLong))
    val picked = emb.filter(col("vec_id") < 6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val local = picked.toSeq.toDF("vec_id", "embedding")
    local.write.parquet(s"$tmp/ann-queries")
    val dist = spark.read.parquet(s"$tmp/ann-queries")
    def probe(q: DataFrame) = IncrementalAnnIndex.topK(spark, cfg, q,
      "vec_id", "embedding", 10)

    probe(local).collect()
    val (l, lJobs) = jobsDuring(probe(local))
    assert(lJobs == 0, s"a local query frame fired $lJobs construction jobs")
    val (d, dJobs) = jobsDuring(probe(dist))
    info(s"construction jobs: local $lJobs, parquet $dJobs")
    val want = annRows(l)
    assert(want.map(_._1) == picked.map(_._1).toSet)
    assert(annRows(d) == want)
  }
}
