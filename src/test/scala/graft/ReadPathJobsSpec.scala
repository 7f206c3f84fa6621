package graft

import org.apache.spark.sql.functions._
import graft.operators.TextSearch
import graft.streaming.{IncrementalAnnIndex, IncrementalDedup,
  IncrementalSearchIndex}

/** The read path is construction-free: after one warm construction,
  * building a gate query's DataFrame or an index probe runs no Spark job
  * (schemas come from `Tables`' per-path entries, the auto-nlist count
  * from the memo, a local query frame folds on the driver) — committed
  * generation markers and epoch stats rows are read once per session,
  * so only a new epoch's stats marker costs a job. */
class ReadPathJobsSpec extends SparkSpec {

  /** The jobs of one steady probe's `collect`, at sf0.001 under AQE (one
    * per shuffle stage and one for the result): the counts measured when
    * each probe became one plan. */
  private val BM25CollectJobs = 3
  private val AnnCollectJobs = 6

  test("constructing any sql_* query or dedup_semantic_kept fires no job") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("sql_"))
      .toSeq.sorted :+ "dedup_semantic_kept"
    assert(names.size > 1)
    names.foreach(q => SparkEntry.queries(q)(spark, sf)) // warm
    val fired = names.map(q => q -> jobsDuring(SparkEntry.queries(q)(spark, sf))._2)
      .filter(_._2 > 0)
    assert(fired.isEmpty, s"construction fired jobs: ${fired.mkString(", ")}")
  }

  test("steady-state probes fire at most their prune jobs; an ingest adds at most one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-readpath").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val scfg = IncrementalSearchIndex.Config(s"$tmp/search", hashBuckets = 8)
    val acfg = IncrementalAnnIndex.Config(s"$tmp/ann", dim = 64,
      hashBuckets = 8)
    def ingest(e: Long, of: Long): Unit = {
      IncrementalSearchIndex.ingestBatch(scfg,
        docs.filter(pmod(col("doc_id"), lit(of)) === e), "doc_id", "text", e)
      IncrementalAnnIndex.ingestBatch(acfg,
        emb.filter(pmod(col("vec_id"), lit(of)) === e), "vec_id",
        "embedding", e)
    }
    // epochs 0 and 1 of 3, then a compaction generation, then epoch 2
    ingest(0, 3); ingest(1, 3)
    IncrementalSearchIndex.compact(spark, scfg)
    IncrementalAnnIndex.compact(spark, acfg)

    val q = TextSearch.queriesDf(spark, Seq("spark window agg"))
    val qv = emb.filter(col("vec_id") === 7L).limit(1).collect()
    import spark.implicits._
    val annQ = Seq((7L, qv(0).getSeq[Float](1))).toDF("vec_id", "embedding")
    def bm25 = IncrementalSearchIndex.probe(spark, scfg, q, "query_id",
      "query_text", 10)
    def ann = IncrementalAnnIndex.topK(spark, acfg, annQ, "vec_id",
      "embedding", 10)

    bm25.collect(); ann.collect() // warm
    val (b, bJobs) = jobsDuring(bm25)
    val (a, aJobs) = jobsDuring(ann)
    info(s"steady construction jobs: bm25 $bJobs, ann $aJobs")
    assert(bJobs == 0, s"steady BM25 probe construction fired $bJobs jobs")
    assert(aJobs == 0, s"steady ANN probe construction fired $aJobs jobs")
    val (_, bCollect) = jobsDuring(b.collect())
    val (_, aCollect) = jobsDuring(a.collect())
    info(s"collect jobs: bm25 $bCollect, ann $aCollect")
    assert(bCollect <= BM25CollectJobs,
      s"steady BM25 probe collect ran $bCollect jobs")
    assert(aCollect <= AnnCollectJobs,
      s"steady ANN probe collect ran $aCollect jobs")

    ingest(2, 3)
    // the one job allowed: reading the new epoch's stats marker
    val (b2, bAfter) = jobsDuring(bm25)
    val (_, aAfter) = jobsDuring(ann)
    info(s"after an ingest: bm25 $bAfter, ann $aAfter")
    assert(bAfter <= 1, s"BM25 probe after an ingest fired $bAfter jobs")
    assert(aAfter <= 1, s"ANN probe after an ingest fired $aAfter jobs")
    // and the probe still sees the new epoch exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(b2) == rows(TextSearch.bm25TopK(docs, "doc_id", "text", q,
      "query_id", "query_text", 10)))
  }

  // the touched-bucket prune is GenStore.pruneSet: one job, where a
  // distinct().collect() runs two under AQE
  test("a steady dedup epoch ingest fires at most 29 jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedupjobs").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val cfg = IncrementalDedup.Config(s"$tmp/dedup", hashBuckets = 8)
    def ingest(e: Long): Unit = IncrementalDedup.ingestBatch(cfg,
      docs.filter(pmod(col("doc_id"), lit(3L)) === e), "doc_id", "text", e)
    ingest(0); ingest(1) // an index with committed epochs to dedup against
    val (_, jobs) = jobsDuring(ingest(2))
    info(s"steady dedup epoch ingest: $jobs jobs")
    assert(jobs <= 29, s"a steady dedup epoch ingest fired $jobs jobs")
  }
}
