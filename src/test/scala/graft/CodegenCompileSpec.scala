package graft

import graft.operators.Memo

/** Every IVF, PQ and SQ gate query compiles its whole-stage code. With
  * `spark.sql.codegen.fallback=false` a stage whose generated Java fails
  * to compile (Janino's "Code grows beyond 64 KB", which the literal
  * centroid trees of the PQ encode used to hit) fails the query instead
  * of being logged and run interpreted. */
class CodegenCompileSpec extends SparkSpec {

  private val queries = Seq(
    "embed_ivf_topk", "embed_ivf_hardneg", "embed_ivf_recall",
    "embed_ivf_neardup", "dedup_semantic_kept", "embed_cluster_balance",
    "embed_pq_topk", "embed_pq_recall", "embed_ivfadc_topk",
    "embed_sq_topk", "embed_sq_recall", "embed_ivfsq_topk",
    "tfidf_ivfadc_knn")

  test("IVF, PQ and SQ gate queries run with codegen fallback off") {
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    // drop the memoized indexes so their builds (the encode stages) run
    // under this conf, not from an earlier suite's cache
    Seq("embeddings", "documents-tfidf64").foreach(c =>
      Memo.shared.invalidate(s"$sf/$c"))
    spark.conf.set(key, "false")
    try queries.foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty, s"$q returned no rows")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
