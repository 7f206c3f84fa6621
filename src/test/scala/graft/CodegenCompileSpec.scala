package graft

import graft.operators.{Graphs, Memo}
import graft.streaming.IncrementalLinkIndex

/** Every IVF, PQ and SQ gate query, and every registered-domain query,
  * compiles its whole-stage code. With `spark.sql.codegen.fallback=false`
  * a stage whose generated Java fails to compile (Janino's "Code grows
  * beyond 64 KB", which the literal centroid trees of the PQ encode and
  * the per-branch host regexes of `Urls.registeredDomain` used to hit)
  * fails the query instead of being logged and run interpreted. */
class CodegenCompileSpec extends SparkSpec {

  private val vectorQueries = Seq(
    "embed_ivf_topk", "embed_ivf_hardneg", "embed_ivf_recall",
    "embed_ivf_neardup", "dedup_semantic_kept", "embed_cluster_balance",
    "embed_pq_topk", "embed_pq_recall", "embed_ivfadc_topk",
    "embed_sq_topk", "embed_sq_recall", "embed_ivfsq_topk",
    "tfidf_ivfadc_knn")

  /** `url_curate` and `domain_rank` apply `registeredDomain` to fixture
    * URLs; `domain_incr_rank` aggregates the link index's (src, dst)
    * domain edges over resolved anchors. */
  private val domainQueries = Seq("url_curate", "domain_rank",
    "domain_incr_rank")

  private def runWithFallbackOff(queries: Seq[String]): Unit = {
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try queries.foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty, s"$q returned no rows")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("IVF, PQ and SQ gate queries run with codegen fallback off") {
    // drop the memoized indexes so their builds (the encode stages) run
    // under this conf, not from an earlier suite's cache
    Seq("embeddings", "documents-tfidf64").foreach(c =>
      Memo.shared.invalidate(s"$sf/$c"))
    runWithFallbackOff(vectorQueries)
  }

  test("registered-domain queries run with codegen fallback off") {
    // the domain edges are memoized per index view: rebuild them here
    Memo.shared.invalidate("", Graphs.memoKinds ++ IncrementalLinkIndex.memoKinds)
    runWithFallbackOff(domainQueries)
  }
}
