package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): select raw-corpus documents whose hashed bag-of-words
  * looks like a TARGET corpus, by importance weight under two smoothed
  * hashed unigram language models:
  *
  *   log w(x) = Σ_j c_j(x) · (log p̂_target(j) − log p̂_raw(j))
  *
  * with add-α smoothing over `dim` hashed buckets. The paper resamples
  * with Gumbel noise; this implementation ranks deterministically by
  * weight (ties by doc id) — the deterministic top-k variant, which is
  * what an oracle-gated pipeline wants (documented divergence).
  *
  * Scale shape: two dim-bounded count aggregates (map-side combined)
  * build the bucket LMs; the log-ratio table is driver-built from the
  * exact integer counts and ships back as a dim-element literal array —
  * per-doc scoring is then (doc, bucket, cnt) rows → one exact BIGINT
  * sum per doc. Nothing in the plan grows with dim × corpus: the wide
  * shuffles carry (doc, bucket) count rows (linear in corpus tokens,
  * pre-combined) and the final top-k is a bounded heap.
  *
  * Deterministic BY CONSTRUCTION: bucket counts are exact integers, the
  * driver computes floor(log-ratio · 1e9) per bucket once (fixed double
  * evaluation, same on every JVM), and each doc's weight is an exact
  * BIGINT dot product of counts with those grid ratios — bit-identical
  * under any partition layout.
  */
object Dsir {

  /** (idCol, bucket, cnt): hashed unigram counts, one row per (doc,
    * bucket) — tokens via the shared dialect, murmur3 → `dim` buckets. */
  def hashedCounts(docs: DataFrame, idCol: String, textCol: String,
                   dim: Int): DataFrame =
    docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol)))
        .as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col(idCol), pmod(hash(col("__tok")), lit(dim)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-bucket floor(1e9 · (log p̂_target − log p̂_raw)) with add-α
    * smoothing, as a dim-element array (index = bucket). Driver-side:
    * both LMs are dim-bounded integer count vectors. */
  private[graft] def logRatioGrid(rawCounts: Array[Long],
                                  targetCounts: Array[Long],
                                  alpha: Double): Array[Long] = {
    val dim = rawCounts.length
    val rawTot = rawCounts.sum.toDouble + alpha * dim
    val tgtTot = targetCounts.sum.toDouble + alpha * dim
    Array.tabulate(dim) { j =>
      val lp = math.log((targetCounts(j) + alpha) / tgtTot)
      val lq = math.log((rawCounts(j) + alpha) / rawTot)
      math.floor((lp - lq) * 1e9).toLong
    }
  }

  private def bucketTotals(counts: DataFrame, dim: Int): Array[Long] = {
    val a = new Array[Long](dim)
    counts.groupBy("bucket").agg(sum("cnt").as("c")).collect()
      .foreach(r => a(r.getInt(0)) = r.getLong(1))
    a
  }

  /** (idCol, w9): exact-grid log importance weight of every `raw` doc —
    * BIGINT Σ c_j · ratio9_j (token-less docs get weight 0).
    *
    * r18 (guide §2.6 + §1.2; profiled wall ≈ Σ sequential stage time at
    * sf0.1 with the tokenize CPU already fanned wide): the call's
    * eager work was THREE sequential corpus tokenize passes — raw
    * totals, target totals, then the scoring job re-tokenizing raw.
    * Now (a) the raw counts are fenced ([[Fence.persistedOnce]] — an
    * RDD re-root, so the totals collect and the scoring job share ONE
    * pass within this call while the NEXT call still recomputes: no
    * CacheManager plan-matching, no cross-run result reuse), and
    * (b) the two totals collects run CONCURRENTLY (independent jobs;
    * the scheduler backfills — guide §2.6), so the grid is ready after
    * max(raw, target) instead of raw + target. The grid itself stays
    * driver-built ([[logRatioGrid]] — a lazy in-plan grid was measured
    * SLOWER at sf0.1: it deepens the single job's AQE stage chain, and
    * per-stage latency dominates this slot). */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, dim: Int,
                        alpha: Double = 1.0): DataFrame = {
    val rawCounts = Fence.persistedOnce(hashedCounts(raw, idCol, textCol, dim))
    val tgtTotals = SideInput(raw.sparkSession, "dsir target totals")(
      bucketTotals(hashedCounts(target, idCol, textCol, dim), dim))
    val rawTotals = bucketTotals(rawCounts, dim)
    val ratio9 = logRatioGrid(rawTotals,
      SideInput.await(raw.sparkSession, tgtTotals), alpha)
    val ratioCol: Column = lit(ratio9)
    val summed = rawCounts
      .groupBy(idCol)
      .agg(sum(col("cnt") * element_at(ratioCol, col("bucket") + 1))
        .as("w9"))
    raw.select(col(idCol)).join(summed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("w9"), lit(0L)).as("w9"))
  }

  /** Top-`k` raw docs by importance weight (desc, ties by id asc) —
    * the deterministic selection pass. */
  def select(raw: DataFrame, target: DataFrame, idCol: String,
             textCol: String, dim: Int, k: Int,
             alpha: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = importanceWeights(raw, target, idCol, textCol, dim, alpha)
    // orderBy+limit plans as TakeOrderedAndProject (per-partition heaps,
    // no global sort); the rank window then runs over k rows only
    val topk = w.orderBy(desc("w9"), col(idCol)).limit(k)
    topk.withColumn("rank",
        row_number().over(Window.orderBy(desc("w9"), col(idCol))))
      .select(col(idCol), col("rank").cast("int").as("rank"), col("w9"))
  }
}
