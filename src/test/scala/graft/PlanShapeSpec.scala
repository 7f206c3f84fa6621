package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.expressions.FreqItemsAggregate.freq_items
import graft.operators.{Resample, Splits}

/** Plan-shape assertions for the round-4 operators: the properties that
  * keep them alive at 100 TB, pinned so a refactor cannot silently trade
  * them away. */
class PlanShapeSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("mixTemperature: rate table broadcast, data rows never shuffle") {
    val plan = Splits.mixTemperature(docs, "lang", "doc_id", "s42")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    // no sort-merge join: the corpus side must stream map-side
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("capPerGroup: survivor ids broadcast into a semi join; no window") {
    val plan = Splits.capPerGroup(docs, "source", "doc_id", 5, "s42")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    // the per-group selection is the bounded-heap aggregate
    assert(plan.contains("top_k_by"), plan.take(1500))
  }

  test("freq_items: partial ObjectHashAggregate below the exchange") {
    val plan = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .agg(freq_items(col("tok"), 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(plan.contains("partial_freq_items"), plan.take(1500))
    // the shuffle carries one summary per partition, not the token rows:
    // exactly one exchange, and it sits above the partial aggregate
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"want 1 exchange, got $exchanges\n" + plan.take(1500))
  }

  test("corpusFreqStats: aggregated counts join, never a per-token window") {
    val plan = TextFunctions.corpusFreqStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    // token counts are partial-aggregated before the join
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("HashAggregate"), plan.take(1500))
  }

  test("gridFill: grid generated per key from the span aggregate (no cross join)") {
    val ev = graft.core.Tables.table(spark, sf, "events")
    val plan = Resample.gridFill(ev, "event_type", "ts", "value",
      "event_id", "hour").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the dense grid comes from a generator, not a calendar table
    assert(plan.contains("Generate"), plan.take(1500))
  }

  test("q7: dims broadcast, no cartesian blowup on the 5-way join") {
    val plan = graft.SparkEntry.queries("sql_q7_volume")(spark, sf)
      .queryExecution.executedPlan.toString
    // the nation joins must broadcast (tiny dims); the disjunctive
    // two-nation predicate must NOT degrade to a nested-loop join
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q18: the HAVING subquery lands as a join, not a per-row probe") {
    val plan = graft.SparkEntry.queries("sql_q18_large_orders")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("oplog resolveUpdates: id keys are codegen'd expressions, no ScalaUDF") {
    // spark.range leaves (a LocalRelation would constant-fold the keys away)
    val envelopes = spark.range(3).select(lit("update").as("op"),
      lit(1L).as("ts"), lit("db.users").as("ns"), col("id").as("seq"),
      concat(lit("{\"_id\": "), col("id"), lit("}")).as("data"))
    val collection = spark.range(3).select(col("id").as("_id"),
      lit("ann").as("name"))
    val resolved = graft.sources.MongoOplog.resolveUpdates(envelopes, collection)
    val plan = resolved.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("UDF("), plan.take(2000))
    assert(plan.contains("mongo_id_key"), plan.take(2000))
  }

  test("q13: the outer join survives planning (zero-order customers kept)") {
    val plan = graft.SparkEntry.queries("sql_q13_custdist")(spark, sf)
      .queryExecution.executedPlan.toString
    // the ON-clause filter must ride the join, not convert it to inner
    assert(plan.contains("LeftOuter"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q19: disjunction-of-conjunctions keeps the equi-join") {
    val plan = graft.SparkEntry.queries("sql_q19_disjunctive")(spark, sf)
      .queryExecution.executedPlan.toString
    // the common p_partkey = l_partkey must be extracted from the OR —
    // a nested-loop/cartesian here is the classic Q19 planner failure
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(2000))
  }

  test("q2: correlated best-supplier agg plans as joins, never a per-row probe") {
    val plan = graft.SparkEntry.queries("sql_q2_best_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("dedup_spans: keeper election partial-aggregates; map-side rebuild") {
    val plan = graft.operators.SpanDedup
      .removeDupSpans(docs, "doc_id", "text", k = 8)
      .queryExecution.executedPlan.toString
    // hot grams must be pre-combined map-side before the gram shuffle
    assert(plan.contains("partial_min") || plan.contains("partial_merge")
      || plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the rebuild is a positional filter against the covered array, not
    // a per-token regroup: no Window, no collect_list over corpus tokens
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("q15: twice-consumed CTE plans as joins; no cartesian") {
    val plan = graft.SparkEntry.queries("sql_q15_top_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("Join"), plan.take(2000))
  }

  test("q20: grouped-HAVING IN lands as a semi join, not a per-row probe") {
    val plan = graft.SparkEntry.queries("sql_q20_qty_suppliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("hashedTfIdf: no window, no cartesian; map assembly after one groupBy") {
    val plan = graft.operators.TextSearch
      .hashedTfIdf(docs, "doc_id", "text", 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    // per-doc assembly: one collect_list aggregate probed by element_at
    // (map_from_entries folds into these in the executed plan)
    assert(plan.contains("collect_list") && plan.contains("element_at"),
      plan.take(2000))
  }

  test("c4 line filter: whole filter stays in one projection, no shuffle") {
    val cleaned = docs.select(col("doc_id"),
      TextFunctions.c4CleanLines(col("text")).as("kept"))
    val plan = cleaned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("imageNearDupPairs: banded buckets, never a cartesian over images") {
    import spark.implicits._
    val imgs = (0L until 32L).map(id => (id,
      graft.multimodal.Multimodal.Png.encode(
        graft.multimodal.Multimodal.Png.groupedPattern(id / 4, (id % 4).toInt))))
      .toDF("doc_id", "png")
    val plan = graft.multimodal.Multimodal
      .imageNearDupPairs(imgs, "doc_id", "png", maxHamming = 3)
      .queryExecution.executedPlan.toString
    // candidates come from the capped bucket aggregate (same machinery as
    // simhash), verified by id-keyed joins — an all-pairs image compare
    // would appear as CartesianProduct/BroadcastNestedLoopJoin
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(plan.contains("top_k_rows") || plan.contains("ObjectHashAggregate"),
      plan.take(2000))
  }

  test("repetitionSignals: (doc, key) aggregates, never a per-token window") {
    val plan = graft.functions.TextFunctions
      .repetitionSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
    // both signal families partial-aggregate below their exchanges
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(2000))
  }

  test("hybridRrfTopK: query sides broadcast, no cartesian; heaps not windows") {
    val q = graft.operators.TextSearch.queriesDf(spark, Seq("spark agg"))
    val exec = graft.operators.TextSearch.hybridRrfTopK(
      docs, "doc_id", "text", q, "query_id", "query_text", k = 5)
      .queryExecution.executedPlan
    val plan = exec.toString
    // both arms key corpus-sized work by term/bucket equi-joins with the
    // tiny query side broadcast; a dense-scoring mistake would surface as
    // CartesianProduct / an unconditioned corpus-sized nested loop, a
    // rank funnel as Window. r18: the corpus stats (N, avgdl) bind as
    // LAZY broadcast 1-ROW aggregates — each is a
    // "BroadcastNestedLoopJoin Cross BuildRight" over a single stats
    // row (replacing the per-call eager collect), which is allowed —
    // only when its build side is an UNGROUPED aggregate (one row by
    // construction); anything else nested-loop-shaped still fails.
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    def oneRowAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case r: ReusedExchangeExec => oneRowAgg(r.child)
      case _: BroadcastExchangeExec | _: WholeStageCodegenExec |
          _: InputAdapter | _: ProjectExec => oneRowAgg(p.children.head)
      case _ => false
    }
    val root = exec match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bnl = root.collect { case j: BroadcastNestedLoopJoinExec => j }
    // nonEmpty: the stats bindings exist, so the check is never vacuous
    assert(bnl.nonEmpty && bnl.size <= 3 && bnl.forall(j =>
      j.buildSide == BuildRight && j.joinType == Cross &&
        oneRowAgg(j.right)),
      s"non-stats nested loop joins:\n${bnl.mkString("\n")}")
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("r10 ops: weightedSample heap+semi-join; funnel/retention window-free") {
    val ws = Splits.weightedSample(docs, "lang", "doc_id", "n_chars",
      5, "s42").queryExecution.executedPlan.toString
    assert(ws.contains("top_k_by") && !ws.contains("Window"), ws.take(1500))

    val ev = graft.core.Tables.table(spark, sf, "events")
    val fu = graft.operators.Funnel.conversion(ev, "user_id",
      "event_type", "ts", Seq("view", "click", "purchase"), 3600)
      .queryExecution.executedPlan.toString
    assert(!fu.contains("Window") && !fu.contains("CartesianProduct"),
      fu.take(2000))

    val co = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(!co.contains("Window") && !co.contains("CartesianProduct"),
      co.take(2000))
  }

  test("r10 ANN: ivfSq candidates list-routed; mmr per-query expression eval") {
    val emb = graft.core.Tables.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val is = graft.operators.ScalarQuantizer.ivfSqTopK(emb, q, "vec_id",
      "embedding", k = 3, dim = 64, nlist = 8, nprobe = 4, iters = 1)
      .queryExecution.executedPlan.toString
    // candidate generation is the list-id equi-join, never all-pairs
    assert(is.contains("BroadcastHashJoin"), is.take(2000))
    assert(is.contains("top_k_by"), is.take(2000))

    val mmr = graft.operators.Similarity.mmrTopK(emb, q, "vec_id",
      "embedding", k = 3, lambda = 0.7, shortlist = 10)
      .queryExecution.executedPlan.toString
    // the greedy is one expression on collected per-query candidates —
    // no window, no join explosion past the shortlist stage
    assert(mmr.contains("mmr_select") && !mmr.contains("Window"),
      mmr.take(2000))
  }

  test("r11 ops: hard negatives broadcast+heap; paragraph dedup " +
      "single-shuffle winner agg; html extract map-only") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)

    // IVF-routed hard negatives: probes broadcast into the list join,
    // selection is the bounded heap — no cartesian, no window
    val ihn = graft.operators.Similarity.ivfHardNegatives(emb, q,
      "vec_id", "embedding", "label", k = 3, dim = 64, nlist = 4,
      nprobe = 2, iters = 1).queryExecution.executedPlan.toString
    assert(ihn.contains("BroadcastHashJoin") && ihn.contains("top_k_by"),
      ihn.take(2000))
    assert(!ihn.contains("CartesianProduct") && !ihn.contains("Window"),
      ihn.take(2000))

    // paragraph dedup: winner selection is a partial-aggregated min on
    // the paragraph hash (map-side combine), never a window
    val pd = graft.operators.SpanDedup.removeDupParagraphs(docs,
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(!pd.contains("Window") && !pd.contains("CartesianProduct"),
      pd.take(2000))
    assert(pd.contains("partial_min") || pd.contains("HashAggregate"),
      pd.take(2000))

    // html extraction: a single projection chain over the scan — no
    // join, no exchange before the (test-side) collect
    val he = docs.select(graft.functions.Html.mainText(
        graft.functions.Html.synthPage(col("doc_id"), col("text"))))
      .queryExecution.executedPlan.toString
    assert(!he.contains("Exchange") && !he.contains("Join"), he.take(2000))
  }
}
