package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.AsOf
import graft.plans.{AsOfJoin, AsOfStrategy, RangeJoin, RangeJoinStrategy}

class AsOfExecSpec extends SparkSpec {

  test("custom physical as-of join == composed union+window form") {
    val ev = Tables.table(spark, sf, "events")
      .select("event_id", "user_id", "ts")
    val purchases = Tables.table(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    val custom = AsOfJoin.asofJoin(ev, purchases, Seq("user_id"), "ts", "ts",
        Map("value" -> "last_purchase_value"))
      .select("event_id", "last_purchase_value")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
    val composed = AsOf.asofJoin(ev, purchases, Seq("user_id"), "ts", "ts",
        Map("value" -> "last_purchase_value"))
      .select("event_id", "last_purchase_value")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
    assert(custom.length == composed.length && custom.length > 0)
    assert(custom.toSeq == composed.toSeq)
  }

  test("plan uses AsOfJoinExec with clustered+sorted children") {
    val ev = Tables.table(spark, sf, "events").select("event_id", "user_id", "ts")
    val p = Tables.table(spark, sf, "events")
      .filter(col("event_type") === "purchase").select("user_id", "ts", "value")
    val df = AsOfJoin.asofJoin(ev, p, Seq("user_id"), "ts", "ts",
      Map("value" -> "v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan.take(1500))
    assert(plan.contains("Sort ["), plan.take(1500))
    assert(plan.contains("Exchange hashpartitioning"), plan.take(1500))
  }

  test("struct-null semantics match the composed operator") {
    import spark.implicits._
    val left = Seq((1L, 3L), (2L, 1L)).toDF("k", "ts")
    val right = Seq(
      (1L, 1L, Option("bid1"), Option("ask1")),
      (1L, 2L, None: Option[String], Option("ask2"))
    ).toDF("k", "ts", "bid", "ask")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
        Map("bid" -> "bid2", "ask" -> "ask2"))
      .orderBy("k").collect()
    // k=1: newest right at ts<=3 is ts=2 → (null, ask2); k=2: no match
    assert(out(0).isNullAt(out(0).fieldIndex("bid2")))
    assert(out(0).getAs[String]("ask2") == "ask2")
    assert(out(1).isNullAt(out(1).fieldIndex("bid2")) &&
      out(1).isNullAt(out(1).fieldIndex("ask2")))
  }

  test("both DataFrame APIs install each planner strategy exactly once") {
    import spark.implicits._
    val left = Seq((1L, 3L)).toDF("k", "ts")
    val right = Seq((1L, 1L, 5L, "a")).toDF("k", "lo", "hi", "v")
    for (_ <- 1 to 2) {
      AsOfJoin.asofJoin(left, right.withColumnRenamed("lo", "ts"), Seq("k"),
        "ts", "ts", Map("v" -> "v2"))
      RangeJoin.rangeJoin(left, right, Seq("k"), "ts", "lo", "hi",
        Map("v" -> "v2"))
    }
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == AsOfStrategy) == 1, strategies)
    assert(strategies.count(_ == RangeJoinStrategy) == 1, strategies)
  }
}
