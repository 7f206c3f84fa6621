package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.Dsir

class DsirSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf, "documents")

  private def target =
    docs.filter(TextFunctions.qualityStats(col("text"))(4) >= 0.06)

  test("importance weights == independent local replica of the LM ratio") {
    val dim = 64
    val rawCounts = Dsir.hashedCounts(docs, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val tgtCounts = Dsir.hashedCounts(target, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // local replica: totals → grid ratios → per-doc BIGINT dot product
    val rawTot = new Array[Long](dim); val tgtTot = new Array[Long](dim)
    rawCounts.foreach { case (_, b, c) => rawTot(b) += c }
    tgtCounts.foreach { case (_, b, c) => tgtTot(b) += c }
    val ratio9 = Dsir.logRatioGrid(rawTot, tgtTot, alpha = 1.0)
    val expected = rawCounts.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map { case (_, b, c) => c * ratio9(b) }.sum
    }
    val got = Dsir.importanceWeights(docs, target, "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == docs.count())
    expected.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: got ${got(id)} expected $w")
    }
    // docs absent from the count rows (token-less) default to 0
    (got.keySet -- expected.keySet).foreach(id => assert(got(id) == 0L))
  }

  test("weights are bit-identical under any partition layout") {
    val a = Dsir.importanceWeights(docs, target, "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dsir.importanceWeights(docs.repartition(13),
        target.repartition(7), "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("target-distinctive docs outrank the rest; plan is a bounded top-k") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta gamma"), (2L, "zzz zzz zzz zzz zzz zzz zzz zzz"),
      (3L, "alpha beta zzz zzz zzz zzz"), (4L, "delta epsilon"),
      (5L, "")).toDF("doc_id", "text")
    val tgt = Seq((100L,
      Seq.fill(20)("zzz").mkString(" "))).toDF("doc_id", "text")
    val out = Dsir.select(raw, tgt, "doc_id", "text", dim = 32, k = 3,
      alpha = 0.1)
    val rows = out.collect().map(r => (r.getInt(1), r.getLong(0)))
    val byRank = rows.sortBy(_._1).map(_._2).toSeq
    // pure-target doc first with a positive weight; the all-off-target
    // docs (1, 4) never make the cut (the empty doc's 0 beats their
    // negative LM ratios — correct DSIR semantics)
    assert(byRank.head == 2L, rows.toSeq.toString)
    assert(byRank.toSet == Set(2L, 3L, 5L), rows.toSeq.toString)
    val w2 = out.filter(col("doc_id") === 2).collect()(0).getLong(2)
    assert(w2 > 0L)
    val plan = Dsir.select(raw, tgt, "doc_id", "text", 32, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("side-input waits are bounded by spark.sql.broadcastTimeout, " +
      "name the arm and cancel its jobs") {
    import graft.operators.SideInput
    val key = "spark.sql.broadcastTimeout"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1s")
    try {
      // a one-task job that runs until it is killed (or 60 s pass)
      val arm = SideInput(spark, "dsir target totals") {
        spark.sparkContext.parallelize(Seq(1), 1).mapPartitions { it =>
          val tc = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 60L * 1000000000L
          while (!tc.isInterrupted() && System.nanoTime() < end)
            Thread.sleep(20)
          it
        }.count()
      }
      val t0 = System.nanoTime()
      val e = intercept[java.util.concurrent.TimeoutException] {
        SideInput.await(spark, arm)
      }
      assert(e.getMessage.contains("dsir target totals"), e.getMessage)
      scala.concurrent.Await.ready(arm.future,
        scala.concurrent.duration.Duration(50, "s"))
      assert(arm.future.value.exists(_.isFailure),
        "the timed-out arm's job must be cancelled")
      assert(System.nanoTime() - t0 < 40L * 1000000000L,
        "cancellation must not wait for the job to finish")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
