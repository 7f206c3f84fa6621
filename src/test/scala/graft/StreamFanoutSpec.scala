package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.CdcFixtures
import graft.pipeline.Pipeline
import graft.sources.Connectors
import graft.streaming.StreamPipeline

class StreamFanoutSpec extends SparkSpec {

  test("one stream drives two sinks; epochs commit atomically across both") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fan").toString
    val cdc = CdcFixtures.eventsCdc(spark, sf)
      .withColumn("ts", unix_timestamp(col("ts")))
    cdc.filter(col("event_id") < 500).coalesce(1)
      .write.mode("append").json(s"$tmp/in")
    Thread.sleep(1200)
    cdc.filter(col("event_id") >= 500).coalesce(1)
      .write.mode("append").json(s"$tmp/in")

    val schema = StructType(Seq(
      StructField("op", StringType), StructField("ts", LongType),
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")

    // sink A: only deletes, as json; sink B: everything, as parquet
    val q = StreamPipeline.fanout(stream, s"$tmp/ckpt", Seq(
      ("deletes",
        (df: org.apache.spark.sql.DataFrame) =>
          df.filter(col("op") === "delete"),
        (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
          df.write.mode("append").json(s"$tmp/a")),
      ("all",
        identity[org.apache.spark.sql.DataFrame] _,
        (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
          df.write.mode("append").parquet(s"$tmp/b"))))
    q.awaitTermination(120000)
    q.stop()

    val total = cdc.count()
    val deletes = cdc.filter(col("op") === "delete").count()
    assert(spark.read.json(s"$tmp/a").count() == deletes)
    assert(spark.read.parquet(s"$tmp/b").count() == total)
  }

  /** A `runStream` pipeline over `files` JSON-lines files of 50 ids each
    * (one epoch per file), into `sinks`. */
  private def logPipeline(tmp: String, files: Int,
      sinks: (String, Connectors.Sink)*) = {
    Files.createDirectories(Paths.get(tmp, "log"))
    (0 until files).foreach(i =>
      Files.writeString(Paths.get(tmp, "log", s"$i.json"),
        (i * 50 until i * 50 + 50)
          .map(id => s"""{"id":$id,"text":"doc-$id"}""").mkString("\n")))
    sinks.foldLeft(Pipeline.builder("log").source("log",
      Connectors.JsonLinesSource(s"$tmp/log", "docs",
        schema = Some(StructType.fromDDL("id long, text string")),
        maxFilesPerTrigger = Some(1)))) {
      case (b, (name, sink)) => b.save(name, sink)
    }.build()
  }

  test("a runStream epoch writes every sink at once") {
    val tmp = Files.createTempDirectory("graft-fan-meet").toString
    // each sink waits for the other to start: a serial fan-out times out
    val both = new CountDownLatch(2)
    final class Meeting extends Connectors.EpochSink {
      def writeEpoch(df: DataFrame, epochId: Long): Unit = {
        df.count()
        both.countDown()
        assert(both.await(60, TimeUnit.SECONDS), "the sibling never started")
      }
    }
    val q = logPipeline(tmp, 1, "a" -> new Meeting, "b" -> new Meeting)
      .runStream(spark, s"$tmp/ckpt")
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)
    assert(Files.exists(Paths.get(tmp, "ckpt", "commits", "0")))
  }

  test("a throwing sink fails the epoch after its sibling has written; " +
      "a restart replays it into both") {
    val tmp = Files.createTempDirectory("graft-fan-fail").toString
    val boom = new IllegalStateException("boom")
    val thrown = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val siblingWrites = new java.util.concurrent.atomic.AtomicInteger
    // idempotent per epoch: one overwritten dir per epoch
    final class EpochDirs(out: String, failing: Boolean)
        extends Connectors.EpochSink {
      def writeEpoch(df: DataFrame, epochId: Long): Unit = {
        if (failing && epochId == 1 && armed.getAndSet(false)) {
          thrown.countDown()
          throw boom
        }
        // the sibling writes epoch 1 only once the failing sink threw
        if (!failing && epochId == 1)
          assert(thrown.await(60, TimeUnit.SECONDS), "the failing sink never ran")
        graft.core.Envelope.unwrap(df).write.mode("overwrite")
          .parquet(s"$out/epoch=$epochId")
        if (!failing && epochId == 1) siblingWrites.incrementAndGet()
      }
    }
    val spec = logPipeline(tmp, 2,
      "flaky" -> new EpochDirs(s"$tmp/flaky", failing = true),
      "lake" -> new EpochDirs(s"$tmp/lake", failing = false))
    val q = spec.runStream(spark, s"$tmp/ckpt")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination(120000))
    // the stream stops with the sink's own exception, once the sibling
    // has written the epoch, and the epoch stays uncommitted
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_ eq boom), e)
    assert(siblingWrites.get == 1)
    assert(Files.exists(Paths.get(tmp, "ckpt", "commits", "0")))
    assert(!Files.exists(Paths.get(tmp, "ckpt", "commits", "1")))

    spec.runStream(spark, s"$tmp/ckpt").awaitTermination(120000)
    assert(Files.exists(Paths.get(tmp, "ckpt", "commits", "1")))
    assert(siblingWrites.get == 2)
    def ids(out: String) = spark.read.parquet(out).select("id", "epoch")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // the end state of a clean run: each file's 50 ids under one epoch,
    // identical in both sinks
    val lake = ids(s"$tmp/lake")
    assert(ids(s"$tmp/flaky") == lake)
    assert(lake.map(_._1) == (0L until 100L))
    assert(lake.groupBy(_._2).map { case (ep, r) =>
      ep -> r.map(_._1 / 50).distinct.size } == Map(0 -> 1, 1 -> 1))
  }

  test("query.stop() cancels a blocked sibling sink's jobs") {
    val tmp = Files.createTempDirectory("graft-fan-stop").toString
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    Files.createDirectories(Paths.get(tmp, "log"))
    Files.writeString(Paths.get(tmp, "log", "0.json"), """{"id":1,"text":"a"}""")
    val stream = spark.readStream.schema("id long, text string")
      .json(s"$tmp/log")
    val q = StreamPipeline.fanout(stream, s"$tmp/ckpt", Seq(
      ("quick", identity[DataFrame] _,
        (df: DataFrame, _: Long) => { df.count(); () }),
      // the second sink runs off the stream thread; its task blocks
      ("blocked", identity[DataFrame] _,
        (df: DataFrame, _: Long) =>
          try df.rdd.foreachPartition { _ =>
            StreamFanoutSpec.blocked.countDown()
            Thread.sleep(300000)
          } catch { case t: Throwable => failure.set(t); throw t })))
    assert(StreamFanoutSpec.blocked.await(60, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    q.stop()
    val stopMs = (System.nanoTime() - t0) / 1000000
    assert(stopMs < 60000, s"stop took $stopMs ms")
    assert(!q.isActive)
    assert(failure.get != null &&
      String.valueOf(failure.get.getMessage).contains("cancel"), failure.get)
    assert(!Files.exists(Paths.get(tmp, "ckpt", "commits", "0")))
  }
}

object StreamFanoutSpec {
  /** Counted down by the blocked sink's task (tasks run in this JVM). */
  val blocked = new CountDownLatch(1)
}
