package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.CdcFixtures
import graft.operators.Upsert
import graft.streaming.StreamPipeline

class StreamingSpec extends SparkSpec {

  private val envSchema = StructType(Seq(
    StructField("op", StringType),
    StructField("ts", LongType),
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def writeEnvelopeJson(df: org.apache.spark.sql.DataFrame,
      dir: String, part: String): Unit =
    df.coalesce(1).write.mode("append").json(dir)

  test("streamed CDC through foreachBatch upsert == batch applyCdc") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val cdc = CdcFixtures.eventsCdc(spark, sf)
      .withColumn("ts", unix_timestamp(col("ts")))
    // split the CDC log into two ORDERED tail segments (epochs must respect
    // log order — out-of-order epochs would re-apply older ops last)
    writeEnvelopeJson(cdc.filter(col("event_id") < 500), s"$tmp/in", "a")
    Thread.sleep(1500) // distinct mod-times → deterministic file order
    writeEnvelopeJson(cdc.filter(col("event_id") >= 500), s"$tmp/in", "b")

    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/target", "user_id", baseSchema)
    val stream = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
      .select("op", "ts", "event_id", "user_id", "value")
    val q = sink.start(stream, s"$tmp/ckpt")
    q.awaitTermination(120000)

    val streamed = sink.currentState()
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Upsert.applyCdc(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema),
        cdc, "user_id", Seq(col("ts"), col("event_id")))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("checkpoint restart resumes without reprocessing (offset semantics)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val cdc = CdcFixtures.eventsCdc(spark, sf)
      .withColumn("ts", unix_timestamp(col("ts")))
    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/target", "user_id", baseSchema)

    def stream() = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
      .select("op", "ts", "event_id", "user_id", "value")

    // phase 1: first half arrives, stream runs to quiescence, "crashes"
    writeEnvelopeJson(cdc.filter(col("event_id") < 500), s"$tmp/in", "a")
    sink.start(stream(), s"$tmp/ckpt").awaitTermination(120000)

    // phase 2: rest arrives, new query restarts from the SAME checkpoint
    writeEnvelopeJson(cdc.filter(col("event_id") >= 500), s"$tmp/in", "b")
    sink.start(stream(), s"$tmp/ckpt").awaitTermination(120000)

    val streamed = sink.currentState().orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Upsert.applyCdc(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema),
        cdc, "user_id", Seq(col("ts"), col("event_id")))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == batch)
  }

  test("epoch touching k of N buckets rewrites only those k buckets") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/target", "user_id", baseSchema, numBuckets = 8)

    // epoch 0: 200 ids spread over all 8 buckets
    val e0 = (1L to 200L).map(i => ("insert", i, i, i.toDouble))
      .toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", col("user_id"))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e0, 0L)
    val m0 = sink.manifest()
    assert(m0.size == 8)

    // epoch 1: one update — exactly one bucket may change version
    val e1 = Seq(("update", 300L, 7L, 99.0)).toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", lit(301L))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e1, 1L)
    val m1 = sink.manifest()
    val changed = m1.filter { case (b, v) => m0.get(b) != Some(v) }
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // untouched buckets: identical committed dirs, still on disk
    (m0 -- changed.keySet).foreach { case (b, v) =>
      assert(m1(b) == v)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$tmp/target/b$b-v$v")))
    }
    // state is still correct
    val got = sink.currentState().filter(col("user_id") === 7L)
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(99.0))

    // epoch 2: delete every id in one bucket → bucket leaves the manifest
    val bucketOfId = sink.currentState()
      .select(col("user_id"), pmod(hash(col("user_id")), lit(8)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val victimBucket = bucketOfId(7L)
    val victims = bucketOfId.collect { case (id, b) if b == victimBucket => id }
    val e2 = victims.toSeq.map(id => ("delete", 400L, id, 0.0))
      .toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", lit(400L) + col("user_id"))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e2, 2L)
    val m2 = sink.manifest()
    assert(!m2.contains(victimBucket))
    assert(sink.currentState().count() == 200 - victims.size)
  }

  test("numBuckets is recorded at first commit and validated on reopen") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bmeta").toString
    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/target", "user_id", baseSchema, numBuckets = 8)
    val e0 = (1L to 50L).map(i => ("insert", i, i, i.toDouble))
      .toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", col("user_id"))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e0, 0L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/target/BUCKETS")).trim == "8")

    // reopening with a different modulus must fail loudly, not mis-bucket
    val wrong = new StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/target", "user_id", baseSchema, numBuckets = 16)
    val err = intercept[IllegalStateException] { wrong.currentState() }
    assert(err.getMessage.contains("numBuckets=8"), err.getMessage)

    // open() adopts the recorded layout and can keep committing
    val adopted = StreamPipeline.ParquetUpsertSink.open(
      spark, s"$tmp/target", "user_id", baseSchema)
    val e1 = Seq(("update", 100L, 7L, 42.0)).toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", lit(101L))
      .select("op", "ts", "event_id", "user_id", "value")
    adopted.applyBatch(e1, 1L)
    assert(adopted.currentState().filter(col("user_id") === 7L)
      .collect().map(_.getDouble(1)).toSeq == Seq(42.0))
  }

  test("commit GC sweeps orphans left by a crash in a prior epoch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-gc").toString
    val target = java.nio.file.Paths.get(s"$tmp/target")
    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(
      spark, target.toString, "user_id", baseSchema, numBuckets = 4)
    val e0 = (1L to 50L).map(i => ("insert", i, i, i.toDouble))
      .toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", col("user_id"))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e0, 0L)

    // simulate a crash between the CURRENT rename and GC of an earlier
    // epoch: superseded bucket dirs, an old manifest, tmp leftovers
    java.nio.file.Files.createDirectories(target.resolve("b0-v999"))
    java.nio.file.Files.createDirectories(target.resolve("epoch-tmp-77"))
    java.nio.file.Files.writeString(target.resolve("manifest-v998"), "0 999")
    java.nio.file.Files.writeString(target.resolve("CURRENT.tmp-77"), "998")

    val e1 = Seq(("update", 100L, 3L, 1.5)).toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", lit(101L))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e1, 1L)

    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.list(target).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!names.contains("b0-v999"), names)
    assert(!names.contains("epoch-tmp-77"), names)
    assert(!names.contains("manifest-v998"), names)
    assert(!names.exists(_.startsWith("CURRENT.tmp")), names)
    // and only live state remains: CURRENT, BUCKETS, one manifest, live buckets
    val m = sink.manifest()
    val expected = m.map { case (b, v) => s"b$b-v$v" }.toSet ++
      Set("CURRENT", "BUCKETS",
        s"manifest-v${java.nio.file.Files.readString(target.resolve("CURRENT")).trim}")
    assert(names == expected, s"$names vs $expected")
    assert(sink.currentState().count() == 50)
  }

  test("windowed counts with watermark produce per-window op counts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-win").toString
    val cdc = CdcFixtures.eventsCdc(spark, sf).limit(500)
    cdc.coalesce(1).write.mode("overwrite").json(s"$tmp/in")
    val schema = StructType(Seq(
      StructField("op", StringType),
      StructField("ts", TimestampType),
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(s"$tmp/in")
    val agg = StreamPipeline.windowedCounts(stream, "ts", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.table("win_counts").agg(sum("n")).collect()(0).getLong(0)
    assert(n == 500)
  }
}
