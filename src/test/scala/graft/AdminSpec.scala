package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.CdcFixtures
import graft.streaming.StreamPipeline
import graft.tools.Admin

class AdminSpec extends SparkSpec {

  private def capture(args: String*): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) { Admin.main(args.toArray) }
    bos.toString
  }

  test("state inspects a hash-bucketed upsert target") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-admin-state").toString
    val baseSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new graft.streaming.StreamPipeline.ParquetUpsertSink(
      spark, s"$tmp/t", "user_id", baseSchema, numBuckets = 4)
    val e0 = (1L to 40L).map(i => ("insert", i, i, i.toDouble))
      .toDF("op", "ts", "user_id", "value")
      .withColumn("event_id", col("user_id"))
      .select("op", "ts", "event_id", "user_id", "value")
    sink.applyBatch(e0, 0L)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.tools.Admin.main(Array("state", s"$tmp/t"))
    }
    val s = out.toString
    assert(s.contains("numBuckets: 4"), s)
    assert(s.contains("live buckets: 4"), s)
    assert(s.contains("rows: 40"), s)
  }

  test("oldest/current/list/show/mark over a real streaming checkpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-admin").toString
    val cdc = CdcFixtures.eventsCdc(spark, sf)
      .withColumn("ts", unix_timestamp(col("ts")))
    cdc.filter(col("event_id") < 300).coalesce(1)
      .write.mode("append").json(s"$tmp/in")
    Thread.sleep(1200)
    cdc.filter(col("event_id") >= 300 && col("event_id") < 600).coalesce(1)
      .write.mode("append").json(s"$tmp/in")

    val envSchema = StructType(Seq(
      StructField("op", StringType), StructField("ts", LongType),
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = new StreamPipeline.ParquetUpsertSink(spark, s"$tmp/target",
      "user_id", StructType(Seq(StructField("user_id", LongType),
        StructField("value", DoubleType))))
    val stream = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
      .select("op", "ts", "event_id", "user_id", "value")
    val q1 = sink.start(stream, s"$tmp/ckpt")
    q1.awaitTermination(120000)
    q1.stop()

    val ckpt = s"$tmp/ckpt"
    assert(capture("oldest", ckpt).trim == "0")
    val current = capture("current", ckpt).trim.toLong
    assert(current >= 1)
    val listing = capture("list", ckpt)
    assert(listing.contains("batch 0  committed"))
    assert(capture("show", ckpt, "0").nonEmpty)

    // rewind to batch 0: entries above 0 disappear
    capture("mark", ckpt, "0")
    assert(capture("current", ckpt).trim == "0")
    assert(!capture("list", ckpt).contains(s"batch $current"))

    // restarting from the rewound checkpoint REPLAYS the later epochs and
    // converges to the same final state (idempotent sink ⇒ mark is safe)
    val before = sink.currentState().orderBy("user_id").collect().toSeq
    val q2 = sink.start(stream, ckpt)
    q2.awaitTermination(120000)
    q2.stop()
    val after = sink.currentState().orderBy("user_id").collect().toSeq
    assert(after == before)
    assert(capture("current", ckpt).trim.toLong >= 1) // epochs re-ran
  }
}
