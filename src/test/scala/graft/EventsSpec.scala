package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.events.Events
import graft.pipeline.Pipeline
import graft.sources.Connectors

/** Events/metrics surface (`events/events.go:29-113`,
  * `pipe.MessageCount`): boot → per-sink metrics with exact record
  * counts → exit; errors emit error events; streaming lifecycle maps to
  * boot/metrics/exit with cumulative counts.
  */
class EventsSpec extends SparkSpec {

  private def await(cond: => Boolean, ms: Long = 30000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(50)
    cond
  }

  test("pipeline run emits boot, per-sink metrics with exact counts, exit") {
    val em = new Events.BufferingEmitter
    val memA = new Connectors.MemorySink
    val memB = new Connectors.MemorySink
    val spec = Pipeline.builder("demo")
      .source("tpch", Connectors.TableSource(sf, "nation"))
      .save("all_rows", memA)
      .transform("only_low", graft.functions.Transforms.skip(
        "n_nationkey", "<", "10"))
      .save("low_keys", memB)
      .build()
    spec.run(spark, em)

    val kinds = em.events.map(_.name)
    assert(kinds.head == "boot")
    assert(kinds.last == "exit")
    val boot = em.ofKind("boot").head
    assert(boot.endpoints.keySet == Set("tpch", "all_rows", "low_keys"))
    assert(boot.endpoints("tpch") == "TableSource")

    val metrics = em.ofKind("metrics").map(e => e.path -> e.records).toMap
    assert(metrics("demo/all_rows") == 25L)
    assert(metrics("demo/low_keys") == memB.rows.size.toLong)
    assert(metrics("demo/low_keys") == 10L)
    assert(em.ofKind("error").isEmpty)
  }

  test("run with an emitter refuses a stream spec instead of draining it as a batch") {
    val em = new Events.BufferingEmitter
    val mem = new Connectors.MemorySink
    val tmp = java.nio.file.Files.createTempDirectory("graft-ev-mode").toString
    val spec = Pipeline.builder("tail")
      .source("src", Connectors.TableSource(sf, "region"))
      .save("mem", mem)
      .streaming(s"$tmp/ckpt")
      .build()
    val e = intercept[IllegalArgumentException] { spec.run(spark, em) }
    assert(e.getMessage.contains("mode: stream"), e.getMessage)
    assert(e.getMessage.contains("run(spark)"), e.getMessage)
    assert(e.getMessage.contains("Events.attach"), e.getMessage)
    assert(em.events.isEmpty, em.events.mkString("\n"))
    assert(mem.rows.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, "ckpt")))
  }

  test("a failing sink emits an error event (then the run rethrows)") {
    val em = new Events.BufferingEmitter
    object BoomSink extends Connectors.Sink {
      def write(df: DataFrame): Unit = { df.count(); sys.error("boom") }
    }
    val spec = Pipeline.builder("demo")
      .source("tpch", Connectors.TableSource(sf, "region"))
      .save("boom", BoomSink)
      .build()
    intercept[RuntimeException] { spec.run(spark, em) }
    val err = em.ofKind("error")
    assert(err.nonEmpty && err.head.path == "demo/boom" &&
      err.head.message.contains("boom"))
    assert(em.events.last.name == "exit")
  }

  test("batch listener converts instrumented queries into metrics events") {
    val em = new Events.BufferingEmitter
    val detach = Events.attach(spark, em)
    try {
      Events.instrument(
        graft.core.Tables.table(spark, sf, "region"), "adhoc/scan")
        .write.format("noop").mode("overwrite").save()
      assert(await(em.ofKind("metrics")
        .exists(e => e.path == "adhoc/scan" && e.records == 5L)),
        em.events.mkString("\n"))
    } finally detach()
  }

  test("streaming fan-out emits per-sink record counts (MessageCount)") {
    import graft.streaming.StreamPipeline
    val em = new Events.BufferingEmitter
    val detach = Events.attach(spark, em)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-fo-ev").toString
      graft.core.Tables.table(spark, sf, "nation")
        .select("n_nationkey", "n_name")
        .coalesce(1).write.json(s"$tmp/in")
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType)))
      val stream = spark.readStream.schema(schema).json(s"$tmp/in")
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val q = StreamPipeline.fanout(stream, s"$tmp/ckpt",
        sinks = Seq(
          ("all", identity[DataFrame] _,
            (df: DataFrame, _: Long) => { counts.put("all", df.count()); () }),
          ("low", (df: DataFrame) => df.filter(col("n_nationkey") < 10),
            (df: DataFrame, _: Long) => { counts.put("low", df.count()); () })),
        observeAs = Some("fo"))
      q.awaitTermination(60000)
      assert(await(em.ofKind("metrics").exists(e =>
        e.path == "fo/all" && e.records == 25L)), em.events.mkString("\n"))
      assert(await(em.ofKind("metrics").exists(e =>
        e.path == "fo/low" && e.records == 10L)), em.events.mkString("\n"))
      assert(counts.get("all") == 25L && counts.get("low") == 10L)
    } finally detach()
  }

  test("streaming lifecycle: boot, cumulative metrics, exit") {
    val em = new Events.BufferingEmitter
    val detach = Events.attach(spark, em)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ev").toString
      graft.core.Tables.table(spark, sf, "nation").limit(20)
        .select("n_nationkey", "n_name")
        .coalesce(1).write.json(s"$tmp/in")
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType)))
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/ckpt")
        .queryName("ev_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(await(em.ofKind("exit").nonEmpty), em.events.mkString("\n"))
      assert(em.ofKind("boot").exists(_.path == "ev_stream"))
      // cumulative input rows over the run must reach the full input
      val last = em.ofKind("metrics").filter(_.path == "ev_stream")
        .map(_.records)
      assert(last.nonEmpty && last.max == 20L, last)
      assert(em.ofKind("error").isEmpty)
    } finally detach()
  }
}
