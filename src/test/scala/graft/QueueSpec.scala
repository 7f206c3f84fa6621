package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.Envelope
import graft.sources.{ChangeLog, Queue}

/** Queue-shaped adaptor (`adaptor/rabbitmq`): pure-Sync consumer stream
  * (no Copy phase), ack ↔ checkpoint commit, JSON bodies, publisher that
  * ignores deletes and routes by ns + routing key. */
class QueueSpec extends SparkSpec {
  import spark.implicits._

  private def mkQueue(root: String, q: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(root, q))
    Files.write(Paths.get(root, q, s"m${System.nanoTime()}.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  test("queue listing honors the ns regex (management-API filterFn)") {
    val root = Files.createTempDirectory("graft-q-list").toString
    mkQueue(root, "task_events", Seq("""{"id":1,"v":"a"}"""))
    mkQueue(root, "task_audit", Seq("""{"id":2,"v":"b"}"""))
    mkQueue(root, "other", Seq("""{"id":3,"v":"c"}"""))
    assert(ChangeLog.subdirs(root) == Seq("other", "task_audit", "task_events"))
    assert(ChangeLog.subdirs(root, "^task_") == Seq("task_audit", "task_events"))
  }

  test("pure-Sync consumer: ns-tagged envelopes, undecodable bodies skip") {
    val root = Files.createTempDirectory("graft-q-consume").toString
    mkQueue(root, "orders", Seq("""{"id":1,"v":"a"}""", "not json at all",
      """{"id":2,"v":"b"}"""))
    mkQueue(root, "users", Seq("""{"id":9,"v":"z"}"""))
    val ckpt = Files.createTempDirectory("graft-q-ck").toString
    var got: Seq[(String, String, String, String)] = Nil
    val q = Queue.changes(ChangeLog.Text(spark, tail = true), root)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got = got ++ b.collect().map(r => (r.getAs[String]("op"),
          r.getAs[String]("ns"), r.getAs[String]("__mode"),
          r.getAs[String]("data")))
        ()
      }.start()
    q.awaitTermination()
    assert(got.size == 3) // malformed body dropped (reader.go:126-128)
    assert(got.forall(_._1 == Envelope.Op.Insert)) // queues only insert
    assert(got.forall(_._3 == Envelope.Mode.Sync)) // pure Sync, no Copy
    assert(got.count(_._2 == "orders") == 2 && got.count(_._2 == "users") == 1)
    val typed = graft.functions.Transforms.decode(docSchema, wire = from_json)(
      Queue.changes(ChangeLog.Text(spark, tail = false), root))
    assert(typed.agg(sum("id")).head.getLong(0) == 12L)
  }

  test("ack = checkpoint commit: restart reprocesses nothing; new msgs only") {
    val root = Files.createTempDirectory("graft-q-ack").toString
    mkQueue(root, "jobs", Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""))
    val ckpt = Files.createTempDirectory("graft-q-ack-ck").toString
    def drain(): Seq[Long] = {
      var ids: Seq[Long] = Nil
      val q = Queue.changes(ChangeLog.Text(spark, tail = true), root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          ids = ids ++ graft.functions.Transforms.decode(docSchema, wire = from_json)(b).select("id")
            .collect().map(_.getLong(0)).toSeq
          ()
        }.start()
      q.awaitTermination()
      ids
    }
    assert(drain().sorted == Seq(1L, 2L))
    // acked messages are not redelivered on restart
    assert(drain().isEmpty)
    // a newly published message is the only delivery
    mkQueue(root, "jobs", Seq("""{"id":3,"v":"c"}"""))
    assert(drain() == Seq(3L))
  }

  test("publisher: insert/update bodies only, routed by ns + field key") {
    val root = Files.createTempDirectory("graft-q-pub").toString
    val df = Seq(
      ("insert", 0L, "orders", 1L, "eu", "a"),
      ("update", 0L, "orders", 2L, "us", "b"),
      ("delete", 0L, "orders", 3L, "eu", "dead"), // ignored (writer.go:34)
      ("insert", 0L, "users", 4L, "eu", "c"))
      .toDF("op", "ts", "ns", "id", "region", "v")
    Queue.QueuePublishSink(root, routingKey = "region", keyInField = true)
      .write(df)
    assert(ChangeLog.subdirs(root) == Seq("orders", "users"))
    val back = graft.functions.Transforms.decode(wire = from_json, schema =
      StructType(Seq(StructField("id", LongType),
        StructField("region", StringType), StructField("v", StringType))))(
        Queue.changes(ChangeLog.Text(spark, tail = false), root))
    // the delete was never published
    assert(back.count() == 3)
    assert(back.filter(col("v") === "dead").count() == 0)
    // routing key dirs exist per key value
    assert(Files.isDirectory(Paths.get(root, "orders", "rk=eu")))
    assert(Files.isDirectory(Paths.get(root, "orders", "rk=us")))
    // registry rows are live end-to-end
    val sink = graft.pipeline.Registry.sinks("rabbitmq")(Map(
      "uri" -> root, "routing_key" -> "k0"))
    sink.write(Seq(("insert", 0L, "audit", 7L, "x", "y"))
      .toDF("op", "ts", "ns", "id", "region", "v"))
    val src = graft.pipeline.Registry.sources("rabbitmq")(Map(
      "uri" -> root, "ns" -> "^audit$"))
    assert(src.read(spark).count() == 1)
  }

  test("publisher: ONE job for all exchanges; mode never leaks into bodies") {
    val root = Files.createTempDirectory("graft-q-one").toString
    // envelopes as they arrive from an ordered tail (binlog, oplog):
    // with the `__mode` marker and the `__seq` order column
    val df = Seq(
      ("insert", 0L, "orders", "sync", 11L, 1L, "eu"),
      ("insert", 0L, "users", "sync", 12L, 2L, "us"),
      ("update", 0L, "orders", "sync", 13L, 3L, "eu"))
      .toDF("op", "ts", "ns", "__mode", "__seq", "id", "region")
    val sc = spark.sparkContext
    sc.setJobGroup("qpub-one", "publisher job count", false)
    try Queue.QueuePublishSink(root, routingKey = "region",
      keyInField = true).write(df)
    finally sc.clearJobGroup()
    // the status store is fed asynchronously — poll, settle, then assert
    def jobs = sc.statusTracker.getJobIdsForGroup("qpub-one").length
    val deadline = System.currentTimeMillis + 15000
    while (jobs < 1 && System.currentTimeMillis < deadline) Thread.sleep(100)
    Thread.sleep(500)
    assert(jobs == 1, s"expected ONE publish job for 2 exchanges, got $jobs")
    // the published body is msg.Data() alone (`writer.go:43-48`): no
    // envelope columns, no stream-phase marker
    val bodies = Queue.changes(ChangeLog.Text(spark, tail = false), root)
      .select("data")
      .collect().map(_.getString(0))
    assert(bodies.length == 3)
    assert(bodies.forall(b => !b.contains("\"__mode\"")), bodies.toSeq)
    assert(bodies.forall(b => !b.contains("\"__seq\"")), bodies.toSeq)
    assert(bodies.forall(b => !b.contains("\"op\"")), bodies.toSeq)
    assert(Files.isDirectory(Paths.get(root, "orders", "rk=eu")))
    assert(Files.isDirectory(Paths.get(root, "users", "rk=us")))
    // appending a second publish into an existing rk dir keeps both
    Queue.QueuePublishSink(root, routingKey = "region", keyInField = true)
      .write(Seq(("insert", 0L, "orders", "sync", 9L, "eu"))
        .toDF("op", "ts", "ns", "__mode", "id", "region"))
    assert(Queue.changes(ChangeLog.Text(spark, tail = false), root,
      "^orders$").count() == 3)
  }
}
