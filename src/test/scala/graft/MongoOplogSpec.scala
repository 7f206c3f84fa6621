package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.MongoOplog

/** Mongo oplog tailer contract (`adaptor/mongodb/reader.go:216-333`):
  * the literal oplogDoc shape, validOp skip rules, ts>>32 seconds,
  * update-as-refetch against current collection state, resume cursor,
  * and the Copy→Sync transition (snapshot then tail). */
class MongoOplogSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(StructField("_id", LongType),
    StructField("name", StringType), StructField("score", DoubleType)))

  private def op(t: Long, i: Long, opc: String, ns: String,
      o: String, o2: String = null): String = {
    val o2part = Option(o2).map(x => s""","o2":$x""").getOrElse("")
    s"""{"ts":{"$$timestamp":{"t":$t,"i":$i}},"h":${t * 7 - i},"v":2,""" +
      s""""op":"$opc","ns":"$ns","o":$o$o2part}"""
  }

  test("parse: oplogDoc shape, validOp skips n/c ops, ts is seconds") {
    val lines = Seq(
      op(1700000010L, 1, "i", "db.users", """{"_id":1,"name":"ann"}"""),
      op(1700000011L, 1, "d", "db.users", """{"_id":2}"""),
      op(1700000012L, 1, "u", "db.users", """{"$set":{"name":"x"}}""",
        """{"_id":3}"""),
      op(1700000013L, 1, "n", "db.users", """{"msg":"periodic noop"}"""),
      op(1700000014L, 1, "c", "db.$cmd", """{"create":"users"}"""),
      """not json at all""",
      // raw numeric MongoTimestamp spelling also parses
      s"""{"ts":${(1700000015L << 32) | 2L},"h":1,"v":2,"op":"i","ns":"db.users","o":{"_id":9,"name":"zed"}}""")
      .toDF("value")
    val env = MongoOplog.changes(lines)
    val rows = env.orderBy("__seq").collect()
    // n, c and garbage are skipped (validOp, reader.go:335-339)
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("op")).toSeq ==
      Seq("insert", "delete", "update", "insert"))
    // msg.TS = ts >> 32 (reader.go:266): unix SECONDS
    assert(rows.head.getAs[Long]("ts") == 1700000010L)
    assert(rows.forall(_.getAs[String]("__mode") == "sync"))
    // update carries the o2 id pointer until resolution
    assert(rows(2).getAs[String]("data").contains("\"_id\":3"))
    // ns regex + resume cursor (reader.go:229-230, $gte)
    assert(MongoOplog.changes(lines, "^db\\.users$").count() == 4)
    assert(MongoOplog.changes(lines, ".*",
      sinceTs = Some(1700000012L << 32)).count() == 2)
  }

  test("update-as-refetch: point lookup against current state; missing doc drops") {
    val current = Seq((3L, "cyd-NOW", 33.0), (4L, "dee", 40.0))
      .toDF("_id", "name", "score")
    val lines = Seq(
      op(1700000020L, 1, "u", "db.users", """{"$set":{"score":33}}""",
        """{"_id":3}"""),
      op(1700000021L, 1, "u", "db.users", """{"$set":{"score":1}}""",
        """{"_id":404}"""), // no such doc: log-and-continue (reader.go:258-262)
      op(1700000022L, 1, "i", "db.users", """{"_id":5,"name":"eve"}"""))
      .toDF("value")
    val resolved = MongoOplog.resolveUpdates(
      MongoOplog.changes(lines), current)
    val upd = resolved.filter(col("op") === "update").collect()
    // the surviving update carries the WHOLESALE current document
    assert(upd.length == 1)
    assert(upd.head.getAs[String]("data").contains("cyd-NOW"))
    // non-updates pass through untouched
    assert(resolved.filter(col("op") === "insert").count() == 1)
  }

  test("snapshot-then-tail: stream end-state == batch applyCdc (Copy→Sync)") {
    val tmp = Files.createTempDirectory("graft-oplog-st").toString
    Files.createDirectories(Paths.get(tmp, "oplog"))
    // Copy phase: the snapshot the batch reader emits
    val snapshot = Seq((1L, "ann", 10.0), (2L, "bob", 20.0), (3L, "cyd", 30.0))
      .toDF("_id", "name", "score")
    // the LIVE collection (what getOriginalDoc reads): bob already updated
    val live = Seq((2L, "bobby", 25.0), (3L, "cyd", 30.0),
      (4L, "dee", 40.0)).toDF("_id", "name", "score")
    // Sync phase: two oplog files = two micro-batches
    Files.write(Paths.get(tmp, "oplog", "000.jsonl"), Seq(
      op(1700000100L, 1, "u", "db.users", """{"$set":{"name":"bobby","score":25}}""",
        """{"_id":2}"""),
      op(1700000101L, 1, "i", "db.users",
        """{"_id":4,"name":"dee","score":40}""")).mkString("\n").getBytes)
    Files.write(Paths.get(tmp, "oplog", "001.jsonl"), Seq(
      op(1700000102L, 1, "d", "db.users", """{"_id":1}"""))
      .mkString("\n").getBytes)

    var state = snapshot
    val q = MongoOplog.changes(spark.readStream.option("maxFilesPerTrigger", "1")
        .text(s"$tmp/oplog"), "^db\\.users$")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = MongoOplog.applyCdc(state, batch, docSchema,
          current = Some(live)).localCheckpoint(true)
        ()
      }.start()
    q.awaitTermination()

    val batchEnd = MongoOplog.applyCdc(snapshot,
      MongoOplog.changes(spark.read.text(s"$tmp/oplog"), "^db\\.users$"),
      docSchema, current = Some(live))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(dump(state) == dump(batchEnd))
    assert(dump(state) == Seq((2L, "bobby", 25.0), (3L, "cyd", 30.0),
      (4L, "dee", 40.0)))
    // restart replays nothing: state unchanged after a second drive
    val before = dump(state)
    val q2 = MongoOplog.changes(spark.readStream.text(s"$tmp/oplog"), "^db\\.users$")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = MongoOplog.applyCdc(state, batch, docSchema,
          current = Some(live)).localCheckpoint(true)
        ()
      }.start()
    q2.awaitTermination()
    assert(dump(state) == before)
  }

  test("registry: mongodb-oplog batch source resolves via db_dir") {
    val tmp = Files.createTempDirectory("graft-oplog-reg").toString
    Files.createDirectories(Paths.get(tmp, "oplog"))
    Files.createDirectories(Paths.get(tmp, "db"))
    // live collection dir in the graft-mongo extended-JSON format
    graft.sources.Connectors.MongoCollectionSink(s"$tmp/db", "users")
      .write(graft.core.Envelope.wrap(
        Seq((7L, "sue")).toDF("_id", "name"), "users"))
    Files.write(Paths.get(tmp, "oplog", "0.jsonl"), Seq(
      op(1700000200L, 1, "u", "db.users", """{"$set":{"name":"sue"}}""",
        """{"_id":7}"""),
      op(1700000201L, 1, "i", "db.users", """{"_id":8,"name":"tia"}"""))
      .mkString("\n").getBytes)
    val src = graft.pipeline.Registry.sources("mongodb-oplog")(Map(
      "uri" -> s"$tmp/oplog", "db_dir" -> s"$tmp/db",
      "collection" -> "users"))
    val env = src.read(spark)
    assert(env.count() == 2)
    val upd = env.filter(col("op") === "update").head
    assert(upd.getAs[String]("data").contains("sue"))
  }
}
