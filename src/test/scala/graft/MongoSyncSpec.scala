package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.Envelope
import graft.sources.{Connectors, MongoOplog}

/** The reference's FLAGSHIP pipeline, end-to-end: mongodb → mongodb sync
  * (`integration_tests/mongo_to_mongo`): Copy-phase snapshot through the
  * mongo scan, Sync-phase oplog tail with update-as-refetch against the
  * live source, idempotent replace writes into a target collection dir —
  * and at the end the target reads back equal to the live source. Every
  * stage is the real component (MongoSource scan, MongoOplog parser,
  * Upsert.applyCdc, MongoCollectionSink), driven as one streaming flow
  * with a checkpoint. */
class MongoSyncSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(StructField("_id", LongType),
    StructField("name", StringType), StructField("score", DoubleType)))

  private def op(t: Long, opc: String, o: String, o2: String = null): String = {
    val o2part = Option(o2).map(x => s""","o2":$x""").getOrElse("")
    s"""{"ts":{"$$timestamp":{"t":$t,"i":1}},"h":$t,"v":2,"op":"$opc",""" +
      s""""ns":"db.users","o":$o$o2part}"""
  }

  test("mongo -> mongo sync: snapshot + oplog tail converge on the source") {
    val work = Files.createTempDirectory("graft-m2m").toString
    val srcDb = s"$work/source"
    val dstDb = s"$work/target"
    Files.createDirectories(Paths.get(work, "oplog"))

    // T0: the source collection the Copy phase sees
    val s0 = Seq((1L, "ann", 10.0), (2L, "bob", 20.0), (3L, "cyd", 30.0))
      .toDF("_id", "name", "score")
    Connectors.MongoCollectionSink(srcDb, "users").write(
      Envelope.wrap(s0, "users"))

    // Copy phase: snapshot the source into the target (replace writer)
    val snapshot = Connectors.MongoSource(srcDb, collection = Some("users"),
      schema = Some(docSchema)).read(spark)
    Connectors.MongoCollectionSink(dstDb, "users").write(snapshot)

    // ops happen on the source AFTER the snapshot: bob updated, dee
    // inserted, ann deleted — the source dir advances to the live state
    // the oplog's update refetch must read (reader.go:296-315)
    val s1 = Seq((2L, "bobby", 25.0), (3L, "cyd", 30.0), (4L, "dee", 40.0))
      .toDF("_id", "name", "score")
    Connectors.MongoCollectionSink(srcDb, "users").write(
      Envelope.wrap(s1, "users"))
    Files.write(Paths.get(work, "oplog", "000.jsonl"), Seq(
      op(1700000100L, "u", """{"$set":{"name":"bobby","score":25}}""",
        """{"_id":2}"""),
      op(1700000101L, "i", """{"_id":4,"name":"dee","score":40.0}"""),
      op(1700000102L, "d", """{"_id":1}""")).mkString("\n").getBytes)

    // Sync phase: tail the oplog; per epoch, resolve updates against the
    // LIVE source, apply to the target state, and replace-write the
    // target collection — at-least-once, idempotent per batch
    val q = MongoOplog.changes(spark.readStream.text(s"$work/oplog"), "^db\\.users$")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val live = Connectors.MongoSource(srcDb,
          collection = Some("users"), schema = Some(docSchema)).read(spark)
        val target = Connectors.MongoSource(dstDb,
          collection = Some("users"), schema = Some(docSchema)).read(spark)
        val next = MongoOplog.applyCdc(
          Envelope.unwrap(target).localCheckpoint(true),
          batch, docSchema,
          current = Some(Envelope.unwrap(live)))
        Connectors.MongoCollectionSink(dstDb, "users").write(
          Envelope.wrap(next.localCheckpoint(true), "users"))
        ()
      }.start()
    q.awaitTermination()

    // the target collection now reads back equal to the live source
    def dump(db: String) = Connectors.MongoSource(db,
      collection = Some("users"), schema = Some(docSchema)).read(spark)
      .select("_id", "name", "score").orderBy("_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(dump(dstDb) == dump(srcDb))
    assert(dump(dstDb) == Seq((2L, "bobby", 25.0), (3L, "cyd", 30.0),
      (4L, "dee", 40.0)))

    // restart: the checkpoint replays nothing; the target is unchanged
    val q2 = MongoOplog.changes(spark.readStream.text(s"$work/oplog"), "^db\\.users$")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        fail("checkpoint must not replay consumed oplog files")
      }.start()
    q2.awaitTermination()
    assert(dump(dstDb) == dump(srcDb))
  }
}
