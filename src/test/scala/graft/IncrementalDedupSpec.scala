package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.IncrementalDedup
import graft.operators.Dedup

/** Incremental minhash index == batch near-dedup over the same corpus;
  * epochs are idempotent; the index read is pruned to touched buckets. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // fixture: base docs + planted near-dups across different epochs
  private def corpus = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().take(60)
    val planted = docs.take(8).map { case (id, t) =>
      // same text with one token appended → jaccard well above 0.8
      (10000L + id, t + " tailtoken")
    }
    (docs ++ planted).toSeq
  }

  test("three epochs == batch minhash dedup (keep-min-id), replay idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg = IncrementalDedup.Config(s"$tmp/index", estThreshold = 0.8)
    val all = corpus
    val epochs = all.grouped((all.size + 2) / 3).toSeq
    epochs.zipWithIndex.foreach { case (rows, i) =>
      IncrementalDedup.ingestBatch(cfg,
        rows.toDF("doc_id", "text"), "doc_id", "text", i.toLong)
    }
    val dec = IncrementalDedup.decisions(spark, cfg)
    assert(dec.count() == all.size)

    // every planted dup must be caught (its base doc is always in an
    // earlier-or-same epoch), pointing at the base doc
    val dups = dec.filter(!col("kept"))
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toMap
    val planted = all.filter(_._1 >= 10000L).map(_._1)
    planted.foreach { id =>
      assert(dups.contains(id), s"planted dup $id not caught")
      assert(dups(id) == id - 10000L || dups.contains(id - 10000L) ||
        dups(id) < 10000L, s"dup $id points at ${dups(id)}")
    }

    // agreement with the batch operator at the same threshold (the
    // fixture's true dups sit far above 0.8, so estimated != exact
    // verification cannot flip any decision)
    val batchKept = Dedup.minhashKept(all.toDF("doc_id", "text"),
      "doc_id", "text", jaccardThreshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val incKept = dec.filter(col("kept")).select("doc_id")
      .as[Long].collect().toSet
    assert(incKept == batchKept,
      s"only-inc=${(incKept -- batchKept).take(5)} " +
        s"only-batch=${(batchKept -- incKept).take(5)}")

    // replaying an epoch changes nothing (at-least-once safety)
    IncrementalDedup.ingestBatch(cfg,
      epochs.head.toDF("doc_id", "text"), "doc_id", "text", 0L)
    assert(IncrementalDedup.decisions(spark, cfg).count() == all.size)

    // the index holds ONLY kept docs (dup chains collapse)
    val indexIds = spark.read.parquet(s"${cfg.dir}/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(indexIds == incKept)
  }

  test("crash replay: epoch re-run after index write but before marker " +
      "does not self-match its own in-flight entries") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc3").toString
    val cfg = IncrementalDedup.Config(s"$tmp/index", estThreshold = 0.8)
    val all = corpus
    val epochs = all.grouped((all.size + 2) / 3).toSeq
    epochs.zipWithIndex.foreach { case (rows, i) =>
      IncrementalDedup.ingestBatch(cfg,
        rows.toDF("doc_id", "text"), "doc_id", "text", i.toLong)
    }
    val before = IncrementalDedup.decisions(spark, cfg)
      .select("doc_id", "kept", "dup_of").as[(Long, Boolean, Option[Long])]
      .collect().toSet

    // simulate the crash window: the last epoch's bands+sigs appends
    // landed but the decisions marker did not → delete ONLY the marker
    // and replay. Pre-fence, every kept doc of that epoch band-matched
    // its own index entry and was dropped as a dup of itself.
    val lastEpoch = (epochs.size - 1).toLong
    val fs = new org.apache.hadoop.fs.Path(cfg.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${cfg.dir}/decisions/epoch=$lastEpoch"), true)
    IncrementalDedup.ingestBatch(cfg,
      epochs.last.toDF("doc_id", "text"), "doc_id", "text", lastEpoch)

    val after = IncrementalDedup.decisions(spark, cfg)
      .select("doc_id", "kept", "dup_of").as[(Long, Boolean, Option[Long])]
      .collect().toSet
    assert(after == before,
      s"replay changed decisions: only-after=${(after -- before).take(5)} " +
        s"only-before=${(before -- after).take(5)}")
    // the rebuilt index still holds exactly the kept docs
    val keptIds = after.filter(_._2).map(_._1)
    val indexIds = spark.read.parquet(s"${cfg.dir}/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(indexIds == keptIds)
  }

  test("streaming foreachBatch drive: decisions accumulate per epoch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc2").toString
    val cfg = IncrementalDedup.Config(s"$tmp/index")
    val dir = s"$tmp/in"
    val all = corpus
    val (e1, e2) = all.splitAt(all.size / 2)
    def write(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").json(dir)
      Thread.sleep(300)
    }
    write(e1); write(e2)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        IncrementalDedup.ingestBatch(cfg, b, "doc_id", "text", id)
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val dec = IncrementalDedup.decisions(spark, cfg)
    assert(dec.count() == all.size)
    assert(dec.select("epoch").distinct().count() >= 2)
    assert(dec.filter(!col("kept")).count() >= 8)
  }
}
