package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.core.Envelope
import graft.operators.Upsert

/** Streaming layer: the reference's CDC tail + idempotent sinks
  * (SURVEY §2.7) as Structured Streaming.
  *
  * Mapping:
  *   - oplog/binlog/logical-decoding tail → `readStream` over an envelope
  *     stream (file-backed here; a Kafka/rate source drops in unchanged)
  *   - commit log + per-sink offset logs   → checkpointLocation (WAL +
  *     commits are exactly the offset bookkeeping of `commitlog/` +
  *     `offset/`, per-query like per-sink offset logs)
  *   - bulk flush every 1000 docs / 2 s    → micro-batch epochs;
  *     `Trigger.ProcessingTime` for cadence, `foreachBatch` for the flush
  *   - at-least-once + upsert-by-id        → `foreachBatch` merge keyed on
  *     id: batch replay converges (idempotent), matching
  *     `adaptor/mongodb/writer.go:53-67`
  *
  * Scale: state here is the TARGET TABLE, not stream state — no unbounded
  * `mapGroupsWithState` buffers. The merge is a shuffle join on the id
  * (broadcast when the epoch is small, the common CDC case). At warehouse
  * scale the read-merge-overwrite becomes a MERGE INTO on a table format
  * with key clustering; the batch algebra (Upsert.applyCdc) is unchanged.
  */
object StreamPipeline {

  /** Parquet-table upsert sink driven by foreachBatch, with a
    * hash-bucketed target so an epoch rewrites ONLY the buckets its keys
    * touch (the reference writes per-document by id,
    * `adaptor/mongodb/writer.go:53-67` — it never rewrites untouched data;
    * neither should the batch merge).
    *
    * Layout: state lives in `b<bucket>-v<ver>/` parquet dirs, where
    * bucket = pmod(hash(id), numBuckets). A manifest file maps each live
    * bucket to its committed version, and the pointer file CURRENT names
    * the committed manifest. The ONLY commit step is an atomic rename of a
    * temp pointer onto CURRENT, so a crash at any point leaves the target
    * at either the old or the new epoch — never half-written. Stale bucket
    * versions are GC'd after commit.
    *
    * Scale: per epoch this reads and rewrites O(touched buckets) of the
    * target, not O(target). At 100 TB, numBuckets grows (e.g. 2^16) so a
    * CDC epoch touching k keys costs ~k/numBuckets of the table; the same
    * layout is what MERGE INTO on a key-clustered table format does, with
    * `Upsert.applyCdc`'s algebra unchanged.
    */
  class ParquetUpsertSink(spark: SparkSession, targetDir: String,
      idCol: String, baseSchema: StructType, numBuckets: Int = 16) {

    private val fs = java.nio.file.Paths.get(targetDir)
    private val currentPtr = fs.resolve("CURRENT")
    private val bucketsMeta = fs.resolve("BUCKETS")
    protected def bucketExpr = pmod(hash(col(idCol)), lit(numBuckets))

    /** The epoch's effective write set (subclass hook; CDC default keeps
      * insert/update/delete rows). */
    protected def epochWrites(batch: DataFrame): DataFrame =
      batch.filter(col(Envelope.OpCol).isin(
        Envelope.Op.Insert, Envelope.Op.Update, Envelope.Op.Delete))

    /** Merge the touched buckets' committed state with the epoch's writes
      * into the buckets' next state (subclass hook; CDC default is
      * replace-by-id via `Upsert.applyCdc`). */
    protected def nextState(base: DataFrame, writes: DataFrame): DataFrame =
      Upsert.applyCdc(base, writes, idCol,
        Seq(col(Envelope.TsCol), col("event_id")))

    /** The bucket modulus is part of the table layout: reopening with a
      * different value would compute touched buckets under a new modulus
      * against a manifest laid out under the old one — silently missing
      * rows. So it is recorded at first commit and validated on every
      * reopen; `ParquetUpsertSink.open` adopts the recorded value instead.
      * Validated lazily (once) so constructing against a fresh dir works. */
    private lazy val bucketsValidated: Unit = {
      if (java.nio.file.Files.exists(bucketsMeta)) {
        val recorded = java.nio.file.Files.readString(bucketsMeta).trim.toInt
        if (recorded != numBuckets)
          throw new IllegalStateException(
            s"$targetDir was written with numBuckets=$recorded but opened " +
              s"with numBuckets=$numBuckets; use ParquetUpsertSink.open to " +
              "adopt the recorded layout")
      }
    }

    // CURRENT names the committed manifest version K; manifest-v<K> holds
    // "bucket dataVersion" lines. Absent CURRENT = empty table.
    private def currentManifestVersion(): Long =
      if (java.nio.file.Files.exists(currentPtr))
        java.nio.file.Files.readString(currentPtr).trim.toLong
      else -1L

    /** Committed bucket → data-version map (empty before first commit).
      * `#`-prefixed manifest lines are metadata (e.g. the applied epoch
      * id), not bucket entries. */
    def manifest(): Map[Int, Long] = {
      val k = currentManifestVersion()
      if (k < 0) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(fs.resolve(s"manifest-v$k"))
          .asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
            val Array(b, v) = line.split(' '); (b.toInt, v.toLong)
          }.toMap
      }
    }

    /** Epoch id recorded by the committed manifest (atomic with the
      * commit — the replay guard for non-idempotent merges). */
    def lastAppliedEpoch(): Option[Long] = {
      val k = currentManifestVersion()
      if (k < 0) None
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(fs.resolve(s"manifest-v$k"))
          .asScala.collectFirst {
            case l if l.startsWith("#epoch ") => l.stripPrefix("#epoch ").toLong
          }
      }
    }

    /** Subclasses whose `nextState` is NOT idempotent under replay (e.g.
      * merge-by-add) set this true: an epoch at or below the committed
      * `#epoch` marker is skipped instead of re-merged. The CDC sink
      * keeps false — replace-by-id replay is harmless, and admin
      * rewind→replay legitimately re-runs older epochs. */
    protected def skipReplayedEpochs: Boolean = false

    private def bucketDir(b: Int, v: Long) = fs.resolve(s"b$b-v$v")

    private def readBuckets(entries: Map[Int, Long]): DataFrame =
      if (entries.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
      else
        spark.read.schema(baseSchema).parquet(
          entries.map { case (b, v) => bucketDir(b, v).toString }.toSeq: _*)

    def currentState(): DataFrame = { bucketsValidated; readBuckets(manifest()) }

    /** Idempotent epoch application (replaying an epoch re-derives and
      * re-commits the same next-state for the same touched buckets). */
    def applyBatch(batch: DataFrame, epochId: Long): Unit = {
      bucketsValidated
      if (skipReplayedEpochs && lastAppliedEpoch().exists(_ >= epochId))
        return // committed marker says this epoch is already merged
      val writes = epochWrites(batch).persist()
      try {
        // touched bucket set: tiny (≤ numBuckets ints) — driver collect is fine
        val touched = writes.select(bucketExpr.as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val prev = manifest()
          // prune: merge reads ONLY the touched buckets' committed data
          val base = readBuckets(prev.filter(t => touched(t._1)))
          val next = nextState(base, writes)
          val nextV = currentManifestVersion() + 1
          val tmpData = fs.resolve(s"epoch-tmp-$epochId")
          if (java.nio.file.Files.exists(tmpData)) // leftover from a crash
            org.apache.commons.io.FileUtils.deleteDirectory(tmpData.toFile)
          next.withColumn("__bucket", bucketExpr)
            .write.partitionBy("__bucket").parquet(tmpData.toString)
          // install each produced bucket dir at the new version; a touched
          // bucket with no surviving rows (all deleted) leaves the manifest
          val installed = touched.toSeq.sorted.flatMap { b =>
            val src = tmpData.resolve(s"__bucket=$b")
            if (java.nio.file.Files.exists(src)) {
              val dst = bucketDir(b, nextV)
              if (java.nio.file.Files.exists(dst)) // crashed attempt
                org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile)
              java.nio.file.Files.move(src, dst)
              Some(b -> nextV)
            } else None
          }.toMap
          val nextManifest = (prev -- touched) ++ installed
          if (!java.nio.file.Files.exists(bucketsMeta))
            java.nio.file.Files.writeString(bucketsMeta, numBuckets.toString)
          java.nio.file.Files.writeString(fs.resolve(s"manifest-v$nextV"),
            (s"#epoch $epochId" +:
              nextManifest.toSeq.sorted.map { case (b, v) => s"$b $v" })
              .mkString("\n"))
          val tmpPtr = fs.resolve(s"CURRENT.tmp-$epochId")
          java.nio.file.Files.writeString(tmpPtr, nextV.toString)
          java.nio.file.Files.move(tmpPtr, currentPtr,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          // committed; everything not referenced by the new manifest is
          // garbage — including orphans left by crashes in PRIOR epochs
          gcUnreferenced(nextManifest, nextV)
        }
      } finally writes.unpersist()
    }

    private val bucketDirRe = "b(\\d+)-v(\\d+)".r
    private val manifestRe = "manifest-v(\\d+)".r

    /** GC by listing, not by remembering: delete every bucket dir and
      * manifest file the committed manifest does not reference, plus any
      * epoch-tmp / pointer-tmp leftovers. A crash between the CURRENT
      * rename and GC therefore leaks only until the NEXT commit, never
      * permanently. The listing is O(numBuckets) names — cheap at any
      * scale the bucket count itself is viable at. */
    private def gcUnreferenced(live: Map[Int, Long], liveV: Long): Unit = {
      val stream = java.nio.file.Files.list(fs)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.foreach { p =>
          val keep = p.getFileName.toString match {
            case bucketDirRe(b, v) => live.get(b.toInt).contains(v.toLong)
            case manifestRe(v) => v.toLong == liveV
            case "CURRENT" | "BUCKETS" => true
            case _ => false // epoch-tmp-*, CURRENT.tmp-*, stray leftovers
          }
          if (!keep) org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
        }
      } finally stream.close()
    }

    def start(stream: DataFrame, checkpoint: String,
        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
      stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch((batch: DataFrame, epochId: Long) =>
          applyBatch(batch, epochId))
        .start()
  }

  object ParquetUpsertSink {
    /** Open an existing target adopting its recorded bucket layout (falls
      * back to `default` for a fresh dir). */
    def open(spark: SparkSession, targetDir: String, idCol: String,
        baseSchema: StructType, default: Int = 16): ParquetUpsertSink = {
      val meta = java.nio.file.Paths.get(targetDir, "BUCKETS")
      val n =
        if (java.nio.file.Files.exists(meta))
          java.nio.file.Files.readString(meta).trim.toInt
        else default
      new ParquetUpsertSink(spark, targetDir, idCol, baseSchema, n)
    }
  }

  /** Streaming fan-out: ONE stream drives N sinks inside a single
    * foreachBatch — the reference's source-broadcast tree
    * (`pipe/pipe.go:158-165`) in micro-batch form. Each sink sees the
    * epoch after its own ns-filter + transform chain. The sinks write
    * the one persisted epoch concurrently (`concurrently`), as the
    * reference runs each sink node in its own goroutine
    * (`pipeline/node.go:55-85`); their jobs keep the stream's job group,
    * so `query.stop()` cancels them. The epoch commits only after EVERY
    * sink write has finished, so all sinks share one offset log
    * (at-least-once per sink, exactly like the per-sink offset logs
    * collapsing to the min offset on resume, `pipeline/node.go:269-345`).
    * A failed sink fails the epoch once its siblings have finished,
    * with the first failure in sink order; the epoch stays uncommitted.
    *
    * Idempotent sinks are still required: a crash or a failed sibling
    * replays the epoch into ALL sinks, including those that already
    * wrote it. Sinks of one fan-out must not share a target.
    */
  def fanout(stream: DataFrame, checkpoint: String,
      sinks: Seq[(String, DataFrame => DataFrame,
        (DataFrame, Long) => Unit)],
      trigger: Trigger = Trigger.AvailableNow(),
      observeAs: Option[String] = None): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // one cached scan of the epoch serves every sink
        batch.persist()
        try firstFailure(concurrently(batch.sparkSession, sinks.map {
          case (name, transform, write) => () => {
            // with observeAs, each sink's epoch count rides its own query
            // as a CollectMetrics node → `metrics` events per sink per
            // epoch through Events.BatchListener (pipe.MessageCount for
            // the multiplexed fan-out tree)
            val df = transform(batch)
            val instrumented = observeAs match {
              case Some(prefix) =>
                graft.events.Events.instrument(df, s"$prefix/$name")
              case None => df
            }
            write(instrumented, epochId)
          }
        })).foreach(throw _) finally batch.unpersist()
        ()
      }
      .start()

  /** Daemon threads for the fan-out's sibling writes; idle ones expire. */
  private lazy val sinkPool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-sink-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** The one concurrent fan-out (the batch Copy and every stream epoch):
    * starts every write at once and returns each one's outcome, in
    * order, only after all of them have finished. The first runs on the
    * calling thread; the rest run on daemon threads through
    * `SQLExecution.withThreadLocalCaptured` (Spark's helper for broadcast
    * and subquery futures), so each carries the caller's local
    * properties — a stream's job group, so `stop()` cancels its jobs,
    * and the job tags — and the active session. Waiting ignores
    * interrupts until every write has finished; the interrupt flag is
    * then restored. */
  def concurrently[A](spark: SparkSession, writes: Seq[() => A])
      : Seq[scala.util.Try[A]] = {
    import scala.util.{Failure, Success}
    def attempt(w: () => A) = try Success(w()) catch {
      case e: Throwable => Failure(e)
    }
    writes match {
      case Seq() => Nil
      case first +: rest =>
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val siblings = rest.map(w => org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, sinkPool)(w()))
        attempt(first) +: siblings.map(f => attempt(() => f.join()) match {
          case Failure(e) => Failure(unwrap(e))
          case ok => ok
        })
    }
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case _: java.util.concurrent.ExecutionException |
         _: java.util.concurrent.CompletionException if e.getCause != null =>
      unwrap(e.getCause)
    case _ => e
  }

  /** The first failure in order, with the later ones added as
    * suppressed. */
  def firstFailure(outcomes: Seq[scala.util.Try[_]]): Option[Throwable] = {
    val failures = outcomes.collect { case scala.util.Failure(e) => e }
    failures.headOption.map { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      first
    }
  }

  /** Windowed streaming aggregation with watermark (beyond the reference's
    * phase markers — the idiomatic home for its flush-cadence semantics). */
  def windowedCounts(stream: DataFrame, tsCol: String, window: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(Envelope.OpCol))
      .agg(count(lit(1)).as("n"))
}
