package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.functions.Transforms
import graft.sources.Connectors.{Sink, Source}

/** The reference's pipeline builder DSL (`cmd/transporter/goja_builder.go`:
  * `t.Source(...).Transform(...).Save(...)`) as a Scala spec compiled to
  * DataFrame lineage.
  *
  * Structure mirrors the Node tree (`pipeline/node.go:55-85`): ONE source
  * fanning out to N sinks, each sink owning an ordered transform chain and
  * a namespace filter applied before its transforms
  * (`pipeline/node.go:522-531,596-619`).
  *
  * Execution model difference, by design: the reference pumps one message
  * at a time through goroutines+channels; here the "logical plan" IS a
  * Catalyst plan and the sinks are concurrent actions over a shared,
  * cached source (`StreamPipeline.concurrently`, as each reference sink
  * node is its own goroutine). Fan-out therefore costs one source scan
  * (cached) + N sink-side plans, all vectorized and written at once.
  * The sinks of one pipeline must not share a target: no sink sees
  * another's writes, and no order between them is kept.
  */
final case class TransformStep(name: String, nsFilter: String,
    fn: DataFrame => DataFrame)

final case class SinkNode(name: String, nsFilter: String,
    transforms: Seq[TransformStep], sink: Sink)

final case class PipelineSpec(name: String, source: Source,
    sourceName: String, sinks: Seq[SinkNode],
    streamCheckpoint: Option[String] = None) {

  /** `transporter test`-style tree rendering (`pipeline/node.go:233-252`). */
  def describe: String =
    (s"$name:\n - Source: $sourceName\n" +: sinks.flatMap { s =>
      s"   - Sink: ${s.name} (ns=/${s.nsFilter}/)\n" +: s.transforms.map(t =>
        s"     - Transform: ${t.name} (ns=/${t.nsFilter}/)\n")
    }).mkString

  /** Compile each sink's full lineage (for explain/inspection). */
  def compile(spark: SparkSession): Map[String, DataFrame] = {
    val src = source.read(spark)
    val commands = mayCarryCommands(src)
    sinks.map(s => s.name -> compileSink(src, s, commands)).toMap
  }

  /** Can a row of `src` be a command? Decided once per pipeline on the
    * UNPERSISTED source (a cached one hides a snapshot's literal insert
    * `op`, which folds `op = 'command'` to an empty relation).
    * Transforms filter on `op` but never rewrite it. */
  private def mayCarryCommands(src: DataFrame): Boolean =
    src.columns.contains(graft.core.Envelope.OpCol) &&
      !(src.filter(org.apache.spark.sql.functions.col(
          graft.core.Envelope.OpCol) === graft.core.Envelope.Op.Command)
        .queryExecution.optimizedPlan match {
          case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            r.data.isEmpty
          case _ => false
        })

  private def compileSink(src: DataFrame, s: SinkNode,
      commands: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val filtered =
      if (s.nsFilter == ".*") src else Transforms.nsFilter(s.nsFilter)(src)
    s.transforms.foldLeft(filtered) { (df, t) =>
      // Reference semantics (pipeline/node.go:596-619): a transform whose
      // ns filter doesn't match a message SKIPS the transform — the
      // message still reaches the sink unmodified; and command messages
      // bypass transforms entirely (node.go:597). Only the SINK-level ns
      // filter drops rows. Without commands and ns filter no row
      // bypasses, so no union re-adds the columns a transform dropped.
      val exemptions = Seq(
        if (t.nsFilter != ".*" && df.columns.contains(graft.core.Envelope.NsCol))
          Some(not(graft.core.Envelope.nsMatch(t.nsFilter)))
        else None,
        if (commands && df.columns.contains(graft.core.Envelope.OpCol))
          Some(col(graft.core.Envelope.OpCol) ===
            graft.core.Envelope.Op.Command)
        else None
      ).flatten
      if (exemptions.isEmpty) t.fn(df)
      else {
        val bypassCond = exemptions.reduce(_ || _)
        val bypassed = df.filter(bypassCond)
        val transformed = t.fn(df.filter(not(bypassCond)))
        // transforms may reshape the doc; the union keeps both shapes,
        // null-filling columns the other branch lacks (schemaless parity)
        transformed.unionByName(bypassed, allowMissingColumns = true)
      }
    }
  }

  /** Run all sinks concurrently off one cached source scan, returning
    * once every sink has finished — or, when the config declared
    * `mode: stream`, drive the source's tail as a streaming query until
    * the pending input drains (Trigger.AvailableNow). */
  def run(spark: SparkSession): Unit = streamCheckpoint match {
    case Some(cp) => runStream(spark, cp).awaitTermination()
    case None => runImpl(spark, None)
  }

  /** The Sync-phase drive: the source's tail (`StreamableSource.stream`)
    * fanned out to every sink through one shared checkpoint —
    * `StreamPipeline.fanout`: the sinks write each epoch concurrently,
    * and it commits only after ALL sinks wrote it (the per-sink offset
    * logs collapsing to the min offset on resume,
    * `pipeline/node.go:269-345`). Each sink sees the epoch after its own
    * ns filter + transform chain, identical to the batch drive.
    * Sinks must be idempotent per epoch (at-least-once), which every
    * registry writer is. */
  def runStream(spark: SparkSession, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tail = source match {
      case s: graft.sources.Connectors.StreamableSource => s.stream(spark)
      case _ => throw new IllegalArgumentException(
        s"source '$sourceName' has no streaming tail (not a StreamableSource)")
    }
    graft.streaming.StreamPipeline.fanout(tail, checkpoint,
      sinks.map(s => (s.name,
        // a CDC tail can carry commands: every epoch keeps the bypass
        (epoch: DataFrame) => compileSink(epoch, s, commands = true),
        (df: DataFrame, epochId: Long) => s.sink match {
          // epoch-keyed idempotency (incremental indexes) gets the real
          // foreachBatch epoch id; plain sinks stay epoch-blind
          case es: graft.sources.Connectors.EpochSink =>
            es.writeEpoch(df, epochId)
          case sink => sink.write(df)
        })),
      trigger)
  }

  /** Run with the events surface attached (`events/events.go`): emits
    * `boot` {endpoints} → one `metrics` {path, records} per sink (counted
    * by a CollectMetrics node riding the sink's own query — no extra
    * pass), in node order once every sink has finished → `exit`; a
    * failed sink gets `error` {path, message} in its place, then `exit`
    * is emitted and the first failure rethrown (error tears the pipeline
    * down, `pipeline/pipeline.go:135-144`). A `mode: stream` spec is
    * refused: draining its tail here as one batch would write every
    * epoch sink as epoch 0, which the real stream's epoch 0 then skips
    * as a replay. */
  def run(spark: SparkSession, emitter: graft.events.Events.Emitter): Unit = {
    if (streamCheckpoint.isDefined) throw new IllegalArgumentException(
      s"pipeline '$name' is mode: stream; run(spark, emitter) drives only " +
        "batch pipelines. Use run(spark) for the stream and " +
        "Events.attach(spark, emitter) for its events.")
    runImpl(spark, Some(emitter))
  }

  private def endpoints: Map[String, String] =
    (Map(sourceName -> source.getClass.getSimpleName.stripSuffix("$")) ++
      sinks.map(s => s.name -> s.sink.getClass.getSimpleName.stripSuffix("$")))

  private def runImpl(spark: SparkSession,
      emitter: Option[graft.events.Events.Emitter]): Unit = {
    import graft.events.Events
    emitter.foreach(Events.boot(_, "graft-0.1", endpoints))
    val src = source.read(spark)
    val commands = mayCarryCommands(src)
    val shared = if (sinks.length > 1)
      src.persist(StorageLevel.MEMORY_AND_DISK) else src
    try {
      val outcomes = graft.streaming.StreamPipeline.concurrently(spark,
        sinks.map { s => () => {
          val df = compileSink(shared, s, commands)
          emitter match {
            case None => s.sink.write(df); -1L
            case Some(_) =>
              // Observation = CollectMetrics + a blocking read of the
              // counter once the sink's action completes
              val obs = new org.apache.spark.sql.Observation(
                s"graft.pipeline:$name/${s.name}")
              s.sink.write(df.observe(obs,
                org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("records")))
              obs.get.apply("records").asInstanceOf[Long]
          }
        }})
      // metrics (or the error) in node order, before exit, like
      // emitMetrics' node walk
      emitter.foreach(em => sinks.zip(outcomes).foreach {
        case (s, scala.util.Success(records)) =>
          em.emit(Events.GraftEvent(System.currentTimeMillis(),
            "metrics", path = s"$name/${s.name}", records = records))
        case (s, scala.util.Failure(e)) =>
          Events.error(em, s"$name/${s.name}", String.valueOf(e.getMessage))
      })
      graft.streaming.StreamPipeline.firstFailure(outcomes).foreach(throw _)
    } finally {
      if (sinks.length > 1) shared.unpersist()
      emitter.foreach(Events.exit(_, "graft-0.1", endpoints))
    }
  }
}

/** Fluent builder mirroring the JS DSL shape. */
final class PipelineBuilder(name: String) {
  private var src: Option[(String, Source)] = None
  private var pendingTransforms: Vector[TransformStep] = Vector.empty
  private var sinkNodes: Vector[SinkNode] = Vector.empty

  def source(srcName: String, s: Source): PipelineBuilder = {
    require(src.isEmpty, "source already set")
    src = Some((srcName, s)); this
  }

  /** Transforms accumulate and attach to the NEXT save() — exactly the
    * builder semantics of `goja_builder.go:217-242,244-293`. */
  def transform(tName: String, fn: DataFrame => DataFrame,
      ns: String = ".*"): PipelineBuilder = {
    pendingTransforms :+= TransformStep(tName, ns, fn); this
  }

  def save(sName: String, sink: Sink, ns: String = ".*"): PipelineBuilder = {
    sinkNodes :+= SinkNode(sName, ns, pendingTransforms, sink)
    pendingTransforms = Vector.empty
    this
  }

  /** Declare the pipeline a Sync-phase STREAM drive (config `mode:
    * stream`): `run` tails the source via this checkpoint instead of a
    * one-shot batch. */
  def streaming(checkpoint: String): PipelineBuilder = {
    ckpt = Some(checkpoint); this
  }
  private var ckpt: Option[String] = None

  def build(): PipelineSpec = {
    val (sn, s) = src.getOrElse(throw new IllegalStateException("no source"))
    require(sinkNodes.nonEmpty, "pipeline has no sinks") // node.go:654-669
    PipelineSpec(name, s, sn, sinkNodes, ckpt)
  }
}

object Pipeline {
  def builder(name: String): PipelineBuilder = new PipelineBuilder(name)
}
