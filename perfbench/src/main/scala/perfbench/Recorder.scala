package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * span times line up with the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One bracketed call: `layer` is the repository module it enters
  * (pipeline, sources, functions, sinks, streaming, queries, operators)
  * or `harness` for the benchmark's own driving code. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: Long, startMs: Double, endMs: Double)

/** Spans recorded around each call the benchmark makes into the program.
  * Untraced runs keep only the timer; traced runs also keep the span,
  * its parent and the operation id, all in memory until the end. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  @volatile var op: Long = -1L

  /** Run `body`, returning its value and its wall time in ms. */
  def timed[A](name: String, layer: String)(body: => A): (A, Double) = {
    val id = nextId.incrementAndGet().toInt
    val parent = stack.get().headOption.getOrElse(0)
    if (enabled) stack.set(id :: stack.get())
    val t0 = Clock.nowMs
    try {
      val a = body
      (a, Clock.nowMs - t0)
    } finally {
      val t1 = Clock.nowMs
      if (enabled) {
        stack.set(stack.get().tail)
        spans.synchronized(spans += Span(id, parent, name, layer, op, t0, t1))
      }
    }
  }

  def span[A](name: String, layer: String)(body: => A): A =
    timed(name, layer)(body)._1

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark runtime counters from our own listeners: jobs, stage intervals,
  * task CPU/GC/shuffle/spill, and streaming progress. */
final class SparkRuntime(sc: SparkContext) extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (submitted ms, completed ms) of every finished stage. */
  val stages = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.synchronized(stages += ((s, c)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until every posted event has reached the listeners. */
  def settle(): Unit = org.apache.spark.BenchBus.drain(sc)

  import SparkRuntime.Snapshot

  def snapshot(): Snapshot = {
    settle()
    Snapshot(jobs.get, tasks.get, cpuNs.get, gcMs.get, shuffleBytes.get,
      spillBytes.get, Clock.nowMs)
  }

  /** Runtime totals between two snapshots, stage intervals included. */
  def window(a: Snapshot, b: Snapshot): Map[String, Any] = Map(
    "jobs" -> (b.jobs - a.jobs), "tasks" -> (b.tasks - a.tasks),
    "task_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
    "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "shuffle_mb" -> (b.shuffleBytes - a.shuffleBytes) / 1048576.0,
    "spill_mb" -> (b.spillBytes - a.spillBytes) / 1048576.0,
    "wall_s" -> (b.atMs - a.atMs) / 1e3,
    "window_ms" -> Seq(a.atMs, b.atMs),
    "stages_ms" -> stages.synchronized(stages.toList)
      .filter { case (s, c) => s >= a.atMs - 1 && c <= b.atMs + 1 }
      .map { case (s, c) => Seq(s, c) })

  /** MB of persisted, cached and checkpointed blocks held right now. */
  def heldMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

object SparkRuntime {
  final case class Snapshot(jobs: Long, tasks: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long, atMs: Double)
}

/** Streaming progress of every micro-batch that read input. */
final class Progress extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val committed = new java.util.concurrent.Semaphore(0)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      batches.synchronized(batches += (p.durationMs.asScala.map {
        case (k, v) => k -> v.longValue
      }.toMap + ("rows" -> p.numInputRows) + ("batch" -> p.batchId)))
      committed.release()
    }
  }

  /** Wait up to `timeoutMs` for one more input-reading batch to commit. */
  def awaitBatch(timeoutMs: Long): Boolean =
    committed.tryAcquire(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  /** The batches recorded so far; forgets them and any pending signal. */
  def take(): Seq[Map[String, Long]] = batches.synchronized {
    val out = batches.toList
    batches.clear()
    committed.drainPermits()
    out
  }
}

/** The run record's JSON (Scala maps and sequences, via Spark's own
  * jackson-module-scala). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
