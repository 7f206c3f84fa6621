package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, the inputs the generator
  * wrote, the recorders, and what the run has measured so far. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val inputs: String, val work: String,
    val tracer: Tracer, val runtime: SparkRuntime, val progress: Progress) {
  val traced: Boolean = tracer.enabled
  val manifest: JsonNode =
    new ObjectMapper().readTree(Paths.get(inputs, "manifest.json").toFile)
  /** Latency and size samples by name (ms, s or rows, as named). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer values (numbers, or sample lists the reporter reduces). */
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var heldPeakMb = 0.0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def layerSample(name: String, v: Double): Unit =
    layers.get(name) match {
      case Some(b: mutable.ArrayBuffer[Double] @unchecked) => b += v
      case _ => layers(name) = mutable.ArrayBuffer(v)
    }

  /** Track the peak of Spark's held storage between operations. */
  def sampleHeld(): Unit = heldPeakMb = math.max(heldPeakMb, runtime.heldMb())

  /** One timed operation: counted, timed, its failure recorded (never
    * swallowed: the message goes to stderr and into the record). */
  def op[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    tracer.op = attempted
    try {
      val (a, ms) = tracer.timed(s"op.$kind", "harness")(body)
      sample(s"$kind.ms", ms)
      sampleHeld()
      Some(a)
    } catch {
      case NonFatal(e) =>
        fail(s"$kind op $attempted", e)
        None
    }
  }

  def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    System.err.println(s"[perfbench] FAILED $msg")
    e.printStackTrace()
    failures += msg.take(500)
  }

  def check(what: String)(ok: Boolean, detail: => String): Unit =
    if (!ok) {
      val msg = s"check $what: $detail"
      System.err.println(s"[perfbench] FAILED $msg")
      failures += msg.take(500)
    }

  def path(parts: String*): String = Paths.get(work, parts: _*).toString
}

trait Workload {
  /** Off-clock preparation: input loading, index builds, warm-up. */
  def setup(c: Ctx): Unit
  /** The timed part: runs for about `c.seconds`. */
  def run(c: Ctx): Unit
  /** Off-clock output checks. */
  def check(c: Ctx): Unit
  /** Traced runs only: off-clock layer splits of the timed operations. */
  def breakdown(c: Ctx): Unit = ()
}

/** Benchmark entry point, one workload per JVM:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputs> <work>
  *     <out.json> <process-start-epoch-ms>
  *
  * Writes the raw record (samples, layers, spans, failures) to out.json;
  * `run.py` reduces it to the metrics. Exit 0 when the record is written,
  * 3 when set-up failed (the record says why). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, inputs, work, out, startMs) = args
    val cpus = java.lang.Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        Paths.get(work, "checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rt = new SparkRuntime(spark.sparkContext)
    spark.sparkContext.addSparkListener(rt)
    val progress = new Progress
    spark.streams.addListener(progress)
    val c = new Ctx(spark, seed.toLong, seconds.toDouble, inputs,
      work, new Tracer(trace == "1"), rt, progress)
    val w: Workload = workload match {
      case "sync" => new SyncWorkload
      case "probe-curate" => new ProbeCurateWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed.toLong, "cpus" -> cpus,
      "traced" -> c.traced)

    val setupOk =
      try { w.setup(c); c.failures.isEmpty }
      catch {
        case NonFatal(e) =>
          c.fail("setup", e); false
      }
    val timedStart = Clock.nowMs
    record("setup_s") = (timedStart - startMs.toDouble) / 1e3
    if (!setupOk) {
      record("setup_failed") = true
      record("failures") = c.failures.toList
      Files.writeString(Paths.get(out), Json.write(record.toMap))
      spark.stop()
      sys.exit(3)
    }
    // what set-up recorded is not the timed part's
    c.layers.clear()
    c.heldPeakMb = 0.0
    val a = rt.snapshot()
    try w.run(c)
    catch {
      case NonFatal(e) =>
        c.attempted = math.max(c.attempted, 1L); c.fail("run", e)
    }
    val b = rt.snapshot()
    c.tracer.op = -1L // spans from here on are off the clock
    record("held_end_mb") = rt.heldMb()
    record("held_peak_mb") = c.heldPeakMb
    record("runtime") = rt.window(a, b)
    try w.check(c)
    catch {
      case NonFatal(e) => c.fail("check", e)
    }
    if (c.traced)
      try w.breakdown(c)
      catch {
        case NonFatal(e) =>
          c.fail("breakdown", e)
      }
    record("attempted") = c.attempted
    record("failures") = c.failures.toList
    record("samples") = c.samples
    record("layers") = c.layers
    record("spans") = c.tracer.all.map(s => Seq(s.id, s.parent, s.name,
      s.layer, s.op, s.startMs, s.endMs))
    Files.writeString(Paths.get(out), Json.write(record.toMap))
    spark.stop()
  }
}
