package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s value and the Spark jobs started while it ran, counted by
    * a listener with the bus drained on both sides. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val v = body
      org.apache.spark.ListenerDrain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `body`'s value and every process the JVM started while it ran, as
    * "command (thread)", read from an in-process JFR recording of
    * `jdk.ProcessStart` events. Spark's housekeeping runs on its own
    * clock and is left out: the heartbeat's one-off `getconf PAGESIZE`
    * and the `rm -rf` of a collected session's artifact directory. */
  def processStartsDuring[T](body: => T): (T, Seq[String]) = {
    val housekeeping = Seq("org.apache.spark.Heartbeater",
      "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutThreshold().withStackTrace()
    rec.start()
    val v = try body finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      import scala.jdk.CollectionConverters._
      (v, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(f => housekeeping.exists(f.getMethod.getType.getName.startsWith))))
        .map(e => s"${e.getString("command")} (${e.getThread.getJavaName})"))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}

object SparkSpec {
  // One session per JVM — suites share it; Test / fork gives one JVM per run.
  // local[4] whatever the host: PlanFence's fingerprints bind to it
  lazy val session: SparkSession =
    graft.tools.Sessions.local("graft-test", cpus = 4)
}
