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
}

object SparkSpec {
  // One session per JVM — suites share it; Test / fork gives one JVM per run.
  // local[4] whatever the host: PlanFence's fingerprints bind to it
  lazy val session: SparkSession =
    graft.tools.Sessions.local("graft-test", cpus = 4)
}
