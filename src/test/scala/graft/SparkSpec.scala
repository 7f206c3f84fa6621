package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  // One session per JVM — suites share it; Test / fork gives one JVM per run.
  // local[4] whatever the host: PlanFence's fingerprints bind to it
  lazy val session: SparkSession =
    graft.tools.Sessions.local("graft-test", cpus = 4)
}
