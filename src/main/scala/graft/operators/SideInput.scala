package graft.operators

import java.util.UUID
import java.util.concurrent.TimeoutException
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, SECONDS}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession

/** Driver-side side inputs a query construction computes on the global
  * pool (independent eager collects, overlapped). [[await]] is bounded
  * by `spark.sql.broadcastTimeout` (negative = forever, as for a
  * broadcast) over the WHOLE arm, scans included, so a corpus whose arm
  * runs longer must raise it. A timeout names the arm and cancels its
  * jobs by job tag; an arm inherits its starter's tags, so cancelling it
  * also cancels the arms it started. */
private[graft] object SideInput {
  final class Arm[T] private[SideInput] (val name: String,
      private[graft] val tag: String, private[graft] val future: Future[T])

  def apply[T](spark: SparkSession, name: String)(body: => T): Arm[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-side-input-${UUID.randomUUID()}"
    val tags = sc.getJobTags() + tag
    new Arm(name, tag, Future {
      val own = tags -- sc.getJobTags() // pool threads are shared
      own.foreach(sc.addJobTag)
      try body finally own.foreach(sc.removeJobTag)
    }(ExecutionContext.global))
  }

  def await[T](spark: SparkSession, arm: Arm[T]): T = {
    val secs = JavaUtils.timeStringAsSec(
      spark.conf.get("spark.sql.broadcastTimeout"))
    val limit = if (secs < 0) Duration.Inf else Duration(secs, SECONDS)
    try Await.result(arm.future, limit)
    catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobsWithTag(arm.tag,
          s"side input '${arm.name}' timed out")
        throw new TimeoutException(s"side input '${arm.name}' not ready " +
          s"after ${secs}s (spark.sql.broadcastTimeout)").initCause(e)
    }
  }
}
