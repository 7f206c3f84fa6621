package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Within-call materialization fence: re-root a DataFrame on its
  * computed, persisted InternalRow RDD. Downstream the plan is one scan
  * node — an optimizer barrier that keeps iterated plans constant-size —
  * and the call's consumers share one computation.
  *
  * An RDD persist, never `df.persist()`: the CacheManager would
  * substitute a persisted plan into the next identical call (cross-run
  * result caching), while an RDD is invisible to plan matching. Blocks
  * are MEMORY_AND_DISK with live lineage — evictable and recomputable,
  * never checkpoint-pinned. Rows are copied: shuffle readers reuse
  * UnsafeRow buffers.
  *
  * [[apply]] returns the RDD for callers that release their own rounds;
  * [[persistedOnce]] hands release to one registry that retires the
  * oldest fence past max(8, SPARK_GRAFT_VERIFY_PAR + 2) — the verify
  * dump's thread pool plus slack, so no in-flight fence is retired.
  */
private[graft] object Fence {

  private val capacity: Int =
    math.max(8, sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(6) + 2)

  private val live = new java.util.ArrayDeque[RDD[_]]()

  def apply(df: DataFrame): (DataFrame, RDD[_]) = {
    val rdd = Bridge.internalRdd(df).map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (Bridge.fromInternalRows(df.sparkSession, rdd, df.schema), rdd)
  }

  def persistedOnce(df: DataFrame): DataFrame = {
    val (fenced, rdd) = apply(df)
    live.synchronized {
      live.addLast(rdd)
      while (live.size > capacity)
        live.removeFirst().unpersist(blocking = false)
    }
    fenced
  }
}
