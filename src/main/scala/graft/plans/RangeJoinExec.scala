package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Interval (point-in-range) join as a full custom operator — the second
  * member of the plans/ family after AsOfJoinExec, covering the join
  * Spark genuinely plans badly: `keys equal AND lo <= ts AND ts <= hi`.
  * Catalyst turns that into a sort-merge join on the equi-keys with the
  * range as a POST-JOIN filter, i.e. a cartesian product within every
  * key group — quadratic on hot keys. This exec instead merges both
  * sides in sort order with a sliding ACTIVE SET of ranges, so per-key
  * work is O(points + ranges + matches), the asymptotic floor.
  *
  * Physical contract (mirrors AsOfJoinExec): both sides hash-clustered
  * on the equi-keys; points sorted by (keys, ts), ranges by (keys, lo).
  * Per partition, one pass: ranges with lo <= ts enter the active set,
  * entries with hi < ts are pruned (they can never match a later point
  * of the sorted stream), and each point emits one row per surviving
  * overlap. Memory is bounded by the maximum overlap degree per key —
  * the quantity the join's OUTPUT is proportional to anyway. Bucketed
  * inputs join shuffle-free via EnsureRequirements, like the as-of exec.
  *
  * Inner-join semantics; null ts / lo / hi never match (consumed and
  * skipped, same null discipline as the as-of operator).
  */
case class RangeJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    pointTs: Expression, rangeLo: Expression, rangeHi: Expression,
    rightValues: Seq[Attribute],
    outAttrs: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = outAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(outAttrs.drop(left.output.length))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class RangeJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    pointTs: Expression, rangeLo: Expression, rangeHi: Expression,
    rightValues: Seq[Attribute],
    outputAttrs: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(outputAttrs.drop(left.output.length))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(pointTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rangeLo, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(pointTs, Ascending)

  private def longOrNull(row: InternalRow, bound: Expression): java.lang.Long =
    bound.eval(row) match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue())
      case null => null
      case other => throw new IllegalStateException(
        s"range-join bound must be timestamp/long, got $other")
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val keyOrd: Ordering[InternalRow] = RowOrdering
        .createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val tsBound = BindReferences.bindReference(pointTs, lOut)
      val loBound = BindReferences.bindReference(rangeLo, rOut)
      val hiBound = BindReferences.bindReference(rangeHi, rOut)
      val rValProj = UnsafeProjection.create(
        rightValues.asInstanceOf[Seq[Expression]], rOut)
      val outProj = UnsafeProjection.create(
        outputAttrs.asInstanceOf[Seq[Expression]],
        lOut ++ outputAttrs.drop(lOut.length))
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      // active ranges of the CURRENT key, a MIN-heap on hi: pruning pops
      // only expired entries (O(log a) each) instead of scanning the
      // whole set per point — the difference between O(points · active)
      // and O(matches · log active) when overlap degree is deep
      val active = new scala.collection.mutable.PriorityQueue[
        (Long, InternalRow)]()(Ordering.by[(Long, InternalRow), Long](_._1).reverse)
      var curKey: UnsafeRow = null

      lIter.flatMap { l =>
        val lKey = lKeyProj(l)
        val ts = longOrNull(l, tsBound)
        if (curKey == null || keyOrd.compare(curKey, lKey) != 0) {
          active.clear()
          curKey = lKey.copy()
        }
        if (ts == null) Iterator.empty
        else {
          // admit ranges of this key with lo <= ts (skip keys behind us;
          // stop at keys or los ahead of us)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val c = keyOrd.compare(rKeyProj(head), lKey)
            if (c < 0) { rBuf.next(); () }
            else if (c > 0) advancing = false
            else {
              val lo = longOrNull(head, loBound)
              if (lo == null) { rBuf.next(); () } // null lo never matches
              else if (lo.longValue() <= ts.longValue()) {
                val r = rBuf.next()
                val hi = longOrNull(r, hiBound)
                if (hi != null && hi.longValue() >= ts.longValue())
                  active += ((hi.longValue(), rValProj(r).copy()))
                // hi < ts (or null): dead on arrival for every later point
              } else advancing = false
            }
          }
          // prune ranges this point has passed; sorted points ⇒ they can
          // never match again (heap head is the smallest hi)
          while (active.nonEmpty && active.head._1 < ts.longValue()) {
            active.dequeue(); ()
          }
          // copy each emitted row: outProj reuses one buffer, and the
          // materialized array would otherwise be N aliases of the LAST
          // match's bytes
          active.iterator.map { case (_, vals) =>
            outProj(joined(l, vals)).copy()
          }.toArray.iterator
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, lk, rk, ts, lo, hi, rv, out) =>
      RangeJoinExec(planLater(l), planLater(r), lk, rk, ts, lo, hi, rv,
        out) :: Nil
    case _ => Nil
  }
}

object RangeJoin {

  /** DataFrame API: inner-join each `points` row to every `ranges` row of
    * the same `keys` whose [loCol, hiCol] contains `tsCol` (inclusive).
    * `rangeCols` renames the carried range columns.
    *
    * NULL-valued KEYS compare by grouping semantics (null == null, as in
    * the as-of operator) rather than SQL join semantics (null matches
    * nothing) — pre-filter null keys if the SQL behavior is needed; null
    * ts/lo/hi never match either way. */
  def rangeJoin(points: DataFrame, ranges: DataFrame, keys: Seq[String],
                tsCol: String, loCol: String, hiCol: String,
                rangeCols: Map[String, String]): DataFrame = {
    val spark = points.sparkSession
    Strategies.register(spark)
    val lPlan = Bridge.analyzedPlan(points)
    val rPlan = Bridge.analyzedPlan(ranges)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val rightValues = rangeCols.toSeq.map { case (from, _) => attr(rPlan, from) }
    val outAttrs = lPlan.output ++ rangeCols.toSeq.map { case (from, to) =>
      val src = attr(rPlan, from)
      AttributeReference(to, src.dataType, nullable = true)()
    }
    val node = RangeJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, tsCol), attr(rPlan, loCol), attr(rPlan, hiCol),
      rightValues, outAttrs)
    Bridge.ofRows(spark, node)
  }
}
