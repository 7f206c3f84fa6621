package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** As-of join as a FULL custom operator — logical node + planner strategy +
  * physical merge exec (build-preference path (c), for comparison with the
  * composed union+window form in `operators.AsOf`).
  *
  * Physical semantics: both sides hash-clustered on the equi-keys and
  * sorted by (keys, ts); one streaming merge pass per partition attaches
  * to each left row the newest right row with right.ts <= left.ts of the
  * same key. No union, no window buffer, no right-side data motion beyond
  * the clustering shuffle — the asymptotically minimal plan for the
  * operator (each side read exactly once, merged in sort order).
  *
  * Catalyst integration: `EnsureRequirements` satisfies the declared
  * distribution/ordering (inserting exchanges/sorts only when the child
  * layout doesn't already qualify — bucketed inputs join with no shuffle);
  * AQE re-plans around it like any binary exec node.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightValues: Seq[Attribute],
    // materialized ONCE at construction: the analyzer's CleanupAliases
    // strips Alias nodes from generic plans, and regenerating exprIds in
    // `output` would break attribute identity across plan copies
    outAttrs: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = outAttrs

  // the renamed right-value attrs are CREATED here, not consumed from a
  // child — without this the analyzer reports MISSING_ATTRIBUTES
  override def producedAttributes: AttributeSet =
    AttributeSet(outAttrs.drop(left.output.length))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightValues: Seq[Attribute],
    outputAttrs: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(outputAttrs.drop(left.output.length))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  // null stays null: ASOF comparison with a NULL timestamp never matches
  // (DuckDB ASOF semantics, the oracle) — mapping null to a sentinel would
  // let a null-ts right row be carried as a real match
  private def tsOrNull(row: InternalRow, bound: Expression): java.lang.Long =
    bound.eval(row) match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue())
      case null => null
      case other => throw new IllegalStateException(
        s"as-of ts must be timestamp/long, got $other")
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val numRightVals = rightValues.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val keyOrd: Ordering[InternalRow] = RowOrdering
        .createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val lTsBound = BindReferences.bindReference(leftTs, lOut)
      val rTsBound = BindReferences.bindReference(rightTs, rOut)
      val rValProj = UnsafeProjection.create(
        rightValues.asInstanceOf[Seq[Expression]], rOut)
      val outProj = UnsafeProjection.create(
        outputAttrs.asInstanceOf[Seq[Expression]],
        lOut ++ outputAttrs.drop(lOut.length))
      val nullRight = InternalRow.fromSeq(Seq.fill(numRightVals)(null))
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      var lastKey: UnsafeRow = null
      var lastVals: InternalRow = null

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTsV = tsOrNull(l, lTsBound)
        // consume right rows at-or-before this left position; null-ts
        // right rows (sorted first by Ascending nulls-first) are consumed
        // but never recorded, and a null-ts left row matches nothing
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val head = rBuf.head
          val rKey = rKeyProj(head)
          val c = keyOrd.compare(rKey, lKey)
          if (c < 0) {
            val r = rBuf.next()
            if (tsOrNull(r, rTsBound) != null) {
              lastKey = rKeyProj(r).copy()
              lastVals = rValProj(r).copy()
            }
          } else if (c == 0) {
            val rTsV = tsOrNull(head, rTsBound)
            if (rTsV == null) { rBuf.next(); () } // never matches; skip past
            else if (lTsV != null && rTsV.longValue() <= lTsV.longValue()) {
              val r = rBuf.next()
              lastKey = rKeyProj(r).copy()
              lastVals = rValProj(r).copy()
            } else advancing = false
          } else advancing = false
        }
        val rightPart =
          if (lTsV != null && lastKey != null &&
              keyOrd.compare(lastKey, lKey) == 0) lastVals
          else nullRight
        outProj(joined(l, rightPart))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, rv, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rv,
        out) :: Nil
    case _ => Nil
  }
}

/** The engine's one planner-extension hook: installs every custom
  * physical strategy (as-of and range join) on a live session, each at
  * most once. Both DataFrame APIs call it, so no caller registers by
  * hand; SQL functions register separately (`SqlFunctions.register`). */
object Strategies {
  private val all = Seq(AsOfStrategy, RangeJoinStrategy)

  def register(spark: SparkSession): Unit = synchronized {
    val have = spark.experimental.extraStrategies
    val missing = all.filterNot(have.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = have ++ missing
  }
}

object AsOfJoin {

  /** DataFrame API over the custom operator — same signature/semantics as
    * the composed `operators.AsOf.asofJoin`. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightCols: Map[String, String]): DataFrame = {
    val spark = left.sparkSession
    Strategies.register(spark)
    val lPlan = Bridge.analyzedPlan(left)
    val rPlan = Bridge.analyzedPlan(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val rightValues = rightCols.toSeq.map { case (from, _) => attr(rPlan, from) }
    val outAttrs = lPlan.output ++ rightCols.toSeq.map { case (from, to) =>
      val src = attr(rPlan, from)
      AttributeReference(to, src.dataType, nullable = true)()
    }
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), rightValues, outAttrs)
    Bridge.ofRows(spark, node)
  }
}
