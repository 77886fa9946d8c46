package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** AS-OF JOIN as a first-class operator — logical node + planner strategy
  * + physical exec, the (c) rung of the customization ladder (SURVEY §7)
  * that the function-level Expressions and the RangeJoinRule rewrite
  * don't reach.
  *
  * Semantics: for each left row (key, ts), attach the right row with the
  * same key and the greatest right-ts <= left-ts (backward as-of; ties on
  * equal ts match). Rows with no prior right row get nulls — exactly the
  * "most recent prior click for each purchase" contract of q16.
  *
  * Why a physical operator when q16's union+window composition already
  * scales: the composed form materializes BOTH sides into one window
  * buffer (WindowExec holds each (user) partition's unioned rows) and
  * pays the union's extra columns through the shuffle. This exec asks
  * Catalyst for hash co-partitioning + in-partition (key, ts) sort —
  * the same physical prerequisites a sort-merge join gets — then runs a
  * streaming TWO-POINTER merge per partition: O(1) state (ONE held right
  * row), zero buffering, each side's rows read exactly once. At 100 TB
  * that is the difference between "the window fits because we sized
  * executors for it" and "nothing to size".
  *
  * Integration: [[AsOfJoinStrategy]] plans the node; it is injected via
  * `GraftExtensions` (config path) AND installable at runtime through
  * `AsOfJoin.install` (`spark.experimental.extraStrategies`), which
  * `asof` calls itself. That reaches sessions built without the
  * extension conf: `graft.Sessions.local` (every main and the test
  * session) installs the SQL functions but no plan extension. `ts`
  * columns must be LongType (epoch micros — the repo's exact-integer
  * time idiom).
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute) extends BinaryNode {

  /** every right column except the join key, nullability lifted (a left
    * row may have no prior right row) — keeping right-ts in the output
    * is what gives callers the match's event time (q16's gap_us). */
  lazy val matchedRight: Seq[Attribute] =
    right.output.filterNot(_.exprId == rightKey.exprId)
      .map(_.withNullability(true))

  override def output: Seq[Attribute] = left.output ++ matchedRight

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTs, n.rightKey, n.rightTs, n.matchedRight) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    matchedRight: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ matchedRight

  /** hash co-partition both sides on the key (EnsureRequirements inserts
    * compatible exchanges, as for a shuffled join) ... */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** ... and sort each partition by (key, ts) so the merge can stream. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyOrd >= 0 && lTsOrd >= 0 && rKeyOrd >= 0 && rTsOrd >= 0)
    require(leftTs.dataType == LongType && rightTs.dataType == LongType,
      "as-of ts columns must be LongType epoch micros")
    val out = output
    val matched = matchedRight
    val rightOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val matchedProj = UnsafeProjection.create(matched, rightOut)
      val resultProj = UnsafeProjection.create(out, out)
      val nullMatched = new GenericInternalRow(matched.length)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // the whole merge state: the upcoming right row and ONE held
        // (projected, copied) right row for the key it belongs to
        private var rPeek: InternalRow = advanceRight()
        private var held: InternalRow = _
        private var heldKey: Long = _
        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = l.getLong(lKeyOrd)
          val lt = l.getLong(lTsOrd)
          // consume right rows up to (key, ts); the LAST same-key row
          // consumed is the as-of match candidate (right sorted by ts)
          while (rPeek != null && {
            val rk = rPeek.getLong(rKeyOrd)
            rk < lk || (rk == lk && rPeek.getLong(rTsOrd) <= lt)
          }) {
            if (rPeek.getLong(rKeyOrd) == lk) {
              // iterator reuses row buffers — project-and-copy the
              // candidate (only same-key rows pay the copy)
              held = matchedProj(rPeek).copy()
              heldKey = lk
            }
            rPeek = advanceRight()
          }
          val m = if (held != null && heldKey == lk) held else nullMatched
          resultProj(joined(l, m))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Make the strategy available on `s` regardless of how the session
    * was built (idempotent). */
  def install(s: SparkSession): Unit =
    if (!s.experimental.extraStrategies.contains(AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ AsOfJoinStrategy

  /** Backward as-of join of two frames on `key`, left ordered by `lts`,
    * right by `rts` (both LongType epoch micros). Output = left columns
    * ++ right columns minus the key (nullable). */
  def asof(left: DataFrame, right: DataFrame,
      key: String, lts: String, rts: String): DataFrame = {
    val s = left.sparkSession
    install(s)
    import org.apache.spark.sql.functions.col
    val lp = left.queryExecution.analyzed
    // self-alias every right column: both sides usually derive from one
    // relation and then SHARE exprIds, which makes the analyzer's
    // DeduplicateRelations re-id the right child underneath the node —
    // orphaning the stored rightKey/rightTs attributes. Fresh Alias ids
    // remove the conflict at the source.
    val rp = right.select(right.columns.map(n => col(n).as(n)).toSeq: _*)
      .queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output}"))
    org.apache.spark.sql.graft.GraftSqlShim.ofRows(s,
      AsOfJoinNode(lp, rp, attr(lp, key), attr(lp, lts),
        attr(rp, key), attr(rp, rts)))
  }
}
