package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge

/** The native as-of join — SURVEY §7.2 preference order (c): a custom
  * LogicalPlan node, a SparkStrategy, and a physical SparkPlan, injected
  * into every session by [[graft.GraftExtensions]]. Same semantics as
  * the union+window composition ([[graft.operators.AsOfJoin.leftAsOf]]):
  * each left row gets the LATEST right row of its key with
  * `right.ts <= left.ts`, or nulls.
  *
  * Where the composition pays one union + one window pass, the exec
  * declares `requiredChildDistribution` (both sides clustered on the
  * key) and `requiredChildOrdering` ((key, ts) ascending) and lets
  * EnsureRequirements plan the exchanges/sorts — then streams BOTH
  * sorted sides through a single-pass merge per partition: O(|L|+|R|)
  * after the sort, one held right row of state, zero candidate-pair
  * materialization. This is the SortMergeJoin posture with a cursor
  * instead of a buffered match set.
  *
  * PRECONDITION: right-side (key, ts) pairs must be unique (pre-aggregate
  * ties, as q_e3 does) — with duplicates, whichever arrives last in the
  * sort wins, which the oracle cannot pin.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nRight = right.output.size
    val allAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val join = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val proj = UnsafeProjection.create(allAttrs, allAttrs)
      val rBuf = rIter.buffered
      var heldKey: Any = null
      var heldRow: InternalRow = null
      lIter.map { l =>
        val lkv = lk.eval(l)
        val ltv = lt.eval(l)
        if (lkv != null && ltv != null) {
          var continue = rBuf.hasNext
          while (continue) {
            val head = rBuf.head
            val rkv = rk.eval(head)
            val cKey = if (rkv == null) -1 else keyOrd.compare(rkv, lkv)
            if (cKey < 0) {
              // right rows for departed (or null) keys: no future left can
              // match them — drop
              rBuf.next()
              continue = rBuf.hasNext
            } else if (cKey == 0 && tsOrd.compare(rt.eval(head), ltv) <= 0) {
              // a newer still-prior right row for this key: it supersedes
              // the held one (copy — unsafe rows are reused by the child).
              // heldKey must be evaluated against the COPIED row: lkv may
              // point into the left child's reused row buffer (string/
              // binary keys under a buffer-reusing scan), and would mutate
              // when lIter advances, letting a stale held row match a
              // different key.
              heldRow = rBuf.next().copy()
              heldKey = rk.eval(heldRow)
              continue = rBuf.hasNext
            } else {
              continue = false
            }
          }
        }
        val matched =
          lkv != null && heldRow != null && keyOrd.compare(heldKey, lkv) == 0
        join(l, if (matched) heldRow else nullRight)
        proj(join)
      }
    }
  }
}

/** DataFrame-facing entry: builds the logical node from resolved
  * attributes. Left and right column NAMES must be disjoint (rename
  * before joining) so the output is unambiguous; null-keyed/null-ts right
  * rows are pre-filtered (they can never be a match).
  */
object AsOfJoinNative {

  def leftAsOf(
      left: DataFrame,
      right: DataFrame,
      leftKeyCol: String,
      rightKeyCol: String,
      leftTsCol: String,
      rightTsCol: String): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"rename overlapping columns before the join: $overlap")
    val spark = left.sparkSession
    val lp = bridge.analyzed(left)
    val rp = bridge.analyzed(
      right.where(col(rightKeyCol).isNotNull && col(rightTsCol).isNotNull))
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    bridge.ofRows(spark, AsOfJoinNode(
      lp, rp,
      attr(lp, leftKeyCol), attr(rp, rightKeyCol),
      attr(lp, leftTsCol), attr(rp, rightTsCol)))
  }
}
