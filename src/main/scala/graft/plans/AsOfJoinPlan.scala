package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join — SURVEY.md §4 custom-operator tier (c): a
  * `LogicalPlan` node, a planner `Strategy`, and a physical `SparkPlan`,
  * registered through `SparkSessionExtensions` (GraftExtensions). It is the
  * engine's one as-of operator; every as-of key enters through
  * [[AsOfJoinNative.join]].
  *
  * Spark has no as-of operator. The composed alternative equi-joins on the
  * key with the time bound as a residual and keeps rank 1 per left row over
  * a window — correct, but the join materializes EVERY earlier right row
  * per left row before the window discards all but one (a left row with m
  * earlier matches costs m intermediate rows; for a year of history per
  * key that's the whole history per probe). This exec instead merges the
  * two key-sorted, co-partitioned streams in one pass: each side shuffles
  * ONCE on its key, each right row is read ONCE per partition, and no
  * intermediate match set ever exists — the 100 TB-safe shape (same layout
  * discipline as a sort-merge join). Skew caveat: AQE's OptimizeSkewedJoin
  * matches only SortMergeJoin/ShuffledHashJoin nodes, so a hot key here
  * needs the manual mitigation — time-bucket the key (key, ts-bucket) so
  * each bucket pair merges independently (`operators.AsOfSkew`).
  *
  * Semantics (matched to DuckDB `ASOF JOIN … ON l.key = r.key AND l.ts >
  * r.ts`, the reference for the declared queries): backward-looking inner
  * as-of under the constant strict bound `rightTime < leftTime` (an equal
  * timestamp never matches); among equal candidate timestamps the greatest
  * `tiebreak` wins; null keys and null times never match. Other shapes
  * compose on top: forward by negating both times, a non-strict bound by
  * shifting the left time up one unit of an integral clock, a tolerance by
  * a residual filter on the matched gap.
  *
  * EnsureRequirements supplies the exchanges and sorts from
  * `requiredChildDistribution` / `requiredChildOrdering` — the operator
  * itself stays purely a per-partition merge.
  */
case class AsOfJoinNode(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: LogicalPlan,
    right: LogicalPlan)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, rk, lt, rt, tb, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // ClusteredDistribution on each side's keys: EnsureRequirements makes the
  // two hash exchanges compatible (co-partitioned), exactly as for a
  // shuffled equi-join.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Both sides sorted by (keys…, time) — the right additionally by the
  // tiebreak so the LAST candidate at an equal timestamp is the greatest
  // tiebreak value (deterministic match).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTiebreak)).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeExpr.dataType))
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        // last right row passed with a key equal to its own snapshot key —
        // valid for the current left row iff candidateKey == left key
        private var candidate: InternalRow = _
        private var candidateKey: UnsafeRow = _
        private var pending: InternalRow = _

        override def hasNext: Boolean = {
          while (pending == null && lIter.hasNext) {
            val lrow = lIter.next()
            val lkey = lKeyProj(lrow)
            if (!lkey.anyNull && !lTsProj(lrow).anyNull) {
              val lts = lTsProj(lrow)
              // advance the right cursor past everything strictly before
              // this left position; remember the last key-matching row passed
              var scanning = rHead != null
              while (scanning) {
                val rkey = rKeyProj(rHead)
                val kc = keyOrd.compare(rkey, lkey)
                val before =
                  kc < 0 || (kc == 0 && tsOrd.compare(rTsProj(rHead), lts) < 0)
                if (before) {
                  // null keys and null timestamps never match (a NULL ts
                  // sorts first and would otherwise pose as -infinity, which
                  // DuckDB ASOF and an equi-join's range residual reject)
                  if (kc == 0 && !rkey.anyNull && !rTsProj(rHead).anyNull) {
                    candidate = rHead.copy()
                    candidateKey = rkey.copy()
                  }
                  rHead = if (rIter.hasNext) rIter.next() else null
                  scanning = rHead != null
                } else {
                  scanning = false
                }
              }
              if (candidate != null && keyOrd.compare(candidateKey, lkey) == 0) {
                pending = resultProj(joined(lrow, candidate))
              }
            }
          }
          pending != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty as-of iterator")
          val out = pending
          pending = null
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public face: build the as-of DataFrame from two sides by column name. */
object AsOfJoinNative {

  /** Backward inner as-of: for each left row, the right row with the
    * greatest `rightTime` strictly before `leftTime` (`<`, never `<=`) on
    * the same keys; the greatest `tiebreak` wins among equal right times.
    * Column names across the two sides must be disjoint. The session must
    * carry the graft extension ([[graft.GraftSession.configure]]), whose
    * [[AsOfJoinStrategy]] plans the node; without it this throws at once.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String,
      rightTime: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val spark: SparkSession = left.sparkSession
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      throw new IllegalStateException(
        "AsOfJoinNative.join needs AsOfJoinStrategy in the session's planner: build the " +
          "session through graft.GraftSession.configure (spark.sql.extensions=" +
          s"${classOf[GraftExtensions].getName})")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty, s"left/right column names must be disjoint; shared: $shared")
    val lPlan = GraftSqlShim.analyzed(left)
    val rPlan = GraftSqlShim.analyzed(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoinNode(
      leftKeys = keys.map(k => attr(lPlan, k._1)),
      rightKeys = keys.map(k => attr(rPlan, k._2)),
      leftTime = attr(lPlan, leftTime),
      rightTime = attr(rPlan, rightTime),
      rightTiebreak = tiebreak.map(attr(rPlan, _)),
      left = lPlan,
      right = rPlan)
    GraftSqlShim.ofRows(spark, node)
  }
}
