package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types._

/** Custom whole-operator as-of join (SURVEY §4 custom-Catalyst item 1,
  * §2.3 J4): the reference's nearest-time alignment
  * (`fdf/modules/mpts/plot.py:44-51`, `fdf/fdf_signal.py:296-299`) as a
  * first-class Catalyst operator — logical node + SparkStrategy + physical
  * exec — instead of the join+window composition in
  * `graft.operators.AsOf`.
  *
  * Why a custom operator: the compositional form materializes every
  * (left row x same-key right row) pair, sorts each group, and keeps
  * rank 1 — O(n*m) rows shuffled plus a full window sort. This exec asks
  * Catalyst for co-partitioned children sorted by (keys, on) — the same
  * requirement surface SortMergeJoin uses, so EnsureRequirements plans the
  * exchanges — and then streams both sides in ONE merge pass: per key
  * group, a two-pointer walk attaches each left row's nearest right row in
  * O(n+m) with memory bounded by a single key group. At 100 TB that is the
  * difference between a quadratic blowup per hot key and a linear scan.
  *
  * Tie-breaking matches numpy argmin (first minimum): equal |diff| keeps
  * the EARLIER right `on`; equal `on` keeps the first row in
  * (keys, on, tieBreak) sort order. Rows with null `on` are skipped.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftOn: Attribute, rightOn: Attribute,
    rightTieBreak: Seq[Attribute]) extends BinaryNode {

  // left columns, then right's payload (keys are equal by construction)
  override def output: Seq[Attribute] =
    left.output ++ right.output.filterNot(a => rightKeys.exists(_.exprId == a.exprId))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans AsOfJoin to its physical exec. Registered per-session via
  * `spark.experimental.extraStrategies` (`GraftPlans.asofMergeJoin` calls
  * `Planner.register`) or through SparkSessionExtensions. */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(org.apache.spark.sql.execution.PlanLater(j.left),
        org.apache.spark.sql.execution.PlanLater(j.right),
        j.leftKeys, j.rightKeys, j.leftOn, j.rightOn, j.rightTieBreak,
        j.output) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftOn: Attribute, rightOn: Attribute,
    rightTieBreak: Seq[Attribute],
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftOn).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightOn +: rightTieBreak)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftOn).map(SortOrder(_, Ascending))

  private def onExtractor(attr: Attribute, schema: Seq[Attribute]): InternalRow => Double = {
    val ord = schema.indexWhere(_.exprId == attr.exprId)
    attr.dataType match {
      case DoubleType    => r => r.getDouble(ord)
      case FloatType     => r => r.getFloat(ord).toDouble
      case LongType      => r => r.getLong(ord).toDouble
      case IntegerType   => r => r.getInt(ord).toDouble
      case TimestampType    => r => r.getLong(ord).toDouble
      case TimestampNTZType => r => r.getLong(ord).toDouble
      case DateType         => r => r.getInt(ord).toDouble
      case other => throw new IllegalArgumentException(
        s"as-of 'on' column must be numeric/timestamp/date, got ${other.sql}")
    }
  }

  private def onIsNull(attr: Attribute, schema: Seq[Attribute]): InternalRow => Boolean = {
    val ord = schema.indexWhere(_.exprId == attr.exprId)
    r => r.isNullAt(ord)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeyTypes = leftKeys.map(_.dataType)
    val numParts = math.max(left.outputPartitioning.numPartitions, 1)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyTypes)
      val lOnOf = onExtractor(leftOn, leftOut)
      val rOnOf = onExtractor(rightOn, rightOut)
      val lOnNull = onIsNull(leftOn, leftOut)
      val rOnNull = onIsNull(rightOn, rightOut)
      val resultProj = UnsafeProjection.create(output, leftOut ++ rightOut)
      val joined = new JoinedRow

      val lBuf = lIter.buffered
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        private var groupOut: Iterator[InternalRow] = Iterator.empty

        private def advanceGroup(): Unit = {
          while (!groupOut.hasNext && lBuf.hasNext) {
            // current left group key (copy: rows are reused by the child)
            val gKey = lKeyProj(lBuf.head).copy()
            val lGroup = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (lBuf.hasNext && keyOrd.compare(lKeyProj(lBuf.head), gKey) == 0)
              lGroup += lBuf.next().copy()
            // drop right groups with smaller keys
            while (rBuf.hasNext && keyOrd.compare(rKeyProj(rBuf.head), gKey) < 0)
              rBuf.next()
            // buffer the matching right group
            val rGroup = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (rBuf.hasNext && keyOrd.compare(rKeyProj(rBuf.head), gKey) == 0) {
              val row = rBuf.next()
              if (!rOnNull(row)) rGroup += row.copy()
            }
            if (rGroup.nonEmpty) {
              // per probe: lower-bound binary search over the sorted right
              // values, then pick the nearer neighbor; <= keeps the earlier
              // value on |diff| ties and first-occurrence-of-value keeps the
              // smallest tie-break column (numpy first-minimum semantics).
              // Duplicate right values form plateaus, which is why a naive
              // strictly-improving two-pointer cannot be used here.
              val rVals = rGroup.map(rOnOf).toArray
              val m = rVals.length
              def lowerBound(t: Double): Int = {
                var lo = 0; var hi = m
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (rVals(mid) < t) lo = mid + 1 else hi = mid
                }
                lo
              }
              def firstOfValue(v: Double, until: Int): Int = {
                var lo = 0; var hi = until
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (rVals(mid) < v) lo = mid + 1 else hi = mid
                }
                lo
              }
              groupOut = lGroup.iterator.filterNot(lOnNull).map { lRow =>
                val t = lOnOf(lRow)
                val p = lowerBound(t)
                val idx =
                  if (p == 0) p
                  else if (p == m) firstOfValue(rVals(m - 1), m - 1)
                  else if (t - rVals(p - 1) <= rVals(p) - t) firstOfValue(rVals(p - 1), p - 1)
                  else p
                resultProj(joined(lRow, rGroup(idx)))
              }
            }
          }
        }

        override def hasNext: Boolean = { advanceGroup(); groupOut.hasNext }
        override def next(): InternalRow = { advanceGroup(); groupOut.next() }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API over the custom operator. */
object GraftPlans {

  /** Merge-based as-of join: for each left row, attach the right row with
    * the nearest `rightOn` among rows sharing the join keys. `rightTie`
    * breaks exact ties deterministically (numpy-first-minimum semantics).
    */
  def asofMergeJoin(
      left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)],
      leftOn: String, rightOn: String,
      rightTie: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession
    Planner.register(spark, strategies = Seq(AsOfJoinStrategy))
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // self-join lineage: if the sides share attribute ids (right derived
    // from the same scan), re-alias the right output with fresh ids —
    // the dedup the analyzer does for Join, done here for our node
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).nonEmpty)
        org.apache.spark.sql.catalyst.plans.logical.Project(
          rPlan0.output.map(a =>
            org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlan0)
      else rPlan0
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoin(lPlan, rPlan,
      keys.map(k => attr(lPlan, k._1)), keys.map(k => attr(rPlan, k._2)),
      attr(lPlan, leftOn), attr(rPlan, rightOn),
      rightTie.map(attr(rPlan, _)))
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, node)
  }
}
