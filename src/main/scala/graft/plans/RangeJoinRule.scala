package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rewrite: inner joins whose only cross-side condition is a
  * range bracket `p >= lo AND p <= hi` (no equality conjunct) plan as
  * nested-loop joins in vanilla Spark — quadratic at scale. When
  * `spark.graft.rangeJoin.bucketWidth` is set > 0, this rule rewrites the
  * logical join into the bucketed equi-join form (the rule-level twin of
  * `operators.RangeJoin.pointInInterval`): the point side gains a bucket
  * column, the interval side explodes to every bucket it overlaps, and the
  * join gains a bucket-equality conjunct — so JoinSelection picks a hash
  * join and the original predicate still filters exactly.
  *
  * Off by default: the right bucket width is data-dependent (pick it near
  * the typical interval span), so it is an explicit per-pipeline choice.
  * Semantics are preserved for any width: the original condition is kept
  * verbatim, the bucket equality only restricts candidate pairs, and a
  * pair satisfying `lo <= p <= hi` always shares the bucket
  * `floor(p/w)` in `[floor(lo/w), floor(hi/w)]`. Null bounds produce a
  * null bucket/empty sequence and match nothing, as in the original.
  *
  * Registered on an existing session with `Planner.register(spark, rules
  * = Seq(RangeJoinRule))`, or through
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  private sealed trait Bound
  private case class Lower(p: Expression, bound: Expression) extends Bound
  private case class Upper(p: Expression, bound: Expression) extends Bound

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = conf.getConfString(WidthConf, "0").toDouble
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rewrite(j, left, right, cond, hint, w).getOrElse(j)
    }
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, hint: JoinHint, w: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def side(e: Expression): Option[Boolean] = { // Some(true)=left
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(left.outputSet)) Some(true)
      else if (refs.subsetOf(right.outputSet)) Some(false)
      else None
    }
    // already has a cross-side equality -> hash-joinable as-is (also the
    // guard that terminates re-application on our own rewrite output)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) => side(a).isDefined && side(b).isDefined && side(a) != side(b)
      case _ => false
    }
    if (hasEqui) return None

    def numeric(e: Expression): Boolean = e.dataType.isInstanceOf[NumericType]
    // normalize each comparison into a bound on a point expression p,
    // where p and the bound live on opposite sides
    val bounds: Seq[Bound] = conjuncts.flatMap {
      case cmp @ (_: GreaterThanOrEqual | _: GreaterThan |
                  _: LessThanOrEqual | _: LessThan) =>
        val (x, y) = cmp match { case b: BinaryComparison => (b.left, b.right) }
        (side(x), side(y)) match {
          case (Some(sx), Some(sy)) if sx != sy && numeric(x) && numeric(y) =>
            cmp match {
              case _: GreaterThanOrEqual | _: GreaterThan => Seq(Lower(x, y), Upper(y, x))
              case _ => Seq(Upper(x, y), Lower(y, x))
            }
          case _ => Nil
        }
      case _ => Nil
    }
    val bracket = (for {
      Lower(p1, lo) <- bounds.collect { case l: Lower => l }
      Upper(p2, hi) <- bounds.collect { case u: Upper => u }
      if p1.semanticEquals(p2)
    } yield (p1, lo, hi)).headOption

    bracket.map { case (p, lo, hi) =>
      def bucket(e: Expression): Expression =
        Cast(Floor(Divide(Cast(e, DoubleType), Literal(w))), LongType)
      val pointOnLeft = side(p).contains(true)
      val pB = Alias(bucket(p), "__graft_bucket")()
      val genAttr = AttributeReference("__graft_bucket_iv", LongType)()
      def withBucket(point: LogicalPlan): LogicalPlan =
        Project(point.output :+ pB, point)
      def withBuckets(iv: LogicalPlan): LogicalPlan = {
        // Sequence is TimeZoneAwareExpression: without an explicit zone it
        // stays unresolved even for integral sequences. The lo <= hi guard
        // keeps an inverted interval row from exploding into a descending
        // bucket sequence (null array -> zero generated rows, matching the
        // original join's cheap no-match).
        val seq = If(
          LessThanOrEqual(Cast(lo, DoubleType), Cast(hi, DoubleType)),
          Sequence(bucket(lo), bucket(hi), None, Some(conf.sessionLocalTimeZone)),
          Literal.create(null, org.apache.spark.sql.types.ArrayType(LongType)))
        Generate(Explode(seq),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(genAttr), iv)
      }
      val (newLeft, newRight) =
        if (pointOnLeft) (withBucket(left), withBuckets(right))
        else (withBuckets(left), withBucket(right))
      val newCond = And(EqualTo(pB.toAttribute, genAttr), cond)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
    }
  }
}
