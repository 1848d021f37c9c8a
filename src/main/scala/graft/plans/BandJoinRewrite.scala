package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite a naive band join into the bucketed form.
  *
  * `a.join(b, abs(a.v - b.v) <= delta)` has no equi key, so Spark plans a
  * BroadcastNestedLoopJoin — an all-pairs O(n·m) stage that is
  * disqualifying at scale. But any pair within `delta` sits in the same
  * or adjacent buckets of width `delta`, so the join is equivalent to:
  * replicate each LEFT row into its own and both neighbouring buckets
  * (`explode`), compute the RIGHT row's single bucket, equi-join on the
  * bucket, and keep the original predicate as the residual filter. Each
  * qualifying pair survives exactly once (the right bucket is unique and
  * the three left replicas land in distinct buckets), so multiplicity
  * and null semantics are untouched — the rewrite is a pure plan-shape
  * change, which is why it belongs in the optimizer rather than the API
  * (the manual form lives in [[graft.operators.RangeJoinOps]]).
  *
  * Fires only when: inner join, no equi conjunct already present (Spark
  * would hash-join those), a conjunct `abs(x - y) <= L` (or `L >= abs(x
  * - y)`) splits cleanly across the two sides, and every type involved
  * is integral (exact floor-div bucketing — no float rounding can
  * misbucket a boundary pair). Idempotent by construction: the rewritten
  * join HAS an equi conjunct. Inject via `graft.GraftExtensions`.
  *
  * KNOWN DIVERGENCE (non-ANSI mode only): if `x - y` overflows Long (or
  * the column's native width), the naive BroadcastNestedLoopJoin
  * evaluates the predicate on the WRAPPED difference — a pair like
  * (Long.MaxValue, Long.MinValue + k) wraps into the band and would be
  * emitted — while the bucketed plan puts such a pair in distant buckets
  * and drops it. This only affects pairs whose true difference exceeds
  * 2⁶³ (data spanning more than half the integer line), where the
  * wrapped "match" is itself an arithmetic artifact, so the bucketed
  * answer is arguably the less wrong one; under ANSI mode both plans
  * throw on the overflow and there is no divergence. Exclude the rule,
  * `spark.sql.optimizer.excludedRules=graft.plans.BandJoinRewrite`, to
  * keep the naive plan when wrapped matches must be preserved. */
object BandJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketCol = "__graft_band_bucket"

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if !hasEquiConjunct(cond, left, right) =>
        bandConjunct(cond, left, right) match {
          case Some((lv, rv, delta)) => rewrite(j, lv, rv, delta)
          case None => j
        }
    }

  private def sideOf(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  private def hasEquiConjunct(cond: Expression, left: LogicalPlan,
                              right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (sideOf(a, left, right), sideOf(b, left, right)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
      case _ => false
    }

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Find `abs(x - y) <= L` with x, y from opposite sides; return
    * (leftExpr, rightExpr, delta). */
  private def bandConjunct(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long)] = {
    def deltaOf(l: Literal): Option[Long] = l.value match {
      case v: Byte    => Some(v.toLong)
      case v: Short   => Some(v.toLong)
      case v: Integer => Some(v.toLong)
      case v: Long    => Some(v)
      case _ => None
    }
    def fromAbs(a: Expression, lim: Literal): Option[(Expression, Expression, Long)] =
      a match {
        case Abs(Subtract(x, y, _), _) if isIntegral(x) && isIntegral(y) =>
          deltaOf(lim).filter(_ > 0).flatMap { d =>
            (sideOf(x, left, right), sideOf(y, left, right)) match {
              case (Some(true), Some(false)) => Some((x, y, d))
              case (Some(false), Some(true)) => Some((y, x, d))
              case _ => None
            }
          }
        case _ => None
      }
    splitConjunctivePredicates(cond).iterator.map {
      case LessThanOrEqual(a, l: Literal)    => fromAbs(a, l)
      case GreaterThanOrEqual(l: Literal, a) => fromAbs(a, l)
      case _ => None
    }.collectFirst { case Some(t) => t }
  }

  /** Exact floor-division bucket — shared with RangeJoinOps via
    * [[graft.functions.ExactBucket]] (exact for every long, including
    * the Long.MinValue neighbourhood; no float rounding anywhere). */
  private def bucket(v: Expression, delta: Long): Expression =
    graft.functions.ExactBucket.expr(v, delta)

  private def rewrite(j: Join, lv: Expression, rv: Expression,
                      delta: Long): LogicalPlan = {
    val b = bucket(lv, delta)
    val one = Literal(1L, LongType)
    val gen = Explode(CreateArray(Seq(Subtract(b, one), b, Add(b, one))))
    val lBucket = AttributeReference(BucketCol + "_l", LongType)()
    val leftGen = Generate(gen, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(lBucket), child = j.left)
    val rBucket = Alias(bucket(rv, delta), BucketCol + "_r")()
    val rightProj = Project(j.right.output :+ rBucket, j.right)
    val newCond = And(EqualTo(lBucket, rBucket.toAttribute), j.condition.get)
    Project(j.output,
      Join(leftGen, rightProj, Inner, Some(newCond), j.hint))
  }
}
