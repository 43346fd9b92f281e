package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Catalyst optimizer rule: rewrite interval-overlap theta joins into
  * bucket-decomposed equi joins.
  *
  * The reference's annotation lookup generalizes to joining two
  * interval relations on `l.start <= r.end AND r.start <= l.end`
  * (SURVEY.md §2.6). With no equi conjunct Spark can only plan that
  * as BroadcastNestedLoopJoin (if a side fits in memory) or a
  * CartesianProduct — quadratic row comparisons at 100 TB. The manual
  * fix is [[graft.operators.Intervals.overlapJoin]]; this rule applies
  * the same time-bucket decomposition AUTOMATICALLY, as a logical-plan
  * rewrite, so a user can write the naive theta join and still get the
  * hash-join plan:
  *
  *   - each side gains a `Generate(Explode(Sequence(floor(lo/B),
  *     floor(hi/B))))` bucket column;
  *   - the join becomes an equi join on the bucket id (which
  *     `ExtractEquiJoinKeys` then plans as a shuffled hash / sort-merge
  *     join, AQE-skew-splittable) with the ORIGINAL predicate kept as
  *     the in-bucket filter;
  *   - each qualifying pair is emitted exactly once — only in the
  *     first bucket both intervals share
  *     (`bucket = greatest(floor(l.lo/B), floor(r.lo/B))`) — so no
  *     distinct is needed afterwards.
  *
  * The rewrite is unconditionally semantics-preserving: for any pair
  * satisfying the two opposing inequalities, the `greatest` bucket
  * provably lies inside both exploded ranges (each endpoint is bounded
  * through one of the inequality conjuncts), strict variants are
  * narrower than the bucket cover, and a NULL bound nulls both the
  * naive predicate and the generated sequence. Only the bucket WIDTH is
  * a tuning choice: `spark.graft.overlapJoin.bucketSec` (default
  * 86400) should sit near the typical interval length so the explode
  * factor stays a small constant.
  *
  * The rule fires only when the join has no equi conjunct of its own
  * and — because a broadcast nested loop over a tiny side is already
  * the right plan — only when neither side fits the broadcast
  * threshold (override with `spark.graft.overlapJoin.force=true`,
  * used by tests and small-SF drives). It is idempotent: the
  * rewritten join has an equi conjunct, so it no longer matches.
  *
  * Installed at session build by [[graft.GraftExtensions]]
  * ([[graft.api.Graft.sparkSession]] does it).
  */
class OverlapJoinRewriteRule(alwaysRewrite: Boolean) extends Rule[LogicalPlan]
    with PredicateHelper {

  import OverlapJoinRewrite.{BucketConf, ForceConf}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bucketSec = conf.getConfString(BucketConf, "86400").toDouble
    if (bucketSec <= 0) return plan // rule disabled
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        // shape first: only an overlap join pays for the size stats
        overlapBounds(left, right, splitConjunctivePredicates(cond)) match {
          case Some((ls, le, rs, re)) if eligible(j) =>
            rewrite(left, right, cond, ls, le, rs, re, hint, bucketSec)
          case _ => j
        }
    }
  }

  /** Size guard: leave joins alone when a side broadcasts anyway. */
  private def eligible(j: Join): Boolean = {
    val force = alwaysRewrite || conf.getConfString(ForceConf, "false").toBoolean
    val thr = conf.autoBroadcastJoinThreshold
    force || thr < 0 ||
      (j.left.stats.sizeInBytes > thr && j.right.stats.sizeInBytes > thr)
  }

  /** Find EXACTLY one `leftExpr <= rightExpr` and one
    * `rightExpr <= leftExpr` numeric inequality (any of <, <=, >, >=
    * normalized to lo/hi), with no cross-side equality conjunct
    * present. Returns (ls, le, rs, re): left covers [ls, le]-buckets,
    * right [rs, re].
    */
  private def overlapBounds(left: LogicalPlan, right: LogicalPlan,
      conjuncts: Seq[Expression]): Option[(Expression, Expression, Expression, Expression)] = {
    def fromLeft(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case EqualNullSafe(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case _ => false
    }
    if (hasEqui) return None
    val loHi = conjuncts.collect {
      case LessThanOrEqual(a, b) => (a, b)
      case LessThan(a, b) => (a, b)
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b) => (b, a)
    }.filter { case (lo, hi) =>
      lo.dataType.isInstanceOf[NumericType] && hi.dataType.isInstanceOf[NumericType] &&
        lo.deterministic && hi.deterministic
    }
    val lr = loHi.filter { case (lo, hi) => fromLeft(lo) && fromRight(hi) }
    val rl = loHi.filter { case (lo, hi) => fromRight(lo) && fromLeft(hi) }
    (lr, rl) match {
      case (Seq((ls, re)), Seq((rs, le))) => Some((ls, le, rs, re))
      case _ => None
    }
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan, cond: Expression,
      ls: Expression, le: Expression, rs: Expression, re: Expression,
      hint: JoinHint, bucketSec: Double): LogicalPlan = {
    def bkt(e: Expression): Expression =
      Cast(Floor(Divide(Cast(e, DoubleType), Literal(bucketSec))), LongType)
    val lb = AttributeReference("__graft_bucket", LongType, nullable = false)()
    val rb = AttributeReference("__graft_bucket", LongType, nullable = false)()
    def explodeBuckets(child: LogicalPlan, lo: Expression, hi: Expression,
        out: AttributeReference) =
      Generate(
        Explode(Sequence(bkt(lo), bkt(hi), None, Some(conf.sessionLocalTimeZone))),
        Nil, outer = false, None, Seq(out), child)
    val newCond = And(And(EqualTo(lb, rb), cond),
      EqualTo(lb, Greatest(Seq(bkt(ls), bkt(rs)))))
    Project(left.output ++ right.output,
      Join(explodeBuckets(left, ls, le, lb), explodeBuckets(right, rs, re, rb),
        Inner, Some(newCond), hint))
  }
}

/** The default instance (size-guarded), the one the session installs;
  * `Forced` always rewrites. Neither mutates session state: q123
  * applies `Forced` to its own analyzed join, so small-SF drives
  * where the sides would broadcast still exercise the rewrite.
  */
object OverlapJoinRewrite extends OverlapJoinRewriteRule(false) {
  val BucketConf = "spark.graft.overlapJoin.bucketSec"
  val ForceConf = "spark.graft.overlapJoin.force"
  val Forced: OverlapJoinRewriteRule = new OverlapJoinRewriteRule(true)
}

// Session-config installation of the rules lives in the single
// engine-wide installer, [[graft.GraftExtensions]]
// (`spark.sql.extensions=graft.GraftExtensions`).
