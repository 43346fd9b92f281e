package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Catalyst optimizer rule: infer scan-pushable bounds through
  * monotone derived-column arithmetic.
  *
  * The canonical series view derives its seconds axis from the stored
  * epoch column — `t = (ts div 1000) / 1e6` (sources/Tables.scala) —
  * so a user predicate `t >= c` reaches the parquet scan only as the
  * un-pushable expression filter `cast(ts div 1000 as double)/1e6 >=
  * c`: `PushedFilters` carries nothing but `IsNotNull(ts)`, and at
  * 100 TB the "time slice" reads every row group. The chain is
  * strictly monotone, though, so the predicate IMPLIES a raw bound on
  * `ts` itself. This rule walks comparison conjuncts of the form
  * `f(attr) ⋈ literal` where `f` is any composition of
  *
  *   - numeric `Cast`,
  *   - `Divide` / `Multiply` by a positive literal,
  *   - `Add` / `Subtract` of a literal,
  *   - `IntegralDivide` by a positive literal,
  *
  * inverts the chain with directed rounding (every inversion step is
  * slackened toward "weaker bound": `nextDown`×2 for lower bounds,
  * `nextUp`×2 for upper; int64→double casts add a one-ulp
  * representation margin; `div` adds the `k−1` truncation slack), and
  * conjoins the implied raw-column comparison. The original predicate
  * still runs — the inferred bound is REDUNDANT, purely so the scan
  * can prune row groups on the stored column's zone maps. Slack costs
  * at most a few extra rows per row-group boundary, never a missing
  * row.
  *
  * Fires only on deterministic chains over Int/Long/Double attributes
  * with foldable numeric literals; idempotent (an already-present
  * semantically-equal conjunct is never re-added). Installed together
  * with [[OverlapJoinRewrite]] by [[graft.GraftExtensions]] when
  * [[graft.api.Graft.sparkSession]] builds the session; q124 relies on
  * that install rather than adding the rule itself.
  */
object InferScanBounds extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val inferred = conjuncts.flatMap(inferBound)
        .filterNot(n => conjuncts.exists(_.semanticEquals(n)))
        .foldLeft(Seq.empty[Expression]) { (acc, e) =>
          if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
        }
      if (inferred.isEmpty) f
      else Filter((conjuncts ++ inferred).reduce(And), child)
  }

  private def numericLit(e: Expression): Option[Double] = e match {
    case Literal(v, _: NumericType) if v != null => v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case dec: org.apache.spark.sql.types.Decimal => Some(dec.toDouble)
      case _ => None
    }
    case _ => None
  }

  /** Strict comparisons are handled as their non-strict supersets —
    * the inferred bound only needs to be IMPLIED, not tight. The
    * literal-first cases must precede the generic ones (the generic
    * pattern would otherwise swallow them with the literal as the
    * "chain" and infer nothing). A bare attribute with no derivation
    * on top is skipped: the predicate is already scan-pushable, and
    * re-inferring from it would only accumulate redundant conjuncts.
    */
  private def inferBound(conjunct: Expression): Option[Expression] =
    conjunct match {
      case GreaterThanOrEqual(l: Literal, e) => numericLit(l).flatMap(c => invert(e, c, lower = false, depth = 0))
      case GreaterThan(l: Literal, e) => numericLit(l).flatMap(c => invert(e, c, lower = false, depth = 0))
      case LessThanOrEqual(l: Literal, e) => numericLit(l).flatMap(c => invert(e, c, lower = true, depth = 0))
      case LessThan(l: Literal, e) => numericLit(l).flatMap(c => invert(e, c, lower = true, depth = 0))
      case GreaterThanOrEqual(e, l) => numericLit(l).flatMap(c => invert(e, c, lower = true, depth = 0))
      case GreaterThan(e, l) => numericLit(l).flatMap(c => invert(e, c, lower = true, depth = 0))
      case LessThanOrEqual(e, l) => numericLit(l).flatMap(c => invert(e, c, lower = false, depth = 0))
      case LessThan(e, l) => numericLit(l).flatMap(c => invert(e, c, lower = false, depth = 0))
      case _ => None
    }

  /** one directed-rounding step: push the bound strictly toward
    * "weaker" so accumulated float error can never tighten it
    */
  private def slack(v: Double, lower: Boolean): Double =
    if (lower) Math.nextDown(Math.nextDown(v)) else Math.nextUp(Math.nextUp(v))

  /** Invert `e ⋈ bound` (⋈ = `>=` when lower, `<=` otherwise) down the
    * monotone chain to a comparison on the underlying attribute.
    * `depth` counts traversed derivation steps — a bare attribute at
    * depth 0 is already pushable and is never "re-inferred".
    */
  private def invert(e: Expression, bound: Double, lower: Boolean, depth: Int): Option[Expression] = {
    if (bound.isNaN || bound.isInfinite) return None
    e match {
      case a: AttributeReference if depth > 0 => finalBound(a, bound, lower)
      case Cast(child, dt, _, _) if wideningCast(child.dataType, dt) =>
        // int64→double representation error is up to ulp(x)/2; pad by
        // a full ulp + 1 so the implied integer bound stays sound.
        // (Narrowing/rounding casts are NOT inverted — truncation is
        // not the identity, so the naive inverse would TIGHTEN the
        // bound and drop rows.)
        val margin = child.dataType match {
          case LongType => Math.ulp(Math.abs(bound)) + 1.0
          case _ => 0.0
        }
        invert(child, if (lower) bound - margin else bound + margin, lower, depth + 1)
      case Divide(child, l, _) => numericLit(l).filter(_ > 0).flatMap(k =>
        invert(child, slack(bound * k, lower), lower, depth + 1))
      case Multiply(child, l, _) if numericLit(l).exists(_ > 0) =>
        invert(child, slack(bound / numericLit(l).get, lower), lower, depth + 1)
      case Multiply(l, child, _) if numericLit(l).exists(_ > 0) =>
        invert(child, slack(bound / numericLit(l).get, lower), lower, depth + 1)
      case Add(child, l, _) if numericLit(l).isDefined =>
        invert(child, slack(bound - numericLit(l).get, lower), lower, depth + 1)
      case Add(l, child, _) if numericLit(l).isDefined =>
        invert(child, slack(bound - numericLit(l).get, lower), lower, depth + 1)
      case Subtract(child, l, _) if numericLit(l).isDefined =>
        invert(child, slack(bound + numericLit(l).get, lower), lower, depth + 1)
      case IntegralDivide(child, l, _) => numericLit(l).filter(_ > 0).flatMap { k =>
        // x div k ⋈ c over integers: slacken by the full divisor so
        // the bound is sound for floor AND truncating semantics
        val c = if (lower) Math.ceil(bound) else Math.floor(bound)
        val next = if (lower) slack(c * k - (k - 1), lower) else slack(c * k + (k - 1), lower)
        invert(child, next, lower, depth + 1)
      }
      // ── timestamp-encoded events (sources/Tables.normalizeEventTs).
      // NTZ files read through the UTC-pinned cast
      // (graftshim.NtzMicros): Cast(ntz→timestamp) with an EXPLICIT
      // UTC zone is a bijection on the stored µs (UTC has no DST
      // gaps), so unix_micros over it IS the stored value — invert
      // with the bound carried in the µs domain and emit an
      // NTZ-typed literal at the attribute for parquet pruning. A
      // cast with any other (or session-defaulted) zone is NOT
      // inverted: it is zone-dependent and lossy in DST gaps.
      // This arm must precede the generic one — the cast's output
      // type is TimestampType and would match it vacuously.
      case UnixMicros(Cast(child, TimestampType, Some("UTC"), _))
          if child.dataType == TimestampNTZType =>
        invert(child, bound, lower, depth + 1)
      // `unix_micros(ts)` over a true TimestampType is the stored
      // instant's µs — zone-free and strictly monotone.
      case UnixMicros(child) if child.dataType == TimestampType =>
        invert(child, bound, lower, depth + 1)
      case _ => None
    }
  }

  /** value-preserving (or bounded-error long→double) widenings ONLY —
    * the monotone casts whose inversion cannot tighten the bound
    */
  private def wideningCast(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType | ShortType | IntegerType, LongType | DoubleType) => true
    case (LongType, DoubleType) => true // margin applied by caller
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** One final ulp of slack on the emitted bound absorbs the
    * double-representation error of large integral literals (a long
    * above 2^53 rounds when it became the working Double) — the
    * emitted bound may only ever be WEAKER than the exact one.
    */
  private def finalBound(a: AttributeReference, v: Double, lower: Boolean): Option[Expression] =
    a.dataType match {
      case LongType | IntegerType =>
        val vs = if (lower) v - Math.ulp(Math.abs(v)) else v + Math.ulp(Math.abs(v))
        val b = if (lower) Math.ceil(vs) else Math.floor(vs)
        // refuse bounds outside the exactly-representable long range
        if (Math.abs(b) >= 4.6e18) None
        else {
          val lit = a.dataType match {
            case LongType => Literal(b.toLong)
            case _ =>
              if (b > Int.MaxValue || b < Int.MinValue) return None
              Literal(b.toInt)
          }
          Some(if (lower) GreaterThanOrEqual(a, lit) else LessThanOrEqual(a, lit))
        }
      case DoubleType =>
        val vs = if (lower) Math.nextDown(v) else Math.nextUp(v)
        Some(if (lower) GreaterThanOrEqual(a, Literal(vs)) else LessThanOrEqual(a, Literal(vs)))
      case TimestampNTZType | TimestampType =>
        // a timestamp attribute is only reachable through the
        // UnixMicros/TimestampDiff cases, so `v` is epoch-µs here;
        // slack one full µs outward on top of the representation ulp
        // and emit the bound as a timestamp literal (internal rep of
        // both timestamp types is an epoch-µs long)
        val vs = if (lower) v - Math.ulp(Math.abs(v)) - 1.0 else v + Math.ulp(Math.abs(v)) + 1.0
        val b = if (lower) Math.ceil(vs) else Math.floor(vs)
        if (Math.abs(b) >= 4.6e18) None
        else {
          val lit = Literal(b.toLong, a.dataType)
          Some(if (lower) GreaterThanOrEqual(a, lit) else LessThanOrEqual(a, lit))
        }
      case _ => None
    }
}
