package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: turn a pure range join
  *
  * {{{ points JOIN ranges ON p >= lo AND p <= hi }}}
  *
  * into a bucketed equi-join. Without an equi key Spark can only plan a
  * (Broadcast)NestedLoopJoin — O(|points| × |ranges|) comparisons, the
  * classic scale killer for GeoIP-style interval lookups. The rewrite
  * explodes each range row into the 2^bits-wide buckets it covers and adds
  * `(p >> bits) = bucket` to the condition, so the planner picks a hash
  * equi-join: each point probes exactly one bucket, each range is
  * replicated ~(span/2^bits + 1) times. For narrow ranges (GeoIP /16s,
  * sessions, time intervals) the replication factor is ~1.
  *
  * Correctness: for a matching pair, `p >> bits` falls in
  * `[lo >> bits, hi >> bits]`, and the exploded buckets of that range are
  * distinct — so every original match survives exactly once, and the
  * original range predicate (kept in the condition) prunes false bucket
  * collisions. Arithmetic shift floors toward -inf, so negative keys
  * bucket correctly. Rows with NULL bounds match nothing in the original
  * join; the guard (or `sequence()` itself) yields NULL for them and the
  * non-outer Generate drops the row — same result. Rows with inverted
  * (lo > hi) bounds also match nothing originally; the guard emits an
  * EMPTY bucket list for them — never Spark's default-step behavior,
  * where `sequence()` without a step defaults to step -1 and would emit a
  * (possibly enormous) descending bucket list.
  *
  * The rewritten join is wrapped in `Project(join.output)` so the rule is
  * output-preserving: the generated `__range_bucket` attribute never leaks
  * to parents (positional parents like Union, or a root-level query, would
  * otherwise see an extra column).
  *
  * Replication guard: a pathologically wide range row (say a catch-all
  * [0, Long.Max] sentinel) would explode into span >> bits buckets —
  * `sequence()` hard-fails past its max length, turning a query that
  * previously completed (slowly, via BNLJ) into a runtime error. The
  * rewrite therefore caps per-row replication at
  * spark.graft.rangeJoin.maxBucketsPerRange (default 4096): when both
  * bounds are foldable the span is checked at plan time (skip the rewrite
  * if too wide); otherwise a runtime check raises a documented error
  * naming the conf, instead of an opaque Sequence overflow.
  *
  * Applied only when:
  *  - the join has NO cross-side equality conjunct already (an equi key
  *    means the planner already has a hash join — and it also makes the
  *    rule's own output a fixpoint);
  *  - exactly the preserved-side rows survive: Inner/LeftSemi/LeftAnti
  *    always, LeftOuter only when the ranges sit on the right (exploding
  *    the preserved side would drop its empty-range rows), RightOuter
  *    mirrored;
  *  - point and bounds are deterministic, same-typed int/long expressions
  *    each referencing exactly one side.
  *
  * Tuning: spark.graft.rangeJoin.enabled (default true),
  * spark.graft.rangeJoin.bucketBits (default 16 — /16 for IPv4, 65 s for
  * millisecond timestamps).
  *
  * Reference behavior analogue: core/aggregator.go:62-66 does a per-event
  * O(1) mmdb lookup; this rule gives the declarative join the same
  * hash-lookup shape without the caller hand-bucketing (GeoIp.enrich
  * is the dedicated form: a broadcast range index, no join).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.rangeJoin.enabled", "true").toBoolean
  // Clamped to [2, 62]: the runtime span check subtracts shifted bounds as
  // longs, which cannot overflow once values are shifted by >= 2 bits.
  private def bucketBits: Int =
    math.min(math.max(
      conf.getConfString("spark.graft.rangeJoin.bucketBits", "16").toInt, 2), 62)
  private def maxBucketsPerRange: Long =
    conf.getConfString("spark.graft.rangeJoin.maxBucketsPerRange", "4096").toLong

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** (point, bound) if c is `point >= bound` (resp. `point <= bound` when
    * lower=false), in either written direction, with strict variants. */
  private def boundOf(c: Expression, lower: Boolean): Option[(Expression, Expression)] =
    c match {
      case GreaterThanOrEqual(p, b) if lower => Some((p, b))
      case GreaterThan(p, b) if lower => Some((p, b))
      case LessThanOrEqual(b, p) if lower => Some((p, b))
      case LessThan(b, p) if lower => Some((p, b))
      case LessThanOrEqual(p, b) if !lower => Some((p, b))
      case LessThan(p, b) if !lower => Some((p, b))
      case GreaterThanOrEqual(b, p) if !lower => Some((p, b))
      case GreaterThan(b, p) if !lower => Some((p, b))
      case _ => None
    }

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty || !e.deterministic) None
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, joinType, Some(cond), hint)
          if rewritable(joinType) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (sideOf(a, left, right), sideOf(b, left, right)) match {
              case (Some(x), Some(y)) => x != y
              case _ => false
            }
          case _ => false
        }
        if (hasEqui) j
        else findRange(conjuncts, left, right) match {
          case Some((point, lo, hi, pointOnLeft))
              if explodableSideAllowed(joinType, pointOnLeft) =>
            val bits = bucketBits
            val maxB = maxBucketsPerRange
            val loB = ShiftRight(lo, Literal(bits))
            val hiB = ShiftRight(hi, Literal(bits))
            // Bounds always carry references (sideOf rejects reference-free
            // expressions), so the replication guard is per-row at runtime.
            // timeZoneId must be set: Sequence is TimeZoneAware and stays
            // unresolved without it (plan validation rejects the rewrite).
            val seq = Sequence(loB, hiB, None, Some(conf.sessionLocalTimeZone))
            val emptyBuckets = Literal.create(Seq.empty[Long], seq.dataType)
            val span = Add(
              Subtract(Cast(hiB, LongType), Cast(loB, LongType)),
              Literal(1L))
            // NULL span (NULL bound) and inverted ranges (span <= 0)
            // generate nothing — matching the original join, where such
            // rows match no point. Only genuinely wide forward ranges
            // fail, with a conf-named error instead of an opaque
            // Sequence-length overflow.
            val guarded: Expression = CaseWhen(Seq(
              (IsNull(span), Literal.create(null, seq.dataType)),
              (LessThanOrEqual(span, Literal(0L)), emptyBuckets),
              (LessThanOrEqual(span, Literal(maxB)), seq)),
              Cast(new RaiseError(Literal(
                "graft range-join rewrite: a range row spans more " +
                  "than spark.graft.rangeJoin.maxBucketsPerRange=" +
                  s"$maxB buckets at bucketBits=$bits; raise " +
                  "maxBucketsPerRange or bucketBits, or set " +
                  "spark.graft.rangeJoin.enabled=false")), seq.dataType))
            val rangeChild = if (pointOnLeft) right else left
            val bucket = AttributeReference("__range_bucket", point.dataType)()
            val gen = Generate(Explode(guarded),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(bucket), child = rangeChild)
            val newCond = And(EqualTo(ShiftRight(point, Literal(bits)), bucket), cond)
            val newJoin =
              if (pointOnLeft) Join(left, gen, joinType, Some(newCond), hint)
              else Join(gen, right, joinType, Some(newCond), hint)
            // Output-preserving: never leak __range_bucket to parents.
            Project(j.output, newJoin)
          case _ => j
        }
    }

  private def rewritable(t: JoinType): Boolean = t match {
    case Inner | LeftSemi | LeftAnti | LeftOuter | RightOuter => true
    case _ => false
  }

  /** The exploded (range) side must not be a preserved outer side. */
  private def explodableSideAllowed(t: JoinType, pointOnLeft: Boolean): Boolean =
    t match {
      case Inner => true
      case LeftSemi | LeftAnti | LeftOuter => pointOnLeft // ranges on right
      case RightOuter => !pointOnLeft // ranges on left
      case _ => false
    }

  /** Find (point, lo, hi, pointOnLeft): a lower and an upper bound on the
    * same point expression from one side, bounds from the other, all
    * same-typed integrals. */
  private def findRange(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    val lowers = conjuncts.flatMap(boundOf(_, lower = true))
    val uppers = conjuncts.flatMap(boundOf(_, lower = false))
    (for {
      (p1, lo) <- lowers
      (p2, hi) <- uppers
      if p1.semanticEquals(p2) && integral(p1) &&
        lo.dataType == p1.dataType && hi.dataType == p1.dataType
      pSide <- sideOf(p1, left, right)
      loSide <- sideOf(lo, left, right)
      hiSide <- sideOf(hi, left, right)
      if loSide == hiSide && loSide != pSide
    } yield (p1, lo, hi, pSide)).headOption
  }
}
