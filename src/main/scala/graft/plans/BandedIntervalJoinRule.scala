package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** Optimizer rule (SURVEY §2.4 J5 at scale): an INNER join whose only
  * condition is a closed timestamp interval — `l.ts BETWEEN r.lo AND r.hi`
  * with no equi conjunct — can only be planned by Spark as a nested-loop
  * join: O(|L|·|R|) comparisons, the classic 100 TB scale-killer. This rule
  * rewrites the LOGICAL join into the banded form
  * ([[graft.operators.RangeJoin.bandedIntervalJoin]] expressed as plan
  * nodes): both sides bucketed by `floor(unix_micros / band)`, the interval
  * side exploded to every band its range overlaps, the join turned into a
  * band EQUI join with the original interval predicate kept as residual —
  * so users (and SQL text) can write the natural theta join and still get a
  * shuffle hash/sort-merge plan.
  *
  * Row-identity with the naive join: every band of the interval
  * [lo, hi] is generated, so any ts in the interval shares a band with
  * exactly one generated row per (interval row); the residual re-checks the
  * exact bounds; the final Project restores the original output (the band
  * columns are internal). Asserted in RangeJoinSpec (results) and by the
  * q100 oracle (hash-equal to the naive SQL in DuckDB).
  *
  * Scope guards: only Inner joins; only a single `And` of two bounds on the
  * SAME timestamp attribute with both bounds from the opposite side; fires
  * only when `spark.graft.rangeJoin.bandSeconds` > 0 (set session-wide by
  * GraftSession; width tunes replication — ceil(range/band)+1 rows per
  * interval row). The rewritten join contains an equi conjunct, so the rule
  * never re-fires on its own output.
  */
case class BandedIntervalJoinRule() extends Rule[LogicalPlan] {

  private val confKey = "spark.graft.rangeJoin.bandSeconds"

  private def bandUs: Long =
    conf.getConfString(confKey, "0").toLong * 1000000L

  /** Normalize a comparison to (greater, lesser): x >= y. */
  private def geq(e: Expression): Option[(AttributeReference, AttributeReference)] =
    e match {
      case GreaterThanOrEqual(a: AttributeReference, b: AttributeReference) =>
        Some((a, b))
      case LessThanOrEqual(a: AttributeReference, b: AttributeReference) =>
        Some((b, a))
      case _ => None
    }

  /** Match `ts >= lo AND ts <= hi` (any conjunct order/direction) where ts
    * comes from one join side and lo/hi both from the other. Returns
    * (ts, lo, hi, tsOnLeft). */
  private def matchInterval(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(AttributeReference, AttributeReference, AttributeReference, Boolean)] =
    cond match {
      case And(c1, c2) =>
        for {
          b1 <- geq(c1) // x1 >= y1
          b2 <- geq(c2) // x2 >= y2
          tlh <- (b1, b2) match {
            // ts >= lo, hi >= ts
            case ((x1, y1), (x2, y2)) if x1.semanticEquals(y2) => Some((x1, y1, x2))
            case ((x1, y1), (x2, y2)) if x2.semanticEquals(y1) => Some((x2, y2, x1))
            case _ => None
          }
          (ts, lo, hi) = tlh
          if Seq(ts, lo, hi).forall(_.dataType == TimestampType)
          tsOnLeft <-
            if (l.outputSet.contains(ts) && r.outputSet.contains(lo) &&
              r.outputSet.contains(hi)) Some(true)
            else if (r.outputSet.contains(ts) && l.outputSet.contains(lo) &&
              l.outputSet.contains(hi)) Some(false)
            else None
        } yield (ts, lo, hi, tsOnLeft)
      case _ => None
    }

  private def bandOf(e: Expression, band: Long): Expression =
    Floor(Divide(Cast(UnixMicros(e), DoubleType), Literal(band.toDouble)))

  /** Resolve `a` to (base expression, literal microsecond offset) by
    * walking the plan's Project aliases: `lo := p_ts - INTERVAL 30 MINUTE`
    * linearizes to (ts, −1800000000). Only zero-month/zero-day literal
    * intervals fold (month/day arithmetic is calendar- and zone-dependent
    * — a "day" is not a fixed microsecond count across DST, so such
    * intervals never infer a span and fall back to the session width). */
  private def linearize(plan: LogicalPlan, e: Expression)
      : Option[(Expression, Long)] = e match {
    case a: AttributeReference =>
      // the defining alias can sit in any Project of the subtree (exprIds
      // are unique, so at most one definition exists)
      val defn = plan.collect {
        case p: Project => p.projectList.collectFirst {
          case al: Alias if al.exprId == a.exprId => al.child
        }
      }.flatten.headOption
      defn match {
        case Some(d) => linearize(plan, d)
        case None => Some((a, 0L))
      }
    case al: Alias => linearize(plan, al.child)
    case TimestampAddInterval(base, Literal(v, dt), _) => (v, dt) match {
      // ANSI day-time interval: value IS the microsecond count
      case (us: java.lang.Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
        linearize(plan, base).map { case (b, off) => (b, off + us) }
      // legacy calendar interval: fold only the exact-microsecond part
      case (ci: org.apache.spark.unsafe.types.CalendarInterval, _)
          if ci.months == 0 && ci.days == 0 =>
        linearize(plan, base).map { case (b, off) =>
          (b, off + ci.microseconds)
        }
      case _ => None
    }
    case other => Some((other, 0L))
  }

  /** The interval's literal span in microseconds, when `lo` and `hi` both
    * derive from one base timestamp ± literal offsets (the dominant shape:
    * `lo = ts − INTERVAL c, hi = ts`). The BAND WIDTH choice this feeds:
    * band ≈ span replicates each interval row to ≤ 2 bands AND bounds the
    * per-band candidate set to ~2 spans of interval rows — a fixed session
    * width (the pre-round-9 behavior) made a 30-minute interval probe
    * DAY-wide bands, testing every same-day pair: 10.7 s vs 2.4 s at the
    * ×10 yardstick, and quadratic in corpus density at scale. A/B at ×10
    * (PERF.md, band-width A/B): span/1 2.40 s, /2 2.37 s, /4 2.45 s, /8 2.83 s —
    * flat around span, so the ≤2-replication choice wins. */
  private def inferSpan(ivSide: LogicalPlan, lo: AttributeReference,
      hi: AttributeReference): Option[Long] =
    for {
      (bl, offL) <- linearize(ivSide, lo)
      (bh, offH) <- linearize(ivSide, hi)
      if bl.semanticEquals(bh)
      span = offH - offL
      if span > 0
    } yield span

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val band = bandUs
    if (band <= 0) return plan
    plan.transform {
      case j @ Join(l, r, Inner, Some(cond), hint) =>
        matchInterval(cond, l, r) match {
          case Some((ts, lo, hi, tsOnLeft)) =>
            val tsSide = if (tsOnLeft) l else r
            val ivSide = if (tsOnLeft) r else l
            // interval-span-matched band when statically inferable;
            // session width otherwise
            val effBand = inferSpan(ivSide, lo, hi).getOrElse(band)
            val tsBand = Alias(bandOf(ts, effBand), "__band_ts")()
            val tsProj = Project(tsSide.output :+ tsBand, tsSide)
            val seq = Sequence(bandOf(lo, effBand), bandOf(hi, effBand), None,
              Some(conf.sessionLocalTimeZone))
            val ivBand = AttributeReference("__band_iv", LongType, nullable = false)()
            val ivGen = Generate(Explode(seq), unrequiredChildIndex = Nil,
              outer = false, qualifier = None, generatorOutput = Seq(ivBand),
              child = ivSide)
            val newCond = And(EqualTo(tsBand.toAttribute, ivBand), cond)
            val (nl, nr) = if (tsOnLeft) (tsProj, ivGen) else (ivGen, tsProj)
            Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
          case None => j
        }
    }
  }
}
