package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.First
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule that auto-bands interval overlap joins (SURVEY §4 /
  * round-1 roadmap; library form proven by IntervalOps.bandedOverlaps
  * and the x02 oracle): a join whose condition is
  * `k_l = k_r AND rs < le AND re > ls` (one equality + the two strict
  * range predicates of interval overlap over bigint bounds) is
  * rewritten so both sides explode into width-`w` band buckets and the
  * join gains an extra `band = band` equality key — a skewed key with a
  * long timeline then hashes into many (key, band) groups instead of
  * one quadratic per-key nested loop. Pairs that share several buckets
  * are restored to exactly-once via a synthetic-id aggregate (the same
  * trick as ReplaceDeduplicateWithAggregate, reusing the original
  * output exprIds so parent references stay valid).
  *
  * Opt-in via `spark.graft.autoband.width` (band width, 0 = off;
  * reset to 0 by Q.tune so it is per-query scoped). `width=auto`
  * derives the band width from CBO column statistics instead (round-2
  * roadmap): with `spark.sql.cbo.enabled=true` and ANALYZE'd bound
  * columns, the timeline span max(end)-min(start) across both sides is
  * divided into [[AutoBandOverlapJoin.TargetBands]] buckets; when any
  * bound lacks stats the join is left alone rather than banded blind.
  * Assumes half-open valid intervals (e > s), like bandedOverlaps: rows
  * with e <= s are dropped before banding.
  */
object AutoBandOverlapJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Bands a `width=auto` join's timeline is split into: a few bands
    * per shuffle partition. */
  val TargetBands = 256L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val ws = conf.getConfString("spark.graft.autoband.width", "0")
    val on = ws == "auto" || scala.util.Try(ws.toLong).toOption.exists(_ > 0)
    if (!on) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) => rewrite(j, ws).getOrElse(j)
    }
  }

  private def longAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == LongType => Some(a)
    case _ => None
  }

  /** (min, max) of a bound column from the side's CBO column stats. */
  private def colMinMax(side: LogicalPlan, a: Attribute): Option[(Long, Long)] =
    side.stats.attributeStats.get(a).flatMap { cs =>
      for (mn <- cs.min; mx <- cs.max)
        yield (mn.asInstanceOf[Number].longValue, mx.asInstanceOf[Number].longValue)
    }

  private def rewrite(j: Join, ws: String): Option[LogicalPlan] = {
    val cond = j.condition.get
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.length != 3) return None
    val eqs = conjuncts.collect {
      case e @ EqualTo(a: Attribute, b: Attribute)
        if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
           (j.right.outputSet.contains(a) && j.left.outputSet.contains(b)) => e
    }
    // normalized strict inequalities: (x, y) means x < y
    val ineqs = conjuncts.flatMap {
      case LessThan(a, b) => for (x <- longAttr(a); y <- longAttr(b)) yield (x, y)
      case GreaterThan(a, b) => for (x <- longAttr(b); y <- longAttr(a)) yield (x, y)
      case _ => None
    }
    if (eqs.length != 1 || ineqs.length != 2) return None

    def fromLeft(a: Attribute) = j.left.outputSet.contains(a)
    def fromRight(a: Attribute) = j.right.outputSet.contains(a)
    // interval-overlap shape: rs < le (right-start under left-end) and
    // ls < re (left-start under right-end)
    val p1 = ineqs.find { case (x, y) => fromRight(x) && fromLeft(y) }
    val p2 = ineqs.find { case (x, y) => fromLeft(x) && fromRight(y) }
    (p1, p2) match {
      case (Some((rs, le)), Some((ls, re))) if p1 != p2 =>
        val w: Long =
          if (ws == "auto") {
            (for {
              (ls0, _) <- colMinMax(j.left, ls)
              (_, le1) <- colMinMax(j.left, le)
              (rs0, _) <- colMinMax(j.right, rs)
              (_, re1) <- colMinMax(j.right, re)
            } yield {
              val span = math.max(le1, re1) - math.min(ls0, rs0)
              math.max(1L, span / TargetBands)
            }) match {
              case Some(width) => width
              case None => return None // no stats -> don't band blind
            }
          } else ws.toLong

        def floorDiv(x: Expression): Expression =
          IntegralDivide(Subtract(x, Pmod(x, Literal(w))), Literal(w))
        def banded(child: LogicalPlan, idName: String, bandName: String,
                   s: Attribute, e: Attribute) = {
          val idAlias = Alias(MonotonicallyIncreasingID(), idName)()
          val projected = Project(child.output :+ idAlias, child)
          val valid = Filter(GreaterThan(e, s), projected)
          val band = AttributeReference(bandName, LongType, nullable = false)()
          // timeZoneId must be pre-filled: this rule runs post-analysis,
          // so ResolveTimeZone won't visit the new Sequence node and an
          // empty zone would leave the plan "unresolved"
          val seq = Sequence(floorDiv(s), floorDiv(Subtract(e, Literal(1L))),
            Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
          (Generate(Explode(seq), Nil, outer = false, None, Seq(band), valid),
            idAlias.toAttribute, band)
        }
        val (genL, aid, ab) = banded(j.left, "__aid", "__ab", ls, le)
        val (genR, bid, bb) = banded(j.right, "__bid", "__bb", rs, re)
        val newJoin = Join(genL, genR, Inner,
          Some(And(cond, EqualTo(ab, bb))), j.hint)
        // exactly-once per (a, b) pair: group on the synthetic ids and
        // First() every original output column, reusing its exprId
        val aggExprs = j.output.map { attr =>
          Alias(new First(attr).toAggregateExpression(), attr.name)(attr.exprId)
        }
        Some(Aggregate(Seq(aid, bid), aggExprs, newJoin))
      case _ => None
    }
  }
}

object AutoBand {
  /** Idempotently install the rule as a user-provided optimization. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(AutoBandOverlapJoin))
      spark.experimental.extraOptimizations = cur :+ AutoBandOverlapJoin
  }
}
