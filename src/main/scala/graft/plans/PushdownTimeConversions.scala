package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: push comparisons through the engine's monotone time
  * conversions so they reach the parquet scan.
  *
  * A time column derived from a raw epoch long, as
  * `timestamp_micros(x)` or `timestamp_micros(x div k)` (the firehose
  * feed derives `ts` from each record's created_at micros this way),
  * turns a window predicate into a comparison of a *function* of the
  * raw column, which the parquet source cannot translate — the scan
  * reads everything. (events.ts itself is parquet TIMESTAMP(MICROS)
  * and reads as TIMESTAMP, so its predicates reach the scan without
  * this rule.) Both conversion steps are strictly monotone, so a
  * literal comparison can be rewritten onto the raw column:
  *
  *   micros_to_ts(y) cmp TIMESTAMP_LIT  ⟺  y cmp lit_micros
  *   (x div k) >= c  ⟺  x >= c*k          (k > 0, c >= 1, x >= 0)
  *   (x div k) <  c  ⟺  x <  c*k
  *   (x div k) >  c  ⟺  x >= (c+1)*k
  *   (x div k) <= c  ⟺  x <  (c+1)*k
  *
  * The div rewrites are guarded to positive literals (epoch values):
  * truncating and flooring division agree only for non-negative x, and
  * c >= 1 keeps the c = 0 corner (where trunc-div admits small negative
  * x) out of scope.
  */
object PushdownTimeConversions extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = fixpoint(cond, 4)
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }

  private def fixpoint(e: Expression, budget: Int): Expression = {
    val next = rewriteOnce(e)
    if (budget <= 0 || (next fastEquals e)) next else fixpoint(next, budget - 1)
  }

  private def rewriteOnce(e: Expression): Expression = e.transformUp {
    // strip micros→timestamp around a literal comparison
    case cmp: BinaryComparison if isOrderCmp(cmp) =>
      (cmp.left, cmp.right) match {
        case (m: MicrosToTimestamp, Literal(v: Long, TimestampType)) =>
          remake(cmp, m.child, Literal(v, LongType))
        case (d: IntegralDivide, Literal(c: Long, LongType)) =>
          divRewrite(cmp, d, c).getOrElse(cmp)
        case _ => cmp
      }
  }

  private def isOrderCmp(c: BinaryComparison): Boolean = c match {
    case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual => true
    case _ => false
  }

  private def remake(cmp: BinaryComparison, l: Expression, r: Expression): Expression = cmp match {
    case _: GreaterThan => GreaterThan(l, r)
    case _: GreaterThanOrEqual => GreaterThanOrEqual(l, r)
    case _: LessThan => LessThan(l, r)
    case _: LessThanOrEqual => LessThanOrEqual(l, r)
    case other => other
  }

  private def divRewrite(cmp: BinaryComparison, d: IntegralDivide, c: Long): Option[Expression] = {
    val kLit = d.right match {
      case Literal(k: Long, LongType) if k > 0 => Some(k)
      case _ => None
    }
    kLit.flatMap { k =>
      if (c < 1) None
      else
        try {
          val ck = Math.multiplyExact(c, k)
          cmp match {
            case _: GreaterThanOrEqual => Some(GreaterThanOrEqual(d.left, Literal(ck, LongType)))
            case _: LessThan => Some(LessThan(d.left, Literal(ck, LongType)))
            case _: GreaterThan =>
              Some(GreaterThanOrEqual(d.left, Literal(Math.addExact(ck, k), LongType)))
            case _: LessThanOrEqual =>
              Some(LessThan(d.left, Literal(Math.addExact(ck, k), LongType)))
            case _ => None
          }
        } catch { case _: ArithmeticException => None }
    }
  }
}
