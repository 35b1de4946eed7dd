package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule: derive a pushable raw-column range predicate from a
  * comparison over a monotone integer view of that column.
  *
  * CDC code naturally filters on derived offsets — `ts div 1000 > ckpt`
  * (µs view of a ns clock), and since [[graft.Tables.load]] normalizes
  * timestamp-encoded files, `unix_micros(ts) * 1000 > ckpt` (ns view of a
  * µs TIMESTAMP column). Catalyst cannot push such a predicate into a
  * parquet scan (the scan has `ts`, not the derived expression), so the
  * filter runs post-scan and row-group pruning is lost — exactly the
  * difference between scanning one segment and scanning 100 TB.
  *
  * The rule peels a chain of order-preserving steps off the filtered
  * expression, tightening the lower bound at each link until it reaches
  * the scanned attribute:
  *   x div k ≥ m  ⟹  x ≥ m·k            (truncating division, m ≥ 1)
  *   x · k ≥ m    ⟹  x ≥ ⌈m / k⌉        (k > 0, m ≥ 1)
  *   unix_micros(t) ≥ m  ⟹  t ≥ timestamp(m µs)
  *   cast(ntz as timestamp) ≥ T  ⟹  ntz ≥ T   (UTC session: the cast is
  *                                             an order-preserving bijection)
  * and conjoins the implied raw-column bound (keeping the original
  * predicate — the rewrite is an implication, not an equivalence), which
  * the scan-pushdown phase then picks up as a native long or timestamp
  * filter. Installed where a session is built:
  * [[graft.functions.GraftFunctions.installAll]] (runtime, as
  * `graft.GraftSession.start` does) or
  * `spark.sql.extensions=graft.functions.GraftExtensions` (deploy-time).
  */
object DerivedPredicatePushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = split(cond)
      val implied = conjuncts.flatMap(impliedBound)
        .filterNot(p => conjuncts.exists(_.semanticEquals(p)))
      if (implied.isEmpty) f
      else Filter((conjuncts ++ implied).reduce(And), child)
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other     => Seq(other)
  }

  private object PosLongLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(k: Long, LongType) if k > 0 => Some(k)
      case _                                   => None
    }
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case _                          => None
  }

  /** The session cast NTZ→LTZ is order-preserving exactly when the zone is
    * a fixed zero offset; only then may a timestamp bound cross the cast. */
  private def utcZone(tz: Option[String]): Boolean =
    tz.exists(z => z == "UTC" || z == "Etc/UTC" || z == "Z" || z == "+00:00")

  /** Reduce lower bound `e ≥ m` (m ≥ 1, integer µs/ns domain) to a bound
    * on the underlying scanned attribute, if every link in the chain is
    * order-preserving and overflow-safe. */
  @annotation.tailrec
  private def peel(e: Expression, m: Long): Option[Expression] = e match {
    case a: Attribute if a.dataType == LongType =>
      Some(GreaterThanOrEqual(a, Literal(m, LongType)))
    // x div k ≥ m ⟹ x ≥ m·k (toward-zero truncation; sound for m ≥ 1)
    case d: IntegralDivide =>
      d.right match {
        case PosLongLit(k) if m <= Long.MaxValue / k => peel(d.left, m * k)
        case _                                       => None
      }
    // x·k ≥ m ⟹ x ≥ ⌈m/k⌉ (k > 0; m ≥ 1 keeps ceil-arithmetic positive).
    // Sound only under ANSI eval: in legacy mode a hugely negative x can
    // wrap x·k positive past m (true original, false implied — wrong
    // prune); under ANSI that row would abort the query instead, so the
    // implication cannot change the result of any successful run.
    case mul @ Multiply(x, PosLongLit(k), _)
        if mul.evalMode == EvalMode.ANSI && m <= Long.MaxValue - (k - 1) =>
      peel(x, (m + k - 1) / k)
    case mul @ Multiply(PosLongLit(k), x, _)
        if mul.evalMode == EvalMode.ANSI && m <= Long.MaxValue - (k - 1) =>
      peel(x, (m + k - 1) / k)
    // unix_micros(t) ≥ m ⟹ t ≥ timestamp-at-m-µs (exact: internal
    // TimestampType representation IS the µs count unix_micros returns)
    case UnixMicros(t) =>
      t match {
        case a: Attribute if a.dataType == TimestampType =>
          Some(GreaterThanOrEqual(a, Literal(m, TimestampType)))
        case c: Cast if c.dataType == TimestampType &&
            c.child.dataType == TimestampNTZType && utcZone(c.timeZoneId) =>
          c.child match {
            case a: Attribute => Some(GreaterThanOrEqual(a, Literal(m, TimestampNTZType)))
            case _            => None
          }
        case _ => None
      }
    case _ => None
  }

  private def impliedBound(e: Expression): Option[Expression] = e match {
    case GreaterThan(x, v) =>
      longLit(v).filter(vv => vv >= 0 && vv < Long.MaxValue)
        .flatMap(vv => peel(x, vv + 1))
    case GreaterThanOrEqual(x, v) =>
      longLit(v).filter(_ >= 1).flatMap(vv => peel(x, vv))
    // mirrored literal-on-the-left forms
    case LessThan(v, x) =>
      longLit(v).filter(vv => vv >= 0 && vv < Long.MaxValue)
        .flatMap(vv => peel(x, vv + 1))
    case LessThanOrEqual(v, x) =>
      longLit(v).filter(_ >= 1).flatMap(vv => peel(x, vv))
    case _ => None
  }
}

object GraftOptimizations {
  /** Install the rule into a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(DerivedPredicatePushdown)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DerivedPredicatePushdown
    }
  }
}
