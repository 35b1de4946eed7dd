package graft.plans

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class DerivedPredicatePushdownSpec extends SparkSpec {

  test("a `ts div 1000 > v` filter gains a pushed raw-ts scan predicate") {
    val ckptUs = 1704412800000000L
    val df = Tables.load(spark, Sf0001, "events")
      .filter(expr("ts div 1000") > lit(ckptUs))
      .select("event_id")
    val plan = df.queryExecution.executedPlan.toString
    // the pushed literal's spelling depends on the file's ts encoding:
    // nanos-long generation → a long bound, timestamp generation → the
    // rule peels Tables.load's normalizing projection down to a raw
    // timestamp bound (2024-01-05T00:00:00.000001 = ckptUs+1)
    assert(plan.contains(s"GreaterThanOrEqual(ts,${(ckptUs + 1) * 1000})") ||
        plan.contains("GreaterThanOrEqual(ts,2024-01-05T00:00:00.000001"),
      s"expected pushed raw-ts bound in:\n$plan")
    // semantics unchanged vs the un-optimized derived filter
    val expected = Tables.load(spark, Sf0001, "events")
      .filter(col("ts") >= lit((ckptUs + 1) * 1000L)).count()
    assert(df.count() == expected)
  }

  test("rule is an implication, not a rewrite: boundary rows stay correct") {
    import spark.implicits._
    val df = Seq(999L, 1000L, 1999L, 2000L, 2001L).toDF("x")
    // x div 1000 > 1 keeps exactly 2000, 2001
    val out = df.filter(expr("x div 1000") > lit(1L)).as[Long].collect().sorted
    assert(out.toSeq == Seq(2000L, 2001L))
    // >= form
    val out2 = df.filter(expr("x div 1000") >= lit(2L)).as[Long].collect().sorted
    assert(out2.toSeq == Seq(2000L, 2001L))
  }

  test("rule reaches fixpoint (no repeated conjuncts, plan stays analyzable)") {
    import spark.implicits._
    val df = Seq(5000L).toDF("x").filter(expr("x div 10") > lit(3L))
    // optimizer runs batches to fixpoint; a non-idempotent rule would loop
    assert(df.count() == 1)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("GreaterThanOrEqual".r.findAllIn(optimized).size <= 1)
  }

  test("legacy-mode Multiply is NOT peeled (wraparound could un-prune rows)") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    // under legacy eval a hugely negative x wraps x·k positive, making the
    // original predicate true while x >= ceil(m/k) is false — the derived
    // bound would wrongly prune the row, so the rule must not fire
    val x = AttributeReference("x", org.apache.spark.sql.types.LongType)()
    def plan(mode: EvalMode.Value) = Filter(
      GreaterThan(Multiply(x, Literal(1000L), mode), Literal(5000L)),
      LocalRelation(x))
    val legacyOut = DerivedPredicatePushdown(plan(EvalMode.LEGACY))
    assert(legacyOut == plan(EvalMode.LEGACY), s"legacy peel fired:\n$legacyOut")
    val ansiOut = DerivedPredicatePushdown(plan(EvalMode.ANSI)).toString
    assert(ansiOut.contains("(x#") && ansiOut.contains(">= 6)"),
      s"ANSI peel should add x >= ceil(5001/1000) = 6:\n$ansiOut")
  }
}
