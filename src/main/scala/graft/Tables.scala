package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loader for the driver-provided parquet test tables (TESTDATA.md).
  *
  * The `events.ts` column is the CDC offset clock and all query code
  * treats it as a `LongType` of NANOSECONDS since the epoch (`ts div
  * 1000` = the microsecond offset the DuckDB oracle reads via
  * `epoch_us`). The parquet encoding of that column has varied across
  * testdata generations — nanosecond INT64 timestamps (readable only as
  * longs via `spark.sql.legacy.parquet.nanosAsLong`) and microsecond
  * TIMESTAMP/TIMESTAMP_NTZ — so [[load]] normalizes whatever the file
  * holds to the canonical nanos-long view. Timestamp math runs in the
  * UTC session [[GraftSession]] pins for every entry point, matching the
  * oracle's naive reading. Scan pushdown through the normalizing
  * projection is restored by [[graft.plans.DerivedPredicatePushdown]],
  * which maps derived-offset bounds back to raw `ts` literals of the
  * file's own type. That rule is the session's, not this loader's: it is
  * installed where the session is built (`GraftSession.start`, or
  * `spark.sql.extensions=graft.functions.GraftExtensions`), and [[load]]
  * changes nothing on the session but the `nanosAsLong` read flag.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level runtime conf: harmless for non-nanos files, required
    // for nanos-generation events.parquet. Set once per session, idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case _ => df // LongType nanos (or no ts column): already canonical
    }
  }

  /** Register every table as a temp view so queries can use spark.sql. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Scan-parallelism floor for KERNEL-HEAVY text passes (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"). The harness's corpus tables are single-row-group
    * parquet files, so every scan plans ONE task and a gram-digest/shingle
    * kernel pass runs single-threaded regardless of core count. When —
    * and only when — the frame's planned parallelism is under half the
    * session's default parallelism, the input is shuffled ONCE
    * round-robin to that parallelism so the kernel runs on every core. By
    * the same single-row-group construction that input is small (one row
    * group caps at the writer's block size), so the widening shuffle
    * moves megabytes; on a real multi-file corpus the planned parallelism
    * already exceeds the floor and this is the IDENTITY — the text of a
    * 100 TB lake is never shuffled by this helper (the PlanSpec shuffle
    * budgets count it as the at-most-one conditional widening exchange). */
  def widenScan(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    if (floor <= 1 || !scanShaped(df.queryExecution.analyzed)) df
    else {
      // planned scan parallelism; no job runs — the scanShaped guard
      // above proved the frame is an exchange-free scan+filter chain,
      // so compiling its physical plan here cannot materialize AQE
      // query stages (which `.rdd` on an arbitrary frame would)
      val parts = df.rdd.getNumPartitions
      if (parts * 2 <= floor) df.repartition(floor) else df
    }
  }

  /** Is this logical plan a plain scan+filter/project chain (no joins,
    * aggregates, repartitions, or other shuffle-inducing nodes)?
    * [[widenScan]]'s contract: only such frames may be plan-compiled
    * eagerly (`.rdd`) to read the planned scan parallelism — on any
    * other shape (callers pass arbitrary user frames) widening is
    * skipped rather than risking upstream query-stage materialization
    * under AQE. */
  private def scanShaped(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode => true
      case p: Project => scanShaped(p.child)
      case f: Filter => scanShaped(f.child)
      case s: SubqueryAlias => scanShaped(s.child)
      case _ => false
    }
  }
}
