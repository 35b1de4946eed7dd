package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

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
  *
  * Every parquet read in `src/main` goes through [[parquet]], which
  * memoizes the inferred schema of its inputs (see there): a read
  * without a schema otherwise runs one Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) per call, even when
  * nothing under the path changed since the last read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    canonicalTs(raw(spark, dir, name))

  /** The table's parquet file as stored, `ts` in the file's own type.
    * Sets the session-level runtime conf that reads nanosecond INT64
    * timestamps as longs: harmless for non-nanos files, required for
    * nanos-generation events.parquet, idempotent. */
  private[graft] def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$dir/$name.parquet")
  }

  /** Inferred parquet schemas, keyed by [[schemaKey]]. 256 entries of a
    * `StructType` each; not settable. */
  private val schemas = new BoundedMemo[String, StructType](256)

  /** `spark.read.parquet(paths: _*)`, with the schema inference memoized
    * process-wide.
    *
    * The key is a digest of the paths as given, every leaf file under
    * them (path, length, modification time — hidden and metadata files
    * included) and the session's set values of the confs that change
    * what inference returns (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*` such as `nanosAsLong`,
    * `spark.sql.sources.*`, `spark.sql.files.*`, `caseSensitive` and the
    * session time zone). A hit reads with `spark.read.schema(cached)`,
    * which plans the same scan without the inference job. Nothing is
    * invalidated: a rewritten, added or removed file changes the key, so
    * the next read misses and infers again. A miss, a path that cannot be
    * listed (missing, a glob, an unreachable store) or a failed inference
    * is a plain `spark.read.parquet`, so Spark raises its own errors
    * (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`) and nothing is stored.
    * The price of a read is one driver-side listing of the input's leaf
    * files, which Spark's own file index repeats. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val key = schemaKey(spark, paths)
    key.flatMap(schemas.get) match {
      case Some(cached) => spark.read.schema(cached).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }

  private def inferenceConf(key: String): Boolean =
    key.startsWith("spark.sql.parquet.") || key.startsWith("spark.sql.legacy.parquet.") ||
      key.startsWith("spark.sql.sources.") || key.startsWith("spark.sql.files.") ||
      key == "spark.sql.caseSensitive" || key == "spark.sql.session.timeZone"

  /** The [[parquet]] memo key, or None when a path cannot be listed. */
  private def schemaKey(spark: SparkSession, paths: Seq[String]): Option[String] =
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = {
        md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
      }
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      paths.foreach { p =>
        add(p)
        val path = new Path(p)
        val it = path.getFileSystem(hadoopConf).listFiles(path, true)
        val leaves = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          leaves += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        leaves.result().sortBy(_._1).foreach { case (f, len, mtime) =>
          add(f); add(len.toString); add(mtime.toString)
        }
      }
      spark.conf.getAll.filter(e => inferenceConf(e._1)).toSeq.sorted
        .foreach { case (k, v) => add(k); add(v) }
      Some(md.digest().map(b => f"$b%02x").mkString)
    } catch { case _: java.io.IOException => None }

  /** `df` with its `ts` column (if any) as the canonical nanos-long:
    * microsecond TIMESTAMP/TIMESTAMP_NTZ converts, a LongType (nanos
    * read under `nanosAsLong`) passes through. A stateless projection,
    * so it normalizes a streaming frame exactly like a batch one. */
  def canonicalTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case _ => df // LongType nanos (or no ts column): already canonical
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
