package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Memory-pressure proof main (forked by TopKSpillEndToEndSpec, output
  * recorded per round): runs bounded-heap top-k queries in a session whose
  * EXECUTION-MEMORY POOL is starved via `spark.testing.memory` — the
  * accounting pool Spark's MemoryConsumers share, NOT the JVM heap — so
  * the TopKPerKey partial phase cannot hold its state and must take the
  * tier-2 disk-spill path under real declined reservations, end to end
  * inside real tasks (the in-task drivers in TopKPerKeySpec arrange the
  * same pressure synthetically; this main proves it through the public
  * query surface at sf0.1 volume).
  *
  * Prints ONE JSON line:
  * `{"spills_wide":N,"flushes":M,"equal_topk_wide":bool,
  *   "sec_wide_perkey":s,"sec_wide_windowed":s,
  *   "equal_topk_native":bool,"sec_topk_native":s,
  *   "equal_resample_ffill":bool,"sec_resample_ffill":s}`
  * where every `equal_*` compares the capped heap-path rows against the
  * window-formulation twin run under the SAME cap (TopK.perKey's
  * `spark.graft.topk.forceWindowed` dial), and `spills_wide` counts the
  * "partial disk spills" SQL metric across the wide query's tasks.
  *
  * The wide query retains ~users × k rows (~100k rows ≈ 11 MB of
  * accounted state at sf0.1) against a ~10 MB pool — spills are
  * structurally guaranteed, not timing-dependent. The registry queries
  * (`topk_native`: 5 keys; `resample_ffill`: ~1.3k observed buckets)
  * carry bounded state that never pressures even this pool; they prove
  * the capped session stays EXACT, not that it spills.
  */
object SpillProof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.start(
      // two concurrent tasks, not four: the WINDOW twin's consumers
      // (WindowExec buffer, aggregate BytesToBytesMap) need their
      // minimum pages from the same starved pool, and with 4-way task
      // concurrency an unlucky schedule (more likely when the host is
      // also running the parallel test suites) can leave a task below
      // its minimum allocation — a SparkOutOfMemoryError in the twin,
      // not a finding about the heap path. Halving concurrency doubles
      // each task's guaranteed share; the heap path still spills (its
      // state is tens of MB against a ~7 MB pool).
      "local[2]", 2,
      "spark.app.name" -> "graft-spill-proof",
      "spark.sql.adaptive.enabled" -> "false",
      // starve the ACCOUNTING pool (not the heap): ~12 MB system memory
      // → ~7.2 MB unified pool shared by the task's consumers
      "spark.testing.memory" -> (12L << 20).toString,
      "spark.testing.reservedMemory" -> "0",
      // fine-grained reservations so the decline arrives while chunks are
      // held (tier 2), not on the first request (tier 3)
      "spark.graft.topk.partialReserveChunk" -> (256L << 10).toString)

    val spills = new java.util.concurrent.atomic.AtomicLong
    val flushes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val inf = te.taskInfo
        if (inf != null) inf.accumulables.foreach { a =>
          (a.name, a.update) match {
            case (Some("partial disk spills"), Some(v)) =>
              spills.addAndGet(v.toString.toLong)
            case (Some("partial downstream flushes"), Some(v)) =>
              flushes.addAndGet(v.toString.toLong)
            case _ => ()
          }
        }
      }
    })

    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def withWindowed[A](f: => A): A = {
      spark.conf.set("spark.graft.topk.forceWindowed", "true")
      try f finally spark.conf.set("spark.graft.topk.forceWindowed", "false")
    }

    // warm file listing / codegen so timings compare query work
    Tables.load(spark, sfDir, "events").count()

    // the wide bounded-heap query: top-64 FULL event rows per user —
    // ~users × k retained rows carrying the props payload (~25 MB of
    // accounted state at sf0.1), structurally larger than the starved pool
    def wide = {
      val ev = Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("props"))
      graft.operators.TopK.perKey(ev, Seq("user_id"),
        Seq(col("value").desc, col("event_id").asc), k = 64)
    }

    val pre = spills.get()
    val (wideRows, wideSec) = timed(rowsOf(wide))
    // drain listener events before reading the counter
    org.apache.spark.GraftMemoryBridge.drainListenerBus(spark.sparkContext)
    val wideSpills = spills.get() - pre
    val (wideRef, wideRefSec) = withWindowed(timed(rowsOf(wide)))

    val out = new StringBuilder
    out ++= s"""{"spills_wide":$wideSpills,"flushes":${flushes.get()}"""
    out ++= s""","equal_topk_wide":${wideRows == wideRef}"""
    out ++= f""","sec_wide_perkey":$wideSec%.3f,"sec_wide_windowed":$wideRefSec%.3f"""
    Seq("topk_native", "resample_ffill").foreach { name =>
      val fn = SparkEntry.queries(name)
      val (r1, s1) = timed(rowsOf(fn(spark, sfDir)))
      val (r2, _) = withWindowed(timed(rowsOf(fn(spark, sfDir))))
      out ++= s""","equal_$name":${r1 == r2}"""
      out ++= f""","sec_$name":$s1%.3f"""
    }
    out ++= s""","sf":"$sfDir"}"""
    println(out.result())
    spark.stop()
  }
}
