package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.DataFrame

/** The registry workload: `SparkEntry.queries` results materialized through
  * Spark's `noop` sink, in a fixed number of whole rounds over the
  * workload's queries. */
object Registry {

  def run(c: Conf): Map[String, Any] = {
    val t0 = Meter.now()
    val runDir = c.str("run_dir")
    val data = c.str("data")
    val queries = c.strs("queries")
    val trace = c.bool("trace")
    val cores = c.int("cores")
    val spark = Session.start(cores, cores, runDir)
    val sc = spark.sparkContext
    val tracers = if (trace) Some(Trace.attach(spark)) else None
    graft.functions.GraftFunctions.installAll(spark)
    val sessionMs = Meter.ms(t0)
    val all = graft.SparkEntry.queries
    def release(): Int = {
      val rdds = sc.getPersistentRDDs.values.toSeq
      rdds.foreach(_.unpersist(blocking = true))
      rdds.size
    }
    // Set-up, repeated: read the workload's tables, then build the serve
    // queries' persisted indexes (a serve query builds its index the first
    // time it is planned and finds none under java.io.tmpdir). Each
    // repetition first removes the indexes the previous one built, so every
    // repetition pays the builds; the probes that follow are the work.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def wipeIndexes(): Unit = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    val setupReps = (1 to c.int("setup_reps")).map { _ =>
      wipeIndexes()
      val loadMs = Meter.time {
        c.strs("tables").foreach(t => graft.Tables.load(spark, data, t).count())
      }._2
      val buildMs = c.strs("serve_queries").map(q => q -> Meter.time(all(q)(spark, data))._2).toMap
      release()
      Map("loads" -> loadMs, "builds" -> buildMs)
    }

    val errors = mutable.LinkedHashMap.empty[String, String]
    def attempt(q: String)(f: DataFrame => Unit): Option[Double] =
      try Some(Meter.time(f(all(q)(spark, data)))._2)
      catch { case e: Throwable => errors.getOrElseUpdate(q, String.valueOf(e)); None }

    // cold pass: each result is written once as parquet for the oracle check
    val cold = queries.map { q =>
      val t = attempt(q)(_.write.mode("overwrite").parquet(s"${c.str("results_dir")}/$q"))
      release()
      q -> t.getOrElse(0.0)
    }

    val rng = new scala.util.Random(c.int("seed"))
    val times = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    // CPU time of each execution on the Java threads (queries run one at a time)
    val cpus = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    Meter.resetHeapPeak()
    val gc0 = Meter.gcMs()
    val loop0 = Meter.now()
    val rounds = c.int("rounds")
    (0 until rounds).foreach { round =>
      rng.shuffle(queries).foreach { q =>
        val tag = s"$q#$round"
        sc.setLocalProperty("perfbench.exec", tag)
        val (w0, c0) = (System.currentTimeMillis(), Meter.threadCpuNs())
        val t = attempt(q)(_.write.format("noop").mode("overwrite").save())
        val (w1, cpuNs) = (System.currentTimeMillis(), Meter.threadCpuSince(c0))
        sc.setLocalProperty("perfbench.exec", null)
        val leaked = release()
        t.foreach { ms => times(q) += ms; cpus(q) += cpuNs / 1e6 }
        tracers.foreach { case (jt, sl) =>
          PerfbenchBus.drain(sc)
          val jobs = jt.jobsOf(tag)
          execs += Map(
            "query" -> q, "ms" -> t.getOrElse(0.0), "jobs" -> jobs.size,
            "tasks" -> jobs.map(_.tasks).sum, "gap_ms" -> jt.gapMs(jobs, w0, w1),
            "shuffle_read" -> jobs.map(_.shuffleRead).sum,
            "shuffle_write" -> jobs.map(_.shuffleWrite).sum,
            "input" -> jobs.map(_.input).sum, "spill" -> jobs.map(_.spill).sum,
            "skew" -> jt.skewOf(tag), "leaked" -> leaked, "topk_spills" -> sl.take())
        }
      }
    }
    val loopMs = Meter.ms(loop0)
    Map(
      "session_ms" -> sessionMs, "setup_reps" -> setupReps,
      "cold_ms" -> cold.toMap,
      "times_ms" -> times.map { case (q, ts) => q -> ts.toSeq }.toMap,
      "rounds" -> rounds, "loop_ms" -> loopMs,
      "cpu_ms" -> cpus.map { case (q, xs) => q -> xs.toSeq }.toMap,
      "gc_ms" -> (Meter.gcMs() - gc0), "heap_peak_mb" -> Meter.heapPeakMb(),
      "errors" -> errors.toMap, "execs" -> execs.toSeq)
  }
}
