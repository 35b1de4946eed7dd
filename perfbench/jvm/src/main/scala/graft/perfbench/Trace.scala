package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job counters, grouped by the run's own labels: the streaming batch id
  * Spark puts on every micro-batch job, or the `perfbench.exec` label the
  * registry workloads put on each query execution. */
final class JobRec(val group: String, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var spill = 0L
}

final class JobTracer extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Shuffle bytes read by each task of each shuffle-reading stage. */
  private val stageReads = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val group = prop("perfbench.exec")
      .orElse(prop("streaming.sql.batchId").map("batch:" + _))
      .getOrElse("other")
    jobs.put(e.jobId, new JobRec(group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
    val m = e.taskMetrics
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.input += m.inputMetrics.bytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    if (m != null && m.shuffleReadMetrics.totalBytesRead > 0)
      stageReads.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageReads.get(e.stageId) += m.shuffleReadMetrics.totalBytesRead }
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.values.asScala.filter(_.group == group).toSeq

  /** max/median task shuffle read of the group's shuffle-reading stages. */
  def skewOf(group: String): Double = {
    val ids = jobs.asScala.collect { case (id, j) if j.group == group => id }.toSet
    stageReads.asScala.collect {
      case (s, reads) if ids(stageJob.getOrDefault(s, -1)) && reads.length > 1 =>
        val med = Meter.median(reads.map(_.toDouble).toSeq)
        if (med > 0) reads.max / med else 0.0
    }.foldLeft(0.0)(math.max)
  }

  /** Wall time of [t0, t1] (epoch ms) not covered by any of the jobs. */
  def gapMs(recs: Seq[JobRec], t0: Long, t1: Long): Double = {
    val spans = recs.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (t1 - t0) - covered).toDouble
  }
}

/** Collects TopKPerKey spill counts from each finished plan. */
final class SpillListener extends QueryExecutionListener {
  val spills = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    spills.add(topkSpills(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def topkSpills(p: SparkPlan): Long = {
    val own =
      if (p.nodeName.contains("TopK")) p.metrics.get("numSpills").map(_.value).getOrElse(0L)
      else 0L
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children ++ other.subqueries
    }
    own + kids.map(topkSpills).sum
  }

  /** Spills reported since the last call (after the listener bus drained). */
  def take(): Long = {
    var n = 0L
    var x = spills.poll()
    while (x != null) { n += x.longValue; x = spills.poll() }
    n
  }
}

object Trace {
  def attach(spark: SparkSession): (JobTracer, SpillListener) = {
    val jt = new JobTracer
    val sl = new SpillListener
    spark.sparkContext.addSparkListener(jt)
    spark.listenerManager.register(sl)
    (jt, sl)
  }
}
