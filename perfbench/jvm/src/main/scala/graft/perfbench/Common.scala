package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Run configuration written by run.py, read once at start. */
final class Conf(m: java.util.Map[String, AnyRef]) {
  def str(k: String): String = m.get(k).asInstanceOf[String]
  def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue
  def bool(k: String): Boolean = m.get(k).asInstanceOf[java.lang.Boolean].booleanValue
  def has(k: String): Boolean = m.get(k) != null
  def strs(k: String): Seq[String] =
    m.get(k).asInstanceOf[java.util.List[String]].asScala.toSeq
  def strMap(k: String): Map[String, String] =
    m.get(k).asInstanceOf[java.util.Map[String, String]].asScala.toMap
}

object Io {
  val mapper = new ObjectMapper()

  def readConf(path: String): Conf =
    new Conf(mapper.readValue(new File(path), classOf[java.util.Map[String, AnyRef]]))

  def readJson(path: String): AnyRef = mapper.readValue(new File(path), classOf[AnyRef])

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** Write via a temporary name, so a polling reader never sees half a file. */
  def writeAtomic(path: String, text: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _]   => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_]   => o.map(toJava).orNull
    case other          => other
  }
}

/** Timing, percentiles and JVM counters. */
object Meter {
  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def time[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, ms(t0)) }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of each live Java thread. The JIT compiler and GC threads are
    * not Java threads, so their time is not in it. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  /** CPU time the Java threads spent since `before`; a thread that ended in
    * between loses its share. */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Session {
  /** A local session shaped like the program's own mains; every scratch
    * directory lives under the run directory. */
  def start(cores: Int, shufflePartitions: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
