package graft

import org.apache.spark.sql.SparkSession

/** The one way an entry point builds its session: UTC (the clock
  * [[Tables]] and [[graft.plans.DerivedPredicatePushdown]] assume), no UI
  * unless `conf` turns it on, WARN logging, and every graft function,
  * optimizer rule and strategy installed. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def start(master: String, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.installAll(spark)
    spark
  }
}
