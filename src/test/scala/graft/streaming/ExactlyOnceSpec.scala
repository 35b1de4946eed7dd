package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, TempDirs}
import graft.sources.ChangeFeed
import org.apache.spark.sql.functions._

/** Resume/exactly-once semantics of the streaming leg: restarting from the
  * same checkpoint must not re-deliver already-processed segments (the C1
  * invariant the reference gets from its co-transactional offset,
  * mysql.go:563-588 — here from the checkpointLocation offset log). */
class ExactlyOnceSpec extends SparkSpec with TempDirs {

  test("restart from checkpoint processes only new segments, final fold correct") {
    val srcDir = tempDir("graft_eo_src")
    val ckpt = tempDir("graft_eo_ckpt")
    def writeSegment(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, name), lines.mkString("\n").getBytes("UTF-8"))

    writeSegment("seg-0.json", Seq(
      """{"op":"i","ns":"app.users","ts":1,"o":{"_id":"u1","bal":10}}""",
      """{"op":"i","ns":"app.users","ts":2,"o":{"_id":"u2","bal":20}}"""))

    val state = scala.collection.mutable.Map.empty[String, Long]
    val deliveries = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]

    def run(): Unit = {
      val feed = ChangeFeed.readStream(spark, srcDir, Set("app.users"), afterTs = 0L)
      val decoded = ChangeFeed.decode(feed, Set("app.users"))
      val q = decoded.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val rows = batch.collect()
          state.synchronized {
            rows.foreach { r =>
              deliveries += ((batchId, r.getString(3)))
              r.getString(0) match {
                case "upsert" =>
                  val bal = graft.sources.Json.parseObject(r.getString(4))
                    .get("bal").map(_.asInstanceOf[Long]).getOrElse(state(r.getString(3)))
                  state(r.getString(3)) = bal
                case "delete" => state.remove(r.getString(3))
                case _        =>
              }
            }
          }
        }
        .start()
      q.awaitTermination()
    }

    run()
    assert(state.toMap == Map("u1" -> 10L, "u2" -> 20L))
    val firstRunCount = deliveries.size

    // new segment arrives; restart from the SAME checkpoint
    writeSegment("seg-1.json", Seq(
      """{"op":"u","ns":"app.users","ts":3,"o":{"$set":{"bal":99}},"o2":{"_id":"u1"}}""",
      """{"op":"d","ns":"app.users","ts":4,"o":{"_id":"u2"}}"""))
    run()

    assert(state.toMap == Map("u1" -> 99L)) // update applied, delete applied
    // only the two NEW changes were delivered on restart — no replay of seg-0
    assert(deliveries.size == firstRunCount + 2)
  }

  test("watermark drops late events in append-mode windowed aggregation") {
    val srcDir = tempDir("graft_wm_src")
    val ckpt = tempDir("graft_wm_ckpt")
    def us(min: Int): Long = min.toLong * 60 * 1000000
    def line(id: Long, tsUs: Long) =
      s"""{"event_id":$id,"ts":${tsUs * 1000},"user_id":1,"event_type":"click","value":1.0,"props":"{}"}"""

    // Two runs sharing one checkpoint — the watermark persists in the
    // commit log, so run 2 starts with watermark = 30-10 = 20 min.
    def run(name: String): Seq[(Long, Long)] = {
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = spark.readStream
        .schema(StreamPipeline.EventsSchema)
        .json(srcDir)
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w"), col("n"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect()
            .map(r => (r.getTimestamp(0).toInstant.toEpochMilli / 60000, r.getLong(1)))
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
      q.awaitTermination()
      emitted.toSeq
    }

    // run 1: events at minute 0 and 30 → watermark ends at 20; the
    // minute-0 window closes and is emitted with count 1
    Files.write(Paths.get(srcDir, "f1.json"),
      Seq(line(1, us(0)), line(2, us(30))).mkString("\n").getBytes("UTF-8"))
    val emitted1 = run("wm_run1")
    assert(emitted1 == Seq((0L, 1L)))

    // run 2: a LATE event at minute 5 (< watermark 20 → dropped) and one
    // at 40. The batch runs under the previous watermark (20), so nothing
    // is emitted yet — but crucially the late event does NOT reopen the
    // already-closed minute-0 window.
    Files.write(Paths.get(srcDir, "f2.json"),
      Seq(line(3, us(5)), line(4, us(40))).mkString("\n").getBytes("UTF-8"))
    val emitted2 = run("wm_run2")
    assert(!emitted2.exists(_._1 == 0L)) // late event did not reopen window 0

    // run 3: an event at minute 60 raises the effective watermark to 30,
    // flushing the [30,40) window — with count 1 (the late minute-5 event
    // never entered any state).
    Files.write(Paths.get(srcDir, "f3.json"),
      Seq(line(5, us(60))).mkString("\n").getBytes("UTF-8"))
    val emitted3 = run("wm_run3")
    assert(emitted3.contains((30L, 1L)))
    assert(!emitted3.exists(_._1 == 0L))
  }
}
