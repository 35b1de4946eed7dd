package graft.sources

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.functions._

class ChangeFeedSpec extends SparkSpec with TempDirs {

  def writeSegments(lines: Seq[String]): String = {
    val dir = tempDir("graft_oplog")
    Files.write(Paths.get(dir, "segment-000.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  val segments = Seq(
    """{"op":"i","ns":"app.users","ts":10,"o":{"_id":"u1","name":"ann","cfg":{"pub":true}}}""",
    """{"op":"u","ns":"app.users","ts":11,"o":{"$set":{"name":"anne"}},"o2":{"_id":"u1"}}""",
    """{"op":"d","ns":"app.users","ts":12,"o":{"_id":"u2"}}""",
    """{"op":"i","ns":"app.ignored","ts":13,"o":{"_id":"x"}}""",
    """{"op":"n","ns":"","ts":14,"o":{"msg":"hb"}}""",
    """{"op":"i","ns":"app.users","ts":5,"o":{"_id":"old"}}""")

  test("readBatch applies the S2/F1 pushdown (ns membership + ts > checkpoint)") {
    val dir = writeSegments(segments)
    val feed = ChangeFeed.readBatch(spark, dir, Set("app.users"), afterTs = 9L)
    assert(feed.count() == 3) // drops ns=app.ignored, the ns="" heartbeat, and ts=5
  }

  test("decode runs the oplog decoder distributed and typed") {
    val dir = writeSegments(segments)
    val feed = ChangeFeed.readBatch(spark, dir, Set("app.users"), afterTs = 0L)
    val out = ChangeFeed.decode(feed, Set("app.users"))
      .orderBy("ts").collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("upsert", "upsert", "upsert", "delete"))
    val insert = out(1) // ts=10
    assert(insert.getString(3) == "u1")
    assert(insert.getString(4) == """{"cfg_pub":true,"name":"ann"}""") // flattened, sorted keys
    assert(!insert.getBoolean(5)) // full image
    val setUpdate = out(2) // ts=11
    assert(setUpdate.getBoolean(5)) // partial
    assert(setUpdate.getString(4) == """{"name":"anne"}""")
  }

  test("streaming read decodes new segments as micro-batches") {
    val dir = writeSegments(segments)
    val feed = ChangeFeed.readStream(spark, dir, Set("app.users"), afterTs = 0L)
    val decoded = ChangeFeed.decode(feed, Set("app.users"))
    val q = decoded.writeStream.format("memory").queryName("cf_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cf_test").count() == 4)
  }

  test("corrupt segment lines become dead-letter rows, not task failures") {
    val dir = writeSegments(Seq(
      """{"op":"i","ns":"app.users","ts":10,"o":{"_id":"u1","v":1}}""",
      """{"op":"u","ns":"app.users","ts":11,"o":"truncated-not-a-doc","o2":{"_id":"u1"}}""",
      """this is not json at all"""))
    val feed = ChangeFeed.readBatch(spark, dir, Set("app.users"), afterTs = 0L)
    val out = ChangeFeed.decode(feed, Set("app.users"))
      .orderBy("ts").collect()
    assert(out.length == 3)
    assert(out.map(_.getString(0)).count(_ == "dead_letter") == 2)
    assert(out.map(_.getString(0)).count(_ == "upsert") == 1)
  }

  test("applyOps inner ops carry a seq tiebreaker (same inherited ts)") {
    val dir = writeSegments(Seq(
      """{"op":"c","ns":"admin.$cmd","ts":50,"o":{"applyOps":[
        {"op":"i","ns":"app.users","o":{"_id":"k1","v":1}},
        {"op":"d","ns":"app.users","o":{"_id":"k1"}}]}}""".replaceAll("\n\\s*", "")))
    val out = ChangeFeed.decode(
        ChangeFeed.readBatch(spark, dir, Set("app.users"), 0L), Set("app.users"))
      .orderBy("seq").collect()
    assert(out.map(r => (r.getString(0), r.getInt(8))).toSeq ==
      Seq(("upsert", 0), ("delete", 1))) // delete AFTER insert, deterministically
  }

  test("JSON round-trip: parse ∘ render on nested payloads") {
    val doc = Map("a" -> 1L, "b" -> Map("c" -> "x\"y", "d" -> Seq(1L, 2L)), "e" -> null)
    assert(Json.parseObject(Json.render(doc)) == doc)
    assert(Json.parse("""{"n":-1.5e2}""") == Map("n" -> -150.0))
  }
}
