package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 `graft-oplog` source: equivalence with the PERMISSIVE JSON
  * reader it replaced, filter pushdown reaching the scan, column pruning,
  * byte-range splitting, and micro-batch tailing of appended segments. */
class OplogSourceSpec extends SparkSpec {

  private val segments = Seq(
    """{"op":"i","ns":"app.users","ts":10,"o":{"_id":"u1","name":"ann","cfg":{"pub":true}}}""",
    """{"op":"u","ns":"app.users","ts":11,"o":{"$set":{"name":"anne"}},"o2":{"_id":"u1"}}""",
    """{"op":"d","ns":"app.users","ts":12,"o":{"_id":"u2"}}""",
    """{"op":"i","ns":"app.ignored","ts":13,"o":{"_id":"x"}}""",
    """{"op":"n","ns":"","ts":14,"o":{"msg":"hb"}}""",
    """{"op":"u","ns":"app.users","ts":15,"o":"truncated-not-a-doc","o2":{"_id":"u1"}}""",
    """this is not json at all""",
    """{"op":"i","ns":"app.users","ts":5,"o":{"_id":"old"}}""")

  private def writeDir(lines: Seq[String], name: String = "segment-000.json"): String = {
    val dir = Files.createTempDirectory("graft_oplog_v2").toString
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("differential: DSv2 source row-for-row equals the PERMISSIVE json reader") {
    val dir = writeDir(segments)
    val v2 = spark.read.format("graft-oplog").load(dir)
    val v1 = spark.read.schema(ChangeFeed.SegmentSchema)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    assert(v2.schema == v1.schema)
    val (r2, r1) = (v2.collect().map(_.toString).sorted.toSeq,
      v1.collect().map(_.toString).sorted.toSeq)
    assert(r2 == r1)
  }

  test("feed predicate pushes into the scan and is evaluated there") {
    val dir = writeDir(segments)
    val feed = ChangeFeed.readBatch(spark, dir, Set("app.users"), afterTs = 9L)
    val plan = feed.queryExecution.executedPlan.toString
    assert(plan.contains("GraftOplogScan"))
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(ts,9)"))
    // survivors: ts 10,11,12 in app.users; ts=15 (o is a bad payload but
    // passes the source predicate) and the two null-ts corrupt legs
    assert(feed.count() == 4 + 1) // 10,11,12,15 + the non-json line
    // fully pushed predicate leaves no post-scan Filter on those columns
    assert(feed.select(min(col("ts"))).collect()(0).getLong(0) == 10L)
  }

  test("column pruning reaches the scan") {
    val dir = writeDir(segments)
    val df = spark.read.format("graft-oplog").load(dir).select("ns")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: [ns]"))
    assert(df.collect().length == segments.length)
  }

  test("byte-range splits cover every line exactly once") {
    val many = (0 until 500).map(i =>
      s"""{"op":"i","ns":"app.users","ts":$i,"o":{"_id":"k$i","pad":"${"x" * 40}"}}""")
    val dir = writeDir(many)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024") // force many splits
      val df = spark.read.format("graft-oplog").load(dir)
      assert(df.rdd.getNumPartitions > 10)
      assert(df.count() == 500)
      assert(df.agg(sum(col("ts"))).collect()(0).getLong(0) == (0 until 500).sum.toLong)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("micro-batch stream tails appended bytes and new files across restarts") {
    val dir = writeDir(Seq(
      """{"op":"i","ns":"app.users","ts":1,"o":{"_id":"a"}}""",
      """{"op":"i","ns":"app.users","ts":2,"o":{"_id":"b"}}"""))
    val ckpt = Files.createTempDirectory("graft_oplog_ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-oplog").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getAs[Long]("ts")) }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.sorted == Seq(1L, 2L))
    // append a whole line to the EXISTING segment + add a new file
    Files.write(Paths.get(dir, "segment-000.json"),
      ("\n" + """{"op":"i","ns":"app.users","ts":3,"o":{"_id":"c"}}""").getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    Files.write(Paths.get(dir, "segment-001.json"),
      """{"op":"i","ns":"app.users","ts":4,"o":{"_id":"d"}}""".getBytes("UTF-8"))
    drain()
    assert(seen.sorted == Seq(1L, 2L, 3L, 4L)) // only the delta re-read
  }

  test("offset json round-trips") {
    val off = OplogOffset(Map("/a/b.json" -> 100L, "/a/c.json" -> 0L))
    assert(OplogOffset.fromJson(off.json()) == off)
  }

  test("segment line parser: partial corruption keeps well-typed fields") {
    val r = SegmentLine.parse("""{"op":"i","ns":"app.users","ts":"not-a-number","o":{"_id":"x"}}""")
    assert(r.op == "i" && r.ns == "app.users" && r.ts == null)
    assert(r.corrupt != null) // line captured for the dead-letter path
    val ok = SegmentLine.parse("""{"op":"u","ts":7,"o":{"a":[1,{"b":"}"}]},"o2":"s"}""")
    assert(ok.o == """{"a":[1,{"b":"}"}]}""") // raw slice, brace-in-string safe
    assert(ok.o2 == "s" && ok.ts == 7L && ok.corrupt == null)
  }

  test("a session-level Hadoop setting reaches the readers of batch and stream reads") {
    // `oplogtest://` resolves only through the session's `fs.oplogtest.impl`,
    // which the shared SparkContext's Hadoop configuration does not carry
    val dir = writeDir(segments.take(3))
    val uri = s"${OplogTestFs.Scheme}://$dir"
    assert(spark.sparkContext.hadoopConfiguration.get(OplogTestFs.ImplKey) == null)
    spark.conf.set(OplogTestFs.ImplKey, classOf[OplogTestFs].getName)
    spark.conf.set(s"fs.${OplogTestFs.Scheme}.impl.disable.cache", "true")
    try {
      OplogTestFs.opens.set(0)
      val batch = spark.read.format("graft-oplog").load(uri)
        .select("ts").collect().map(_.getLong(0)).sorted.toSeq
      assert(batch == Seq(10L, 11L, 12L))
      assert(OplogTestFs.opens.get() > 0) // the reader opened through it
      OplogTestFs.opens.set(0)
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      spark.readStream.format("graft-oplog").load(uri)
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft_oplog_fs_ckpt").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getAs[Long]("ts")) }; ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      assert(seen.sorted.toSeq == Seq(10L, 11L, 12L))
      assert(OplogTestFs.opens.get() > 0)
    } finally {
      spark.conf.unset(OplogTestFs.ImplKey)
      spark.conf.unset(s"fs.${OplogTestFs.Scheme}.impl.disable.cache")
    }
  }
}

/** The local file system under its own scheme, counting the files it
  * opens: a stand-in for an object store whose file system class only a
  * session setting names. */
class OplogTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${OplogTestFs.Scheme}:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    OplogTestFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OplogTestFs {
  val Scheme = "oplogtest"
  val ImplKey = s"fs.$Scheme.impl"
  val opens = new java.util.concurrent.atomic.AtomicInteger()
}
