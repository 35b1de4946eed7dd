package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.{SparkSpec, TempDirs}
import graft.config.ConfigParser
import graft.sink.{MemJdbc, UpsertWriter}
import org.apache.spark.sql.functions._

/** The source seam: config wiring picks the right binding, the parquet
  * harness binding is byte-equivalent to the direct ChangeFeed/parquet
  * calls it wraps, and the Replicator lifecycle runs end to end against
  * an EXPLICIT provider (the production call shape — the lambda overload
  * the older specs use delegates to this same primitive). */
class SourceProviderSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("forConfig: mongodb:// selects the live binding with the URI's db; else harness") {
    val m = SourceProvider.forConfig(spark,
      "mongodb://localhost:27017/app", "/snap", "/seg")
    assert(m.isInstanceOf[MongoSourceProvider])
    val srv = SourceProvider.forConfig(spark,
      "mongodb+srv://cluster.example.net/prod", "/snap", "/seg")
    assert(srv.isInstanceOf[MongoSourceProvider])
    val h = SourceProvider.forConfig(spark, "", "/snap", "/seg")
    assert(h.isInstanceOf[ParquetHarnessProvider])
  }

  test("parquet harness binding ≡ the direct reads it wraps") {
    val snapDir = tempDir("graft_prov_snap")
    val segDir = tempDir("graft_prov_seg")
    Seq(("u1", "ann"), ("u2", "bob")).toDF("_id", "name")
      .write.mode("overwrite").parquet(s"$snapDir/users.parquet")
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      """{"op":"i","ns":"app.users","ts":7,"o":{"_id":"u3","name":"cee"}}""",
      """{"op":"i","ns":"app.other","ts":8,"o":{"_id":"x"}}""",
      """{"op":"i","ns":"app.users","ts":9,"o":{"_id":"u4","name":"dee"}}""")
      .mkString("\n").getBytes("UTF-8"))
    val p = new ParquetHarnessProvider(spark, snapDir, segDir)
    val spec = graft.config.TableSpec("users", Seq.empty)
    assert(p.snapshot(spec).orderBy("_id").collect().map(_.getString(0)).toSeq ==
      Seq("u1", "u2"))
    val viaProvider = p.changes(Set("app.users"), 7L)
      .select("op", "ns", "ts").collect().map(_.toString).sorted.toSeq
    val direct = ChangeFeed.readBatch(spark, segDir, Set("app.users"), 7L)
      .select("op", "ns", "ts").collect().map(_.toString).sorted.toSeq
    assert(viaProvider == direct)
    assert(viaProvider.size == 1) // ts>7 drops u3; ns filter drops app.other
  }

  test("Replicator.run drives the lifecycle through an explicit provider") {
    val db = "provider_lifecycle"
    MemJdbc.reset(db)
    val snapDir = tempDir("graft_provl_snap")
    val segDir = tempDir("graft_provl_seg")
    val ckpt = tempDir("graft_provl_ckpt")
    Seq(("u1", "ann"), ("u2", "bob")).toDF("_id", "name")
      .write.mode("overwrite").parquet(s"$snapDir/users.parquet")
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      """{"op":"u","ns":"app.users","ts":11,"o":{"$set":{"name":"upd"}},"o2":{"_id":"u1"}}""")
      .mkString("\n").getBytes("UTF-8"))
    val cfg = ConfigParser.parse(
      s"""inp: mongodb://localhost:27017/app
         |out: ${MemJdbc.UrlPrefix}$db
         |tables:
         |  users:
         |    name: varchar(100)
         |""".stripMargin)
    val repl = new graft.Replicator(spark, cfg, MemJdbc.UrlPrefix + db,
      new Properties())
    val q = repl.run(
      observed = Map.empty,
      source = new ParquetHarnessProvider(spark, snapDir, segDir),
      sinkIds = spec => MemJdbc.table(db, spec.name).keys.toSeq.toDF(spec.pk),
      checkpointDir = ckpt, force = false, zerop = false)
    try q.processAllAvailable() finally q.stop()
    // snapshot landed both rows; the feed's ts pinned the offset
    assert(MemJdbc.table(db, "users").keys.toSet == Set("u1", "u2"))
    val off = MemJdbc.table(db, UpsertWriter.StateTable)
      .get(UpsertWriter.OffsetKey)
      .map(r => new String(r("value").asInstanceOf[Array[Byte]], "UTF-8").toLong)
    assert(off.contains(11L))
  }
}
