package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.config.ConfigParser
import graft.sink.{CountingDialect, MemJdbc, SchemaSync, UpsertWriter}
import org.apache.spark.sql.functions._

/** End-to-end momyre-equivalence: config → schema plan → snapshot →
  * delete-reconciliation → continuous streaming apply, against the
  * in-memory JDBC sink. This is the whole reference daemon
  * (run.go:79-335) as one test. */
class ReplicatorSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  val configText =
    """inp: mongodb://localhost:27017/app
      |out: jdbc:graftmem:repl
      |tables:
      |  users:
      |    name: varchar(100)
      |    cfg.pub: tinyint(1)
      |    visits: bigint(20)
      |""".stripMargin

  test("full pipeline: snapshot, orphan delete, then streamed changes land in the sink") {
    MemJdbc.reset("repl")
    val cfg = ConfigParser.parse(configText)
    val repl = new Replicator(spark, cfg, MemJdbc.UrlPrefix + "repl", new Properties())
    val users = cfg.table("users").get

    // D1: reconcile against an empty catalog (DDL is interpreted by a real
    // RDBMS; MemJdbc only accepts the statements — plan content is
    // golden-tested in SchemaSyncSpec/d1_schema_plan)
    val plan = repl.reconcileSchema(Map.empty, force = false)
    assert(plan.ddl.head == SchemaSync.CreateTable("users"))

    // B: snapshot from a "source collection" frame (nested cfg struct)
    val source = Seq(
      ("u1", "ann", true, 3L),
      ("u2", "bob", false, 5L),
      ("u9", "zoe", true, 9L))
      .toDF("_id", "name", "pub", "visits")
      .select(col("_id"), col("name"), struct(col("pub")).as("cfg"), col("visits"))
    repl.snapshot(users, source)
    assert(MemJdbc.table("repl", "users").keySet == Set("u1", "u2", "u9"))
    assert(MemJdbc.table("repl", "users")("u1")("cfg_pub") == true)

    // J1: u9 no longer exists at the source → deleted from the sink
    repl.deleteOrphans(users,
      sourceIds = Seq("u1", "u2").toDF("_id"),
      sinkIds = Seq("u1", "u2", "u9").toDF("_id"))
    assert(MemJdbc.table("repl", "users").keySet == Set("u1", "u2"))

    // C: continuous replication from oplog segments
    val segDir = tempDir("graft_repl_seg")
    val ckpt = tempDir("graft_repl_ckpt")
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      // partial update: only visits changes, name/cfg_pub survive
      """{"op":"u","ns":"app.users","ts":101,"o":{"$set":{"visits":4}},"o2":{"_id":"u1"}}""",
      // two ops on the same key in one batch: applied in ts order
      """{"op":"u","ns":"app.users","ts":102,"o":{"$set":{"name":"anne"}},"o2":{"_id":"u1"}}""",
      // $unset nulls the column
      """{"op":"u","ns":"app.users","ts":103,"o":{"$unset":{"name":1}},"o2":{"_id":"u2"}}""",
      // fresh insert with nested doc
      """{"op":"i","ns":"app.users","ts":104,"o":{"_id":"u3","name":"cat","cfg":{"pub":true},"visits":1}}""",
      // whole-SUBDOC unset: removed carries the parent name "cfg", and
      // the apply must null the flattened child column cfg_pub too
      """{"op":"u","ns":"app.users","ts":107,"o":{"$unset":{"cfg":1}},"o2":{"_id":"u1"}}""",
      // delete
      """{"op":"d","ns":"app.users","ts":105,"o":{"_id":"u2"}}""",
      // non-replicated table: ignored
      """{"op":"i","ns":"app.other","ts":106,"o":{"_id":"x"}}""")
      .mkString("\n").getBytes("UTF-8"))

    val q = repl.startStream(segDir, ckpt)
    q.processAllAvailable()
    q.stop()

    val t = MemJdbc.table("repl", "users")
    assert(t.keySet == Set("u1", "u3"))
    assert(t("u1")("visits") == 4L)     // partial update applied
    assert(t("u1")("name") == "anne")   // second op on same key applied after first
    assert(t("u1")("cfg_pub") == null,  // ts=107 whole-subdoc unset of cfg
      "parent unset must null the flattened child column")
    assert(t("u3")("name") == "cat" && t("u3")("cfg_pub") == true && t("u3")("visits") == 1L)
    // C1: offset co-committed = max ts of the batch. The ts=106 entry is
    // for a non-replicated ns, filtered at the SOURCE (like the
    // reference's pushed `$in ns` query, mongo.go:462-492), so the
    // checkpoint is the last replicated entry's ts.
    val stored = MemJdbc.table("repl", UpsertWriter.StateTable)("timestamp")("value")
    assert(new String(stored.asInstanceOf[Array[Byte]], "UTF-8") == "107")

    // a segment of pure garbage must dead-letter (with the raw line
    // preserved) and must NOT regress the committed offset
    Files.write(Paths.get(segDir, "seg1.json"),
      "utter garbage not json\n".getBytes("UTF-8"))
    val q2 = repl.startStream(segDir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val after = MemJdbc.table("repl", UpsertWriter.StateTable)("timestamp")("value")
    assert(new String(after.asInstanceOf[Array[Byte]], "UTF-8") == "107")
    val dl = spark.read.parquet(s"$ckpt/dead_letter/batch=1")
      .select("fields_json").collect().map(_.getString(0))
    assert(dl.exists(_.contains("utter garbage")))
  }

  test("a query reads the stored offset once; a restarted query reads it again and skips below it") {
    MemJdbc.reset("replo")
    val cfg = ConfigParser.parse(configText.replace("graftmem:repl", "graftmem:replo"))
    val url = MemJdbc.UrlPrefix + "replo"
    val repl = new Replicator(spark, cfg, url, new Properties(), CountingDialect)
    repl.reconcileSchema(Map.empty, force = false)
    val segDir = tempDir("graft_offset_seg")
    val ckpt = tempDir("graft_offset_ckpt")
    def segment(name: String, lines: String*): Unit =
      Files.write(Paths.get(segDir, name), lines.mkString("\n").getBytes("UTF-8"))
    def offset: String = new String(MemJdbc.table("replo", UpsertWriter.StateTable)("timestamp")("value")
      .asInstanceOf[Array[Byte]], "UTF-8")
    CountingDialect.reset()

    // two batches in one query: one offset read, each batch commits
    segment("seg0.json", """{"op":"i","ns":"app.users","ts":101,"o":{"_id":"u1","name":"ann"}}""")
    val q1 = repl.startStream(segDir, ckpt)
    q1.processAllAvailable()
    segment("seg1.json", """{"op":"u","ns":"app.users","ts":102,"o":{"$set":{"visits":2}},"o2":{"_id":"u1"}}""")
    q1.processAllAvailable()
    q1.stop()
    assert(offset == "102")
    assert(CountingDialect.count("readOffset") == 1)

    // the sink's offset moved past what this checkpoint has seen (a run
    // that committed it, then crashed before its streaming commit): the
    // restarted query must read it and skip the op strictly below it
    val conn = MemJdbc.connect("replo")
    conn.setAutoCommit(false)
    UpsertWriter.commitOffset(conn, 110L, CountingDialect)
    conn.commit()
    segment("seg2.json",
      """{"op":"u","ns":"app.users","ts":105,"o":{"$set":{"name":"stale"}},"o2":{"_id":"u1"}}""",
      """{"op":"u","ns":"app.users","ts":110,"o":{"$set":{"visits":10}},"o2":{"_id":"u1"}}""")
    val q2 = repl.startStream(segDir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(CountingDialect.count("readOffset") == 2)
    val u1 = MemJdbc.table("replo", "users")("u1")
    assert(u1("name") == "ann", "the op below the stored offset was applied")
    assert(u1("visits") == 10L, "the op at the stored offset re-applies")
    assert(offset == "110")
  }

  test("scalar $unset never nulls an underscore-named sibling column (ADVICE r15)") {
    // `status` (scalar) and `status_code` are DISTINCT top-level source
    // fields whose sink names collide on the `status_` prefix with the
    // flattened children a subtree unset must null. The dotted-path
    // removal contract disambiguates: unset of scalar `status` touches
    // only `status`; unset of subdoc `cfg` still nulls child `cfg_pub`.
    MemJdbc.reset("replu")
    val cfgText =
      """inp: mongodb://localhost:27017/app
        |out: jdbc:graftmem:replu
        |tables:
        |  users:
        |    status: varchar(20)
        |    status_code: bigint(20)
        |    cfg.pub: tinyint(1)
        |""".stripMargin
    val cfg = ConfigParser.parse(cfgText)
    val repl = new Replicator(spark, cfg, MemJdbc.UrlPrefix + "replu", new Properties())
    repl.reconcileSchema(Map.empty, force = false)
    val segDir = tempDir("graft_unset_seg")
    val ckpt = tempDir("graft_unset_ckpt")
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      """{"op":"i","ns":"app.users","ts":1,"o":{"_id":"u1","status":"ok","status_code":200,"cfg":{"pub":true}}}""",
      // scalar unset: only `status` nulls; status_code must SURVIVE
      """{"op":"u","ns":"app.users","ts":2,"o":{"$unset":{"status":1}},"o2":{"_id":"u1"}}""",
      // subtree unset still expands to the flattened child
      """{"op":"u","ns":"app.users","ts":3,"o":{"$unset":{"cfg":1}},"o2":{"_id":"u1"}}""")
      .mkString("\n").getBytes("UTF-8"))
    val q = repl.startStream(segDir, ckpt)
    q.processAllAvailable()
    q.stop()
    val row = MemJdbc.table("replu", "users")("u1")
    assert(row("status") == null, "scalar unset must null its own column")
    assert(row("status_code") == 200L,
      "scalar unset of `status` corrupted sibling `status_code`")
    assert(row("cfg_pub") == null, "subtree unset must still null flattened children")
  }
}
