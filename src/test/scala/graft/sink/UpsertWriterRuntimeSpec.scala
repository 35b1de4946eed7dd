package graft.sink

import graft.{SparkSpec, TempDirs}
import graft.config.{ColumnSpec, TableSpec}

import java.util.Properties

/** Runtime coverage of W1/W3/C1: the REAL writeBatch path (executor
  * partitions → DriverManager → prepared statement batches → per-partition
  * transaction) against the in-memory JDBC double. */
class UpsertWriterRuntimeSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  val spec = TableSpec("users", Seq(
    ColumnSpec("name", "varchar(100)"),
    ColumnSpec("visits", "bigint(20)")))

  test("writeBatch upserts a DataFrame through real JDBC machinery") {
    MemJdbc.reset("db1")
    val df = Seq(("u1", "ann", 1L), ("u2", "bob", 2L)).toDF("_id", "name", "visits")
      .repartition(3) // exercise multiple partitions incl. empty ones
    UpsertWriter.writeBatch(df, spec, MemJdbc.UrlPrefix + "db1", new Properties())
    assert(MemJdbc.table("db1", "users") == Map(
      "u1" -> Map("_id" -> "u1", "name" -> "ann", "visits" -> 1L),
      "u2" -> Map("_id" -> "u2", "name" -> "bob", "visits" -> 2L)))
  }

  test("replaying the same batch is idempotent; later batch updates win") {
    MemJdbc.reset("db2")
    val df = Seq(("u1", "ann", 1L)).toDF("_id", "name", "visits")
    val url = MemJdbc.UrlPrefix + "db2"
    UpsertWriter.writeBatch(df, spec, url, new Properties())
    UpsertWriter.writeBatch(df, spec, url, new Properties()) // replay
    assert(MemJdbc.table("db2", "users").size == 1)
    val df2 = Seq(("u1", "anne", 5L)).toDF("_id", "name", "visits")
    UpsertWriter.writeBatch(df2, spec, url, new Properties())
    assert(MemJdbc.table("db2", "users")("u1")("name") == "anne")
  }

  test("snapshot and orphan delete run the shared writer: one statement, a flush per 1000 rows") {
    MemJdbc.reset("db8")
    val url = MemJdbc.UrlPrefix + "db8"
    val n = 2500
    val rows = (1 to n).map(i => (s"u$i", s"n$i", i.toLong)).toDF("_id", "name", "visits")
      .repartition(1)
    UpsertWriter.writeBatch(rows, spec, url, new Properties())
    val snap = MemJdbc.stats("db8")
    assert((snap("prepare"), snap("executeBatch"), snap("addBatch")) == ((1, 3, n)))
    assert(MemJdbc.table("db8", "users").size == n)

    // u0 is the one source key: every other sink key is an orphan
    val repl = new graft.Replicator(spark,
      graft.config.MappingConfig("mongodb://localhost/app", url, Seq(spec)), url, new Properties())
    repl.deleteOrphans(spec, sourceIds = Seq("u0").toDF("_id"),
      sinkIds = (0 to n).map(i => s"u$i").toDF("_id").repartition(1))
    val del = MemJdbc.stats("db8")
    assert((del("prepare") - snap("prepare"), del("executeBatch") - snap("executeBatch"),
      del("addBatch") - snap("addBatch")) == ((1, 3, n)))
    assert(MemJdbc.table("db8", "users").isEmpty)
  }

  // decoded-batch frame in ChangeFeed.decode's column order
  private def decodedDf(rows: Seq[(String, String, Long, String, String, Boolean, Seq[String], String, Int)]) =
    rows.toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "reason", "seq")

  // 100 full-image upserts on one table = ONE statement shape
  private val fullImages = (1 to 100).map(i =>
    ("upsert", "users", i.toLong, s"u$i",
      s"""{"name":"n$i","visits":$i}""", false, Seq.empty[String], null: String, 0))

  test("applyBatch reuses prepared statements and batches runs (mysql.go:410-415 parity)") {
    MemJdbc.reset("db4")
    val url = MemJdbc.UrlPrefix + "db4"
    graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url, new Properties())
    val st = MemJdbc.stats("db4")
    assert(st.getOrElse("executeUpdate", 0) == 0,  "no per-op round-trips")
    assert(st("addBatch") == 100,                  "every op batched")
    // ≤ one prepare and one flush per non-empty partition (4 shuffle parts)
    assert(st("prepare") <= 4, s"statement reuse: prepared ${st("prepare")} for 100 ops")
    assert(st("executeBatch") <= 4, s"run batching: ${st("executeBatch")} flushes for 100 ops")
    assert(MemJdbc.table("db4", "users").size == 100)
  }

  test("applyBatch renders each statement shape once per non-empty partition") {
    MemJdbc.reset("db9")
    val url = MemJdbc.UrlPrefix + "db9"
    CountingDialect.reset()
    graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url, new Properties(),
      dialect = CountingDialect)
    val st = MemJdbc.stats("db9")
    // one prepare per non-empty partition: each rendered the one shape once
    assert(CountingDialect.count("upsert") == st("prepare") && st("prepare") <= 4)
    val dels = (1 to 100).map(i =>
      ("delete", "users", 200L + i, s"u$i", null: String, false, Seq.empty[String], null: String, 0))
    CountingDialect.reset()
    graft.Replicator.applyBatch(decodedDf(dels), Seq(spec), url, new Properties(),
      dialect = CountingDialect)
    assert(CountingDialect.count("delete") == 1, "a table's delete is rendered once per batch")
    assert(CountingDialect.count("upsert") == 0 && MemJdbc.table("db9", "users").isEmpty)
  }

  test("applyBatch plan is batch-invariant: a new replay cut compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    MemJdbc.reset("db10")
    val url = MemJdbc.UrlPrefix + "db10"
    graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url, new Properties(),
      skipBelowTs = 5L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mx = graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url, new Properties(),
      skipBelowTs = 50L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second cut compiled new code")
    assert(mx.contains(100L))
    assert(MemJdbc.stats("db10")("addBatch") == 96 + 51, "the guard skips ops below each cut")
  }

  test("quarantine write is batch-invariant: a new replay cut compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, get_json_object}
    MemJdbc.reset("db12")
    val url = MemJdbc.UrlPrefix + "db12"
    val qDir = tempDir("graft_quarantine")
    // every tenth image violates the rule
    val rule = get_json_object(col("fields_json"), "$.visits").cast("long") % 10L =!= 0L
    def applyAt(batchId: Long, cut: Long) =
      graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url, new Properties(),
        batchId = batchId, skipBelowTs = cut,
        quarantineDir = Some(qDir), quarantineRule = Some(rule))
    applyAt(1L, 5L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mx = applyAt(2L, 50L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second cut compiled new code")
    assert(mx.contains(100L))
    def stored(batchId: Long) =
      spark.read.parquet(s"$qDir/batch=$batchId").select("ts").as[Long].collect().sorted.toSeq
    // below-cut rows stay out of the store
    assert(stored(1L) == (10L to 100L by 10L))
    assert(stored(2L) == (50L to 100L by 10L))
  }

  /** Runs `body` in a job group; its result and, per job it ran, the task
    * count of each of the job's stages, in stage order. */
  private def jobsOf[A](body: => A): (A, Seq[Seq[Int]]) = {
    val group = "graft-apply-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks)): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "apply")
    val a = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    (a, jobs.toArray(Array.empty[Seq[Int]]).toSeq)
  }

  test("a batch without dead letters is one Spark action and writes no dead-letter directory") {
    MemJdbc.reset("db11")
    val url = MemJdbc.UrlPrefix + "db11"
    val batch = decodedDf(fullImages)
    val deadLetters = tempDir("graft_dl")
    val (mx, jobs) = jobsOf(graft.Replicator.applyBatch(batch, Seq(spec), url, new Properties(),
      deadLetterDir = Some(deadLetters), batchId = 3L))
    // with AQE the one action is two jobs: the shuffle map stage, the result
    val expected = if (spark.conf.get("spark.sql.adaptive.enabled").toBoolean) 2 else 1
    assert(jobs.size == expected, s"${jobs.size} jobs for one batch")
    assert(mx.contains(100L))
    assert(!new java.io.File(s"$deadLetters/batch=3").exists)
    assert(MemJdbc.table("db11", "users").size == 100)
  }

  // the shuffle exchanges of the frame the apply writes, by partition count
  private def exchangeWidths(dialect: SqlDialect): Seq[Int] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val plan = UpsertWriter.forWriters(decodedDf(fullImages), dialect,
      key = Seq(col("tbl"), col("id")), order = Seq(col("ts"), col("seq")))
      .queryExecution.executedPlan
    new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e.numPartitions }
  }

  test("the apply's exchange is as wide as the sink's writer cap; one writer means none") {
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(exchangeWidths(MySqlDialect) == Seq(shufflePartitions), "uncapped: keyed exchange")
    assert(exchangeWidths(WriterCapDialect(3)) == Seq(3))
    assert(exchangeWidths(OneWriterDialect).isEmpty)
  }

  test("a one-writer sink applies a batch in one job of one stage") {
    MemJdbc.reset("db14")
    val url = MemJdbc.UrlPrefix + "db14"
    // three input partitions, coalesced into the writer's one task
    val batch = spark.sparkContext.parallelize(fullImages, 3)
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "reason", "seq")
    val (mx, jobs) = jobsOf(graft.Replicator.applyBatch(batch, Seq(spec), url, new Properties(),
      dialect = OneWriterDialect))
    assert(jobs == Seq(Seq(1)), s"jobs (tasks per stage): $jobs")
    assert(mx.contains(100L))
    val st = MemJdbc.stats("db14")
    assert((st("prepare"), st("executeBatch"), st("addBatch")) == ((1, 1, 100)))
    assert(MemJdbc.table("db14", "users").size == 100)
  }

  test("a capped sink applies a batch in as many write tasks as its cap") {
    MemJdbc.reset("db15")
    val url = MemJdbc.UrlPrefix + "db15"
    val (mx, jobs) = jobsOf(graft.Replicator.applyBatch(decodedDf(fullImages), Seq(spec), url,
      new Properties(), dialect = WriterCapDialect(3)))
    assert(jobs.last.last == 3, s"jobs (tasks per stage): $jobs")
    assert(mx.contains(100L))
    assert(MemJdbc.stats("db15")("prepare") <= 3)
    assert(MemJdbc.table("db15", "users").size == 100)
  }

  test("a key's four ops fold to one DELETE: 1 prepare, 1 addBatch") {
    MemJdbc.reset("db5")
    val url = MemJdbc.UrlPrefix + "db5"
    // one key, alternating shapes: partial(name) → partial(visits) →
    // partial(name) → delete; the sequential result must be just the delete
    val ops = Seq(
      ("upsert", "users", 1L, "k", """{"name":"a"}""", true, Seq.empty[String], null: String, 0),
      ("upsert", "users", 2L, "k", """{"visits":7}""", true, Seq.empty[String], null: String, 0),
      ("upsert", "users", 3L, "k", """{"name":"b"}""", true, Seq.empty[String], null: String, 0),
      ("delete", "users", 4L, "k", null: String, false, Seq.empty[String], null: String, 0))
    graft.Replicator.applyBatch(decodedDf(ops), Seq(spec), url, new Properties())
    val st = MemJdbc.stats("db5")
    assert(MemJdbc.table("db5", "users").isEmpty, "trailing delete wins → key absent")
    // the key's four ops fold to its one net write, the DELETE
    assert(st("prepare") == 1, s"prepared ${st("prepare")}, want 1")
    assert(st("addBatch") == 1)
  }

  test("applyBatch batches by statement: interleaved shapes flush once per statement per applyBatchSize rows") {
    MemJdbc.reset("db13")
    val url = MemJdbc.UrlPrefix + "db13"
    // 5000 keys, sorted so that consecutive keys take different net shapes:
    // partial(name), partial(visits), full image, delete
    val n = 5000
    val ops = (0 until n).flatMap { i =>
      val id = f"k$i%05d"
      def op(ts: Long, kind: String, json: String, partial: Boolean) =
        (kind, "users", ts, id, json, partial, Seq.empty[String], null: String, 0)
      i % 4 match {
        case 0 => Seq(op(1, "upsert", """{"name":"a"}""", true), op(2, "upsert", """{"name":"b"}""", true))
        case 1 => Seq(op(1, "upsert", """{"visits":1}""", true), op(2, "upsert", """{"visits":2}""", true))
        case 2 => Seq(op(1, "upsert", """{"name":"a","visits":1}""", false),
          op(2, "upsert", """{"visits":3}""", true))
        case _ => Seq(op(1, "upsert", """{"name":"a"}""", false), op(2, "delete", null, false))
      }
    }
    graft.Replicator.applyBatch(decodedDf(ops), Seq(spec), url, new Properties(),
      dialect = OneWriterDialect)
    val st = MemJdbc.stats("db13")
    val perStatement = n / 4
    assert(st("prepare") == 4, "one prepared statement per net shape")
    assert(st("addBatch") == n, "one net write per key")
    val bound = 4 * math.ceil(perStatement.toDouble / UpsertWriter.applyBatchSize).toInt
    assert(st("executeBatch") <= bound, s"${st("executeBatch")} flushes, want at most $bound")
    val t = MemJdbc.table("db13", "users")
    assert(t.size == 3 * perStatement)
    assert(t("k00000")("name") == "b" && t("k00001")("visits") == 2L && t("k00002")("visits") == 3L)
    assert(!t.contains("k00003"))
  }

  test("applyBatch skipBelowTs drops strictly-older ops; boundary ts re-applies") {
    MemJdbc.reset("db6")
    val url = MemJdbc.UrlPrefix + "db6"
    val ops = Seq(
      ("upsert", "users", 10L, "a", """{"name":"old"}""", true, Seq.empty[String], null: String, 0),
      ("upsert", "users", 20L, "a", """{"name":"new"}""", true, Seq.empty[String], null: String, 0))
    val mx = graft.Replicator.applyBatch(decodedDf(ops), Seq(spec), url,
      new Properties(), skipBelowTs = 11L)
    assert(mx.contains(20L))
    assert(MemJdbc.table("db6", "users")("a")("name") == "new")
    // boundary ts is NOT skipped: a later entry may share the stored ts,
    // and re-applying the already-seen sibling is idempotent
    MemJdbc.reset("db6")
    val boundary = graft.Replicator.applyBatch(decodedDf(ops), Seq(spec), url,
      new Properties(), skipBelowTs = 20L)
    assert(boundary.contains(20L))
    assert(MemJdbc.table("db6", "users")("a")("name") == "new")
    // everything strictly below the cut: nothing applied, no offset
    MemJdbc.reset("db6")
    val none = graft.Replicator.applyBatch(decodedDf(ops), Seq(spec), url,
      new Properties(), skipBelowTs = 21L)
    assert(none.isEmpty && MemJdbc.table("db6", "users").isEmpty)
  }

  test("readOffset round-trips through commitOffset; absent table → None") {
    MemJdbc.reset("db7")
    val conn = MemJdbc.connect("db7")
    assert(UpsertWriter.readOffset(conn).isEmpty)
    conn.setAutoCommit(false)
    MySqlDialect.ensureStateTable(conn)
    UpsertWriter.commitOffset(conn, 777L)
    conn.commit()
    assert(UpsertWriter.readOffset(conn).contains(777L))
    // every statement on this reused connection was closed
    val st = MemJdbc.stats("db7")
    assert(st("close") == st("prepare"), s"leaked statements: $st")
  }

  test("offset co-commits transactionally with data (C1)") {
    MemJdbc.reset("db3")
    val conn = MemJdbc.connect("db3")
    conn.setAutoCommit(false)
    UpsertWriter.commitOffset(conn, 12345L)
    // not visible before commit
    assert(MemJdbc.table("db3", UpsertWriter.StateTable).isEmpty)
    conn.commit()
    val stored = MemJdbc.table("db3", UpsertWriter.StateTable)("timestamp")("value")
    assert(new String(stored.asInstanceOf[Array[Byte]], "UTF-8") == "12345")
    // rollback path discards
    UpsertWriter.commitOffset(conn, 99999L)
    conn.rollback()
    conn.commit()
    val after = MemJdbc.table("db3", UpsertWriter.StateTable)("timestamp")("value")
    assert(new String(after.asInstanceOf[Array[Byte]], "UTF-8") == "12345")
  }

  // ---- Statement-class coverage table -------------------------------
  //
  // Every statement class the MySqlDialect emits, its golden-pinned
  // MySQL grammar marker, and its Derby-EXECUTED analog — run right
  // here against embedded Derby so "no real MySQL in the sandbox" never
  // leaves a statement class that only a golden string has seen:
  //
  //   | class              | MySQL grammar (goldens)      | executed analog     |
  //   |--------------------|------------------------------|---------------------|
  //   | upsert-full        | INSERT…ON DUPLICATE KEY…     | Derby MERGE (here)  |
  //   | upsert-partial     | ODKU subset assignments      | Derby MERGE (here)  |
  //   | upsert-key-only    | ODKU pk=VALUES(pk) no-op     | MERGE w/o MATCHED   |
  //   | delete             | DELETE WHERE pk=?            | same class (here)   |
  //   | offset-upsert      | ODKU on state table          | Derby MERGE (here)  |
  //   | read-offset        | SELECT value WHERE name=…    | executed (here)     |
  //   | ensure-state       | CREATE TABLE IF NOT EXISTS   | create-or-swallow   |
  //   | ddl-create-table   | CREATE TABLE `t` (…)         | executed (here)     |
  //   | ddl-drop-table     | DROP TABLE `t`               | executed (here)     |
  //   | ddl-add-column     | ALTER…ADD COLUMN             | executed (here)     |
  //   | ddl-drop-column    | ALTER…DROP COLUMN            | executed+RESTRICT   |
  //   | ddl-reorder-column | ALTER…CHANGE…AFTER           | INERT BY DESIGN     |
  //
  // ReorderColumn is the one deliberate hole: column order carries no
  // data semantics (the reference reorders unconditionally,
  // mysql.go:267-285), Derby cannot express it, and DerbyRuntimeSpec's
  // D1 test proves the plan still CONVERGES with reorders skipped — so
  // its executed analog is the proof that skipping is safe, not a
  // statement. The DDL arm below is an EXHAUSTIVE match on the sealed
  // Ddl trait: a new DDL class fails this test until it is added to the
  // table with an executed analog or a documented exemption.
  test("statement-class coverage: every MySqlDialect statement class executes on Derby") {
    val url = "jdbc:derby:memory:graftcov;create=true"
    val conn = java.sql.DriverManager.getConnection(url, new Properties())
    try {
      val cov = TableSpec("cov_users", Seq(
        ColumnSpec("name", "varchar(100)"), ColumnSpec("visits", "bigint")))
      def exec(st: SinkStatement, vals: Map[String, Any]): Unit = {
        val ps = conn.prepareStatement(st.sql)
        try {
          st.params.zipWithIndex.foreach { case (c, i) =>
            ps.setObject(i + 1, vals(c))
          }
          ps.executeUpdate()
        } finally ps.close()
      }
      def row(id: String): Option[(String, Any)] = {
        val ps = conn.prepareStatement(
          """SELECT "name", "visits" FROM "cov_users" WHERE "_id" = ?""")
        try {
          ps.setString(1, id)
          val rs = ps.executeQuery()
          if (rs.next()) Some((rs.getString(1), rs.getObject(2))) else None
        } finally ps.close()
      }
      def ddlClass(d: SchemaSync.Ddl): String = d match { // EXHAUSTIVE (sealed)
        case _: SchemaSync.CreateTable => "ddl-create-table"
        case _: SchemaSync.DropTable => "ddl-drop-table"
        case _: SchemaSync.AddColumn => "ddl-add-column"
        case _: SchemaSync.DropColumn => "ddl-drop-column"
        case _: SchemaSync.ReorderColumn => "ddl-reorder-column"
      }
      def runDdl(d: SchemaSync.Ddl): Unit = {
        assert(MySqlDialect.renderDdl(d).contains(d.sql)) // grammar verbatim
        conn.prepareStatement(DerbyDialect.renderDdl(d).get).executeUpdate()
      }

      // ddl-create-table + ddl-add-column (executed; grammar pinned)
      try conn.prepareStatement("""DROP TABLE "cov_users"""").executeUpdate()
      catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
      runDdl(SchemaSync.CreateTable("cov_users", "_id"))
      runDdl(SchemaSync.AddColumn("cov_users", "name", "varchar(100)"))
      runDdl(SchemaSync.AddColumn("cov_users", "visits", "bigint"))

      // upsert-full: insert, then conflicting re-upsert must UPDATE
      assert(MySqlDialect.upsertAll(cov).sql.contains("ON DUPLICATE KEY UPDATE"))
      exec(DerbyDialect.upsertAll(cov),
        Map("_id" -> "u1", "name" -> "ann", "visits" -> 3L))
      exec(DerbyDialect.upsertAll(cov),
        Map("_id" -> "u1", "name" -> "anne", "visits" -> 5L))
      assert(row("u1").contains(("anne", 5L)))

      // upsert-partial: only the present column changes, siblings survive
      assert(UpsertWriter.partialUpsertSql(cov, Seq("name"))
        .contains("`name`=VALUES(`name`)"))
      exec(DerbyDialect.upsert(cov, Seq("name")),
        Map("_id" -> "u1", "name" -> "annette"))
      assert(row("u1").contains(("annette", 5L)))

      // upsert-key-only: inserts the bare key; a replay is a no-op
      exec(DerbyDialect.upsert(cov, Seq.empty), Map("_id" -> "u2"))
      exec(DerbyDialect.upsert(cov, Seq.empty), Map("_id" -> "u2"))
      assert(row("u2").contains((null, null)))

      // delete
      assert(UpsertWriter.deleteSql(cov).startsWith("DELETE FROM `cov_users`"))
      exec(DerbyDialect.delete(cov), Map("_id" -> "u2"))
      assert(row("u2").isEmpty)

      // ensure-state (idempotent), offset-upsert, read-offset
      DerbyDialect.ensureStateTable(conn)
      DerbyDialect.ensureStateTable(conn)
      assert(UpsertWriter.offsetUpsertSql.contains("ON DUPLICATE KEY UPDATE"))
      UpsertWriter.commitOffset(conn, 42L, DerbyDialect)
      UpsertWriter.commitOffset(conn, 43L, DerbyDialect) // MATCHED branch
      assert(UpsertWriter.readOffset(conn, DerbyDialect).contains(43L))

      // ddl-drop-column, ddl-drop-table (executed)
      runDdl(SchemaSync.DropColumn("cov_users", "visits"))
      runDdl(SchemaSync.DropTable("cov_users"))

      // ddl-reorder-column: MySQL renders CHANGE…AFTER verbatim; Derby is
      // inert BY DESIGN (convergence with reorders skipped is proven by
      // DerbyRuntimeSpec's D1 test)
      val ro = SchemaSync.ReorderColumn("cov_users", "name", "varchar(100)", "_id")
      assert(MySqlDialect.renderDdl(ro).exists(s =>
        s.contains("CHANGE") && s.contains("AFTER")))
      assert(DerbyDialect.renderDdl(ro).isEmpty)

      // the DDL table is complete: every sealed subclass has a row above
      assert(Seq(
        SchemaSync.CreateTable("t"), SchemaSync.DropTable("t"),
        SchemaSync.AddColumn("t", "c", "bigint"),
        SchemaSync.DropColumn("t", "c"),
        SchemaSync.ReorderColumn("t", "c", "bigint", "p"))
        .map(ddlClass).toSet == Set(
          "ddl-create-table", "ddl-drop-table", "ddl-add-column",
          "ddl-drop-column", "ddl-reorder-column"))
    } finally conn.close()
  }
}

/** [[MySqlDialect]] over at most `cap` writer connections. */
private case class WriterCapDialect(cap: Int) extends SqlDialect {
  override def name: String = s"mysql-$cap-writers"
  override def upsert(spec: TableSpec, present: Seq[String]): SinkStatement =
    MySqlDialect.upsert(spec, present)
  override def delete(spec: TableSpec): SinkStatement = MySqlDialect.delete(spec)
  override def offsetUpsert: SinkStatement = MySqlDialect.offsetUpsert
  override def readOffsetSql: String = MySqlDialect.readOffsetSql
  override def ensureStateTable(conn: java.sql.Connection): Unit = MySqlDialect.ensureStateTable(conn)
  override def renderDdl(ddl: SchemaSync.Ddl): Option[String] = MySqlDialect.renderDdl(ddl)
  override def maxWriteConnections: Option[Int] = Some(cap)
}

/** [[MySqlDialect]] over a single writer connection, as Derby's cap makes it:
  * the whole batch is one partition, so its flushes can be counted. */
private object OneWriterDialect extends WriterCapDialect(1)
