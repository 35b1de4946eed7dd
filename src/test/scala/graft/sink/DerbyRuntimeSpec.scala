package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties

import graft.{Replicator, SparkSpec, TempDirs}
import graft.config.ConfigParser
import org.apache.spark.sql.functions._

/** W3/C1 EXECUTED against a real SQL engine: embedded Apache Derby (in the
  * Spark distribution, zero extra deps) parses, plans, and transactionally
  * executes every statement [[DerbyDialect]] emits — upsert-as-MERGE,
  * keyed delete, state-table bootstrap, offset co-commit — through the
  * exact same runtime path (`UpsertWriter.writeBatch`,
  * `Replicator.applyBatch`, `startStream`) the MySQL dialect drives. This
  * closes the "no RDBMS has ever executed the generated SQL" gap: the
  * grammar goldens pin the MySQL text, and this spec proves the shared
  * writer machinery (statement cache, shape batching, bind order, replay
  * guard, offset round-trip) against an engine that actually enforces
  * types, constraints, and transactions. */
class DerbyRuntimeSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val db = "memory:graftderby"
  private val url = s"jdbc:derby:$db;create=true"
  private val props = new Properties()

  private val configText =
    """inp: mongodb://localhost:27017/app
      |out: jdbc:derby:memory:graftderby
      |tables:
      |  users:
      |    name: varchar(100)
      |    visits: bigint(20)
      |""".stripMargin

  private def withConn[A](f: java.sql.Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def dropTable(name: String): Unit = withConn { conn =>
    try conn.prepareStatement(s"""DROP TABLE "$name"""").executeUpdate()
    catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
  }

  private def freshTable(spec: graft.config.TableSpec): Unit = {
    dropTable(spec.name)
    dropTable(UpsertWriter.StateTable)
    withConn(_.prepareStatement(DerbyDialect.createTableSql(spec)).executeUpdate())
  }

  private def readTable(name: String, cols: Seq[String]): Map[String, Seq[Any]] =
    withConn { conn =>
      val collist = cols.map(c => s""""$c"""").mkString(", ")
      val rs = conn.prepareStatement(
        s"""SELECT "_id", $collist FROM "$name"""").executeQuery()
      val out = scala.collection.mutable.Map.empty[String, Seq[Any]]
      while (rs.next()) out(rs.getString(1)) = cols.indices.map(i => rs.getObject(i + 2))
      out.toMap
    }

  test("full pipeline on Derby: snapshot, orphan delete, streamed CDC apply, offset co-commit") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    freshTable(users)
    val repl = new Replicator(spark, cfg, url, props, DerbyDialect)

    // B: snapshot — MERGE executed by Derby, batched per partition
    val source = Seq(
      ("u1", "ann", 3L), ("u2", "bob", 5L), ("u9", "zoe", 9L))
      .toDF("_id", "name", "visits")
    repl.snapshot(users, source)
    assert(readTable("users", Seq("name", "visits")).keySet == Set("u1", "u2", "u9"))

    // snapshot is IDEMPOTENT on a real engine: re-run converges (MERGE
    // takes the matched branch), no duplicate-key failure
    repl.snapshot(users, source)
    val afterResnap = readTable("users", Seq("name", "visits"))
    assert(afterResnap("u1") == Seq("ann", 3L))

    // J1: orphan delete executed
    repl.deleteOrphans(users,
      sourceIds = Seq("u1", "u2").toDF("_id"),
      sinkIds = Seq("u1", "u2", "u9").toDF("_id"))
    assert(readTable("users", Seq("name")).keySet == Set("u1", "u2"))

    // C: streamed CDC apply — partial update preserves untouched columns,
    // $unset nulls via typed setNull, per-key order holds, delete lands
    val segDir = tempDir("graft_derby_seg")
    val ckpt = tempDir("graft_derby_ckpt")
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      """{"op":"u","ns":"app.users","ts":101,"o":{"$set":{"visits":4}},"o2":{"_id":"u1"}}""",
      """{"op":"u","ns":"app.users","ts":102,"o":{"$set":{"name":"anne"}},"o2":{"_id":"u1"}}""",
      """{"op":"u","ns":"app.users","ts":103,"o":{"$unset":{"name":1}},"o2":{"_id":"u2"}}""",
      """{"op":"i","ns":"app.users","ts":104,"o":{"_id":"u3","name":"cat","visits":1}}""",
      """{"op":"d","ns":"app.users","ts":105,"o":{"_id":"u2"}}"""
    ).mkString("\n").getBytes("UTF-8"))

    val q = repl.startStream(segDir, ckpt)
    q.processAllAvailable()
    q.stop()

    val t = readTable("users", Seq("name", "visits"))
    assert(t.keySet == Set("u1", "u3"))
    assert(t("u1") == Seq("anne", 4L)) // both partials applied, in ts order
    assert(t("u3") == Seq("cat", 1L))
    // C1: offset co-committed and readable through the dialect
    assert(withConn(UpsertWriter.readOffset(_, DerbyDialect)).contains(105L))

    // restart from the same checkpoint with a new segment: only the new
    // op applies; replay guard reads the REAL stored offset
    Files.write(Paths.get(segDir, "seg1.json"), Seq(
      """{"op":"u","ns":"app.users","ts":106,"o":{"$set":{"visits":7}},"o2":{"_id":"u3"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val q2 = repl.startStream(segDir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(readTable("users", Seq("name", "visits"))("u3") == Seq("cat", 7L))
    assert(withConn(UpsertWriter.readOffset(_, DerbyDialect)).contains(106L))
  }

  test("a failed orphan delete rolls back and surfaces its own error (FK violation)") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    dropTable("visit_log")
    freshTable(users)
    val repl = new Replicator(spark, cfg, url, props, DerbyDialect)
    repl.snapshot(users, Seq(("u1", "ann", 1L), ("u2", "bob", 2L), ("u3", "cat", 3L))
      .toDF("_id", "name", "visits"))
    // a child row pins orphan u3: deleting it violates the foreign key
    withConn { conn =>
      conn.prepareStatement(
        """CREATE TABLE "visit_log" ("id" INTEGER NOT NULL PRIMARY KEY, """ +
          """"user_id" VARCHAR(24) REFERENCES "users" ("_id"))""").executeUpdate()
      conn.prepareStatement("""INSERT INTO "visit_log" VALUES (1, 'u3')""").executeUpdate()
    }
    try {
      val e = intercept[Exception] {
        repl.deleteOrphans(users, sourceIds = Seq("u1").toDF("_id"),
          sinkIds = Seq("u1", "u2", "u3").toDF("_id"))
      }
      val states = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collect { case s: java.sql.SQLException => s.getSQLState }.toSeq
      assert(states.headOption.contains("23503"),
        s"the FK violation must surface, not a close over an open transaction: $states")
      // the partition's transaction rolled back: no orphan was deleted
      assert(readTable("users", Seq("name")).keySet == Set("u1", "u2", "u3"))
    } finally dropTable("visit_log")
  }

  test("quality quarantine: violating upserts diverted, offset passes them, readmit recovers") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    freshTable(users)
    withConn { conn => DerbyDialect.ensureStateTable(conn) }
    val qDir = tempDir("graft_quarantine")

    // admission rule: visits must be <= 100 when present (NULL admits —
    // partials legally omit the field)
    val rule = get_json_object(col("fields_json"), "$.visits").cast("long") <= 100L
    val batch = Seq(
      ("upsert", "users", 10L, "ok", """{"name":"fine","visits":5}""", false, Seq.empty[String], 0),
      ("upsert", "users", 11L, "bad", """{"name":"junk","visits":999999}""", false, Seq.empty[String], 0),
      ("upsert", "users", 12L, "ok", """{"name":"fine2"}""", true, Seq.empty[String], 0), // partial, no visits → admits
      ("delete", "users", 13L, "gone", "", false, Seq.empty[String], 0))
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")

    val maxTs = Replicator.applyBatch(batch, Seq(users), url, props,
      dialect = DerbyDialect, batchId = 7L,
      quarantineDir = Some(qDir), quarantineRule = Some(rule))
    // offset passes the quarantined row (it is durably stored first)
    assert(maxTs.contains(13L))
    val t = readTable("users", Seq("name", "visits"))
    assert(t.keySet == Set("ok"), s"violating row must not reach the sink: $t")
    assert(t("ok") == Seq("fine2", 5L))
    // the quarantine store holds exactly the violating row, idempotently
    val q = spark.read.parquet(qDir)
    assert(q.select("id").as[String].collect().toSeq == Seq("bad"))
    Replicator.applyBatch(batch, Seq(users), url, props,
      dialect = DerbyDialect, batchId = 7L,
      quarantineDir = Some(qDir), quarantineRule = Some(rule)) // crash-window replay
    assert(spark.read.parquet(qDir).count() == 1, "replay must not duplicate quarantine rows")

    // upstream fixed / rule relaxed: re-admission drives the stored rows
    // through the same idempotent apply
    val re = Replicator.readmitQuarantine(spark, qDir, Seq(users), url, props,
      dialect = DerbyDialect)
    assert(re.contains(11L))
    val t2 = readTable("users", Seq("name", "visits"))
    assert(t2.keySet == Set("ok", "bad"))
    assert(t2("bad") == Seq("junk", 999999L))
  }

  test("mixed batch: dead letters written, below-cut rows skipped, offset over applied and quarantined rows") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    freshTable(users)
    val dlDir = tempDir("graft_dead")
    val qDir = tempDir("graft_quarantine")
    val rule = get_json_object(col("fields_json"), "$.visits").cast("long") <= 100L
    val batch = Seq(
      // a payload-parse dead letter keeps its ts; it never moves the offset
      ("dead_letter", "users", 99L, null: String, "raw {", false, Seq.empty[String], 0),
      ("upsert", "users", 5L, "old", """{"name":"stale","visits":1}""", false, Seq.empty[String], 0),
      ("upsert", "users", 6L, "oldbad", """{"name":"stale","visits":500}""", false, Seq.empty[String], 0),
      ("upsert", "users", 10L, "a", """{"name":"at-cut","visits":1}""", false, Seq.empty[String], 0),
      ("upsert", "users", 12L, "b", """{"name":"ok","visits":2}""", false, Seq.empty[String], 0),
      ("delete", "users", 13L, "gone", "", false, Seq.empty[String], 0),
      ("upsert", "users", 14L, "bad", """{"name":"junk","visits":999}""", false, Seq.empty[String], 0))
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")

    val maxTs = Replicator.applyBatch(batch, Seq(users), url, props,
      deadLetterDir = Some(dlDir), batchId = 4L, skipBelowTs = 10L, dialect = DerbyDialect,
      quarantineDir = Some(qDir), quarantineRule = Some(rule))
    assert(maxTs.contains(14L), "offset = max over applied and quarantined rows")
    assert(readTable("users", Seq("name", "visits")) ==
      Map("a" -> Seq("at-cut", 1L), "b" -> Seq("ok", 2L)))
    val dead = spark.read.parquet(s"$dlDir/batch=4")
    assert(dead.select("fields_json").as[String].collect().toSeq == Seq("raw {"))
    // below-cut rows are neither applied nor quarantined
    assert(spark.read.parquet(qDir).select("id").as[String].collect().toSeq == Seq("bad"))
  }

  test("MERGE replay is idempotent: re-applying an applied batch converges (crash window)") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    freshTable(users)
    withConn { conn => DerbyDialect.ensureStateTable(conn) }

    // a decoded batch in the applyBatch row contract:
    // (kind, tbl, ts, id, fields_json, partial, removed, seq)
    def batch = Seq(
      ("upsert", "users", 10L, "a", """{"name":"x","visits":1}""", false, Seq.empty[String], 0),
      ("upsert", "users", 11L, "a", """{"visits":2}""", true, Seq.empty[String], 0),
      ("delete", "users", 12L, "zz", "", false, Seq.empty[String], 0))
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")

    val first = Replicator.applyBatch(batch, Seq(users), url, props, dialect = DerbyDialect)
    assert(first.contains(12L))
    assert(readTable("users", Seq("name", "visits"))("a") == Seq("x", 2L))

    // crash between data-commit and offset-commit → foreachBatch replays
    // the SAME batch: idempotent MERGE converges to the identical state
    val again = Replicator.applyBatch(batch, Seq(users), url, props, dialect = DerbyDialect)
    assert(again.contains(12L))
    assert(readTable("users", Seq("name", "visits")) ==
      Map("a" -> Seq("x", 2L)))
  }

  test("offset round-trip: bootstrap is idempotent, commit overwrites, bytes parse back") {
    withConn { conn =>
      try conn.prepareStatement(s"""DROP TABLE "${UpsertWriter.StateTable}"""").executeUpdate()
      catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
      // absent state table → None (Derby 42X05 maps to the syntax class)
      assert(UpsertWriter.readOffset(conn, DerbyDialect).isEmpty)
      DerbyDialect.ensureStateTable(conn)
      DerbyDialect.ensureStateTable(conn) // second bootstrap is a no-op
      assert(UpsertWriter.readOffset(conn, DerbyDialect).isEmpty) // no row yet
      UpsertWriter.commitOffset(conn, 41L, DerbyDialect)
      assert(UpsertWriter.readOffset(conn, DerbyDialect).contains(41L))
      UpsertWriter.commitOffset(conn, 42L, DerbyDialect) // MATCHED branch
      assert(UpsertWriter.readOffset(conn, DerbyDialect).contains(42L))
    }
  }

  test("key-only upsert (empty present set) inserts the key and is a no-op on match") {
    val cfg = ConfigParser.parse(configText)
    val users = cfg.table("users").get
    freshTable(users)
    def touch = Seq(("upsert", "users", 20L, "k1", "{}", true, Seq.empty[String], 0))
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")
    Replicator.applyBatch(touch, Seq(users), url, props, dialect = DerbyDialect)
    assert(readTable("users", Seq("name", "visits"))("k1") == Seq(null, null))
    // fill the row, then key-touch again: values must survive
    def fill = Seq(("upsert", "users", 21L, "k1", """{"name":"n","visits":9}""", true, Seq.empty[String], 0))
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")
    Replicator.applyBatch(fill, Seq(users), url, props, dialect = DerbyDialect)
    Replicator.applyBatch(touch, Seq(users), url, props, dialect = DerbyDialect)
    assert(readTable("users", Seq("name", "visits"))("k1") == Seq("n", 9L))
  }

  test("D1 executed: plan against a drifted catalog, apply on Derby, re-plan converges") {
    // the full SyncTablesConfig loop (mysql.go:146-290) run END TO END on
    // a real engine: stray table dropped, stray column dropped, type
    // mismatch destructively migrated, missing column added, missing
    // table created — then the re-observed catalog plans to a no-op
    // (reorders only — the reference reorders unconditionally and Derby
    // cannot express column order; no creates/drops/adds, no resync).
    val cfgText =
      """inp: mongodb://localhost:27017/app
        |out: jdbc:derby:memory:graftderby
        |tables:
        |  accounts:
        |    name: varchar(100)
        |    visits: bigint
        |    score: double
        |  items:
        |    qty: integer
        |""".stripMargin
    val cfg = ConfigParser.parse(cfgText)
    withConn { conn =>
      // drifted start: a stray table; accounts with a stray column, a
      // type-mismatched column (visits as varchar), and score missing
      Seq("old_junk", "accounts", "items").foreach { t =>
        try conn.prepareStatement(s"""DROP TABLE "$t"""").executeUpdate()
        catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
      }
      conn.prepareStatement(
        """CREATE TABLE "old_junk" ("_id" VARCHAR(24) NOT NULL PRIMARY KEY)""").executeUpdate()
      conn.prepareStatement(
        """CREATE TABLE "accounts" ("_id" VARCHAR(24) NOT NULL PRIMARY KEY,
          |"name" VARCHAR(100), "stray" INTEGER, "visits" VARCHAR(50))""".stripMargin
        .replaceAll("\n", " ")).executeUpdate()
      conn.prepareStatement(
        """INSERT INTO "accounts" ("_id", "name", "stray", "visits")
          |VALUES ('a1', 'ann', 7, 'x')""".stripMargin.replaceAll("\n", " ")).executeUpdate()

      val observed = DerbyDialect.observeCatalog(conn)
      // without force the destructive plan REFUSES (mysql.go:167-169)
      intercept[SchemaSync.ForceRequired] {
        SchemaSync.plan(cfg, observed, force = false)
      }
      val p = SchemaSync.plan(cfg, observed, force = true)
      assert(p.ddl.exists { case SchemaSync.DropTable("old_junk") => true; case _ => false })
      assert(p.ddl.exists { case SchemaSync.DropColumn("accounts", "stray") => true; case _ => false })
      assert(p.ddl.exists { case SchemaSync.CreateTable("items", _) => true; case _ => false })
      // visits is a destructive type migration → drop + re-add + resync
      assert(p.resyncColumns("accounts").contains("visits"))
      assert(p.resyncColumns("accounts").contains("score"))

      val executed = SchemaSync.execute(conn, DerbyDialect, p)
      assert(executed > 0)

      // converged: re-plan against the re-observed catalog is reorders only
      val p2 = SchemaSync.plan(cfg, DerbyDialect.observeCatalog(conn), force = false)
      assert(p2.ddl.forall(_.isInstanceOf[SchemaSync.ReorderColumn]),
        s"re-plan must converge to reorders only, got ${p2.ddl}")
      assert(p2.resyncColumns.isEmpty, "converged catalog must need no resync")

      // non-destructive DDL preserved the surviving data
      val rs = conn.prepareStatement(
        """SELECT "name", "visits", "score" FROM "accounts" WHERE "_id" = 'a1'""").executeQuery()
      assert(rs.next())
      assert(rs.getString(1) == "ann")
      assert(rs.getObject(2) == null, "migrated column restarts NULL pending resync")
      assert(rs.getObject(3) == null, "added column starts NULL pending resync")
    }
  }

  test("destructive type migration executed in isolation: data loss, resync trigger, refill") {
    // The most dangerous DDL branch (mysql.go:223-236) driven END TO END
    // on its own: a single declared-type change on an otherwise in-sync,
    // populated table. The plan must refuse without force, name exactly
    // the retyped column in both the DDL and the resync set, Derby must
    // actually recreate it (every row's old value GONE, siblings intact),
    // and the returned resync set must drive a re-snapshot that refills
    // the column with values of the NEW type (run.go:178-200 consuming
    // mysql.go:147-148).
    val cfgOld = ConfigParser.parse(
      """inp: mongodb://localhost:27017/app
        |out: jdbc:derby:memory:graftderby
        |tables:
        |  ledger:
        |    name: varchar(100)
        |    visits: bigint
        |""".stripMargin)
    val cfgNew = ConfigParser.parse(
      """inp: mongodb://localhost:27017/app
        |out: jdbc:derby:memory:graftderby
        |tables:
        |  ledger:
        |    name: varchar(100)
        |    visits: varchar(50)
        |""".stripMargin)
    val specOld = cfgOld.table("ledger").get
    val specNew = cfgNew.table("ledger").get
    // tests share the in-memory Derby database: clear EVERY other table
    // the live catalog reports (not a hard-coded sibling list — a new
    // test's table must not resurrect the stray-table branch here) so
    // only the type-change branch can fire
    withConn { conn =>
      DerbyDialect.observeCatalog(conn).keys
        .filter(_ != UpsertWriter.StateTable).foreach { t =>
          try conn.prepareStatement(s"""DROP TABLE "$t"""").executeUpdate()
          catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
        }
    }
    freshTable(specOld)
    val repl = new Replicator(spark, cfgOld, url, props, DerbyDialect)
    repl.snapshot(specOld, Seq(("l1", "ann", 3L), ("l2", "bob", 5L))
      .toDF("_id", "name", "visits"))
    assert(readTable("ledger", Seq("name", "visits")) ==
      Map("l1" -> Seq("ann", 3L), "l2" -> Seq("bob", 5L)))

    withConn { conn =>
      val observed = DerbyDialect.observeCatalog(conn)
      // refused without force, and the refusal names the column
      val refusal = intercept[SchemaSync.ForceRequired] {
        SchemaSync.plan(cfgNew, observed, force = false)
      }
      assert(refusal.getMessage.contains("visits"))

      val p = SchemaSync.plan(cfgNew, observed, force = true)
      // the destructive pair, nothing else structural: drop + re-add of
      // exactly the retyped column (reorders are the cosmetic tail)
      val structural = p.ddl.filterNot(_.isInstanceOf[SchemaSync.ReorderColumn])
      assert(structural == Seq(
        SchemaSync.DropColumn("ledger", "visits"),
        SchemaSync.AddColumn("ledger", "visits", "varchar(50)")),
        s"expected exactly the drop+re-add pair, got $structural")
      assert(p.resyncColumns == Map("ledger" -> Set("visits")))

      assert(SchemaSync.execute(conn, DerbyDialect, p) == 2)

      // data loss is REAL on the engine: every row's visits is NULL, the
      // sibling column survived
      val t = readTable("ledger", Seq("name", "visits"))
      assert(t == Map("l1" -> Seq("ann", null), "l2" -> Seq("bob", null)))

      // converged: re-plan under the new config is reorders only
      val p2 = SchemaSync.plan(cfgNew, DerbyDialect.observeCatalog(conn), force = false)
      assert(p2.ddl.forall(_.isInstanceOf[SchemaSync.ReorderColumn]))
      assert(p2.resyncColumns.isEmpty)
    }

    // the returned resync set triggers the targeted re-snapshot, which
    // refills the recreated column with NEW-type values
    assert(specNew.columns.map(_.sinkName).toSet
      .intersect(Map("ledger" -> Set("visits"))("ledger")).nonEmpty)
    val replNew = new Replicator(spark, cfgNew, url, props, DerbyDialect)
    replNew.snapshot(specNew, Seq(("l1", "ann", "3"), ("l2", "bob", "5"))
      .toDF("_id", "name", "visits"))
    assert(readTable("ledger", Seq("name", "visits")) ==
      Map("l1" -> Seq("ann", "3"), "l2" -> Seq("bob", "5")))

    // the Replicator's own reconcile entry point speaks the sink's
    // grammar (renderDdl), so it runs on Derby too: the converged
    // catalog plans to reorders only, which Derby skips as cosmetic
    val p3 = replNew.reconcileSchema(
      withConn(DerbyDialect.observeCatalog(_)), force = false)
    assert(p3.resyncColumns.isEmpty)
    assert(readTable("ledger", Seq("name", "visits"))("l1") == Seq("ann", "3"))
  }
}
