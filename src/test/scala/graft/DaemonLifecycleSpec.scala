package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.config.{ConfigParser, TableSpec}
import graft.sink.{MemJdbc, UpsertWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The orchestrated lifecycle (`Replicator.run` ≡ `run.go:79-335`) end to
  * end against the in-memory sink: from-scratch snapshot with offset
  * pinning, conf-change targeted resync that must NOT advance the offset,
  * steady-state runs that snapshot nothing, and `zerop` forcing a full
  * resync. */
class DaemonLifecycleSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val Db = "lifecycle"

  private def config(extraCol: Boolean = false) = ConfigParser.parse(
    s"""inp: mongodb://localhost:27017/app
       |out: ${MemJdbc.UrlPrefix}$Db
       |tables:
       |  users:
       |    name: varchar(100)
       |${if (extraCol) "    visits: bigint(20)\n" else ""}""".stripMargin)

  private def sourceUsers(withVisits: Boolean): TableSpec => DataFrame = { _ =>
    val base = Seq(("u1", "ann", 3L), ("u2", "bob", 5L))
      .toDF("_id", "name", "visits")
    if (withVisits) base else base.drop("visits")
  }

  private def sinkIdsFrom(db: String): TableSpec => DataFrame = { spec =>
    MemJdbc.table(db, spec.name).keys.toSeq.toDF(spec.pk)
  }

  private def storedOffset: Option[Long] =
    MemJdbc.table(Db, UpsertWriter.StateTable).get(UpsertWriter.OffsetKey)
      .map(r => new String(r("value").asInstanceOf[Array[Byte]], "UTF-8").toLong)

  test("run(): from-scratch → conf-change resync → steady state → zerop (run.go:79-335)") {
    MemJdbc.reset(Db)
    val segDir = tempDir("graft_daemon_seg")
    val ckpt1 = tempDir("graft_daemon_ckpt1")

    // ---- phase 1: from scratch (no stored offset) -----------------------
    // two segment entries exist BEFORE the snapshot: their ts pins the
    // offset, and the snapshot is assumed consistent with that pin (D2)
    Files.write(Paths.get(segDir, "seg0.json"), Seq(
      """{"op":"u","ns":"app.users","ts":101,"o":{"$set":{"name":"early"}},"o2":{"_id":"u1"}}""",
      """{"op":"u","ns":"app.users","ts":105,"o":{"$set":{"name":"late"}},"o2":{"_id":"u1"}}""")
      .mkString("\n").getBytes("UTF-8"))

    var snapshots = 0
    val repl1 = new Replicator(spark, config(), MemJdbc.UrlPrefix + Db, new Properties())
    val q1 = repl1.run(
      observed = Map.empty,
      snapshotSource = spec => { snapshots += 1; sourceUsers(withVisits = false)(spec) },
      sinkIds = sinkIdsFrom(Db),
      segmentsDir = segDir, checkpointDir = ckpt1)
    q1.processAllAvailable(); q1.stop()

    assert(snapshots == 1, "from-scratch: every declared table snapshots once")
    assert(MemJdbc.table(Db, "users").keySet == Set("u1", "u2"))
    // ops STRICTLY below the pin (ts=101) are not replayed over the
    // snapshot; the op AT the pin (ts=105) re-applies — by design, since
    // a later entry may share the boundary ts. In a consistent deployment
    // the snapshot already reflects the pin-ts op, so the re-application
    // is a no-op; this fixture's source deliberately disagrees ("ann")
    // to make the boundary re-application observable.
    assert(MemJdbc.table(Db, "users")("u1")("name") == "late")
    // offset was pinned at the feed head read before the snapshot
    assert(storedOffset.contains(105L))

    // ---- phase 2: restart with an ADDED column → targeted resync --------
    // stored offset is non-zero, so NOT from scratch; the plan's
    // resync_columns (visits) trigger a users re-snapshot, and the offset
    // must NOT move (run.go:283-288: a conf-change restart still has to
    // replay feed entries missed while stopped)
    val observed1 = Map("users" -> Seq("_id" -> "varchar(24)", "name" -> "varchar(100)"))
    var snapshots2 = 0
    val ckpt2 = tempDir("graft_daemon_ckpt2")
    val repl2 = new Replicator(spark, config(extraCol = true), MemJdbc.UrlPrefix + Db, new Properties())
    val q2 = repl2.run(
      observed = observed1,
      snapshotSource = spec => { snapshots2 += 1; sourceUsers(withVisits = true)(spec) },
      sinkIds = sinkIdsFrom(Db),
      segmentsDir = segDir, checkpointDir = ckpt2)
    q2.processAllAvailable(); q2.stop()

    assert(snapshots2 == 1, "added column → its table resyncs")
    assert(MemJdbc.table(Db, "users")("u2")("visits") == 5L, "new column backfilled")
    assert(storedOffset.contains(105L), "conf-change resync must not advance the offset")

    // ---- phase 3: steady state — nothing to resync, stream picks up new
    // segment entries past the stored offset -----------------------------
    Files.write(Paths.get(segDir, "seg1.json"), Seq(
      """{"op":"u","ns":"app.users","ts":200,"o":{"$set":{"visits":9}},"o2":{"_id":"u1"}}""")
      .mkString("\n").getBytes("UTF-8"))
    val observed2 = Map("users" -> Seq(
      "_id" -> "varchar(24)", "name" -> "varchar(100)", "visits" -> "bigint(20)"))
    var snapshots3 = 0
    val ckpt3 = tempDir("graft_daemon_ckpt3")
    val repl3 = new Replicator(spark, config(extraCol = true), MemJdbc.UrlPrefix + Db, new Properties())
    val q3 = repl3.run(
      observed = observed2,
      snapshotSource = spec => { snapshots3 += 1; sourceUsers(withVisits = true)(spec) },
      sinkIds = sinkIdsFrom(Db),
      segmentsDir = segDir, checkpointDir = ckpt3)
    q3.processAllAvailable(); q3.stop()

    assert(snapshots3 == 0, "in-sync catalog + offset present → no snapshot at all")
    assert(MemJdbc.table(Db, "users")("u1")("visits") == 9L, "tail applied the new entry")
    assert(storedOffset.contains(200L))

    // ---- phase 4: --zerop forces from-scratch even with an offset -------
    var snapshots4 = 0
    val ckpt4 = tempDir("graft_daemon_ckpt4")
    val repl4 = new Replicator(spark, config(extraCol = true), MemJdbc.UrlPrefix + Db, new Properties())
    val q4 = repl4.run(
      observed = observed2,
      snapshotSource = spec => { snapshots4 += 1; sourceUsers(withVisits = true)(spec) },
      sinkIds = sinkIdsFrom(Db),
      segmentsDir = segDir, checkpointDir = ckpt4,
      zerop = true)
    q4.processAllAvailable(); q4.stop()
    assert(snapshots4 == 1, "zerop: full resync despite stored offset")
    assert(storedOffset.contains(200L), "zerop re-pins at the feed head")
    // the snapshot rewrote from source (visits=3), then the boundary-ts
    // op (ts=200 = the new pin) re-applied its $set visits=9 — same
    // boundary contract as phase 1
    assert(MemJdbc.table(Db, "users")("u1")("visits") == 9L,
      "zerop snapshot + boundary-ts re-application")
  }

  test("crash mid-snapshot keeps offset at 0, so restart redoes the snapshot") {
    val Db2 = "lifecycle_crash"
    MemJdbc.reset(Db2)
    val segDir = tempDir("graft_crash_seg")
    Files.write(Paths.get(segDir, "seg0.json"),
      """{"op":"u","ns":"app.users","ts":50,"o":{"$set":{"name":"x"}},"o2":{"_id":"u1"}}"""
        .getBytes("UTF-8"))
    val twoTables = ConfigParser.parse(
      s"""inp: mongodb://localhost:27017/app
         |out: ${MemJdbc.UrlPrefix}$Db2
         |tables:
         |  users:
         |    name: varchar(100)
         |  orders:
         |    total: double
         |""".stripMargin)
    def frames(failOrders: Boolean): TableSpec => DataFrame = { spec =>
      if (spec.name == "orders") {
        if (failOrders) throw new RuntimeException("source died mid-snapshot")
        Seq(("o1", 9.5)).toDF("_id", "total")
      } else Seq(("u1", "ann")).toDF("_id", "name")
    }
    def offsetOf: Option[Long] =
      MemJdbc.table(Db2, UpsertWriter.StateTable).get(UpsertWriter.OffsetKey)
        .map(r => new String(r("value").asInstanceOf[Array[Byte]], "UTF-8").toLong)

    val repl = new Replicator(spark, twoTables, MemJdbc.UrlPrefix + Db2, new Properties())
    intercept[RuntimeException] {
      repl.run(Map.empty, frames(failOrders = true),
        sinkIdsFrom(Db2), segDir,
        tempDir("graft_crash_ck1"))
    }
    // the pin must NOT have been committed before the failed snapshot:
    // a non-zero offset here would make the restart skip orders forever
    assert(offsetOf.isEmpty || offsetOf.contains(0L),
      s"offset committed before snapshot completion: $offsetOf")

    // restart observes the real catalog (the DDL from run 1 committed);
    // re-planning from it must not re-create existing tables
    val observed = Daemon.observedCatalog(MemJdbc.connect(Db2))
    val q = repl.run(observed, frames(failOrders = false),
      sinkIdsFrom(Db2), segDir,
      tempDir("graft_crash_ck2"))
    q.processAllAvailable(); q.stop()
    assert(MemJdbc.table(Db2, "users").keySet == Set("u1"))
    assert(MemJdbc.table(Db2, "orders").keySet == Set("o1"))
    assert(offsetOf.contains(50L)) // pinned only after all tables snapshotted
  }

  test("soak: CDC replication while all five index families run maintenance in the same session") {
    // The deployment shape where the CDC apply and the index lifecycles
    // share one cluster: Replicator.run rounds tail the feed on one
    // thread while each persisted index family (gram log, LSH, PQ, BM25, IVF)
    // runs its own build → append/refresh → compact → probe loop on its
    // own thread against the SAME SparkSession. Each family has a single
    // writer on its own root, so no manifest conflict is legitimate —
    // any ConcurrentModificationException (or anything else) crossing a
    // thread boundary fails the test, and every path's final state must
    // equal its isolated-run twin (sink rows byte-equal, every index
    // probe-equal to a from-scratch rebuild on the final corpus).
    import graft.operators.{Dedup, Retrieval, Similarity}
    val Db3 = "lifecycle_soak"
    MemJdbc.reset(Db3)
    val segDir = tempDir("graft_soak_seg")
    val roots = (1 to 5).map(_ => tempDir("graft_soak_idx"))
    val errors = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()

    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, s"alpha beta w$i gamma delta text number ${i % 7} tail"))
      .toDF("doc_id", "text")
    def embDf(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")

    val cdc = new Thread(() => try {
      // round 0 is the from-scratch snapshot; rounds 1..3 are steady-state
      // tails of freshly appended segments
      Files.write(Paths.get(segDir, "seg0.json"),
        """{"op":"u","ns":"app.users","ts":101,"o":{"$set":{"name":"v0"}},"o2":{"_id":"u1"}}"""
          .getBytes("UTF-8"))
      val repl = new Replicator(spark, config(), MemJdbc.UrlPrefix + Db3, new Properties())
      val q0 = repl.run(Map.empty, sourceUsers(withVisits = false),
        sinkIdsFrom(Db3), segDir,
        tempDir("graft_soak_ck0"))
      q0.processAllAvailable(); q0.stop()
      for (r <- 1 to 3) {
        Files.write(Paths.get(segDir, s"seg$r.json"),
          s"""{"op":"u","ns":"app.users","ts":${200 + r},"o":{"$$set":{"name":"v$r"}},"o2":{"_id":"u1"}}"""
            .getBytes("UTF-8"))
        val observed = Daemon.observedCatalog(MemJdbc.connect(Db3))
        val q = repl.run(observed, sourceUsers(withVisits = false),
          sinkIdsFrom(Db3), segDir,
          tempDir(s"graft_soak_ck$r"))
        q.processAllAvailable(); q.stop()
      }
    } catch { case t: Throwable => errors.add(t): Unit })

    val bm25 = new Thread(() => try {
      val root = roots(0)
      Retrieval.buildIndexM(docsDf(0 until 20), "doc_id", "text", root)
      for (r <- 0 until 3) {
        Retrieval.appendIndexM(
          docsDf(20 + r * 5 until 25 + r * 5), "doc_id", "text", root)
        Retrieval.compactIndexM(spark, root)
        Retrieval.bm25ProbeM(spark, root, Seq((1, "alpha w3")), k = 3).count()
      }
      Retrieval.refreshIndexM(docsDf(0 until 35), "doc_id", "text", root)
    } catch { case t: Throwable => errors.add(t): Unit })

    val lsh = new Thread(() => try {
      val root = roots(1)
      Dedup.buildLshIndexDigestedM(docsDf(0 until 20), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4, root)
      for (r <- 0 until 3) {
        Dedup.refreshLshIndexM(docsDf(0 until 25 + r * 5), "text", "doc_id",
          shingleN = 3, k = 8, bands = 4, root)
        Dedup.compactLshIndexM(spark, root)
        val (b, s) = Dedup.readLshIndexM(spark, root)
        b.count(); s.count()
      }
    } catch { case t: Throwable => errors.add(t): Unit })

    val pq = new Thread(() => try {
      val root = roots(2)
      val cb = Similarity.pqCodebook(embDf(0 until 16), "vec_id", "embedding",
        m = 2, dsub = 4).localCheckpoint()
      Similarity.buildPqIndexM(embDf(0 until 20), cb, "vec_id", "embedding",
        m = 2, dsub = 4, root)
      for (r <- 0 until 3) {
        Similarity.appendPqIndexM(embDf(0 until 25 + r * 5), "vec_id", "embedding",
          m = 2, dsub = 4, root)
        Similarity.compactPqIndexM(spark, root)
        Similarity.pqProbeM(embDf(0 until 2), "vec_id", "embedding",
          k = 3, m = 2, dsub = 4, root).count()
      }
      Similarity.refreshPqIndexM(embDf(0 until 35), "vec_id", "embedding",
        m = 2, dsub = 4, root)
    } catch { case t: Throwable => errors.add(t): Unit })

    val gram = new Thread(() => try {
      val root = roots(3)
      Dedup.buildGramIndexM(docsDf(0 until 20), "doc_id", "text",
        gramChars = 10, root)
      for (r <- 0 until 3) {
        Dedup.appendGramIndexM(docsDf(20 + r * 5 until 25 + r * 5),
          "doc_id", "text", gramChars = 10, root)
        Dedup.compactGramIndexM(spark, root)
        Dedup.readGramIndexM(spark, root).count()
      }
    } catch { case t: Throwable => errors.add(t): Unit })

    val ivf = new Thread(() => try {
      val root = roots(4)
      val cen = embDf(0 until 16)
      Similarity.buildIvfIndexM(embDf(0 until 20), cen, "vec_id", "embedding", root)
      for (r <- 0 until 3) {
        Similarity.appendIvfIndexM(embDf(0 until 25 + r * 5), "vec_id", "embedding", root)
        Similarity.compactIvfIndexM(spark, root)
        Similarity.ivfProbeM(embDf(0 until 2), "vec_id", "embedding",
          k = 3, nProbe = 2, root).count()
      }
      Similarity.refreshIvfIndexM(embDf(0 until 35), "vec_id", "embedding", root)
    } catch { case t: Throwable => errors.add(t): Unit })

    val threads = Seq(cdc, bm25, lsh, pq, gram, ivf)
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    assert(threads.forall(!_.isAlive), "soak thread wedged past the timeout")
    assert(errors.isEmpty, s"exceptions leaked across the soak: ${
      errors.toArray.toSeq.map(_.toString).mkString("; ")}")

    // CDC final state: last round's op applied, offset at its ts
    assert(MemJdbc.table(Db3, "users")("u1")("name") == "v3")
    assert(MemJdbc.table(Db3, UpsertWriter.StateTable).get(UpsertWriter.OffsetKey)
      .map(r => new String(r("value").asInstanceOf[Array[Byte]], "UTF-8").toLong)
      .contains(203L))

    // every index family's final state ≡ a from-scratch build on the
    // final corpus (fresh roots, isolated)
    val fin = tempDir("graft_soak_fin")
    Retrieval.buildIndexM(docsDf(0 until 35), "doc_id", "text", s"$fin/bm25")
    val probeSoak = Retrieval.bm25ProbeM(spark, roots(0), Seq((1, "alpha w3"), (2, "delta tail")), 3)
      .collect().map(_.toString).sorted.toSeq
    val probeFresh = Retrieval.bm25ProbeM(spark, s"$fin/bm25", Seq((1, "alpha w3"), (2, "delta tail")), 3)
      .collect().map(_.toString).sorted.toSeq
    assert(probeSoak == probeFresh)

    Dedup.buildLshIndexDigestedM(docsDf(0 until 35), "text", "doc_id", 3, 8, 4, s"$fin/lsh")
    val (sb, ss) = Dedup.readLshIndexM(spark, roots(1))
    val (fb, fs) = Dedup.readLshIndexM(spark, s"$fin/lsh")
    assert(ss.collect().map(_.toString).sorted.toSeq == fs.collect().map(_.toString).sorted.toSeq)
    assert(sb.collect().map(_.toString).sorted.toSeq == fb.collect().map(_.toString).sorted.toSeq)

    val cbFin = Similarity.pqCodebook(embDf(0 until 16), "vec_id", "embedding", 2, 4)
      .localCheckpoint()
    Similarity.buildPqIndexM(embDf(0 until 35), cbFin, "vec_id", "embedding", 2, 4, s"$fin/pq")
    val pqSoak = Similarity.pqProbeM(embDf(0 until 3), "vec_id", "embedding", 3, 2, 4, roots(2))
      .collect().map(_.toString).sorted.toSeq
    val pqFresh = Similarity.pqProbeM(embDf(0 until 3), "vec_id", "embedding", 3, 2, 4, s"$fin/pq")
      .collect().map(_.toString).sorted.toSeq
    assert(pqSoak == pqFresh)

    Dedup.buildGramIndexM(docsDf(0 until 35), "doc_id", "text", 10, s"$fin/gram")
    val gramSoak = Dedup.readGramIndexM(spark, roots(3))
      .collect().map(_.toString).sorted.toSeq
    val gramFresh = Dedup.readGramIndexM(spark, s"$fin/gram")
      .collect().map(_.toString).sorted.toSeq
    assert(gramSoak == gramFresh)

    Similarity.buildIvfIndexM(embDf(0 until 35), embDf(0 until 16),
      "vec_id", "embedding", s"$fin/ivf")
    val ivfSoak = Similarity.ivfProbeM(embDf(0 until 3), "vec_id", "embedding",
        3, 2, roots(4)).collect().map(_.toString).sorted.toSeq
    val ivfFresh = Similarity.ivfProbeM(embDf(0 until 3), "vec_id", "embedding",
        3, 2, s"$fin/ivf").collect().map(_.toString).sorted.toSeq
    assert(ivfSoak == ivfFresh)
  }

  test("parseArgs: reference flags and positional paths (run.go:38-63)") {
    val a = Daemon.parseArgs(Array(
      "conf.yml", "/snap", "/seg", "/ckpt", "--force", "--zerop", "--out=jdbc:x"))
    assert(a == Daemon.Args("conf.yml", "/snap", "/seg", "/ckpt",
      inp = None, out = Some("jdbc:x"), force = true, zerop = true))
    intercept[IllegalArgumentException](Daemon.parseArgs(Array("onlyone")))
    intercept[IllegalArgumentException](
      Daemon.parseArgs(Array("c", "s", "g", "k", "--bogus")))
  }
}
