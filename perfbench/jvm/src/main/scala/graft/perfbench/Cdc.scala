package graft.perfbench

import java.io.{File, FileWriter, PrintWriter}
import java.sql.{Connection, DriverManager, SQLException}
import java.time.Instant
import java.util.Properties

import scala.jdk.CollectionConverters._

import graft.Replicator
import graft.config.{ConfigParser, MappingConfig, TableSpec}
import graft.sink.{DerbyDialect, UpsertWriter}
import graft.sources.ChangeFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The CDC workloads: `Replicator.run` with `DerbyDialect` into embedded,
  * in-memory Derby, fed by segments that run.py publishes. This JVM reports
  * every micro-batch to run.py (progress file) and, at the end, the sink's
  * content; run.py owns the generator, the reference model and the checks. */
object Cdc {

  private def withConn[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () } // a successful drop reports 08006

  /** A fresh in-memory database; with `stale`, the declared tables already
    * exist and hold the given rows, which the initial sync must repair. */
  private def bootstrap(db: String, cfg: MappingConfig,
      stale: Option[Map[String, Seq[java.util.Map[String, AnyRef]]]]): Unit =
    withConn(s"jdbc:derby:memory:$db;create=true") { conn =>
      stale.foreach { rowsByTable =>
        conn.setAutoCommit(false)
        cfg.tables.foreach { spec =>
          conn.createStatement().executeUpdate(DerbyDialect.createTableSql(spec))
          val cols = spec.pk +: spec.columns.map(_.sinkName)
          val st = conn.prepareStatement(
            s"""INSERT INTO "${spec.name}" (${cols.map("\"" + _ + "\"").mkString(", ")}) """ +
              s"VALUES (${cols.map(_ => "?").mkString(", ")})")
          val types = st.getParameterMetaData
          rowsByTable.getOrElse(spec.name, Nil).foreach { row =>
            cols.zipWithIndex.foreach { case (cn, i) =>
              row.get(cn) match {
                case null => st.setNull(i + 1, types.getParameterType(i + 1))
                case v    => st.setObject(i + 1, v)
              }
            }
            st.addBatch()
          }
          st.executeBatch()
        }
        conn.commit()
      }
    }

  /** One line per micro-batch: when it ended, the newest segment it covered,
    * the stored offset after it, and (traced) Spark's own phase timings. */
  final class ProgressWriter(path: String, sinkUrl: String) extends StreamingQueryListener {
    private val out = new PrintWriter(new FileWriter(path, true))
    /** The earlier set-up repetitions' streams stop before this listener is
      * added, but their events may still be on the way: only the first query
      * started after the listener is reported. */
    @volatile private var queryId: java.util.UUID = _

    private def emit(m: Map[String, Any]): Unit = synchronized {
      out.println(Io.json(m)); out.flush()
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (queryId == null) queryId = e.id
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.id == queryId) emit(Map("terminated" -> true, "error" -> e.exception.orNull))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id != queryId) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch")) {
        val start = Instant.parse(p.timestamp).toEpochMilli
        val files = p.sources.headOption.map(s =>
          Io.mapper.readValue(s.endOffset, classOf[java.util.Map[String, AnyRef]])
            .keySet.asScala.map(f => new File(new java.net.URI(f).getPath).getName))
          .getOrElse(Set.empty[String])
        val stored = withConn(sinkUrl)(UpsertWriter.readOffset(_, DerbyDialect))
        emit(Map(
          "batch" -> p.batchId, "start_ms" -> start,
          "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
          "last" -> (if (files.isEmpty) None else Some(files.max)),
          "rows" -> p.numInputRows, "offset" -> stored.map(_.toString),
          "cpu_ns" -> Meter.cpuNs(), "jdbc" -> CountingJdbc.snapshot(), "durations" -> d))
      }
    }
  }

  def run(c: Conf): Map[String, Any] = {
    val t0 = Meter.now()
    val runDir = c.str("run_dir")
    val trace = c.bool("trace")
    // graft.Daemon's shuffle partitions, so each micro-batch pays its per-task cost
    val spark = Session.start(c.int("cores"), 32, runDir)
    val tracers = if (trace) Some(Trace.attach(spark)) else None
    if (trace) CountingJdbc.register
    val sessionMs = Meter.ms(t0)

    val cfg = ConfigParser.parse(c.str("config_yaml"))
    val stale = if (c.has("stale")) Some(
      Io.readJson(c.str("stale")).asInstanceOf[java.util.Map[String, java.util.List[java.util.Map[String, AnyRef]]]]
        .asScala.map { case (t, rows) => t -> rows.asScala.toSeq }.toMap) else None
    val props = new Properties()

    val schemas = c.strMap("dump_schema")
    val dumps = c.strMap("dumps")
    val source: TableSpec => DataFrame =
      spec => spark.read.schema(schemas(spec.name)).json(dumps(spec.name))
    def sinkIds(dbUrl: String)(spec: TableSpec): DataFrame =
      spark.read.jdbc(dbUrl, "\"" + spec.name + "\"", new Properties()).select(spec.pk)
    val segDir = c.str("segments")
    val ckpt = c.str("checkpoint")

    // Set-up, repeated on fresh databases and checkpoints: the sink
    // bootstrap, then the from-scratch Replicator.run until it returns the
    // started stream. Every repetition but the last stops its stream at
    // once; the last one's stream is the tail that is measured. The first
    // repetition also warms the JVM (run.py does not count it).
    val reps = c.int("setup_reps")
    val setupReps = (0 until reps).map { i =>
      val last = i == reps - 1
      val db = s"bench$i"
      val bootMs = Meter.time(bootstrap(db, cfg, stale))._2
      val plain = s"jdbc:derby:memory:$db"
      val observed = withConn(plain)(DerbyDialect.observeCatalog)
      val url = if (trace && last) s"${CountingJdbc.Prefix}derby:memory:$db" else plain
      if (last) spark.streams.addListener(new ProgressWriter(c.str("progress"), plain))
      val (q, syncMs) = Meter.time(new Replicator(spark, cfg, url, props, DerbyDialect)
        .run(observed, source, sinkIds(plain) _, segDir, if (last) ckpt else s"$ckpt-setup$i"))
      if (!last) { q.stop(); drop(db) }
      (db, q, Map("bootstrap_ms" -> bootMs, "sync_ms" -> syncMs))
    }
    val (db, query, _) = setupReps.last
    val plainUrl = s"jdbc:derby:memory:$db"
    Meter.resetHeapPeak()
    val gc0 = Meter.gcMs()
    Io.writeAtomic(c.str("ready"), Io.json(Map(
      "ready_ms" -> System.currentTimeMillis(), "cpu_ns" -> Meter.cpuNs(),
      "jdbc" -> CountingJdbc.snapshot())))

    val stop = new File(c.str("stop"))
    val deadline = System.currentTimeMillis() + c.int("timeout_s") * 1000L
    while (!stop.exists && query.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    val streamError = query.exception.map(_.toString)
    query.stop()
    val leakedRdds = spark.sparkContext.getPersistentRDDs.size
    val gcMs = Meter.gcMs() - gc0
    val heapMb = Meter.heapPeakMb()

    // the sink as it stands, one JSON line per row
    val sinkOut = new PrintWriter(new FileWriter(c.str("sink_dump")))
    withConn(plainUrl) { conn =>
      cfg.tables.foreach { spec =>
        val rs = conn.createStatement().executeQuery(s"""SELECT * FROM "${spec.name}"""")
        val md = rs.getMetaData
        while (rs.next()) {
          val row = (1 to md.getColumnCount).map(i => md.getColumnLabel(i) -> rs.getObject(i)).toMap
          sinkOut.println(Io.json(Map("table" -> spec.name, "row" -> row)))
        }
      }
    }
    sinkOut.close()
    val deadDir = new File(s"$ckpt/dead_letter")
    val deadLetters = if (deadDir.exists) spark.read.parquet(deadDir.getPath).count() else 0L
    val offset = withConn(plainUrl)(UpsertWriter.readOffset(_, DerbyDialect))

    val layers = tracers.map { case (jt, _) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      // each batch's wall span, as the progress events report it
      val spans = query.recentProgress.filter(_.durationMs.containsKey("addBatch")).map { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli
        p.batchId -> (start, start + p.durationMs.asScala.get("triggerExecution").fold(0L)(_.longValue))
      }.toMap
      val batches = jt.jobs.values.asScala.toSeq.filter(_.group.startsWith("batch:"))
        .groupBy(_.group).toSeq.map { case (g, js) =>
          val id = g.stripPrefix("batch:").toLong
          val (start, end) = spans.getOrElse(id, (0L, 0L))
          Map("batch" -> id, "jobs" -> js.size,
            "tasks" -> js.map(_.tasks).sum, "gap_ms" -> jt.gapMs(js, start, end),
            "shuffle_read" -> js.map(_.shuffleRead).sum,
            "shuffle_write" -> js.map(_.shuffleWrite).sum,
            "input" -> js.map(_.input).sum, "spill" -> js.map(_.spill).sum,
            "skew" -> jt.skewOf(g))
        }
      Map("batches" -> batches) ++ decompose(spark, cfg, stale, segDir, source, db)
    }
    Map(
      "session_ms" -> sessionMs, "setup_reps" -> setupReps.map(_._3),
      "dead_letters" -> deadLetters,
      "offset" -> offset.map(_.toString), "stream_error" -> streamError,
      "gc_ms" -> gcMs, "heap_peak_mb" -> heapMb, "leaked_rdds" -> leakedRdds,
      "layers" -> layers)
  }

  /** The pipeline one public call at a time, over the run's own segments and
    * collection dumps, each against its own fresh sink. */
  private def decompose(spark: SparkSession, cfg: MappingConfig,
      stale: Option[Map[String, Seq[java.util.Map[String, AnyRef]]]],
      segDir: String, source: TableSpec => DataFrame, db: String): Map[String, Any] = {
    val replicated = cfg.tables.map(t => s"bench.${t.name}").toSet
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def feed() = ChangeFeed.readBatch(spark, segDir, replicated, 0L)
    val readMs = Meter.median((1 to 3).map(_ => Meter.time(noop(feed()))._2))
    val decodeMs = Meter.median(
      (1 to 3).map(_ => Meter.time(noop(ChangeFeed.decode(feed(), replicated)))._2))
    val decoded = ChangeFeed.decode(feed(), replicated).persist()
    decoded.count()

    val applyDb = s"${db}apply"
    bootstrap(applyDb, cfg, Some(Map.empty))
    val applyUrl = s"jdbc:derby:memory:$applyDb"
    val applyMs = Meter.time(
      Replicator.applyBatch(decoded, cfg.tables, applyUrl, new Properties(), dialect = DerbyDialect))._2
    decoded.unpersist()
    // the per-batch offset commit: a fresh connection, one upsert, one commit
    withConn(applyUrl)(DerbyDialect.ensureStateTable)
    val commitMs = Meter.median((1 to 20).map { i =>
      Meter.time(withConn(applyUrl) { conn =>
        conn.setAutoCommit(false)
        UpsertWriter.commitOffset(conn, i.toLong, DerbyDialect)
        conn.commit()
      })._2
    })
    drop(applyDb)

    val syncDb = s"${db}sync"
    bootstrap(syncDb, cfg, stale)
    val syncUrl = s"jdbc:derby:memory:$syncDb"
    val repl = new Replicator(spark, cfg, syncUrl, new Properties(), DerbyDialect)
    withConn(syncUrl)(DerbyDialect.ensureStateTable)
    val observed = withConn(syncUrl)(DerbyDialect.observeCatalog)
    val schemaMs = Meter.time(repl.reconcileSchema(observed, force = false))._2
    val snapMs = cfg.tables.map(spec => Meter.time(repl.snapshot(spec, source(spec)))._2).sum
    val orphanMs = cfg.tables.map { spec =>
      Meter.time(repl.deleteOrphans(spec, source(spec).select(col(spec.pk)),
        spark.read.jdbc(syncUrl, "\"" + spec.name + "\"", new Properties()).select(spec.pk)))._2
    }.sum
    drop(syncDb)
    Map("read_ms" -> readMs, "decode_ms" -> math.max(0.0, decodeMs - readMs),
      "apply_ms" -> applyMs, "commit_ms" -> commitMs, "schema_sync_ms" -> schemaMs,
      "snapshot_ms" -> snapMs, "orphan_delete_ms" -> orphanMs)
  }
}
