package graft

import java.util.Properties

import graft.config.{MappingConfig, TableSpec}
import graft.operators.Transforms
import graft.sink.{MySqlDialect, SchemaSync, SinkStatement, SqlDialect, UpsertWriter}
import graft.sink.UpsertWriter.{inTransaction, withConnection}
import graft.sources.{ChangeFeed, Json}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** The momyre-equivalent entry surface (reference `app.Run`, run.go:79):
  * schema reconciliation → initial snapshot → continuous replication — as
  * three composable library calls instead of one hard-coded daemon loop.
  *
  *  - [[reconcileSchema]]: D1 — pure plan from the declared config vs the
  *    observed catalog, executed over a plain JDBC connection.
  *  - [[snapshot]]: entry point B (run.go:202-295) — source frame →
  *    projection to declared schema (P1-P4) → batched idempotent upsert
  *    (W1), then [[deleteOrphans]] (J1) replaces the per-row FindOne loop.
  *  - [[startStream]]: entry point C (run.go:297-335) — change-feed
  *    segments → distributed decode (T1/T2) → per-batch apply that
  *    partitions by key and applies each key's ops IN ORDER (the O1
  *    guarantee, without the reference's single serialized consumer), with
  *    the batch offset co-committed after the data (C1; replays are safe
  *    because every statement is idempotent).
  */
class Replicator(
    spark: SparkSession,
    config: MappingConfig,
    sinkUrl: String,
    sinkProps: Properties = new Properties(),
    dialect: SqlDialect = MySqlDialect) {

  /** Idempotent state-table bootstrap (reference creates it on connect,
    * mysql.go:128-144); both lifecycle entry points need it before any
    * offset read or commit. */
  private def ensureStateTable(): Unit =
    inTransaction(sinkUrl, sinkProps)(dialect.ensureStateTable)

  /** The stored offset; 0 when absent (`mysql.go:108-126`). */
  private def storedOffset(): Long =
    withConnection(sinkUrl, sinkProps)(UpsertWriter.readOffset(_, dialect)).getOrElse(0L)

  /** D1: compute and execute the DDL plan IN THE SINK'S OWN GRAMMAR
    * (`dialect.renderDdl` — identity for MySQL, translated for Derby,
    * with inexpressible cosmetic steps skipped); returns resync columns. */
  def reconcileSchema(observed: SchemaSync.Catalog, force: Boolean): SchemaSync.Plan = {
    val plan = SchemaSync.plan(config, observed, force)
    inTransaction(sinkUrl, sinkProps)(SchemaSync.execute(_, dialect, plan))
    plan
  }

  /** The WHOLE reference daemon as one call (`run.go:79-335`): decide
    * from-scratch, reconcile schema, snapshot what needs it, then tail.
    *
    *  1. read the stored offset (`mysql.go:108-126`: absent → 0);
    *  2. `fromScratch` = offset == 0 ∨ `zerop` (`run.go:164-170`);
    *  3. reconcile schema — refuses destructive DDL without `force`
    *     (`run.go:173-176`, flags `run.go:38-41`);
    *  4. resync set (`run.go:178-200`): from scratch → every table, all
    *     columns; otherwise exactly the plan's `resyncColumns` (the
    *     added/retyped columns, `mysql.go:147-148`) — the piece that makes
    *     an added config column trigger a targeted re-snapshot;
    *  5. each table with a non-empty resync set is fully re-upserted from
    *     `snapshotSource` and orphan-reconciled against `sinkIds`
    *     (`run.go:220-279`; whole-row upserts like the reference — the
    *     column set tells WHICH tables, not a projection);
    *  6. the offset advances to the feed head pinned BEFORE the snapshot
    *     only when from scratch (`run.go:283-288` — after a conf-change
    *     resync the old offset must replay ops missed while stopped);
    *     the fsync write-pause is replaced by the offset-pinned snapshot +
    *     idempotent replay (D2, proven by `d2_pinned_snapshot`);
    *  7. tail the feed from the (possibly advanced) offset
    *     (`run.go:297-335`).
    *
    * `snapshotSource` reads a source collection as a frame (the
    * `readTable` analog, production: the collection dump / connector);
    * `sinkIds` reads the sink table's key column (production:
    * `spark.read.jdbc`). Both are injected so the lifecycle is testable
    * against the in-memory sink.
    *
    * Crash recovery: while the stored offset is 0 (first-ever sync), a
    * crash mid-snapshot restarts as from-scratch and the idempotent
    * snapshot redoes — nothing is lost. A crash during a `zerop`-forced
    * resync keeps the OLD offset, so the restart does not resume the
    * rewrite on its own: re-run with `zerop` (the reference behaves the
    * same — zerop is an operator-invoked repair, `run.go:164-170`). */
  def run(
      observed: SchemaSync.Catalog,
      snapshotSource: TableSpec => DataFrame,
      sinkIds: TableSpec => DataFrame,
      segmentsDir: String,
      checkpointDir: String,
      force: Boolean = false,
      zerop: Boolean = false): StreamingQuery =
    run(observed,
      new graft.sources.SourceProvider {
        override def snapshot(spec: TableSpec): DataFrame = snapshotSource(spec)
        override def changes(replicated: Set[String], afterTs: Long): DataFrame =
          graft.sources.ChangeFeed.readBatch(spark, segmentsDir, replicated, afterTs)
        override def changeStream(replicated: Set[String], afterTs: Long): DataFrame =
          graft.sources.ChangeFeed.readStream(spark, segmentsDir, replicated, afterTs)
      },
      sinkIds, checkpointDir, force, zerop)

  /** The [[run]] primitive against the [[graft.sources.SourceProvider]]
    * seam — snapshots, the pin scan, and the streaming tail all come
    * from ONE provider, so swapping the parquet harness for the live
    * Mongo binding ([[graft.sources.MongoSourceProvider]]) changes no
    * lifecycle logic. The lambda overload above wraps ad-hoc test
    * sources into a provider and delegates here. */
  def run(
      observed: SchemaSync.Catalog,
      source: graft.sources.SourceProvider,
      sinkIds: TableSpec => DataFrame,
      checkpointDir: String,
      force: Boolean,
      zerop: Boolean): StreamingQuery = {
    ensureStateTable()
    val fromScratch = storedOffset() == 0L || zerop
    val plan = reconcileSchema(observed, force)
    val resync: Map[String, Set[String]] =
      if (fromScratch)
        config.tables.map(t => t.name -> t.columns.map(_.sinkName).toSet).toMap
      else plan.resyncColumns
    if (resync.exists(_._2.nonEmpty)) {
      // feed head pinned (READ) before the snapshot, but COMMITTED only
      // after every table snapshot succeeds (readTimestamp read at
      // run.go:210-216, stored at run.go:283-288): while the offset is
      // still 0, a crash mid-snapshot restarts as from-scratch and the
      // idempotent snapshot simply redoes; committing the pin first would
      // make the restart skip the unsnapshotted tables forever.
      // From-scratch only — the pin scan reads the whole feed, and a
      // conf-change resync keeps the old offset anyway.
      val pinTs: Option[Long] = if (fromScratch) {
        val replicated = config.tables.map(t => dbName + "." + t.name).toSet
        val pinRow = source.changes(replicated, 0L)
          .agg(max(col("ts"))).collect()(0)
        Some(if (pinRow.isNullAt(0)) 0L else pinRow.getLong(0))
      } else None
      config.tables.foreach { spec =>
        if (resync.getOrElse(spec.name, Set.empty).nonEmpty) {
          val src = source.snapshot(spec)
          snapshot(spec, src)
          deleteOrphans(spec,
            sourceIds = src.select(col(spec.pk)),
            sinkIds = sinkIds(spec))
        }
      }
      pinTs.foreach { ts =>
        inTransaction(sinkUrl, sinkProps)(UpsertWriter.commitOffset(_, ts, dialect))
      }
    }
    val resume = storedOffset()
    // Resume STRICTLY BELOW the stored offset: the feed predicate is
    // `ts > afterTs`, so resuming at `resume` itself would drop a
    // boundary-ts sibling appended after the stop — the loss the apply
    // guard (skipBelowTs) exists to prevent. Boundary ops the stream
    // re-reads re-apply idempotently.
    startStream(source, checkpointDir,
      afterTs = if (resume == 0L) 0L else resume - 1,
      quarantineRule = None)
  }

  /** Entry point B: snapshot one table from a source frame. */
  def snapshot(spec: TableSpec, source: DataFrame): Unit =
    UpsertWriter.writeBatch(Transforms.projectTo(source, spec), spec, sinkUrl,
      sinkProps, dialect = dialect)

  /** J1: delete sink rows whose key is absent from the source (anti-join,
    * one keyed DELETE per orphan, batched per partition; a failed partition
    * rolls back and deletes nothing). */
  def deleteOrphans(spec: TableSpec, sourceIds: DataFrame, sinkIds: DataFrame): Unit = {
    val stmt = dialect.delete(spec)
    UpsertWriter.writeRows(sink.MergeApply.deleteReconcile(sinkIds, sourceIds, spec.pk),
      sinkUrl, sinkProps, dialect)(rows => (rows.map(r => (stmt, (_: String) => r.get(0))), () => ()))
  }

  /** Entry point C: continuous replication from an oplog-segment directory.
    * Each micro-batch: decode → partition by (table, key) → fold each
    * key's ops in ts order to one net write on the executor → co-commit
    * the max offset. The exchange width is the sink's writer cap; one
    * writer means no exchange, so a batch into Derby is one stage
    * ([[Replicator.applyBatch]]). */
  def startStream(segmentsDir: String, checkpointDir: String, afterTs: Long = 0L,
      quarantineRule: Option[org.apache.spark.sql.Column] = None): StreamingQuery =
    startStream(
      new graft.sources.ParquetHarnessProvider(spark, segmentsDir, segmentsDir),
      checkpointDir, afterTs, quarantineRule)

  /** [[startStream]] against the provider seam (the primitive the
    * segment-dir overload wraps). */
  def startStream(source: graft.sources.SourceProvider, checkpointDir: String,
      afterTs: Long,
      quarantineRule: Option[org.apache.spark.sql.Column]): StreamingQuery = {
    // every batch co-commits the offset — the state table must exist
    // even when startStream is the first entry point called
    ensureStateTable()
    val replicated = config.tables.map(t => dbName + "." + t.name).toSet
    val feed = source.changeStream(replicated, afterTs)
    val decoded = ChangeFeed.decode(feed, replicated)
    val url = sinkUrl; val props = sinkProps; val specs = config.tables
    val dl = dialect
    val qr = quarantineRule
    // the stored offset: read from the sink on the query's first batch, then
    // the value last committed here (the query is its only writer meanwhile)
    var stored: Option[Long] = None
    decoded.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Replay guard: ops STRICTLY below the durably stored offset were
        // already applied (a foreachBatch replay after a crash between
        // data-commit and offset-commit); skip them instead of re-writing.
        // Ops AT the stored ts re-apply idempotently — a later entry may
        // legally share the boundary ts, and `>` would lose it. Dead
        // letters are kept whatever their ts: it is never offset-compared.
        val cut = stored.getOrElse(withConnection(url, props)(UpsertWriter.readOffset(_, dl))
          .getOrElse(Long.MinValue))
        val maxTs = Replicator.applyBatch(batch, specs, url, props,
          deadLetterDir = Some(s"$checkpointDir/dead_letter"), batchId = batchId,
          skipBelowTs = cut, dialect = dl,
          quarantineDir = qr.map(_ => s"$checkpointDir/quarantine"),
          quarantineRule = qr)
        maxTs.foreach(ts => inTransaction(url, props)(UpsertWriter.commitOffset(_, ts, dl)))
        stored = Some(maxTs.getOrElse(cut))
      }
      .start()
  }

  private def dbName: String =
    config.source.split('/').lastOption.filter(_.nonEmpty).getOrElse("db")
}

object Replicator {

  /** Re-admit previously quarantined rows — the recovery half of the
    * quarantine contract: read the persisted store and drive the rows
    * through the same idempotent per-key-ordered apply, unconditionally
    * or under a relaxed `rule`. Safe to re-run (idempotent upserts); the
    * caller clears the directory after a successful pass. Returns the
    * max applied ts (None when the store is empty). */
  def readmitQuarantine(
      spark: SparkSession,
      quarantineDir: String,
      specs: Seq[TableSpec],
      url: String,
      props: Properties,
      dialect: SqlDialect = MySqlDialect,
      rule: Option[org.apache.spark.sql.Column] = None): Option[Long] = {
    val contract = Seq("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq")
    val stored = Tables.parquet(spark, quarantineDir).select(contract.map(col): _*)
    applyBatch(stored, specs, url, props, dialect = dialect,
      quarantineDir = rule.map(_ => s"$quarantineDir.rejected"),
      quarantineRule = rule)
  }

  /** Apply one decoded micro-batch: per-key ordered apply on executors
    * through [[UpsertWriter.writeRows]] — ONE Spark action when the batch
    * holds no dead letters and no quarantine rule is set. Partial upserts
    * bind only present∩declared columns (mysql.go:456-459); full images
    * NULL absent declared columns (mysql.go:381-407); unsets null the
    * named columns. Returns the max applied or quarantined ts.
    *
    * [[UpsertWriter.writeRows]] partitions the rows by (tbl, id) and sorts
    * them by (tbl, id, ts, seq), so each key's ops reach the writer
    * contiguous and in order. The exchange width is the sink's writer cap;
    * one writer (Derby) means no exchange: the batch is coalesced to one
    * partition and sorted there, one stage per batch. The price: a batch
    * that spans many input splits reads and decodes them in that one task,
    * not in parallel map tasks (those ran before the write stage anyway;
    * on `cdc_bulk` read and decode are about 11 of about 38 ms per 1000
    * events). The replay guard, the quarantine skip, the offset max and
    * the dead-letter count run per op; then each key's run folds to ONE
    * net write ([[KeyFold]]): a DELETE, or an upsert whose statement
    * shape, rendered once per partition, is (table, present-column set).
    * One write per key makes a partition's writes commute, which lets the
    * writer batch them by statement. Each write task also reports its
    * partition's max ts and dead letters: no pass of its own for either.
    *
    * `skipBelowTs`: replay guard — the writer skips ops with ts STRICTLY
    * below this (the durably stored offset); as a plan literal, new each
    * batch, it would compile new code each batch. Ops AT the stored ts
    * re-apply idempotently: the offset proves some op at that ts was
    * applied, but distinct entries may legally share one ts (a producer
    * with second-granularity stamps), and a later batch could carry a
    * sibling — skipping ≤ would lose it. See [[Replicator.startStream]]. */
  private[graft] def applyBatch(
      batch: DataFrame,
      specs: Seq[TableSpec],
      url: String,
      props: Properties,
      deadLetterDir: Option[String] = None,
      batchId: Long = 0L,
      skipBelowTs: Long = Long.MinValue,
      dialect: SqlDialect = MySqlDialect,
      quarantineDir: Option[String] = None,
      quarantineRule: Option[org.apache.spark.sql.Column] = None): Option[Long] = {
    val specByName = specs.map(s => s.name -> s).toMap
    val deletes = specs.map(s => s.name -> dialect.delete(s)).toMap
    val inScope = col("kind").isin("upsert", "delete") && col("tbl").isin(specs.map(_.name): _*)
    val rows = batch.filter(inScope || col("kind") === "dead_letter")
    // quality quarantine — ingest admission control on the APPLY path:
    // upserts failing the declarative rule are persisted to the
    // quarantine store (batchId-keyed overwrite, idempotent under
    // foreachBatch replay, exactly the dead-letter contract) and
    // excluded from the sink apply; deletes always pass (rules govern
    // content, not retractions). The offset still advances over
    // quarantined rows — they are durably stored BEFORE the offset
    // co-commits, so a later re-admission (rule relaxed, upstream fixed)
    // replays from the quarantine store, never from the oplog.
    val marked = (quarantineDir, quarantineRule) match {
      case (Some(dir), Some(rule)) =>
        // a NULL rule result admits: partial updates legally omit the
        // guarded field, and quarantining every such row would divert
        // the bulk of a $set-heavy feed — write an explicit IS NOT NULL
        // conjunct to reject unevaluable rows instead
        val bad = col("kind") === "upsert" && !coalesce(rule, lit(true))
        // below-cut rows stay out of the store (re-admitting an old image
        // would overwrite newer state); the cut rides in the closure, not
        // as a plan literal that would compile new code each batch
        val atOrAboveCut = udf((ts: Long) => ts >= skipBelowTs)
        batch.filter(inScope && atOrAboveCut(col("ts")) && bad)
          .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        rows.withColumn("kind", when(bad, lit("quarantined")).otherwise(col("kind")))
      case _ => rows
    }
    // applyOps tx inner ops share the outer ts — seq (index within the
    // oplog entry) breaks the tie so per-key order is total
    val parts = UpsertWriter.writeRows(marked, url, props, dialect,
        key = Seq(col("tbl"), col("id")), order = Seq(col("ts"), col("seq"))) { rows =>
      var maxTs = Long.MinValue // below every in-scope ts: none seen yet
      var deadLetters = 0L
      // per op, before the fold: the dead-letter count, the replay guard and
      // the offset max (quarantined rows too: they were stored above)
      val ops = rows.filter { r =>
        r.getString(0) match {
          case "dead_letter" => deadLetters += 1; false
          case _ if r.getLong(2) < skipBelowTs => false
          case kind => maxTs = math.max(maxTs, r.getLong(2)); kind != "quarantined"
        }
      }.buffered
      val upserts = mutable.HashMap.empty[(String, Seq[String]), SinkStatement]
      // a key's ops arrive contiguous and in order: each run folds to one write
      val writes = new Iterator[(SinkStatement, String => Any)] {
        override def hasNext: Boolean = ops.hasNext
        override def next(): (SinkStatement, String => Any) = {
          val key = new KeyFold(specByName(ops.head.getString(1)), ops.head.getString(3))
          while (ops.hasNext && key.owns(ops.head)) key.add(ops.next())
          if (key.deleted) (deletes(key.spec.name), _ => key.id)
          else {
            val present = key.present
            (upserts.getOrElseUpdate((key.spec.name, present), dialect.upsert(key.spec, present)),
              key.valueOf)
          }
        }
      }
      (writes, () => (maxTs, deadLetters))
    }
    // dead letters are PERSISTED before the offset advances past them —
    // dropping them silently would be unrecoverable loss (the reference
    // aborts instead, mongo.go:183; neither is acceptable at scale). The
    // batchId-keyed subdirectory + overwrite makes the write idempotent
    // under foreachBatch replay (no duplicate dead letters).
    if (parts.exists(_._2 > 0)) deadLetterDir.foreach { dir =>
      batch.filter(col("kind") === "dead_letter")
        .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }
    parts.iterator.map(_._1).filter(_ != Long.MinValue).maxOption
  }

  /** One key's net write, folded from its (ts, seq)-ordered run of ops by
    * the rules of [[sink.MergeApply.foldChanges]]: a full image or a delete
    * resets the key; a partial touches only its present columns, and an
    * unset nulls one; a trailing delete is one DELETE. Without a reset the
    * write is the partial upsert of every touched column (none touched: the
    * key-only upsert, which creates an absent row). After a reset it is a
    * full image whose untouched columns are NULL — for a partial after a
    * delete, the row that partial's upsert re-creates, since the sink table
    * holds only the pk and the declared columns. */
  private final class KeyFold(val spec: TableSpec, val id: String) {
    private val declared = spec.columns.map(_.sinkName)
    private val values = mutable.HashMap.empty[String, Any] // touched column → last value
    private var reset = false
    var deleted = false

    def owns(r: Row): Boolean = r.getString(3) == id && r.getString(1) == spec.name

    def add(r: Row): Unit =
      if (r.getString(0) == "delete") { values.clear(); reset = true; deleted = true }
      else {
        val fields = Json.parseObject(r.getString(4))
        val partial = r.getBoolean(5)
        // removal paths arrive DOTTED (source-path form, ChangeEvent doc). A
        // path covers a declared column iff it equals the column's dotted
        // sourceName or is a dotted ANCESTOR: `$unset: {cfg: 1}` (whole-subdoc
        // unset) nulls cfg.pub / cfg.deep.y (sink cfg_pub, cfg_deep_y) — while
        // `$unset` of a SCALAR `status` leaves a distinct source field
        // `status_code` alone, which a flattened-prefix match would corrupt.
        val removedPaths = r.getSeq[String](6).toSet
        val removedCols: Set[String] = spec.columns.iterator
          .filter(c => removedPaths.contains(c.sourceName) ||
            removedPaths.exists(p => c.sourceName.startsWith(p + ".")))
          .map(_.sinkName).toSet
        if (!partial) { values.clear(); reset = true }
        deleted = false
        declared.foreach { c =>
          if (removedCols.contains(c)) values(c) = null
          else if (!partial || fields.contains(c)) values(c) = fields.getOrElse(c, null)
        }
      }

    def present: Seq[String] = if (reset) declared else declared.filter(values.contains)

    val valueOf: String => Any = {
      case spec.pk => id
      // P4 at the bind boundary: composite values become JSON text, exactly
      // like the snapshot path (mysql.go:402-404)
      case c => values.getOrElse(c, null) match {
        case v @ (_: Seq[_] | _: Map[_, _]) => Json.render(v)
        case other                          => other
      }
    }
  }
}
