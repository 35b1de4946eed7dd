package graft.streaming

import graft.functions.GraftFunctions
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming leg of the engine (reference entry point C,
  * run.go:297-335, SURVEY §3.3): change feed → decode/transform →
  * micro-batch apply with checkpointed offsets. The tailable-await cursor
  * (mongo.go:494-506) maps to a streaming source; the serialized consumer
  * (run.go:301-322) maps to per-key ordering inside each micro-batch; the
  * co-transactional resume checkpoint (mysql.go:563-588) maps to the
  * `checkpointLocation` offset log (plus the sink-side offset co-commit in
  * [[graft.sink.UpsertWriter]] when end-to-end exactly-once into an RDBMS
  * is required).
  */
object StreamPipeline {

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the sink table as a batch frame — the harness every
    * batch-comparable streaming query here shares. */
  private def runToMemory(df: DataFrame, mode: String, prefix: String): DataFrame = {
    val tableName = s"${prefix}_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory(s"${prefix}_ckpt")
    val q = df.writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // hand back a MATERIALIZED result and release the run's plumbing:
    // the memory-sink view would otherwise pin its rows in the driver
    // and the checkpoint dir would outlive the (finished) query — per
    // invocation, across the 190-query registry sweep, that is exactly
    // the accumulation the temp-index cleanups elsewhere exist to stop
    val out = df.sparkSession.table(tableName).localCheckpoint()
    df.sparkSession.catalog.dropTempView(tableName): Unit
    rmTree(ckpt.toString)
    out
  }

  /** Schema the events parquet surfaces under nanosAsLong. */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanoseconds since epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over the events table, normalized to the canonical
    * nanos-long `ts` by [[graft.Tables.canonicalTs]], exactly like
    * [[graft.Tables.load]]. A streaming source needs its schema up front,
    * and the testdata generations have encoded `ts` either as nanosecond
    * INT64 (long under nanosAsLong) or as microsecond
    * TIMESTAMP/TIMESTAMP_NTZ — so peek the file's batch schema once
    * (driver-side metadata read, no data scan) and stream with the file's
    * own type. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val fileTs = graft.Tables.raw(spark, dir, "events").schema("ts").dataType
    graft.Tables.canonicalTs(tableStream(spark, dir, "events",
      StructType(EventsSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = fileTs) else f))))
  }

  /** File-stream source over one testdata table. The source requires a
    * directory and each table is a single file, so a glob scopes the
    * directory scan to it. */
  private def tableStream(
      spark: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)

  /** Event-time hourly windowed aggregation over the change feed, run as a
    * real Structured Streaming query with an `availableNow` trigger into a
    * memory sink, then returned as a batch DataFrame. Complete output mode
    * so every window is emitted (a watermark would hold back the tail
    * windows at end-of-input; watermark/late-data behavior is exercised in
    * the streaming spec instead). */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val agg = stream
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"), col("total"))
    runToMemory(agg, "complete", "graft_stream").orderBy("hour", "event_type")
  }

  /** Stream-stream inner join with watermarks and a time-range condition:
    * purchases matched to a prior click by the same user within one hour —
    * the canonical funnel/attribution join. Both sides watermarked so
    * Spark can bound the join state (clicks older than the bound are
    * evicted — the property that keeps state finite at 100 TB). Run via
    * availableNow into memory, returned as a batch frame. */
  def clickToPurchase(spark: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, alias: String) = eventsStream(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(s"${alias}_id"),
        col("user_id").as(s"${alias}_user"),
        timestamp_micros(expr("ts div 1000")).as(s"${alias}_time"))
      .withWatermark(s"${alias}_time", "1 hour")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("c_id"), col("c_user").as("user_id"))
    runToMemory(joined, "append", "graft_ssj").orderBy("p_id", "c_id")
  }

  /** Streaming ingest dedup: `dropDuplicatesWithinWatermark` on the
    * content key — the production shape for deduplicating a 100 TB ingest
    * stream, because its state is BOUNDED by the watermark (keys older
    * than the delay are evicted) where a plain `dropDuplicates` on a
    * stream grows state forever. Emitted keys are aggregated to a
    * per-type census after the streaming query completes; `countDistinct`
    * keeps the result exact even if a duplicate re-emits past the
    * watermark horizon (allowed by the operator's contract). */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("event_time"))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToMemory(deduped.select(col("user_id"), col("event_type")),
        "append", "graft_sdedup")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("uniq_users"))
      .orderBy("event_type")
  }

  /** Count-min sketch maintained as STREAMING state: the same typed
    * Aggregator the batch query uses ([[graft.functions.CountMinSketch]])
    * runs inside a streaming global aggregation — its Array[Long] buffer
    * lives in the state store and every micro-batch merges into it
    * (associative element-wise sum, the same property that makes it
    * map-side combinable in batch). That is the production shape of a
    * continuously-maintained frequency summary over an unbounded feed:
    * state is depth×width longs FOREVER, independent of rows seen. The
    * returned frame grades the final sketch exactly like the batch twin:
    * exact per-user counts (batch-read of the same rows the stream
    * consumed) plus the sketch's guarantee verdicts. */
  def streamingCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinSketch
    val depth = 4; val width = 1024
    val cms = udaf(new CountMinSketch(depth, width))
    val digest = graft.operators.TextAnalysis.tokenHash60(col("user_id").cast("string"))
    val sk = eventsStream(spark, dir)
      .select(digest.as("__h"))
      .agg(cms(col("__h")).as("__cms"), count(lit(1)).as("__n"))
    val sketch = runToMemory(sk, "complete", "graft_scms")
    CountMinSketch.grade(
        graft.Tables.load(spark, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events")),
        sketch, digest, depth, width)
      .orderBy("user_id")
  }

  /** The numeric-column quality profile maintained as STREAMING state —
    * continuous data-quality monitoring at ingest, the production shape
    * of [[graft.operators.Quality.numericProfile]] over an unbounded
    * feed: the same one-pass partials (row count, per-column null count /
    * min / max / decimal sum) run inside a streaming global aggregation,
    * so the state store holds a FIXED-SIZE row of partials forever,
    * independent of rows seen, and every micro-batch folds in with the
    * same associative merges that make the batch profile map-side
    * combinable (decimal sums make merge-of-micro-batches bit-equal to
    * the one-shot scan — the [[graft.operators.Quality.mergeProfiles]]
    * law, spec-proven, applied to trigger boundaries instead of shards).
    * The final frame is finished with the shared unpivot, so stream and
    * batch emit the identical per-column profile. */
  def streamingQualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("value", "user_id")
    val aggs = graft.operators.Quality.profileAggs(cols)
    val agged = eventsStream(spark, dir).agg(aggs.head, aggs.tail: _*)
    graft.operators.Quality
      .profileFinish(runToMemory(agged, "complete", "graft_sqprof"), cols)
      .orderBy("column")
  }

  /** Row-level quality gate maintained as STREAMING state — the ingest
    * admission control of a 100 TB feed: every arriving row is tested
    * against the declarative rule set and the per-rule violation
    * counters (plus the clean count — rows violating nothing, the rows
    * a dead-letter split would admit) accumulate in the state store as
    * ONE row of sums, merged associatively per micro-batch exactly like
    * [[streamingQualityProfile]]'s partials. Rules with zero violations
    * stay visible at 0 — the gate reports health, not just failures. */
  def streamingRowGate(spark: SparkSession, dir: String): DataFrame = {
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("type_allowed",
        col("event_type").isin("click", "view", "purchase", "signup")),
      ("value_cap", col("value") <= 400.0),
      ("value_nonnull", col("value").isNotNull))
    // FAIL-CLOSED three-valued logic: a rule predicate that evaluates
    // to SQL null (event_type null under isin) counts as a VIOLATION,
    // not as neither-violating-nor-clean — otherwise per-rule counts
    // plus clean stop reconciling with the total and an admission gate
    // neither admits nor flags the row
    val viol = rules.map { case (n, p) =>
      sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L)).as(s"__v_$n") }
    val clean = sum(when(
        coalesce(rules.map(_._2).reduce(_ && _), lit(false)), 1L).otherwise(0L))
      .as("__v___clean")
    val names = rules.map(_._1) :+ "__clean"
    val agged = eventsStream(spark, dir).agg(viol.head, (viol.tail :+ clean): _*)
    runToMemory(agged, "complete", "graft_sgate")
      .select(explode(array(names.map(n => struct(
        lit(n).as("rule"), col(s"__v_$n").as("n_rows"))): _*)).as("g"))
      .select(col("g.*"))
      .orderBy("rule")
  }

  /** Schema of the documents parquet. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Semantic-index geometry shared by the build and serve paths. */
  private val SemDim = 64
  private val SemSignBits = 8

  /** One document frame embedded + sign-bucketed into the semantic
    * index's row shape (corpus_id, embedding, sign-LSH bucket) — one
    * hash-embed scan, shared by the build, the append, and the growing
    * ingest, so every segment of the `embeds` table carries the
    * identical (corpus_id, __cv, bucket) layout. */
  private def semanticRowsOf(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.TextAnalysis.hashEmbed(df, idCol, textCol, SemDim)
      .select(col(idCol).as("corpus_id"), col("embedding").as("__cv"),
        graft.operators.Similarity.signBucket(col("embedding"), SemSignBits).as("bucket"))

  private def semanticCorpus(spark: SparkSession, dir: String): DataFrame =
    semanticRowsOf(graft.Tables.load(spark, dir, "documents"), "doc_id", "text")

  private val SemTable = "embeds"

  /** Build the semantic-dedup index ONCE: embed + bucket the corpus and
    * commit it as one segment of the `embeds` table. At 100 TB this is
    * the nightly index job; the streaming join then re-reads a columnar
    * table per micro-batch instead of re-embedding the lake. Incremental
    * maintenance is [[appendSemanticIndexM]]. Like the gram/LSH/BM25/PQ
    * families, build/append stage immutable segments and publish with
    * one commit, so a stream-static probe racing the nightly
    * build/append resolves one committed corpus, never a torn mix. */
  def buildSemanticIndexM(spark: SparkSession, dir: String, root: String): Long =
    buildSemanticIndexDfM(
      graft.Tables.load(spark, dir, "documents"), "doc_id", "text", root)

  /** [[buildSemanticIndexM]] over an explicit document frame — what the
    * growing ingest builds its lake index from. */
  def buildSemanticIndexDfM(
      docs: DataFrame, idCol: String, textCol: String, root: String): Long = {
    val seg = graft.index.IndexManifest.newSegment(SemTable)
    semanticRowsOf(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(docs.sparkSession, root,
      Map(SemTable -> Seq(seg)), meta = Map("family" -> "semantic"))
  }

  /** Append a delta corpus's embedded rows as a new segment (disjoint
    * doc ids, the standard append contract) — ingest cost is the delta's
    * embed pass, the standing index is never read or rewritten. (No
    * refresh variant on purpose: the embedding is a pure function of the
    * text, so detecting a changed row costs the same embed pass a
    * rebuild pays — there is no stored work a refresh could save, unlike
    * BM25's tokenization or PQ's encoding. Updates = rebuild, the gram
    * log's precedent.) */
  def appendSemanticIndexM(
      delta: DataFrame, idCol: String, textCol: String, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = delta.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val seg = graft.index.IndexManifest.newSegment(SemTable)
    semanticRowsOf(delta, idCol, textCol)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(SemTable, snap.tables(SemTable) :+ seg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(seg)))
  }

  def readSemanticIndexM(spark: SparkSession, root: String): DataFrame =
    graft.index.IndexManifest.read(spark, root, SemTable)

  /** The embed table pinned at a committed version — the vector leg of
    * the hybrid (RRF) retrieval query reads the corpus embeddings at the
    * exact manifest version its release pinned, the BM25 leg's
    * `at = Some(v)` precedent. */
  def readSemanticIndexAtM(
      spark: SparkSession, root: String, version: Long): DataFrame =
    graft.index.IndexManifest.readAt(spark, root,
      graft.index.IndexManifest.snapshotAt(spark, root, version), SemTable)

  /** Dimensionality of the hash embeddings the semantic index stores —
    * shared with the hybrid-retrieval query so its query-side embeds
    * live in the same space. */
  val SemanticDim: Int = SemDim

  /** The ingest-side probe: arrivals hash-embedded and sign-LSH bucketed
    * IN the stream (two stateless kernel projections, no state store),
    * stream-static joined against the given corpus index frame. */
  private def semanticDedupAgainst(
      spark: SparkSession, dir: String, corpus: DataFrame): DataFrame = {
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
      .select(col("doc_id"),
        GraftFunctions.hashEmbed(col("text"), SemDim).as("__sv"))
      .withColumn("bucket",
        graft.operators.Similarity.signBucket(col("__sv"), SemSignBits))
    val flagged = arrivals.join(corpus, Seq("bucket"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .withColumn("__c",
        graft.operators.Similarity.cosineNative(col("__sv"), col("__cv")))
      .filter(col("__c") >= 0.9) // threshold on the RAW cosine (dedup contract)
      .select(col("doc_id"), col("corpus_id"), round(col("__c"), 6).as("cosine"))
    runToMemory(flagged, "append", "graft_ssem").orderBy("doc_id", "corpus_id")
  }

  /** Semantic dedup AT INGEST — the production shape of near-duplicate
    * filtering on an unbounded document feed: the corpus index is built
    * once and PERSISTED ([[buildSemanticIndexM]]); each arriving document
    * is hash-embedded and sign-LSH bucketed in the stream, then
    * STREAM-STATIC joined against the persisted index (re-read per
    * micro-batch as a plain parquet scan — no re-embedding of the lake),
    * and pairs above the cosine threshold flag the arrival as a
    * near-duplicate of the standing corpus. State is ZERO on the stream
    * side — the join build is the static index — so the pattern holds at
    * any ingest rate; the bucket key prunes the probe to its LSH cell
    * exactly like the batch [[graft.operators.Dedup.embeddingDupPairs]].
    * Batch-equivalent by construction (the oracle replays the same join
    * over the same rows), which is the graded contract; index-serve ≡
    * inline-corpus is spec-proven. */
  def streamingSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = Files.createTempDirectory("graft_semidx")
    // the result frame reads the memory sink (the streaming query has
    // already completed inside the call), so the scratch index can go:
    // repeated registry invocations must not accumulate /tmp copies —
    // the BUILD runs inside the try too, so a failed build does not
    // leak the dir either (rmTree tolerates a dir nothing landed in)
    try {
      buildSemanticIndexM(spark, dir, indexDir.toString)
      semanticDedupAgainst(spark, dir, readSemanticIndexM(spark, indexDir.toString))
    } finally rmTree(indexDir.toString)
  }

  /** Ingest-time repeated-span marking against the standing corpus's
    * PERSISTED gram-digest index ([[graft.operators.Dedup.buildGramIndexM]])
    * — the streaming leg of the incremental exact-substring family:
    * every arriving document's gram digests are computed IN the stream
    * (one stateless kernel projection + explode, no state store) and
    * stream-static joined against the index, so boilerplate the lake has
    * already seen is localized the moment a document arrives. The
    * heavyweight work (kernel + probe) is per-arrival and stateless —
    * the shape that holds at any ingest rate; the tiny per-doc
    * gaps-and-islands fold runs on the marked positions after the
    * streaming query completes (positions are result-sized, not
    * corpus-sized). Intra-batch repeats among simultaneous arrivals are
    * the batch operator's job ([[graft.operators.Dedup.incrementalSpans]]);
    * between micro-batches the index grows via
    * [[graft.operators.Dedup.appendGramIndexM]]. The index is read
    * through its manifest ([[graft.operators.Dedup.readGramIndexM]]): the
    * stream-static join resolves ONE committed snapshot at query start,
    * so an append landing mid-stream can never expose a torn segment
    * list to later micro-batches. */
  def streamingSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmQueries.SpanGramChars
    val indexDir = Files.createTempDirectory("graft_gramidx_stream")
    try {
      graft.operators.Dedup.buildGramIndexM(
        graft.Tables.load(spark, dir, "documents").filter(col("doc_id") % 10 < 8),
        "doc_id", "text", SpanGramChars, indexDir.toString)
      val index = graft.operators.Dedup.readGramIndexM(spark, indexDir.toString)
      val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
        .filter(col("doc_id") % 10 >= 8 && col("text").isNotNull &&
          length(col("text")) >= SpanGramChars)
        .select(col("doc_id"), posexplode(
            GraftFunctions.gramDigests(col("text"), SpanGramChars))
          .as(Seq("__p0", "__h")))
      val marked = arrivals
        .join(index.select(col("h").as("__h")), Seq("__h"))
        .select(col("doc_id"), (col("__p0") + 1).as("pos"))
      val pts = runToMemory(marked, "append", "graft_sspan")
      // the result-sized islands fold is the span family's ONE shared
      // tail (Dedup.islandsToSpans) — the streaming leg must merge
      // positions with exactly the batch convention
      graft.operators.Dedup.islandsToSpans(pts, "doc_id", SpanGramChars)
        .orderBy("doc_id", "span_start")
    } finally rmTree(indexDir.toString)
  }

  // ---- exactly-once index GROWTH at ingest -----------------------------

  /** Manifest metadata key carrying the highest micro-batch id whose
    * append has committed — the index-family edition of the JDBC sink's
    * batch-id co-commit (ExactlyOnceSpec): the commit that grows the
    * index and the fact "batch N is applied" are ONE atomic manifest
    * publish, so a micro-batch replayed after a crash can prove its
    * append already landed and skip instead of double-committing.
    * (Defined on [[graft.index.IndexManifest]] so every family's append
    * can co-stamp its segment list; aliased here for the call sites.) */
  private[graft] val StreamBatchKey = graft.index.IndexManifest.StreamBatchKey

  /** Output schema of [[spanGrowingBatch]]'s per-batch span frames. */
  private[graft] val SpanSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("span_start", IntegerType),
    StructField("span_end", IntegerType)))

  /** One micro-batch of a GROWING index ingest — the one home of the
    * growth protocol: a family's `*GrowingBatch` supplies only its
    * `probe` and its stamped `append`. Growth is the point: batch b
    * probes an index that already holds batches 0..b-1, so a
    * cross-arrival repeat is caught the moment its second copy arrives.
    * Replay-safe end to end:
    *
    *  1. The batch is SKIPPED when its output landed completely (the
    *     committer's `_SUCCESS` marker under `batch-<batchId>`: an
    *     interrupted overwrite deletes it first and re-creates it last)
    *     and HEAD already carries a [[StreamBatchKey]] stamp >= batchId.
    *     The output is written before the append commits, so the two
    *     together prove the whole batch is done: no recompute, and no
    *     dependence on the pre-append version still being readable,
    *     which concurrent maintenance may have vacuumed by the time a
    *     delayed replay arrives. A replay whose own overwrite crashed
    *     midway (marker gone, rows partial) recomputes.
    *  2. `probe` reads the index as of BEFORE this batch's own append
    *     ([[preBatchSnapshot]]); its rows land via
    *     [[writeBatchIdempotent]] (overwrite-own-subdir).
    *  3. `append` commits the batch's rows with the stamp metadata it is
    *     given, and is skipped when HEAD already carries a stamp >=
    *     batchId: the grown index and the applied-batch watermark move
    *     in one atomic publish, so every crash window (before the write,
    *     between write and append, after the append but before the
    *     checkpoint commit) replays to the same final state. */
  private def growStep(
      batch: DataFrame, batchId: Long, root: String, outDir: String)(
      probe: graft.index.IndexManifest.Snapshot => DataFrame)(
      append: Map[String, String] => Unit): Unit = {
    val spark = batch.sparkSession
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/batch-$batchId", "_SUCCESS")
    val done =
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker) &&
        graft.index.IndexManifest.snapshot(spark, root).meta
          .get(StreamBatchKey).exists(_.toLong >= batchId)
    if (!done) {
      val (snap, alreadyCommitted) = preBatchSnapshot(spark, root, batchId)
      writeBatchIdempotent(probe(snap), outDir, batchId)
      if (!alreadyCommitted) append(Map(StreamBatchKey -> batchId.toString))
    }
  }

  /** Resolve the index AS OF BEFORE `batchId`'s own append: walk down
    * from HEAD past any version whose [[StreamBatchKey]] stamp is >=
    * batchId. On the first attempt that is simply HEAD; on a replay
    * AFTER the append committed, it is the pre-append version — without
    * the walk, every row of the replayed batch would self-match against
    * its own committed copy. Returns the resolved snapshot plus whether
    * HEAD already carries this batch's append (replay → skip commit).
    * Family-agnostic: the walk reads only manifest metadata, so every
    * growing-index family shares it. */
  private[graft] def preBatchSnapshot(
      spark: SparkSession, root: String,
      batchId: Long): (graft.index.IndexManifest.Snapshot, Boolean) = {
    val head = graft.index.IndexManifest.snapshotAt(spark, root,
      graft.index.IndexManifest.currentVersion(spark, root))
    val alreadyCommitted =
      head.meta.get(StreamBatchKey).exists(_.toLong >= batchId)
    // the watermark walk lives on IndexManifest (shared with
    // maintenance's retention cap — one definition, no drift)
    val (snap, hitVacuumed) =
      graft.index.IndexManifest.walkBelowBatch(spark, root, head, batchId)
    if (!hitVacuumed) (snap, alreadyCommitted)
    else {
      // vacuum reclaimed a manifest the walk needed: reconstruct the
      // pre-append view from HEAD instead of crash-looping the batch
      val cause = new java.io.FileNotFoundException(
        s"pre-batch manifest below v${snap.version} of $root vacuumed")
      (reconstructPreBatch(head, batchId, root, cause), alreadyCommitted)
    }
  }

  /** Walk-back fallback for a replay that must RECOMPUTE (its output
    * marker is gone) after maintenance vacuumed its pre-append version:
    * rebuild that view from HEAD by removing EXACTLY the segments this
    * batch's own append added — every family's growing append co-stamps
    * them ([[graft.index.IndexManifest.StreamBatchSegsKey]]) in the same
    * atomic commit as the watermark, and appends never touch existing
    * segments, so HEAD's tables minus those segments IS the pre-append
    * view, identically (not approximately: segment-level subtraction is
    * exact regardless of doc-id ordering or content overlap).
    *
    * Guarded: HEAD must be this batch's OWN append commit — the
    * watermark equal to `batchId` AND set explicitly at HEAD (an
    * inherited stamp means a later commit, e.g. a compaction that folded
    * the batch's delta into shared segments, destroyed the boundary) —
    * and every stamped segment still listed. Anything else fails loudly
    * with the operational fix, because recomputing against a wrong view
    * would silently produce self-matched (all-marked) output. */
  private[graft] def reconstructPreBatch(
      head: graft.index.IndexManifest.Snapshot, batchId: Long,
      root: String, cause: Throwable): graft.index.IndexManifest.Snapshot = {
    val segsKey = graft.index.IndexManifest.StreamBatchSegsKey
    val stamp = head.meta.get(StreamBatchKey).map(_.toLong)
    val segs = head.meta.get(segsKey)
      .map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val headIsOwnAppend = stamp.contains(batchId) &&
      head.explicitKeys.contains(StreamBatchKey) && segs.nonEmpty
    val allListed = segs.forall(s => head.tables.values.exists(_.contains(s)))
    if (!headIsOwnAppend || !allListed)
      throw new IllegalStateException(
        s"growing index at $root: replaying batch $batchId must recompute " +
          s"its probe (output incomplete) but the pre-append version was " +
          s"vacuumed and HEAD v${head.version} cannot stand in for it " +
          s"(stamp=${stamp.getOrElse("none")}, " +
          s"stampedHere=${head.explicitKeys.contains(StreamBatchKey)}, " +
          s"appendSegsListed=$allListed). A maintenance commit after the " +
          "batch's append has folded its delta into shared segments. Fix: " +
          "vacuum growing roots only below the last stream batch's " +
          "pre-append version (keepFrom <= that version) until the " +
          "stream's checkpoint has durably passed the batch, or rebuild " +
          "this batch's output from the lake.", cause)
    val tables = head.tables.map { case (t, ss) => t -> ss.filterNot(segs) }
    // CONTRACTUAL: subtraction must never EMPTY a table. Every family's
    // build seeds each of its tables with at least one segment and every
    // append only EXTENDS existing tables (appendGramIndexM /
    // appendLshIndexM / appendIndexM / appendIvf*/Pq* all do
    // `snap.tables(T) :+ seg`), so a batch append cannot own a table's
    // only segments — an emptied table means the stamped segment list
    // does not describe a pure append over this root, and recomputing
    // against a fabricated view would produce silently wrong (self-
    // matched or unmatched) output. Fail loud with the operational fix,
    // like the destroyed-boundary case above.
    val emptied = tables.collect { case (t, ss) if ss.isEmpty => t }
    if (emptied.nonEmpty)
      throw new IllegalStateException(
        s"growing index at $root: reconstructing batch $batchId's " +
          s"pre-append view from HEAD v${head.version} would leave " +
          s"table(s) ${emptied.mkString(", ")} with zero segments — the " +
          "batch's stamped segments are a table's ONLY segments, which no " +
          "build+append lifecycle produces. The root's history does not " +
          "match the stamping contract; rebuild this batch's output from " +
          "the lake instead of replaying it.", cause)
    graft.index.IndexManifest.Snapshot(
      head.version, tables, head.meta, head.explicitKeys)
  }

  /** One micro-batch of the GROWING span-dedup ingest ([[growStep]]):
    * the arrivals' spans against the gram index as of the previous
    * batch — keep-first across arrival order, with intra-batch repeats
    * handled by [[graft.operators.Dedup.incrementalSpans]]'s
    * ≥2-distinct-docs clause — then the batch's grams append. */
  private[graft] def spanGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      gramChars: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      graft.operators.Dedup.incrementalSpans(
          graft.operators.Dedup.readGramIndexAt(batch.sparkSession, root, snap),
          batch, "doc_id", "text", gramChars)
        .select(col("doc_id"), col("span_start"), col("span_end"))
    } { meta =>
      graft.operators.Dedup.appendGramIndexM(
        batch, "doc_id", "text", gramChars, root, extraMeta = meta)
    }

  /** Stage `arrivals` as `nBatches` single-file parquet drops (batch b =
    * docs with `(doc_id mod 10*nBatches) div 10 == b`) with ascending
    * modification times, so a `maxFilesPerTrigger = 1` file stream
    * consumes them as micro-batches 0..n-1 in that DETERMINISTIC order —
    * the property the shared oracle replays. */
  private[graft] def writeArrivalBatches(
      arrivals: DataFrame, streamIn: String, nBatches: Int,
      idCol: String = "doc_id"): Unit = {
    val stage = Files.createTempDirectory("graft_sgrow_stage").toString
    try {
      for (b <- 0 until nBatches)
        dropFile(
          arrivals.filter(expr(s"($idCol % ${10 * nBatches}) div 10") === b),
          s"$stage/b$b", java.nio.file.Paths.get(streamIn, f"arrivals-$b%03d.parquet"),
          minutesAgo = nBatches - b)
    } finally rmTree(stage)
  }

  /** Write `df` as ONE parquet file at `dst` (through `stageDir`) with
    * its mtime set `minutesAgo` back, so a file stream reading one file
    * per trigger consumes the drops oldest first. */
  private def dropFile(
      df: DataFrame, stageDir: String, dst: java.nio.file.Path,
      minutesAgo: Int): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(stageDir)
    val part = Option(new java.io.File(stageDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file in $stageDir"))
    Files.move(part.toPath, dst)
    dst.toFile.setLastModified(
      java.lang.System.currentTimeMillis() - minutesAgo * 60000L): Unit
  }

  /** The one driver of the nine GROWING ingests: the index is built
    * over the lake part of `lake` (`id % 10 < 8`) by `build(part,
    * root)`, the rest is staged as 3 arrival batches
    * ([[writeArrivalBatches]]), and [[drain]] runs them one file per
    * trigger through `step(batch, batchId, root, outDir)` — a family's
    * `*GrowingBatch`. `arrival` is the file stream's schema; its first
    * column is the id the lake/arrival split keys on. */
  private def growingDrain(
      spark: SparkSession, prefix: String, lake: DataFrame,
      arrival: StructType, outSchema: StructType)(
      build: (DataFrame, String) => Unit)(
      step: (DataFrame, Long, String, String) => Unit): DataFrame =
    drain(spark, prefix) { scratch =>
      val idCol = arrival.head.name
      val root = scratch(s"${prefix}_idx")
      val streamIn = scratch(s"${prefix}_in")
      build(lake.filter(col(idCol) % 10 < 8), root)
      writeArrivalBatches(
        lake.filter(col(idCol) % 10 >= 8), streamIn, nBatches = 3, idCol = idCol)
      val arrivals = spark.readStream
        .schema(arrival)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamIn)
      Drain(arrivals, outSchema) { (batch, batchId, outDir) =>
        step(batch, batchId, root, outDir)
      }
    }

  /** Ingest-time repeated-span marking where the persisted gram index
    * GROWS with the stream — the missing half of [[streamingSpanDedup]]
    * (which reads one frozen snapshot and defers growth to a nightly
    * append): here every micro-batch probes the index as of the previous
    * batch and then appends its own grams through an exactly-once
    * manifest commit ([[spanGrowingBatch]]), so boilerplate arriving in
    * batch 0 flags its re-arrival in batch 2 WITHOUT any lake rebuild in
    * between. This is the production ingest loop of the exact-substring
    * family: per-batch cost is the arrivals' kernel pass + a broadcast
    * probe of their digests into the (h)-pruned index scan; the index
    * grows by delta segments only; replay safety comes from the batchId
    * stamped into the same atomic manifest publish that grows the index
    * (kill-and-replay spec-proven). Deterministic batch order (staged
    * files, ascending mtimes) makes the result exactly replayable by the
    * shared DuckDB oracle. */
  def streamingSpanDedupGrowing(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmQueries.SpanGramChars
    growingDrain(spark, "graft_sgrow", graft.Tables.load(spark, dir, "documents"),
        DocumentsSchema, SpanSchema) { (part, root) =>
      graft.operators.Dedup.buildGramIndexM(part, "doc_id", "text", SpanGramChars, root)
    } { (batch, batchId, root, outDir) =>
      spanGrowingBatch(batch, batchId, root, outDir, SpanGramChars)
    }.orderBy("doc_id", "span_start")
  }

  /** Multimodal metadata extraction AT INGEST — the crawl-pipeline shape
    * for binary columns: every arriving payload's container header (PNG
    * IHDR / JPEG SOFn marker walk / GIF screen descriptor) is parsed IN
    * the stream by the codegen'd [[graft.functions.MediaHeader]] kernel —
    * stateless per-row Column algebra, no state store, no UDF — so
    * format/dimension metadata lands with the ingest batch and the
    * heavy decode stays downstream (and optional). Payloads are the
    * deterministic synthesized image byte streams of the batch twin
    * (`multimodal_headers`, the sanctioned no-codec harness); the oracle
    * knows only the id arithmetic the bytes were generated from, so the
    * in-stream parse must recover the numbers from the actual bytes. */
  def streamingMediaHeaders(spark: SparkSession, dir: String): DataFrame = {
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
    val parsed = graft.operators.Multimodal.headerMeta(
      graft.operators.Multimodal.synthesizeImagePayloads(arrivals, "doc_id"),
      "doc_id")
      .select(col("doc_id"), col("hdr.format").as("format"),
        col("hdr.width").as("width"), col("hdr.height").as("height"))
    runToMemory(parsed, "append", "graft_smmh").orderBy("doc_id")
  }

  /** Perceptual-hash fingerprinting AT INGEST: the integer-DCT pHash
    * kernel riding a streaming frame — stateless per-row projection, so
    * every arriving payload carries its 64-bit near-dup fingerprint
    * into the lake and the banded pair join stays a batch/maintenance
    * job over the accumulated hashes (the simhash discipline). Shares
    * `multimodal_phash`'s oracle (per-row independence ⇒ batch union ≡
    * one-shot). */
  def streamingPhash(spark: SparkSession, dir: String): DataFrame = {
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
    val hashed = graft.operators.Dedup.phashSigs(
      graft.operators.Multimodal.attachPayload(arrivals, "text", "doc_id"),
      "payload", "doc_id")
    runToMemory(hashed, "append", "graft_smph").orderBy("doc_id")
  }

  /** The audio/video twin of [[streamingMediaHeaders]]: the codegen'd
    * [[graft.functions.AvHeaderKernel]] parse riding a streaming frame —
    * stateless per-row Column algebra, so container metadata (format /
    * channels / rate / duration) is extracted AT INGEST and sample
    * decode stays downstream. */
  def streamingAvHeaders(spark: SparkSession, dir: String): DataFrame = {
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
    val parsed = graft.operators.Multimodal.avHeaderMeta(
      graft.operators.Multimodal.synthesizeAvPayloads(arrivals, "doc_id"),
      "doc_id")
      .select(col("doc_id"), col("av.format").as("format"),
        col("av.channels").as("channels"),
        col("av.sample_rate").as("sample_rate"),
        col("av.duration_ms").as("duration_ms"))
    runToMemory(parsed, "append", "graft_smav").orderBy("doc_id")
  }

  /** DSIR importance scoring AT INGEST: the reference log-ratio table
    * is built ONCE from the static corpus
    * ([[graft.operators.Curation.importanceLogRatios]] — B rows,
    * collected like the centroid/codebook kernel refs) and each
    * arriving document scores as a stateless fold over its own token
    * array against the literal bucket→log-ratio map — no explode, no
    * shuffle, no state in the stream; unseen buckets take the
    * smoothing floor. This is the production shape for "does this
    * arriving data look like the target distribution": the decision
    * rides the ingest batch at scan speed. Shares the batch twin's
    * oracle (`curation_importance_weights`) — same corpus, same
    * arithmetic, same 6-decimal rounding. */
  def streamingDsirScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val lrRows = graft.operators.Curation.importanceLogRatios(
      docs, "text", col("source") === "src0", buckets = 64).collect()
    val lr = lrRows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // a reference corpus with no tokens at all (empty table, all-null
    // text) has no histogram rows: every bucket takes the all-zeros
    // smoothing floor instead of crashing on lrRows.head
    val (tt, rt) =
      if (lrRows.isEmpty) (0L, 0L)
      else (lrRows.head.getLong(2), lrRows.head.getLong(3))
    val floor = graft.operators.Curation.importanceUnseenFloor(tt, rt, buckets = 64)
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
    val (nToks, logweight) = graft.operators.Curation.importanceScore(
      col("text"), lr, floor, buckets = 64)
    val scored = arrivals.filter(col("source") =!= "src0")
      .select(col("doc_id"), nToks.as("n_toks"), logweight.as("logweight"))
      .filter(col("n_toks") > 0)
    runToMemory(scored, "append", "graft_sdsir").orderBy("doc_id")
  }

  /** The curation decision log AT INGEST: every STATELESS gate of
    * [[graft.queries.CurationQueries]]' `curation_audit` — quality,
    * repetition, benchmark decontamination (vs the frozen benchmark
    * digest set), domain mix, split — evaluated per arriving document,
    * so the per-doc provenance row exists the moment the doc lands.
    * Corpus-GLOBAL gates (dedup canonicality) structurally cannot ride
    * a stateless ingest pass and stay batch — the same division as the
    * DSIR/prototype scorers (score at ingest, global decisions in
    * batch). Two AvailableNow passes over the arrivals: the gate
    * projections sink per-doc rows, the decontamination probe sinks
    * hit rows ([[graft.operators.Curation.contaminationHits]] — only
    * matches reach the sink), and the per-doc contamination fold runs
    * post-drain on the result-sized hits. Per-doc independent →
    * batch-equivalent: the registry row shares `curation_audit`'s gate
    * expressions and replays the batch oracle minus the corpus-global
    * columns. */
  def streamingCurationAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val bench = graft.operators.Curation.benchDigests(
      docs.filter(col("doc_id") % ContamBenchMod === 0),
      "text", "doc_id", ContamShingleN)
    def arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
    val toks = split(col("text"), " ")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
    val gates = runToMemory(arrivals.select(
      col("doc_id"), col("source"),
      (round(graft.operators.TextAnalysis.qualityScore(col("text")), 6) >= 0.3)
        .as("quality_pass"),
      (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)
        <= 0.5).as("low_repetition"),
      graft.operators.Curation.domainMix(col("text"), col("source"), rates,
        defaultRate = 0.75).as("mix_keep"),
      graft.operators.Curation.assignSplit(col("text"), trainPct = 90,
        valPct = 5).as("split")), "append", "graft_saudg")
    val hits = runToMemory(graft.operators.Curation.contaminationHits(
      arrivals, bench, "doc_id", "text", ContamShingleN), "append", "graft_saudh")
    val contam = graft.operators.Curation
      .contaminationFromHits(hits, "doc_id", threshold = 0.5)
      .select(col("doc_id"), col("contaminated"))
    gates.join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality_pass"),
        col("low_repetition"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        col("mix_keep"), col("split"))
      .orderBy("doc_id")
  }

  /** Prototypicality scoring AT INGEST: the centroid set is collected
    * ONCE from the static corpus (the kernel-ref precedent of the
    * DSIR log-ratio table and the IVF centroid refs) and each arriving
    * embedding gets `(cluster, centroid_sim)` from the one-pass
    * [[graft.functions.NearestCentroidSim]] struct kernel — a stateless
    * zero-shuffle projection, no state store, no explode. The PRUNE
    * decision (rank within cluster) is corpus-global and stays batch
    * ([[graft.operators.Curation.prototypePrune]]); this leg scores
    * arrivals so a downstream gate can act on prototypicality the
    * moment a row lands. Batch-equivalent by per-row independence —
    * the registry row shares the batch assignment arithmetic and
    * replays exactly in the oracle's assignment CTE. */
  def streamingPrototypeScore(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 100 === 0)
    val arrivals = tableStream(spark, dir, "embeddings", EmbeddingsSchema)
    val scored = graft.operators.Similarity.assignClustersWithSim(
        arrivals.select(col("vec_id"), col("embedding")),
        centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster"), col("centroid_sim"))
    runToMemory(scored, "append", "graft_sproto").orderBy("vec_id")
  }

  /** Benchmark decontamination AT INGEST: the eval benchmark's shingle
    * digests are summarized ONCE into a broadcast-small set, and every
    * arriving document's distinct shingle set is computed IN-ROW (a
    * stateless projection — no shuffle, no state store) and probed
    * against it, so only HIT rows reach the sink and a contaminated
    * document is flagged the moment it arrives — before it can enter
    * the training corpus. The per-doc overlap fold runs post-sink on
    * the result-sized hit rows; batch-equivalent by per-doc
    * independence, so it shares `curation_contamination`'s oracle. */
  def streamingContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val bench = graft.operators.Curation.benchDigests(
      docs.filter(col("doc_id") % ContamBenchMod === 0),
      "text", "doc_id", ContamShingleN)
    val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
      .filter(col("doc_id") % ContamBenchMod =!= 0)
    val hits = graft.operators.Curation.contaminationHits(
      arrivals, bench, "doc_id", "text", ContamShingleN)
    val pts = runToMemory(hits, "append", "graft_scontam")
    graft.operators.Curation
      .contaminationFromHits(pts, "doc_id", threshold = 0.5)
      .orderBy("doc_id")
  }

  /** Shingle width / benchmark-slice modulus of the decontamination
    * probes — must match `CurationQueries`' batch constants so the
    * stream twin shares the batch oracle. */
  private val ContamShingleN = 5
  private val ContamBenchMod = 97

  /** Output schema of [[semGrowingBatch]]'s per-batch pair frames. */
  private[graft] val SemGrowSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("corpus_id", LongType),
    StructField("cosine", DoubleType)))

  /** One micro-batch of the GROWING semantic-dedup ingest — the
    * hash-embedding edition of the shared growth protocol: each arriving
    * document is embedded + sign-LSH bucketed in the batch, its bucket
    * cell of the committed embed table (as of the previous batch) is
    * probed for cosine ≥ 0.9 near-dups, and the batch's own embedded
    * rows then append through the batchId-stamped atomic commit. The
    * arrivals broadcast into the lake-sized embed scan (the corpus never
    * shuffles), mirroring the batch [[graft.operators.Dedup
    * .embeddingDupPairs]] bucket-join shape. */
  private[graft] def semGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      val corpus = graft.index.IndexManifest.readAt(batch.sparkSession, root, snap, SemTable)
      val probe = graft.operators.TextAnalysis
        .hashEmbed(batch, "doc_id", "text", SemDim)
        .select(col("doc_id"), col("embedding").as("__sv"),
          graft.operators.Similarity.signBucket(col("embedding"), SemSignBits)
            .as("bucket"))
      corpus.join(broadcast(probe), Seq("bucket"))
        .filter(col("doc_id") =!= col("corpus_id"))
        .withColumn("__c",
          graft.operators.Similarity.cosineNative(col("__sv"), col("__cv")))
        .filter(col("__c") >= 0.9) // threshold on the RAW cosine (dedup contract)
        .select(col("doc_id"), col("corpus_id"), round(col("__c"), 6).as("cosine"))
    } { meta =>
      appendSemanticIndexM(batch, "doc_id", "text", root, extraMeta = meta)
    }

  /** Semantic dedup AT INGEST where the embed table GROWS with the
    * stream — the missing half of [[streamingSemanticDedup]] (which
    * probes one frozen snapshot, so a near-dup pair WITHIN the arrival
    * stream is never flagged): every micro-batch probes the committed
    * corpus as of the previous batch and then appends its own embedded
    * rows through an exactly-once manifest commit ([[semGrowingBatch]]),
    * so a document semantically duplicating an arrival from an EARLIER
    * batch is caught the moment it lands — completing the growing set
    * (span, LSH, PQ, IVF, BM25, semantic): every streamable index
    * family now has its production ingest loop. Per-batch cost is the
    * arrivals' embed pass + the bucket-pruned broadcast join; the index
    * grows by delta embed segments only; replay safety is the shared
    * protocol (walk-back, segment-subtraction reconstruction, stamped
    * commits). Deterministic batch staging makes the pair set exactly
    * replayable by the DuckDB oracle: doc_id in batch b pairs with the
    * lake or any batch < b, never its own batch. */
  def streamingSemanticDedupGrowing(spark: SparkSession, dir: String): DataFrame =
    growingDrain(spark, "graft_mgrow", graft.Tables.load(spark, dir, "documents"),
        DocumentsSchema, SemGrowSchema) { (part, root) =>
      buildSemanticIndexDfM(part, "doc_id", "text", root)
    } { (batch, batchId, root, outDir) =>
      semGrowingBatch(batch, batchId, root, outDir)
    }.orderBy("doc_id", "corpus_id")

  /** Output schema of [[lshGrowingBatch]]'s per-batch pair frames. */
  private[graft] val PairSchema: StructType = StructType(Seq(
    StructField("id_new", LongType),
    StructField("id_base", LongType),
    StructField("est_jaccard", DoubleType)))

  /** One micro-batch of the GROWING near-dup ingest — the LSH edition of
    * [[spanGrowingBatch]], proving the exactly-once growth protocol is
    * family-agnostic (same [[preBatchSnapshot]] walk-back, same batchId
    * stamped into the same atomic manifest publish that grows the
    * index): probe the (bands, sigs) pair as of the previous batch with
    * the full indexed cross-corpus operator (`staleCounts = true`, the
    * appended-index contract), land the pairs idempotently, then append
    * this batch's signatures and band rows — skipped when HEAD already
    * proves the append committed. */
  private[graft] def lshGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      shingleN: Int, k: Int, bands: Int, maxBucket: Int): Unit = {
    lazy val shingled = graft.operators.Dedup.rawShingles(
      batch, "text", "doc_id", shingleN)
    growStep(batch, batchId, root, outDir) { snap =>
      val (bandsDf, sigsDf) =
        graft.operators.Dedup.readLshIndexAt(batch.sparkSession, root, snap)
      graft.operators.Dedup.indexedCrossCorpusPairs(
          bandsDf, sigsDf, shingled, "doc_id", k, bands, maxBucket,
          staleCounts = true)
        .select(col("id_new"), col("id_base"), col("est_jaccard"))
    } { meta =>
      graft.operators.Dedup.appendLshIndexM(
        shingled, "doc_id", k, bands, root, extraMeta = meta)
    }
  }

  /** Near-dup screening at ingest where the persisted LSH index GROWS
    * with the stream — the missing half of [[streamingCrossCorpusDedup]]
    * (which probes one frozen snapshot, so a near-dup pair WITHIN the
    * arrival stream is never flagged): every micro-batch probes the
    * index as of the previous batch and then appends its own signatures
    * through an exactly-once manifest commit ([[lshGrowingBatch]]), so a
    * document near-duplicating an arrival from an EARLIER batch is
    * caught the moment it lands — the production crawl-ingest loop of
    * the MinHash-LSH family. Per-batch cost is the arrivals' shingle +
    * signature pass and the broadcast-probed band join; the index grows
    * by delta segments only; replay safety comes from the batchId
    * stamped into the growing commit (kill-and-replay spec-proven,
    * [[StreamGrowingIndexSpec]]). Deterministic batch order (staged
    * files, ascending mtimes) makes the pair set exactly replayable by
    * the shared DuckDB oracle: id_new in batch b pairs with id_base in
    * the lake or any batch < b, never its own batch. */
  def streamingLshDedupGrowing(
      spark: SparkSession, dir: String,
      shingleN: Int, k: Int, bands: Int, maxBucket: Int): DataFrame =
    growingDrain(spark, "graft_lgrow", graft.Tables.load(spark, dir, "documents"),
        DocumentsSchema, PairSchema) { (part, root) =>
      graft.operators.Dedup.buildLshIndexM(
        graft.operators.Dedup.rawShingles(part, "text", "doc_id", shingleN),
        "doc_id", k, bands, root)
    } { (batch, batchId, root, outDir) =>
      lshGrowingBatch(batch, batchId, root, outDir, shingleN, k, bands, maxBucket)
    }.orderBy("id_new", "id_base")

  /** Output schema of [[pqGrowingBatch]]'s per-batch top-k frames. */
  private[graft] val PqGrowSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbor_id", LongType),
    StructField("score", DoubleType),
    StructField("rnk", IntegerType)))

  /** Output schema of [[jlGrowingBatch]]'s per-batch top-k frames. */
  private[graft] val JlGrowSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbor_id", LongType),
    StructField("cosine", DoubleType),
    StructField("rnk", IntegerType)))

  /** One micro-batch of the GROWING training-free JL ingest — the JL
    * edition of [[pqGrowingBatch]]: each arriving vector runs the
    * two-stage served search (coarse over the STORED m-double
    * projections as of the previous batch, exact rerank against the
    * lake's raw vectors) with (m, d) read from the manifest meta — the
    * projection is a pure function of them, so the replayed batch and
    * the original are bit-identical by construction — then the batch's
    * own projections append through the batchId-stamped atomic commit. */
  private[graft] def jlGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      corpus: DataFrame, k: Int, refine: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      graft.operators.Similarity.jlProbeSnapM(
          batch, corpus, "vec_id", "embedding", k, refine, root, snap)
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          col("rank").as("rnk"))
    } { meta =>
      graft.operators.Similarity.appendJlIndexM(
        batch, "vec_id", "embedding", root, extraMeta = meta)
    }

  /** ANN at ingest where the TRAINING-FREE projected index GROWS with
    * the stream — the eighth growing family, and the one whose
    * append-time invariant is strongest: PQ/IVF appends are sound
    * because their codebook/centroids are build-frozen state; the JL
    * append is sound because there is NO state at all — the sign matrix
    * is regenerated from the manifest's (m, d) by every batch, every
    * replay, and every probe, so drift between lake and delta segments
    * is structurally impossible. Each arriving embedding is ranked
    * (coarse projected scan + exact rerank) against everything that
    * arrived before it; replay safety is the shared batchId-stamped
    * protocol. Deterministic batch staging makes the result exactly
    * replayable by the DuckDB oracle: query in batch b ranks rows of
    * the lake and batches < b only. */
  def streamingAnnJlGrowing(
      spark: SparkSession, dir: String,
      k: Int, m: Int, d: Int, refine: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    growingDrain(spark, "graft_jgrow", emb, EmbeddingsSchema, JlGrowSchema) {
      (part, root) =>
        graft.operators.Similarity.buildJlIndexM(
          part, "vec_id", "embedding", m, d, root)
    } { (batch, batchId, root, outDir) =>
      jlGrowingBatch(batch, batchId, root, outDir, emb, k, refine)
    }.orderBy("query_id", "rnk")
  }

  /** One micro-batch of the GROWING ANN ingest — the PQ edition of
    * [[spanGrowingBatch]]/[[lshGrowingBatch]], the third family through
    * the same exactly-once protocol: each arriving embedding retrieves
    * its top-k nearest EARLIER vectors from the compressed index as of
    * the previous batch (ADC over the stored codes with the STORED
    * codebook — codes and codebook resolve from one snapshot), then the
    * batch's own vectors are encoded and appended through the
    * batchId-stamped atomic commit. */
  private[graft] def pqGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      k: Int, m: Int, dsub: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      val (codes, cb) =
        graft.operators.Similarity.readPqIndexAt(batch.sparkSession, root, snap)
      graft.operators.Similarity.pqSearchEncoded(
          batch, codes, cb, "vec_id", "embedding", k, m, dsub)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").as("rnk"))
    } { meta =>
      graft.operators.Similarity.appendPqIndexM(
        batch, "vec_id", "embedding", m, dsub, root, extraMeta = meta)
    }

  /** ANN at ingest where the compressed PQ index GROWS with the stream —
    * the vector-database ingestion loop: every arriving embedding is
    * ranked against everything that arrived before it (the lake plus
    * all earlier micro-batches), then joins the index itself through an
    * exactly-once manifest commit ([[pqGrowingBatch]]). The frozen
    * [[streamingPqProbe]] twin structurally cannot relate two
    * arrivals to each other; this one catches an arrival's nearest
    * neighbor landing two batches earlier, which is what online
    * semantic dedup / online retrieval of fresh content needs. Per-batch
    * cost: one broadcast-LUT kernel projection over the slim code rows
    * (d/m fewer bytes than the float vectors) + the bounded-heap top-k;
    * the index grows by delta code segments only. Replay safety is the
    * shared protocol (kill-and-replay spec-proven); deterministic batch
    * staging makes the result exactly replayable by the DuckDB oracle:
    * query in batch b ranks codes of the lake and batches < b only. */
  def streamingAnnPqGrowing(
      spark: SparkSession, dir: String,
      k: Int, m: Int, dsub: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    growingDrain(spark, "graft_pgrow", emb, EmbeddingsSchema, PqGrowSchema) {
      (part, root) =>
        // codebook sample fixed at build time from the full table — the
        // production contract (codes are meaningless across codebooks),
        // and what keeps the oracle's encode grid identical
        val cb = graft.operators.Similarity.pqCodebook(
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", m, dsub)
        graft.operators.Similarity.buildPqIndexM(
          part, cb, "vec_id", "embedding", m, dsub, root)
    } { (batch, batchId, root, outDir) =>
      pqGrowingBatch(batch, batchId, root, outDir, k, m, dsub)
    }.orderBy("query_id", "rnk")
  }

  /** Output schema of [[ivfGrowingBatch]]'s per-batch top-k frames. */
  private[graft] val IvfGrowSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("cluster", LongType),
    StructField("neighbor_id", LongType),
    StructField("cosine", DoubleType),
    StructField("rnk", IntegerType)))

  /** One micro-batch of the GROWING inverted-file ANN ingest — the IVF
    * edition of [[pqGrowingBatch]]: each arriving vector runs the served
    * multi-probe search against the assignment table as of the previous
    * batch (probe list from the STORED centroids, whose cell geometry is
    * fixed at build time — exactly why append-with-stored-centroids is
    * sound), then the batch's own vectors are assigned and appended
    * through the batchId-stamped atomic commit. */
  private[graft] def ivfGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      k: Int, nProbe: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      // snapshot-keyed (not version-keyed) probe: on a vacuumed-walk-back
      // replay the resolved view is a reconstruction that exists only as
      // a Snapshot value, not as a committed version number
      graft.operators.Similarity.ivfProbeSnapM(
          batch, "vec_id", "embedding", k, nProbe, root, snap)
        .select(col("query_id"), col("cluster"), col("neighbor_id"),
          col("cosine"), col("rank").as("rnk"))
    } { meta =>
      graft.operators.Similarity.appendIvfIndexM(
        batch, "vec_id", "embedding", root, extraMeta = meta)
    }

  /** Multi-probe ANN at ingest where the inverted file GROWS with the
    * stream — the uncompressed sibling of [[streamingAnnPqGrowing]]:
    * every arriving vector probes nProbe Voronoi cells of the assignment
    * as of the previous batch and is then assigned (with the stored,
    * build-frozen centroids) and appended through an exactly-once
    * manifest commit ([[ivfGrowingBatch]]). Candidate bytes per batch
    * scale with nProbe/C of the rows that arrived BEFORE it, never with
    * the stream's length; the index grows by delta assignment segments
    * only. Replay safety is the shared protocol; deterministic batch
    * staging makes the result exactly replayable by the DuckDB oracle:
    * a query in batch b scores vectors of the lake and batches < b that
    * share its probed clusters. */
  def streamingAnnIvfGrowing(
      spark: SparkSession, dir: String, k: Int, nProbe: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    growingDrain(spark, "graft_igrow", emb, EmbeddingsSchema, IvfGrowSchema) {
      (part, root) =>
        // centroid sample fixed at build time from the full table — the
        // production contract (append re-uses the stored centroids so
        // every segment's cell geometry matches), and what keeps the
        // oracle's assignment grid identical
        graft.operators.Similarity.buildIvfIndexM(
          part, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", root)
    } { (batch, batchId, root, outDir) =>
      ivfGrowingBatch(batch, batchId, root, outDir, k, nProbe)
    }.orderBy("query_id", "rnk")
  }

  /** Output schema of [[ivfPqGrowingBatch]]'s per-batch top-k frames. */
  private[graft] val IvfPqGrowSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("cluster", LongType),
    StructField("neighbor_id", LongType),
    StructField("score", DoubleType),
    StructField("rnk", IntegerType)))

  /** One micro-batch of the GROWING coarse-quantized ANN ingest — the
    * compressed flavor a 100 TB corpus actually grows (FAISS
    * `IVFx,PQm`): each arriving vector runs the served multi-probe ADC
    * search against the code rows as of the previous batch (probe list
    * from the STORED centroids, per-query LUT from the STORED codebook
    * — both build-frozen, which is exactly why append-with-stored-
    * geometry is sound), then the batch's own vectors are assigned +
    * encoded and appended through the batchId-stamped atomic commit.
    * The r15 review already joined [[graft.operators.Similarity
    * .appendIvfPqIndexM]] to the stamping contract, so replay and
    * vacuumed-walk-back reconstruction ride the shared protocol
    * unchanged. */
  private[graft] def ivfPqGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      k: Int, m: Int, dsub: Int, nProbe: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      graft.operators.Similarity.ivfPqProbeSnapM(
          batch, "vec_id", "embedding", k, m, dsub, nProbe, root, snap)
        .select(col("query_id"), col("cluster"), col("neighbor_id"),
          col("score"), col("rank").as("rnk"))
    } { meta =>
      graft.operators.Similarity.appendIvfPqIndexM(
        batch, "vec_id", "embedding", m, dsub, root, extraMeta = meta)
    }

  /** Compressed ANN at ingest where the IVF-PQ index GROWS with the
    * stream — completing the growing set ([[streamingAnnPqGrowing]] /
    * [[streamingAnnIvfGrowing]] siblings): every arriving vector probes
    * nProbe cells of the CODE rows as of the previous batch via the ADC
    * kernel, then is assigned + encoded with the build-frozen stored
    * centroids/codebook and appended through an exactly-once manifest
    * commit ([[ivfPqGrowingBatch]]). Candidate bytes per batch scale
    * with nProbe/C of the d/m-compressed rows that arrived before it;
    * the index grows by delta code segments only. Deterministic batch
    * staging makes the result exactly replayable by the DuckDB oracle:
    * a query in batch b ADC-scores vectors of the lake and batches < b
    * that share its probed clusters. */
  def streamingAnnIvfPqGrowing(
      spark: SparkSession, dir: String,
      k: Int, m: Int, dsub: Int, nProbe: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    growingDrain(spark, "graft_ipqgrow", emb, EmbeddingsSchema, IvfPqGrowSchema) {
      (part, root) =>
        // centroid + codebook samples fixed at build time from the FULL
        // table (the production contract: appends re-use the stored
        // geometry so every code segment is ADC-comparable) — and what
        // keeps the oracle's assignment + codeword grids identical
        val sample = emb.filter(col("vec_id") % 100 === 0)
        val cb = graft.operators.Similarity.pqCodebook(
          sample, "vec_id", "embedding", m, dsub).localCheckpoint()
        graft.operators.Similarity.buildIvfPqIndexM(
          part, sample, cb, "vec_id", "embedding", m, dsub, root)
    } { (batch, batchId, root, outDir) =>
      ivfPqGrowingBatch(batch, batchId, root, outDir, k, m, dsub, nProbe)
    }.orderBy("query_id", "rnk")
  }

  /** Output schema of [[phraseGrowingBatch]]'s per-batch screen frames. */
  private[graft] val PhraseGrowSchema: StructType = StructType(Seq(
    StructField("as_of_batch", LongType),
    StructField("query_id", IntegerType),
    StructField("doc_id", LongType),
    StructField("n_occ", LongType)))

  /** One micro-batch of the GROWING banned-phrase screen — the NINTH
    * family on the shared growth protocol, closing the one gap the r16
    * audit left (every other persisted family already grew at ingest):
    * the batch screens the ACCUMULATED corpus — the positional index as
    * of the previous batch, unioned with the arrivals in hand
    * ([[graft.operators.Retrieval.phraseScreenGrownM]]) — so hits
    * against yesterday's arrivals surface without a nightly rebuild,
    * then appends its own positional postings + corpus/digest segments
    * in the batchId-stamped atomic commit. The screen READS the
    * walked-back snapshot, so a crashed batch's replay (incl. after
    * vacuum) must reconstruct the exact pre-append view to reproduce
    * its output — the reconstruction machinery is load-bearing here,
    * not ceremonial. */
  private[graft] def phraseGrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      phrases: Seq[(Int, String)]): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      graft.operators.Retrieval.phraseScreenGrownM(
          batch, "doc_id", "text", phrases, root, snap)
        .select(lit(batchId).as("as_of_batch"), col("query_id"),
          col("doc_id"), col("n_occ"))
    } { meta =>
      graft.operators.Retrieval.appendPosIndexM(
        batch, "doc_id", "text", root, extraMeta = meta)
    }

  /** Banned-phrase screening at ingest where the POSITIONAL index grows
    * with the stream — the phrase/SDM family's production ingest loop,
    * the shape [[streamingPhraseScreen]] (stateless, own-text-only)
    * cannot express: each micro-batch's screen covers the lake AND every
    * earlier arrival (its `as_of_batch` column records the cut), and the
    * batch then joins the index through the exactly-once batchId-stamped
    * commit, so the NEXT batch's screen — and any phrase/SDM probe over
    * the root — already sees it. Deterministic batch staging (the shared
    * arrival-rank discipline) makes every per-batch screen exactly
    * replayable by the DuckDB oracle: batch b screens lake ∪ arrival
    * batches ≤ b. */
  def streamingPhraseScreenGrowing(
      spark: SparkSession, dir: String,
      phrases: Seq[(Int, String)]): DataFrame =
    // no orderBy — the registry row orders; one here would just add a
    // redundant exchange+sort
    growingDrain(spark, "graft_phgrow", graft.Tables.load(spark, dir, "documents"),
        DocumentsSchema, PhraseGrowSchema) { (part, root) =>
      graft.operators.Retrieval.buildPosIndexM(part, "doc_id", "text", root)
    } { (batch, batchId, root, outDir) =>
      phraseGrowingBatch(batch, batchId, root, outDir, phrases)
    }

  /** Output schema of [[bm25GrowingBatch]]'s per-batch negative frames. */
  private[graft] val Bm25GrowSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("doc_id", LongType),
    StructField("score", DoubleType),
    StructField("rank", IntegerType)))

  /** One micro-batch of the GROWING hard-negative ingest — the BM25
    * edition of the shared growth protocol, and its richest case: not
    * just the postings but the SCORING PARAMETERS grow with the stream.
    * Each arriving anchor mines its negatives against the index as of
    * the previous batch — postings, per-term df, and the (N, avgdl)
    * corpus scalars all resolved from that ONE snapshot
    * ([[graft.operators.Retrieval.hardNegativesAtM]]), so the idf a
    * batch-2 anchor sees already counts batch-0/1 documents — then the
    * batch's own docs append as postings + df + corpus segments in the
    * batchId-stamped atomic commit (stats move WITH the postings or not
    * at all). */
  private[graft] def bm25GrowingBatch(
      batch: DataFrame, batchId: Long, root: String, outDir: String,
      k: Int): Unit =
    growStep(batch, batchId, root, outDir) { snap =>
      graft.operators.Retrieval.hardNegativesAtM(
          batch, "doc_id", "text", k, root, snap)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
    } { meta =>
      graft.operators.Retrieval.appendIndexM(
        batch, "doc_id", "text", root, extraMeta = meta)
    }

  /** Hard-negative mining at ingest where the inverted index GROWS with
    * the stream — the retrieval edition of the growing family, closing
    * the gap [[streamingBm25Negatives]] leaves open (a frozen snapshot
    * can never surface another ARRIVAL as a negative): every arriving
    * anchor's negatives are mined against the lake plus all earlier
    * batches, with the BM25 normalization (idf, avgdl) computed over
    * exactly that corpus, and the anchor then joins the index through an
    * exactly-once manifest commit ([[bm25GrowingBatch]]). Per-batch cost
    * is the anchors' posting lists (broadcast-semi term restriction),
    * never the lake; the index grows by delta postings/df/corpus
    * segments only. Deterministic batch staging makes the ranking
    * exactly replayable by the DuckDB oracle: an anchor in batch b
    * scores documents of the lake and batches < b, with stats as of the
    * same cut. */
  def streamingBm25NegativesGrowing(
      spark: SparkSession, dir: String, k: Int): DataFrame =
    growingDrain(spark, "graft_bgrow", graft.Tables.load(spark, dir, "documents"),
        DocumentsSchema, Bm25GrowSchema) { (part, root) =>
      graft.operators.Retrieval.buildIndexM(part, "doc_id", "text", root)
    } { (batch, batchId, root, outDir) =>
      bm25GrowingBatch(batch, batchId, root, outDir, k)
    }.orderBy("query_id", "rank")

  /** Hard-negative mining AT INGEST — the streaming leg of the BM25
    * retrieval family: every arriving anchor document's distinct terms
    * become its query IN the stream (one stateless explode, no state
    * store), stream-static joined against the persisted inverted index
    * (postings + merged df stats resolved from ONE manifest snapshot at
    * query start), per-(anchor, doc) BM25 contributions summed as a
    * streaming aggregation whose state is one decimal row per candidate
    * pair (bounded by the anchors' posting lists, not the corpus), and
    * the self-excluded top-k ranked AFTER the stream completes on the
    * result-sized frame — so a contrastive-training pipeline gets each
    * arriving positive's hard negatives the moment it lands, without a
    * corpus scan per arrival. Batch-equivalent to
    * [[graft.operators.Retrieval.hardNegatives]] (shared oracle). */
  def streamingBm25Negatives(
      spark: SparkSession, dir: String,
      anchorIds: Seq[Long], k: Int): DataFrame = {
    val root = Files.createTempDirectory("graft_bm25idx_stream").toString
    try {
      graft.operators.Retrieval.buildIndexM(
        graft.Tables.load(spark, dir, "documents"), "doc_id", "text", root)
      val snap = graft.index.IndexManifest.snapshot(spark, root)
      val posts = graft.index.IndexManifest.readAt(spark, root, snap, "postings")
      val dfStats = graft.index.IndexManifest.readAt(spark, root, snap, "stats")
        .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
      val c = graft.index.IndexManifest.readAt(spark, root, snap, "corpus")
        .agg(sum(col("n_docs")).cast("long"), sum(col("sum_dl")).cast("long")).head()
      val (n, sumDl) = (c.getLong(0), c.getLong(1))
      val avgdl = sumDl.toDouble / n
      val arrivals = tableStream(spark, dir, "documents", DocumentsSchema)
        .filter(col("doc_id").isin(anchorIds: _*))
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(split(col("text"), " "))).as("term"))
        .filter(col("term") =!= "")
      // the bit-stable scoring grid of Retrieval.bm25Scored: per-term
      // contribution rounded to 1e-6, summed in DECIMAL(38,10)
      val idf = log(lit(1.0) +
        (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val K1 = graft.operators.Retrieval.K1
      val B = graft.operators.Retrieval.B
      val tfn = (col("tf") * lit(K1 + 1.0)) /
        (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / lit(avgdl))))
      val folded = arrivals
        .join(posts, Seq("term"))
        .join(dfStats, Seq("term"))
        .filter(col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"),
          round(idf * tfn, 6).cast("decimal(38,10)").as("w"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("w")).as("wsum"))
      val scored = runToMemory(folded, "complete", "graft_sbm25")
        .select(col("query_id"), col("doc_id"),
          round(col("wsum").cast("double"), 6).as("score"))
      graft.operators.Retrieval.rankTopK(scored, k)
    } finally rmTree(root)
  }

  /** Output schema of [[streamingRm3TopK]]'s per-batch frames —
    * [[graft.operators.Retrieval.rankTopK]]'s columns with the Int
    * query ids RM3's driver-literal query contract carries. */
  private[graft] val Rm3StreamSchema: StructType = StructType(Seq(
    StructField("query_id", IntegerType),
    StructField("doc_id", LongType),
    StructField("score", DoubleType),
    StructField("rank", IntegerType)))

  /** RM3 feedback retrieval AT INGEST — the streaming twin the retrieval
    * lifecycle was missing (inline/served/pinned exist; every other
    * index family already has its stream probe): a QUERY stream arrives
    * in micro-batches and each batch runs the full two-stage RM3
    * expansion ([[graft.operators.Retrieval.rm3ProbeM]]) against the
    * committed inverted index — stage-1 BM25, queries×fbDocs feedback
    * winners, exact-decimal interpolation, stage-2 re-rank — touching
    * only stored postings/stats/corpus segments, never lake text.
    * Per-batch cost is the batch's candidate posting lists (the served
    * steady state); output lands batchId-idempotent like every file
    * sink here. The index is frozen for the run, so the union over
    * batches replays bit-for-bit as one-shot RM3 over the full query
    * set — the registry row shares the batch oracle.
    *
    * The per-batch `collect()` is NOT a hot-path corpus collect: RM3's
    * queries are driver literals by the operator's contract (expanded
    * term weights are pre-rounded driver-side), and a trigger's
    * arrivals ARE the query batch — bounded by the staged file, a few
    * rows here, search-head-request-sized in production. */
  def streamingRm3TopK(
      spark: SparkSession, dir: String,
      queries: Seq[(Int, String)], k: Int,
      fbDocs: Int = 3, fbTerms: Int = 8, alpha: Double = 0.5): DataFrame =
    drain(spark, "graft_rm3") { scratch =>
      val root = scratch("graft_rm3idx_stream")
      graft.operators.Retrieval.buildIndexM(
        graft.Tables.load(spark, dir, "documents"), "doc_id", "text", root)
      Drain(queryStream(spark, queries, scratch), Rm3StreamSchema) {
        (batch, batchId, outDir) =>
          val qs = queriesOf(batch)
          if (qs.nonEmpty)
            writeBatchIdempotent(graft.operators.Retrieval.rm3ProbeM(
              spark, root, qs, k, fbDocs, fbTerms, alpha), outDir, batchId)
      }
    }

  /** Stage a driver-literal (query_id, text) batch as 3 single-file
    * parquet micro-batches and return the file stream over them —
    * round-robin by position, file mtimes back-dated so the file source
    * replays batch order deterministically (the query-stream analog of
    * [[writeArrivalBatches]]; ONE definition shared by every
    * query-stream probe leg). */
  private def queryStream(
      spark: SparkSession, queries: Seq[(Int, String)],
      scratch: Scratch): DataFrame = {
    val nB = 3
    val qIn = scratch("graft_q_in")
    val stage = scratch("graft_q_stage")
    val qSchema = StructType(Seq(StructField("query_id", IntegerType),
      StructField("text", StringType)))
    (0 until nB).foreach { b =>
      val sub = queries.zipWithIndex.collect {
        case ((id, text), i) if i % nB == b =>
          org.apache.spark.sql.Row(id, text)
      }
      dropFile(
        spark.createDataFrame(
          spark.sparkContext.parallelize(sub.toIndexedSeq, 1), qSchema),
        s"$stage/b$b", java.nio.file.Paths.get(qIn, f"queries-$b%03d.parquet"),
        minutesAgo = nB - b)
    }
    spark.readStream
      .schema(qSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(qIn)
  }

  /** A query micro-batch as the driver literals the probes take, in
    * query-id order. */
  private def queriesOf(batch: DataFrame): Seq[(Int, String)] =
    batch.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)

  private[graft] val PhraseStreamSchema: StructType = StructType(Seq(
    StructField("query_id", IntegerType),
    StructField("doc_id", LongType),
    StructField("n_occ", LongType),
    StructField("rank", IntegerType)))

  /** Phrase search AT INGEST — the positional family's streaming leg: a
    * phrase-query stream arrives in micro-batches and each batch probes
    * the committed positional index inside `foreachBatch` (pushed
    * `term IN` on the stored `pos` table, occurrence assembly, integer
    * rank), output batchId-idempotent. The index is frozen for the run
    * and every phrase ranks independently, so the union over batches
    * replays bit-for-bit as the one-shot probe — the registry row
    * shares the inline oracle. The per-batch query `collect()` is the
    * operator's driver-literal contract (trigger-bounded,
    * search-head-request-sized), never a corpus collect. */
  def streamingPhraseTopK(
      spark: SparkSession, dir: String,
      phrases: Seq[(Int, String)], k: Int): DataFrame =
    drain(spark, "graft_phrase") { scratch =>
      val root = scratch("graft_posidx_stream")
      graft.operators.Retrieval.buildPosIndexM(
        graft.Tables.load(spark, dir, "documents"), "doc_id", "text", root)
      Drain(queryStream(spark, phrases, scratch), PhraseStreamSchema) {
        (batch, batchId, outDir) =>
          val qs = queriesOf(batch)
          if (qs.nonEmpty)
            writeBatchIdempotent(graft.operators.Retrieval.phraseProbeM(
              spark, root, qs, k), outDir, batchId)
      }
    }

  private[graft] val PhraseScreenSchema: StructType = StructType(Seq(
    StructField("query_id", IntegerType),
    StructField("doc_id", LongType),
    StructField("n_occ", LongType)))

  /** Phrase screening AT INGEST — the policy/decontamination deployment
    * shape: every arriving document is checked against the fixed
    * banned/benchmark phrase list inside `foreachBatch` (positions are
    * a property of the doc's own text — stateless per doc), hit rows
    * sink batchId-idempotently, non-matching docs produce nothing.
    * Per-doc independence ⇒ the batch union replays bit-for-bit as the
    * one-shot screen — the registry row shares the batch oracle. */
  def streamingPhraseScreen(
      spark: SparkSession, dir: String,
      phrases: Seq[(Int, String)]): DataFrame =
    drain(spark, "graft_pscreen") { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          PhraseScreenSchema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(graft.operators.Retrieval.phraseScreen(
          batch, "doc_id", "text", phrases), outDir, batchId)
      }
    }

  private[graft] val TokenCountSchema: StructType = StructType(Seq(
    StructField("grp", StringType),
    StructField("tok", StringType),
    StructField("c", LongType)))

  /** Token-distribution drift AT INGEST — the deployment shape of the
    * drift monitor: every arriving micro-batch sinks its (group, token,
    * count) PARTIALS (wordcount over the batch — mergeable, additive,
    * batchId-idempotent), and the per-group KL vs the accumulated
    * corpus computes post-drain from the folded partials through the
    * SHARED tail ([[graft.operators.Quality.tokenKlFromCounts]]).
    * Counts are additive, so the fold is bit-equal to the batch twin's
    * aggregate over the same rows — the registry row shares
    * `quality_token_kl`'s oracle (the persisted-profile-partials
    * precedent: stream partials, fold exactly, score once). */
  def streamingTokenKl(
      spark: SparkSession, dir: String, vocabSize: Int = 1000): DataFrame =
    drain(spark, "graft_tkl", finish = partials =>
        graft.operators.Quality.tokenKlFromCounts(
          partials.groupBy(col("grp"), col("tok")).agg(sum(col("c")).as("c")),
          "source", vocabSize)) { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          TokenCountSchema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(graft.operators.Quality.tokenCounts(
          batch, "source", "text"), outDir, batchId)
      }
    }

  private[graft] val BpeStreamSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_words", LongType),
    StructField("n_bpe_tokens", LongType)))

  /** BPE tokenization AT INGEST — the per-epoch preprocessing pass in
    * its deployment shape: the merge table is learned ONCE from the
    * static corpus (an N-row driver scalar, inherently frozen at plan
    * time — the literal-bucket-map precedent), and every arriving
    * micro-batch runs the stateless N-replace chain inside
    * `foreachBatch`, sinking per-doc (n_words, n_bpe_tokens)
    * batchId-idempotently. Per-doc independence ⇒ batch union ≡
    * one-shot — the registry row shares `text_bpe_tokenize`'s oracle. */
  def streamingBpeTokenize(
      spark: SparkSession, dir: String, nMerges: Int,
      maxWords: Int): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val merges = graft.operators.Bpe
      .learnedMerges(docs, "text", nMerges, maxWords)
      .map(m => (m._2, m._3))
    drain(spark, "graft_bpe") { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          BpeStreamSchema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(graft.operators.Bpe.tokenizeWithMerges(
          batch, "doc_id", "text", merges), outDir, batchId)
      }
    }
  }

  /** BYTE-LEVEL BPE tokenization AT INGEST — [[streamingBpeTokenize]]
    * with the GPT-2 byte encoder below the merge table: merges learned
    * once over the byte-encoded corpus (frozen at plan time), each
    * micro-batch runs byte-encode → rank-priority count as one kernel
    * projection inside `foreachBatch`, batchId-idempotent. Per-doc
    * independence ⇒ batch union ≡ one-shot — the registry row shares
    * `text_bpe_bytes`'s oracle. */
  def streamingBpeBytesTokenize(
      spark: SparkSession, dir: String, nMerges: Int,
      maxWords: Int): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val merges = graft.operators.Bpe
      .learnedMergesBytes(docs, "text", nMerges, maxWords)
      .map(m => (m._2, m._3))
    drain(spark, "graft_bpeb") { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          BpeStreamSchema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(graft.operators.Bpe.tokenizeWithMergesBytes(
          batch, "doc_id", "text", merges), outDir, batchId)
      }
    }
  }

  private[graft] val UnigramStreamSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_words", LongType),
    StructField("n_unigram_tokens", LongType)))

  /** Unigram-LM tokenization AT INGEST — [[streamingBpeTokenize]]'s
    * sibling for the second tokenizer modality: the piece table is
    * learned ONCE from the static corpus (a vocab-sized driver scalar,
    * frozen at plan time), and every arriving micro-batch runs the
    * Viterbi kernel inside `foreachBatch`, sinking per-doc
    * (n_words, n_unigram_tokens) batchId-idempotently. Per-doc
    * independence ⇒ batch union ≡ one-shot — the registry row shares
    * `text_unigram_tokenize`'s oracle. */
  def streamingUnigramTokenize(
      spark: SparkSession, dir: String, maxWords: Int, maxPieceLen: Int,
      seedMulti: Int, vocabMulti: Int, emIters: Int): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val model = graft.operators.Unigram.learn(docs, "text", maxWords,
      maxPieceLen, seedMulti, vocabMulti, emIters)
    drain(spark, "graft_unigram") { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          UnigramStreamSchema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(graft.operators.Unigram.tokenize(
          batch, "doc_id", "text", model), outDir, batchId)
      }
    }
  }

  private[graft] val NbStreamSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("predicted", StringType),
    StructField("score", DoubleType)))

  /** Classifier filtering AT INGEST — the CCNet/DCLM deployment shape:
    * the model trains ONCE on the labeled seed (frozen at plan time via
    * `localCheckpoint`, the kernel-ref precedent) and every arriving
    * micro-batch classifies against it inside `foreachBatch` (broadcast
    * parameter join + per-doc decimal sum + argmax), output
    * batchId-idempotent. Per-doc independence makes the batch union
    * replay bit-for-bit as the one-shot classification — the registry
    * row shares `text_nb_classify`'s oracle. */
  def streamingNbClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val model = graft.operators.Classify.nbTrain(
      docs.filter(col("doc_id") % 5 =!= 0), "source", "text")
      .localCheckpoint(true)
    drain(spark, "graft_nb") { _ =>
      Drain(tableStream(spark, dir, "documents", DocumentsSchema),
          NbStreamSchema) { (batch, batchId, outDir) =>
        val held = batch.filter(col("doc_id") % 5 === 0)
        writeBatchIdempotent(graft.operators.Classify.nbClassify(
          model, held, "doc_id", "text"), outDir, batchId)
      }
    }
  }

  /** Near-dup screening AT INGEST with the real MinHash-LSH modality —
    * the shingle-accurate sibling of [[streamingSemanticDedup]]'s
    * hash-embed cosine leg: the standing lake is summarized ONCE into
    * the manifest-committed LSH index (sigs + bands with stored
    * `bucket_n`), and every micro-batch runs the full indexed
    * cross-corpus probe over just its arrivals inside `foreachBatch` —
    * shingle → MinHash signatures for the batch only, broadcast band
    * probe against the streaming index scan, pushed bucket-cap skew
    * cut. Cross-corpus pairs are per-arrival-doc independent (index
    * candidates only, no delta-delta edges) and an arriving doc is one
    * stream row, so the union of per-batch pair sets IS the whole
    * delta's pair set — batch-equivalent by construction (shared
    * oracle; spec-pinned). */
  def streamingCrossCorpusDedup(
      spark: SparkSession, dir: String,
      shingleN: Int, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    drain(spark, "graft_slsh") { scratch =>
      val root = scratch("graft_lshidx_stream")
      graft.operators.Dedup.buildLshIndexM(
        graft.operators.Dedup.rawShingles(
          docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", shingleN),
        "doc_id", k, bands, root)
      val (bandsDf, sigsDf) = graft.operators.Dedup.readLshIndexM(spark, root)
      def pairs(arrivals: DataFrame): DataFrame =
        graft.operators.Dedup.indexedCrossCorpusPairs(bandsDf, sigsDf,
          graft.operators.Dedup.rawShingles(arrivals, "text", "doc_id", shingleN),
          "doc_id", k, bands, maxBucket)
      Drain(tableStream(spark, dir, "documents", DocumentsSchema)
          .filter(col("doc_id") % 2 === 0),
          pairs(emptyOf(spark, DocumentsSchema)).schema) {
        (batch, batchId, outDir) =>
          writeBatchIdempotent(pairs(batch), outDir, batchId)
      }
    }
  }

  /** Zero-row batch frame with an explicit schema — the plan seed the
    * zero-micro-batch fallbacks build their output schema from. */
  private def emptyOf(
      spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** BatchId-idempotent file sink for `foreachBatch`: each micro-batch
    * writes (overwrites) its OWN `b=<batchId>` subdirectory, so a batch
    * that fails after a partial write and replays on restart replaces
    * its partial output instead of appending a duplicate — the file-sink
    * analog of the JDBC sink's batch-id co-commit (ExactlyOnceSpec).
    * A flat `mode("append")` into a shared directory — the round-12
    * shape — duplicates every replayed row. Read the union back with
    * [[readBatchDirs]]. (Dir name is `batch-N`, deliberately NOT
    * `key=value`, so partition discovery cannot infer a phantom column.) */
  private[streaming] def writeBatchIdempotent(
      batch: DataFrame, outDir: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch-$batchId")

  /** Union of every batch subdirectory written by
    * [[writeBatchIdempotent]]. A stream that produced ZERO micro-batches
    * (empty arrivals) leaves no `batch-*` directories, and reading the
    * non-matching glob would throw AnalysisException — an empty ingest
    * run is a legitimate result, not a failure, so that case returns an
    * empty frame with `emptySchema` (evaluated only then; every caller
    * can state its probe's output schema without running anything). */
  private[streaming] def readBatchDirs(
      spark: SparkSession, outDir: String,
      emptySchema: => StructType): DataFrame = {
    // list through the Hadoop FileSystem resolved from outDir, not
    // java.io.File: a growing stream's output dir is HDFS/S3 in
    // production, and a local-only listing would silently read an
    // EMPTY frame off any non-local (or mistyped) path
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
        .map(_.getPath.toString)
    if (dirs.isEmpty) emptyOf(spark, emptySchema)
    else graft.Tables.parquet(spark, dirs.toIndexedSeq: _*)
  }

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(x => java.nio.file.Files.deleteIfExists(x))
  }

  /** Temp dirs made inside one [[drain]]: each is deleted when it ends. */
  private final class Scratch {
    private[StreamPipeline] val dirs =
      scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      dirs += d
      d
    }
  }

  /** The stream a [[drain]] runs: its arrivals, the per-batch `step`
    * (batch, batchId, outDir) that writes the batch's rows under
    * `outDir`, and the output schema of a run with no micro-batch
    * (evaluated only then). */
  private final class Drain(
      val arrivals: DataFrame, val emptySchema: () => StructType,
      val step: (DataFrame, Long, String) => Unit)

  private object Drain {
    def apply(arrivals: DataFrame, emptySchema: => StructType)(
        step: (DataFrame, Long, String) => Unit): Drain =
      new Drain(arrivals, () => emptySchema, step)
  }

  /** Run a file-sink stream to a finished result — the one driver of
    * every `foreachBatch` query here. `setup` runs inside the managed
    * scope: it builds whatever the stream probes (an index root, staged
    * arrivals — every dir it takes from `scratch`) and returns the
    * [[Drain]]. The stream runs under `Trigger.AvailableNow` to its end;
    * each micro-batch writes its own batchId-keyed output
    * ([[writeBatchIdempotent]]), so a replayed batch replaces rather
    * than duplicates. The union ([[readBatchDirs]]) passes through
    * `finish` and is materialized (eager `localCheckpoint`, the result
    * is output-sized) so that one `finally` can delete the output,
    * checkpoint and every scratch dir on every exit path: a failed index
    * build or a failed batch leaks no temp dir. */
  private def drain(
      spark: SparkSession, prefix: String,
      finish: DataFrame => DataFrame = identity)(
      setup: Scratch => Drain): DataFrame = {
    val scratch = new Scratch
    try {
      val outDir = scratch(s"${prefix}_out")
      val ckptDir = scratch(s"${prefix}_ckpt")
      val run = setup(scratch)
      run.arrivals.writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          run.step(batch.toDF(), batchId, outDir)
        }
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      finish(readBatchDirs(spark, outDir, run.emptySchema())).localCheckpoint(true)
    } finally scratch.dirs.foreach(rmTree)
  }

  /** Schema of the embeddings parquet table. */
  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** ANN AT INGEST over the persisted PQ index — the embedding leg of
    * the streaming probe family (span = exact substrings, semantic =
    * hash-embed LSH, BM25 = lexical; this one ranks arriving vectors
    * against the committed code table): each arriving query vector
    * becomes its ADC lookup table IN the stream (one stateless kernel
    * projection), stream-static joins the manifest snapshot's m-int
    * code rows, and each micro-batch reduces its own queries to exact
    * top-k through the bounded-heap [[graft.operators.TopK.perKey]]
    * node inside `foreachBatch` — a query vector is one stream row, so
    * per-batch top-k IS its global top-k, and only queries×k winner
    * rows ever leave a micro-batch. Batch-equivalent to
    * [[graft.operators.Similarity.pqSearchEncoded]] over the same
    * index (shared oracle). */
  def streamingPqProbe(
      spark: SparkSession, dir: String, k: Int, m: Int, dsub: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    drain(spark, "graft_spq") { scratch =>
      val root = scratch("graft_pqidx_stream")
      val cb = graft.operators.Similarity.pqCodebook(
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", m, dsub)
      graft.operators.Similarity.buildPqIndexM(
        emb, cb, "vec_id", "embedding", m, dsub, root)
      val snap = graft.index.IndexManifest.snapshot(spark, root)
      val codes = graft.index.IndexManifest.readAt(spark, root, snap, "codes")
      val cbStored = graft.index.IndexManifest.readAt(spark, root, snap, "codebook")
      val scored = graft.operators.Similarity.pqAdcScored(
        tableStream(spark, dir, "embeddings", EmbeddingsSchema)
          .filter(col("vec_id") < 10),
        codes, cbStored, "vec_id", "embedding", m, dsub,
        hintBroadcastQueries = false)
      Drain(scored, scored.schema) { (batch, batchId, outDir) =>
        writeBatchIdempotent(
          graft.operators.TopK.perKey(batch, Seq("query_id"),
            Seq(col("score").desc, col("neighbor_id").asc), k),
          outDir, batchId)
      }
    }.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** ANN AT INGEST over the persisted INVERTED FILE — the IVF leg of the
    * streaming probe family (PQ ranks arrivals against the committed
    * code table; this one reads only the probed clusters of the
    * committed cluster-sorted assignment): each micro-batch runs the
    * full served probe ([[graft.operators.Similarity.ivfProbeM]]) over
    * just its arrivals inside `foreachBatch` — probe-list kernel
    * projection from the stored centroids, pushed `cluster IN` scan of
    * one manifest snapshot, bounded-heap top-k. A query vector is one
    * stream row, so per-batch top-k IS its global top-k and the
    * per-batch union is the whole batch's answer — batch-equivalent to
    * the inline multi-probe search (shared oracle). */
  def streamingIvfProbe(
      spark: SparkSession, dir: String, k: Int, nProbe: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    drain(spark, "graft_sivf") { scratch =>
      val root = scratch("graft_ivfidx_stream")
      graft.operators.Similarity.buildIvfIndexM(
        emb, emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", root)
      def probe(arrivals: DataFrame): DataFrame =
        graft.operators.Similarity.ivfProbeM(
          arrivals, "vec_id", "embedding", k, nProbe, root)
      Drain(tableStream(spark, dir, "embeddings", EmbeddingsSchema)
          .filter(col("vec_id") < 10),
          probe(emptyOf(spark, EmbeddingsSchema)).schema) {
        (batch, batchId, outDir) =>
          writeBatchIdempotent(probe(batch), outDir, batchId)
      }
    }
  }

  /** The coarse-quantized sibling of [[streamingIvfProbe]]: each
    * micro-batch runs the served IVF-PQ ADC search
    * ([[graft.operators.Similarity.ivfPqProbeM]]) over just its
    * arrivals — probe list and per-query LUT are in-batch kernel
    * projections, the committed cluster-sorted CODE rows are read only
    * on the probed cells, and the bounded-heap top-k ships queries×k
    * winners. Batch-equivalent to the inline [[ivfPqTopK]] (shared
    * oracle). */
  def streamingIvfPqProbe(
      spark: SparkSession, dir: String,
      k: Int, m: Int, dsub: Int, nProbe: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val sample = emb.filter(col("vec_id") % 100 === 0)
    drain(spark, "graft_sivfpq") { scratch =>
      val root = scratch("graft_ivfpqidx_stream")
      val cb = graft.operators.Similarity.pqCodebook(
        sample, "vec_id", "embedding", m, dsub).localCheckpoint()
      graft.operators.Similarity.buildIvfPqIndexM(
        emb, sample, cb, "vec_id", "embedding", m, dsub, root)
      def probe(arrivals: DataFrame): DataFrame =
        graft.operators.Similarity.ivfPqProbeM(
          arrivals, "vec_id", "embedding", k, m, dsub, nProbe, root)
      Drain(tableStream(spark, dir, "embeddings", EmbeddingsSchema)
          .filter(col("vec_id") < 10),
          probe(emptyOf(spark, EmbeddingsSchema)).schema) {
        (batch, batchId, outDir) =>
          writeBatchIdempotent(probe(batch), outDir, batchId)
      }
    }
  }

  /** The TRAINING-FREE leg of the streaming probe family: each
    * micro-batch runs the two-stage JL search
    * ([[graft.operators.Similarity.jlRerankTopK]]) over just its
    * arrivals — the ±1 sign matrix is a pure function of (m, d), so
    * unlike the PQ/IVF legs there is NO index to build, commit, or
    * snapshot: every batch (and every replay) regenerates the identical
    * projection from the digest60 primitive, projects its arrivals in
    * one stateless kernel pass, coarse-scans the static corpus in the
    * m-dim space, and exact-reranks the shortlist. A query vector is
    * one stream row, so per-batch top-k IS its global top-k and the
    * batch union is the whole answer — batch-equivalent to the inline
    * [[graft.operators.Similarity.jlRerankTopK]] (shared oracle). */
  def streamingJlProbe(
      spark: SparkSession, dir: String,
      k: Int, m: Int, d: Int, refine: Int): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    def probe(arrivals: DataFrame): DataFrame =
      graft.operators.Similarity.jlRerankTopK(
        arrivals, emb, "vec_id", "embedding", k, m, d, refine)
    drain(spark, "graft_sjl") { _ =>
      Drain(tableStream(spark, dir, "embeddings", EmbeddingsSchema)
          .filter(col("vec_id") < 10),
          probe(emptyOf(spark, EmbeddingsSchema)).schema) {
        (batch, batchId, outDir) =>
          writeBatchIdempotent(probe(batch), outDir, batchId)
      }
    }
  }

  /** Inline-corpus variant (the pre-index shape): embeds the documents
    * table inside the stream-static join, so every micro-batch re-scans
    * and re-embeds the lake. Kept as the equivalence baseline for the
    * persisted-index spec. */
  private[streaming] def streamingSemanticDedupInline(
      spark: SparkSession, dir: String): DataFrame =
    semanticDedupAgainst(spark, dir, semanticCorpus(spark, dir))
}
