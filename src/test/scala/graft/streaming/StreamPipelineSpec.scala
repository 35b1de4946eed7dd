package graft.streaming

import graft.{SparkSpec, TempDirs}
import graft.sink.MergeApply
import org.apache.spark.sql.functions._

class StreamPipelineSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("streaming span marking: lake-hit spans, each contained in the batch incremental span set") {
    val streamed = StreamPipeline.streamingSpanDedup(spark, Sf0001)
      .as[(Long, Int, Int)].collect().toSeq
    assert(streamed.nonEmpty, "synthetic corpus must contain cross-split boilerplate")
    // deterministic across runs (fresh streaming query, fresh index build)
    val again = StreamPipeline.streamingSpanDedup(spark, Sf0001)
      .as[(Long, Int, Int)].collect().toSeq
    assert(streamed == again)
    // the stream marks lake-hit grams only; the batch operator adds
    // delta-internal repeats — so every streamed span lies inside some
    // batch incremental span of the same document
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val idxPath = tempDir("graft_sspan_twin")
    graft.operators.Dedup.buildGramIndexM(docs.filter(col("doc_id") % 10 < 8),
      "doc_id", "text", graft.queries.LlmQueries.SpanGramChars, idxPath)
    val batch = graft.operators.Dedup.incrementalSpans(
        graft.operators.Dedup.readGramIndexM(spark, idxPath),
        docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text",
        graft.queries.LlmQueries.SpanGramChars)
      .as[(Long, Int, Int)].collect().toSeq
    streamed.foreach { case (id, s, e) =>
      assert(batch.exists { case (bid, bs, be) => bid == id && bs <= s && be >= e },
        s"streamed span ($id,$s,$e) not covered by batch spans") }
  }

  test("windowedCounts streaming result equals the batch equivalent") {
    val streamed = StreamPipeline.windowedCounts(spark, Sf0001)
      .collect().toSeq
    val batch = graft.Tables.load(spark, Sf0001, "events")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(date_format(date_trunc("hour", col("event_time")), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streamingQualityProfile equals the batch numericProfile over the same rows") {
    // micro-batch partials fold in the state store with the same
    // associative merges (decimal sums) as the batch scan, so the final
    // streamed profile must be bit-equal to the one-shot batch profile
    val streamed = StreamPipeline.streamingQualityProfile(spark, Sf0001)
      .collect().toSeq
    val batch = graft.operators.Quality.numericProfile(
        graft.Tables.load(spark, Sf0001, "events"), Seq("value", "user_id"))
      .orderBy("column").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getString(0)) == Seq("user_id", "value"))
  }

  test("streamingRowGate equals the batch violation census, zero-violation rules visible") {
    val streamed = StreamPipeline.streamingRowGate(spark, Sf0001)
      .as[(String, Long)].collect().toSeq
    val ev = graft.Tables.load(spark, Sf0001, "events")
    val typeOk = col("event_type").isin("click", "view", "purchase", "signup")
    val capOk = col("value") <= 400.0
    val nnOk = col("value").isNotNull
    // fail-closed twin: a null predicate counts as a violation
    val batch = ev.agg(
      sum(when(coalesce(typeOk && capOk && nnOk, lit(false)), 1L)
        .otherwise(0L)).as("__clean"),
      sum(when(!coalesce(typeOk, lit(false)), 1L).otherwise(0L)).as("type_allowed"),
      sum(when(!coalesce(capOk, lit(false)), 1L).otherwise(0L)).as("value_cap"),
      sum(when(!coalesce(nnOk, lit(false)), 1L).otherwise(0L)).as("value_nonnull"))
      .collect().head
    assert(streamed == Seq(
      "__clean" -> batch.getLong(0),
      "type_allowed" -> batch.getLong(1),
      "value_cap" -> batch.getLong(2),
      "value_nonnull" -> batch.getLong(3)))
    assert(streamed.exists { case (r, n) => r == "value_nonnull" && n == 0L },
      "zero-violation rule must stay visible at 0")
    assert(streamed.exists { case (r, n) => r == "type_allowed" && n > 0L },
      "fixture should contain 'error'-typed rows")
  }

  test("streamingSemanticDedup equals the batch LSH-bucketed near-dup pairs") {
    // the stream side is stateless (embed + bucket projections), so the
    // stream-static join must reproduce Dedup.embeddingDupPairs over the
    // same rows exactly — each undirected batch pair appearing in both
    // directions here (every doc both arrives and sits in the corpus)
    val streamed = StreamPipeline.streamingSemanticDedup(spark, Sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val emb = graft.operators.TextAnalysis.hashEmbed(
      graft.Tables.load(spark, Sf0001, "documents"), "doc_id", "text", 64)
    val batch = graft.operators.Dedup.embeddingDupPairs(
        emb, "doc_id", "embedding", threshold = 0.9, signBits = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch.flatMap { case (a, b, c) => Set((a, b, c), (b, a, c)) })
    assert(streamed.nonEmpty)
  }

  test("streamingContamination equals the batch contamination report") {
    val streamed = StreamPipeline.streamingContamination(spark, Sf0001)
      .collect().toSeq
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val sh = graft.operators.Dedup.explodedShingles(docs, "text", "doc_id", 5)
    val batch = graft.operators.Curation.contamination(
        sh.filter(col("doc_id") % 97 =!= 0),
        sh.filter(col("doc_id") % 97 === 0),
        "doc_id", threshold = 0.5)
      .filter(col("overlap") > 0)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture must exercise at least one overlap")
  }

  test("lastImage + apply is deterministic under duplicate delivery (replay safety)") {
    val changes = Seq(("a", 2L, "new"), ("a", 1L, "old"), ("a", 2L, "new"))
      .toDF("_id", "ts", "v")
    val out = MergeApply.lastImage(changes, Seq("_id"), Seq(col("ts")))
      .as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("a", 2L, "new")))
  }

  test("semantic dedup served from the persisted index equals the inline-corpus rows") {
    val dir = "/root/testdata/sf0.001"
    // streamingSemanticDedup builds its index through buildSemanticIndexM
    // and serves the stream-static join from the committed snapshot
    val fromIndex = StreamPipeline.streamingSemanticDedup(spark, dir)
      .collect().map(_.toSeq).toSet
    val inline = StreamPipeline.streamingSemanticDedupInline(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(fromIndex.nonEmpty, "spec fixture produced no near-dup pairs")
    assert(fromIndex == inline)
  }
}
