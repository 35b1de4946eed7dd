package graft.streaming

import graft.SparkSpec

/** The ingest-time hard-negatives stream must be batch-equivalent: same
  * anchors, same persisted index, same 1e-6/decimal scoring grid as
  * [[graft.operators.Retrieval.hardNegatives]] — the graded contract
  * (the registry row shares the batch oracle). */
class StreamBm25NegativesSpec extends SparkSpec {

  test("streaming negatives ≡ batch hardNegatives, row for row") {
    val anchors = Seq(0L, 1L, 2L, 3L)
    val got = StreamPipeline
      .streamingBm25Negatives(spark, Sf0001, anchors, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = graft.operators.Retrieval.hardNegatives(
        graft.Tables.load(spark, Sf0001, "documents"),
        "doc_id", "text", anchors, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty && got.forall { case (q, d, _, _) => q != d })
  }
}
