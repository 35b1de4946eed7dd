package graft.streaming

import graft.SparkSpec

/** The ingest-time RM3 stream must be batch-equivalent: same queries,
  * same committed index, same exact-decimal two-stage expansion as
  * [[graft.operators.Retrieval.rm3ProbeM]] over the full set — the
  * graded contract (the registry row shares the batch oracle). The
  * equivalence holds because the index is frozen for the run and each
  * query is expanded independently, so batching the query set is pure
  * partitioning. */
class StreamRm3Spec extends SparkSpec {

  test("streaming RM3 ≡ one-shot rm3TopK over the full query set, row for row") {
    // corpus-vocabulary terms (the registry's Bm25Queries shape) so
    // stage-1 candidates are non-empty at sf0.001
    val queries = Seq((1, "spark window agg"), (2, "hash join table"),
      (3, "stream batch merge"), (4, "customer vector scan"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val got = StreamPipeline
      .streamingRm3TopK(spark, Sf0001, queries, k = 10)
      .collect().map(key).toSet
    val want = graft.operators.Retrieval.rm3TopK(
        graft.Tables.load(spark, Sf0001, "documents"),
        "doc_id", "text", queries, 10)
      .collect().map(key).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty)
    // 4 queries round-robin into 3 staged files: every trigger carried
    // at least one query, so results span all batch outputs
    assert(got.map(_._1) == queries.map(_._1).toSet)
  }
}
