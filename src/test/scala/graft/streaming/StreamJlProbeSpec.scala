package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The training-free streaming JL probe must be batch-equivalent: the
  * sign matrix is a pure function of (m, d), so an in-batch projection
  * and the inline two-stage search see the identical matrix — the
  * graded contract (the registry row shares the jl_rerank oracle). */
class StreamJlProbeSpec extends SparkSpec {

  test("streaming JL probe ≡ inline jlRerankTopK, row for row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val got = StreamPipeline.streamingJlProbe(spark, Sf0001,
        k = 5, m = 16, d = 64, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = graft.operators.Similarity.jlRerankTopK(
        emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, m = 16, d = 64, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty && got.forall { case (q, n, _, _) => q != n })
  }
}
