package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ingest-time ANN probe must be batch-equivalent: same persisted
  * PQ index, same ADC scoring grid, exact per-query top-k — the graded
  * contract (the registry row shares the flat-PQ search oracle). */
class StreamPqProbeSpec extends SparkSpec {

  test("streaming PQ probe ≡ batch pqSearchEncoded, row for row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val cb = graft.operators.Similarity.pqCodebook(
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", 4, 16)
    val got = StreamPipeline.streamingPqProbe(spark, Sf0001, k = 5, m = 4, dsub = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = graft.operators.Similarity.pqSearchEncoded(
        emb.filter(col("vec_id") < 10),
        graft.operators.Similarity.pqIndexDigested(emb, cb, "vec_id", "embedding", 4, 16),
        cb, "vec_id", "embedding", k = 5, m = 4, dsub = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty && got.forall { case (q, n, _, _) => q != n })
  }
}
