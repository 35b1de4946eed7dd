package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ingest-time IVF probe must be batch-equivalent: same persisted
  * inverted file, same probe list from the stored centroids, exact
  * per-query top-k — the graded contract (the registry row shares the
  * inline multi-probe oracle). */
class StreamIvfProbeSpec extends SparkSpec {

  test("streaming IVF probe ≡ inline ivfTopKProbed, row for row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val got = StreamPipeline.streamingIvfProbe(spark, Sf0001, k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    val want = graft.operators.Similarity.ivfTopKProbed(
        emb.filter(col("vec_id") < 10), emb,
        emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.nonEmpty && got.forall { case (q, _, n, _, _) => q != n })
  }
}
