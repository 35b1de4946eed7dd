package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The at-ingest prototypicality scorer must be batch-equivalent: the
  * struct-kernel assignment is a stateless per-row projection against a
  * centroid set frozen at plan time, so the stream's union of
  * micro-batches equals one batch pass (the registry row replays the
  * batch assignment CTE in the oracle). */
class StreamPrototypeScoreSpec extends SparkSpec {

  test("streaming prototype score ≡ batch assignClustersWithSim, row for row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val got = StreamPipeline.streamingPrototypeScore(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val want = graft.operators.Similarity.assignClustersWithSim(
        emb.select(col("vec_id"), col("embedding")),
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding")
      .select(col("vec_id"), col("cluster"), col("centroid_sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    assert(got.size == emb.count(), "every arrival scores exactly once")
  }
}
