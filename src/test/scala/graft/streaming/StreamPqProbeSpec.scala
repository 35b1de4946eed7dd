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

  test("a failed index build propagates its error and leaks no scratch dir") {
    // vec_id 0 twice: the codebook sample (vec_id % 100 == 0) carries a
    // duplicate codeword id, so pqCodebook raises while the index builds
    val fixture = java.nio.file.Files.createTempDirectory("graft_pqleak_fixture")
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    def pqRoots(): Int =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .getOrElse(Array.empty[String])
        .count(_.startsWith("graft_pqidx_stream"))
    try {
      emb.filter(col("vec_id") < 300)
        .unionByName(emb.filter(col("vec_id") === 0))
        .coalesce(1).write.parquet(s"$fixture/embeddings.parquet")
      val before = pqRoots()
      val boom = intercept[Exception](StreamPipeline.streamingPqProbe(
        spark, fixture.toString, k = 5, m = 4, dsub = 16))
      val messages = Iterator.iterate[Throwable](boom)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(messages.exists(_.contains("duplicate codeword id")), boom)
      assert(pqRoots() == before, "the failed build left its index root behind")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(fixture).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
