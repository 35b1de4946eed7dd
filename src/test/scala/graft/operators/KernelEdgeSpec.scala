package graft.operators

import graft.SparkSpec
import graft.functions.{PqCodebookRef, PqEncodeCodes, PqKernel}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._

/** Edge semantics of the driver-collected kernel expressions — the float
  * corners (NaN, signed zero, zero-norm, dimension mismatch) where a
  * divergence from the composed twins would only surface as an oracle
  * hash-mismatch at a larger scale factor. */
class KernelEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def centroids = Seq(
    (10L, Array(1.0f, 0.0f)),
    (20L, Array(0.0f, 1.0f)),
    (30L, Array(-1.0f, -1.0f)))
    .toDF("vec_id", "embedding")

  test("zero-norm query: every cosine is NaN; both twins pick the lowest centroid id") {
    // Spark ranks NaN above every double (max_by and window alike); the
    // kernel's Double.compare reproduces that, and the all-ties case
    // falls to the id-ascending tie-break in both forms
    val v = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val kernel = Similarity.assignClusters(v, centroids, "vec_id", "embedding")
      .select("cluster").as[Long].head()
    val composed = Similarity.assignClustersComposed(v, centroids, "vec_id", "embedding")
      .select("cluster").as[Long].head()
    assert(kernel == 10L && composed == 10L)
  }

  test("zero-norm CENTROID ranks first (NaN above real cosines) in both twins") {
    val cen = Seq((5L, Array(0.0f, 0.0f)), (10L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val v = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val kernel = Similarity.assignClusters(v, cen, "vec_id", "embedding")
      .select("cluster").as[Long].head()
    val composed = Similarity.assignClustersComposed(v, cen, "vec_id", "embedding")
      .select("cluster").as[Long].head()
    // cosine vs centroid 5 is NaN, which outranks the exact 1.0 match
    assert(kernel == 5L && composed == 5L)
  }

  test("signed zero and negative components agree with the composed twin") {
    val v = Seq(
      (1L, Array(-0.0f, 1.0f)), (2L, Array(-0.5f, -0.5f)), (3L, Array(0.0f, -0.0f)))
      .toDF("vec_id", "embedding")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    assert(m(Similarity.assignClusters(v, centroids, "vec_id", "embedding")) ==
      m(Similarity.assignClustersComposed(v, centroids, "vec_id", "embedding")))
  }

  test("dimension mismatch folds over the common prefix, like the native cosine") {
    // 3-dim vector vs 2-dim centroids: the fused cosine folds min(|v|, dim)
    // elements, so the third component must not contribute
    val long3 = Seq((1L, Array(1.0f, 0.0f, 99.0f))).toDF("vec_id", "embedding")
    val short2 = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def cl(df: org.apache.spark.sql.DataFrame) =
      Similarity.assignClusters(df, centroids, "vec_id", "embedding")
        .select("cluster").as[Long].head()
    assert(cl(long3) == cl(short2))
    val composed = Similarity.assignClustersComposed(long3, centroids, "vec_id", "embedding")
      .select("cluster").as[Long].head()
    assert(cl(long3) == composed)
  }

  test("NULL vector: both assign twins yield NULL cluster; both probe twins emit no rows") {
    // the kernel NearestCentroid/ProbeCentroids are null-intolerant (NULL
    // in → NULL out → posexplode drops the row); the composed twins must
    // not silently assign the lowest centroid id instead
    val v = Seq((1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val kernel = clusters(Similarity.assignClusters(v, centroids, "vec_id", "embedding"))
    val composed = clusters(
      Similarity.assignClustersComposed(v, centroids, "vec_id", "embedding"))
    assert(kernel == Map(1L -> Some(10L), 2L -> None))
    assert(composed == kernel)
    def probeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("cluster"), col("probe_rank"))
        .as[(Long, Long, Int)].collect().toSet
    val pk = probeRows(Similarity.probeClusters(v, centroids, "vec_id", "embedding", 2))
    val pc = probeRows(Similarity.probeClustersComposed(v, centroids, "vec_id", "embedding", 2))
    assert(pk.map(_._1) == Set(1L), "NULL-vector query must emit no probe rows")
    assert(pc == pk)
  }

  test("assignClustersWithSim: one-pass struct kernel ≡ assignment + winner-cosine join") {
    // the struct kernel must agree with the PINNED assignClusters twin
    // plus the old join-back form on every corner: zero norm (NaN sim),
    // signed zero, dimension mismatch, NULL vector (dropped)
    val v = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-0.0f, -0.5f)),
      (5L, Array(1.0f, 0.0f, 99.0f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq((4L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("centroid_sim")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val got = canon(
      Similarity.assignClustersWithSim(v, centroids, "vec_id", "embedding"))
    val cen = centroids.select(col("vec_id").as("__cid"), col("embedding").as("__cen"))
    val want = canon(
      Similarity.assignClusters(v, centroids, "vec_id", "embedding")
        .join(cen, col("cluster") === col("__cid"))
        .withColumn("centroid_sim",
          round(Similarity.cosineNative(col("embedding"), col("__cen")), 6)))
    assert(got == want)
    assert(got.size == 4 && !got.exists(_._1 == 4L), "NULL-vector row is dropped")
    assert(got.exists(t => t._1 == 2L && t._3 == java.lang.Double.doubleToLongBits(Double.NaN)),
      "zero-norm row keeps its NaN similarity")
  }

  test("string centroid ids: composed assign tie-breaks by id rank, not ANSI-cast negation") {
    // regression for the r6 red gate: (-col(centroid_id)) on a STRING id
    // ANSI-casts to double and throws CAST_INVALID_INPUT; equidistant
    // centroids must fall to the lexically-lowest id
    val cen = Seq(("b", Array(0.0f, 1.0f)), ("a", Array(1.0f, 0.0f)))
      .toDF("cid", "embedding")
    val v = Seq(("x", Array(1.0f, 1.0f))).toDF("cid", "embedding") // exact tie
    val got = Similarity.assignClustersComposed(v, cen, "cid", "embedding")
      .select("cluster").as[String].head()
    assert(got == "a")
  }

  test("probe list: nProbe above the centroid count returns all C in rank order") {
    val v = Seq((1L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding")
    val got = Similarity.probeClusters(v, centroids, "vec_id", "embedding", nProbe = 99)
      .orderBy("probe_rank")
      .select(col("cluster"), col("probe_rank")).as[(Long, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(1, 2, 3))
    assert(got.map(_._1).toSet == Set(10L, 20L, 30L))
    assert(got.head._1 == 10L) // nearest first
  }

  test("PQ kernel on NaN vectors is deterministic: code 0 per subspace") {
    // the composed argmin twin is order-dependent under all-NaN keys, so
    // the kernel DEFINES the semantics here: NaN distances never beat the
    // initial best, leaving the lowest code — pinned directly
    val cws = Seq((0L, Array(0f, 0f)), (100L, Array(10f, 10f))).toDF("vec_id", "embedding")
    val ref = PqCodebookRef.fromCodebook(
      Similarity.pqCodebook(cws, "vec_id", "embedding", m = 2, dsub = 1), m = 2, dsub = 1)
    val rows = Seq((1L, Array(Float.NaN, 6f)), (2L, Array(Float.NaN, Float.NaN)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        GraftSqlBridge.column(PqEncodeCodes(UnresolvedAttribute.quoted("embedding"), ref))
          .as("codes"))
      .as[(Long, Array[Int])].collect().toMap
    // subspace 0 is NaN-poisoned → code 0; subspace 1 of vec 1 is real (6
    // is nearer 10 than 0 → code 1); vec 2 is all-NaN → all code 0
    assert(rows(1L).toSeq == Seq(0, 1))
    assert(rows(2L).toSeq == Seq(0, 0))
  }

  test("JL projection: NULL vector is NULL, NaN poisons every coordinate — both twins agree") {
    val vecs = Seq(
      (1L, Some(Array(1.0f, Float.NaN, -0.5f))),   // NaN folds into every coord
      (2L, None: Option[Array[Float]]),            // NULL in, NULL out
      (3L, Some(Array(0.0f, -0.0f)))               // signed zero
    ).toDF("vec_id", "embedding")
    val both = vecs.select(col("vec_id"),
      Similarity.jlProjectKernel("embedding", 4, 8).as("n"),
      Similarity.jlProjectComposed(col("embedding"), 4, 8).as("c"))
    assert(both.filter(not(col("c") <=> col("n"))).count() == 0)
    val rows = both.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows(2L) && !rows(1L) && !rows(3L), rows.toString)
    // the NaN element reaches every output coordinate (each folds the
    // whole prefix) in the kernel path
    val nanRow = both.filter(col("vec_id") === 1L)
      .select(col("n")).collect().head.getSeq[Double](0)
    assert(nanRow.length == 4 && nanRow.forall(_.isNaN), nanRow.toString)
  }

  test("round6 passes NaN and infinities through, like catalyst Round") {
    assert(PqKernel.round6(Double.NaN).isNaN)
    assert(PqKernel.round6(Double.PositiveInfinity).isPosInfinity)
    assert(PqKernel.round6(Double.NegativeInfinity).isNegInfinity)
    assert(PqKernel.round6(1.2345675) == 1.234568 || PqKernel.round6(1.2345675) == 1.234567)
    assert(PqKernel.round6(-1.5e-7) == -0.0)
  }
}
