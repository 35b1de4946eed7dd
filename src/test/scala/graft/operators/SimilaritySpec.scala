package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // anti-parallel to 0
    (4L, Array(0.7f, 0.7f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("cosine: exact values on known vectors, double-widened math") {
    val c = emb.filter(col("vec_id") === 0).crossJoin(
        emb.filter(col("vec_id") === 4).select(col("embedding").as("e2")))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 0.7071067811) < 1e-6)
  }

  test("native codegen cosine is bit-identical to the composed-builtins form") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < 20 && col("b.vec_id").between(20, 40))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("composed"),
        Similarity.cosineNative(col("a.embedding"), col("b.embedding")).as("native"))
    // exact double equality — same widening, same accumulation order
    assert(pairs.filter(col("composed") =!= col("native")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("native SQ8 quantization is identical to the composed transform/array_max form") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
      .select("vec_id", "embedding")
      .unionByName(Seq(
        (9001L, Array(0f, 0f, 0f)),
        // NaN poisons array_max → NaN scale → every code casts to 0; the
        // native kernel's NaN-sticky max scan must reproduce that exactly
        (9002L, Array(1f, Float.NaN, 3f)),
        (9003L, Array(Float.NaN))).toDF("vec_id", "embedding"))
    def composed(vec: org.apache.spark.sql.Column) = {
      val s = array_max(transform(vec, x => abs(x.cast("double"))))
      when(s.isNull || s === 0.0, transform(vec, _ => lit(0)))
        .otherwise(transform(vec, x => floor(x.cast("double") * 127.0 / s + 0.5).cast("int")))
    }
    val both = vecs.select(
      composed(col("embedding")).as("c"),
      call_function("graft_quantize_sq8", col("embedding")).as("n"))
    assert(both.filter(not(col("c") <=> col("n"))).count() == 0)
    assert(both.count() > 0)
  }

  test("native int-dot is identical to the composed aggregate/zip_with form") {
    import spark.implicits._
    val codes = Seq(
      (0L, Array(127, -127, 5, 0)), (1L, Array(-1, 2, -3, 4)),
      (2L, Array(0, 0, 0, 0)), (3L, Array(100, 100, 100, 100)))
      .toDF("id", "q")
    val pairs = codes.as("a").crossJoin(codes.as("b")).select(
      aggregate(zip_with(col("a.q"), col("b.q"), (x, y) => (x * y).cast("long")),
        lit(0L), _ + _).as("composed"),
      call_function("graft_int_dot", col("a.q"), col("b.q")).as("native"))
    assert(pairs.filter(col("composed") =!= col("native")).count() == 0)
    assert(pairs.count() == 16)
  }

  test("native int-dot on mismatched dimensions is NULL, like the composed form") {
    val uneven = Seq((0L, Array(1, 2, 3)), (1L, Array(4, 5))).toDF("id", "q")
    val pairs = uneven.as("a").crossJoin(uneven.as("b")).select(
      col("a.id").as("ai"), col("b.id").as("bi"),
      aggregate(zip_with(col("a.q"), col("b.q"), (x, y) => (x * y).cast("long")),
        lit(0L), _ + _).as("composed"),
      call_function("graft_int_dot", col("a.q"), col("b.q")).as("native"))
      .collect()
    assert(pairs.length == 4)
    pairs.foreach { r =>
      assert(r.isNullAt(2) == r.isNullAt(3), s"null parity broken on $r")
      if (!r.isNullAt(2)) assert(r.getLong(2) == r.getLong(3))
    }
    // mismatched pairs specifically ARE the null ones
    assert(pairs.count(_.isNullAt(3)) == 2)
  }

  test("graft_cosine resolves in SQL text after registration") {
    graft.Tables.load(spark, Sf0001, "embeddings").createOrReplaceTempView("emb_sql")
    val c = spark.sql(
      """SELECT round(graft_cosine(a.embedding, b.embedding), 6) AS c
         FROM emb_sql a JOIN emb_sql b ON a.vec_id = 0 AND b.vec_id = 1""")
      .collect()(0).getDouble(0)
    assert(c > -1.0 && c < 1.0)
  }

  test("bruteForceTopK ranks by cosine desc with deterministic tiebreak") {
    val out = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 1), (4L, 2), (2L, 3), (3L, 4)))
  }

  test("heap top-k (default) ≡ salted-window top-k (fallback), ties included") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings")
    val q = broadcast(emb001.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv")))
    val c = emb001.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(Similarity.cosineNative(col("__qv"), col("__cv")), 6))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq.sorted
    assert(rows(Similarity.topKPerQueryNative(scored, 7)) ==
      rows(Similarity.topKPerQuery(scored, 7)))
  }

  test("sq8TopK: codes bounded to [-127,127], integer ranking matches a JVM replica") {
    val rows = graft.Tables.load(spark, Sf0001, "embeddings")
      .filter(col("vec_id") < 60)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def quant(v: Array[Float]): Array[Int] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      if (s == 0.0) v.map(_ => 0)
      else v.map(x => math.floor(x.toDouble * 127.0 / s + 0.5).toInt)
    }
    val codes = rows.map { case (id, v) => id -> quant(v) }.toMap
    assert(codes.values.flatten.forall(c => c >= -127 && c <= 127))
    val expected = (for {
      (qid, _) <- rows.filter(_._1 < 3)
      scored = rows.filter(_._1 != qid).map { case (nid, _) =>
        (nid, codes(qid).zip(codes(nid)).map { case (a, b) => a.toLong * b }.sum)
      }
    } yield qid -> scored.sortBy { case (nid, sc) => (-sc, nid) }.take(4).toSeq).toMap
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings")
    val got = Similarity.sq8TopK(
        emb001.filter(col("vec_id") < 3), emb001.filter(col("vec_id") < 60),
        "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "score", "rank")
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    assert(got == expected)
  }

  test("sq8TopK: zero vectors quantize to all-zero codes, not divide-by-zero") {
    val z = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(z.filter(col("vec_id") === 0), z, "vec_id", "embedding", k = 2)
      .select("neighbor_id", "score").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }

  test("signLshTopK only searches within the query's sign bucket") {
    val out = Similarity.signLshTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 4, bits = 2)
      .collect().map(_.getLong(2)).toSet
    // bucket of v0 over first 2 dims = "11" (0.0 >= 0 counts as positive);
    // v3 (-1,0) → "01" is excluded by construction
    assert(!out.contains(3L))
    assert(out.contains(1L))
  }

  test("ivfTopK searches only the query's nearest-centroid cluster") {
    val centroids = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      emb.filter(col("vec_id") === 0), emb, centroids, "vec_id", "embedding", k = 3)
      .collect().map(_.getLong(2)).toSet
    assert(out.contains(1L))    // same cluster (centroid 100)
    assert(!out.contains(2L))   // assigned to centroid 200's cluster
  }

  test("sq8RerankTopK: refine covering the corpus reproduces exact brute-force top-k") {
    // coarse k×refine = 6 ≥ corpus-1 candidates → every vector survives
    // the coarse stage, so the rerank IS brute force (exact cosine order)
    val exact = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", k = 2)
      .collect().map(_.toSeq).toSet
    val reranked = Similarity.sq8RerankTopK(
      emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", k = 2, refine = 3)
      .collect().map(_.toSeq).toSet
    assert(reranked == exact)
  }

  test("sq8RerankTopK: candidates come only from the coarse int8 list") {
    val out = Similarity.sq8RerankTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 1, refine = 1)
      .collect()
    val coarse = Similarity.sq8TopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 1)
      .collect().map(_.getLong(1)).toSet
    assert(out.length == 1)
    assert(coarse.contains(out.head.getLong(1)),
      "rerank winner must be drawn from the coarse candidate list")
  }

  test("ivfTopKProbed: nProbe=1 reproduces ivfTopK row-for-row") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val centroids = emb.filter(col("vec_id") % 100 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val single = Similarity.ivfTopK(queries, emb, centroids,
      "vec_id", "embedding", k = 3).collect().map(_.toSeq).toSet
    val probed = Similarity.ivfTopKProbed(queries, emb, centroids,
      "vec_id", "embedding", k = 3, nProbe = 1).collect().map(_.toSeq).toSet
    assert(probed == single)
  }

  test("ivfTopKProbed: widening nProbe never worsens the k-th score; probe 1 = assigned cluster") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val centroids = emb.filter(col("vec_id") % 100 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    def kthScore(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.groupBy(col("query_id")).agg(min(col("cosine")).as("kth"))
        .as[(Long, Double)].collect().toMap
    val s1 = kthScore(Similarity.ivfTopKProbed(queries, emb, centroids,
      "vec_id", "embedding", k = 3, nProbe = 1))
    val s2 = kthScore(Similarity.ivfTopKProbed(queries, emb, centroids,
      "vec_id", "embedding", k = 3, nProbe = 2))
    for ((qid, kth1) <- s1)
      assert(s2(qid) >= kth1, s"query $qid: nProbe=2 kth ${s2(qid)} < nProbe=1 kth $kth1")
    // probe rank 1 is exactly the cluster assignClusters picks
    val assigned = Similarity.assignClusters(queries, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    val probe1 = Similarity.probeClusters(queries, centroids, "vec_id", "embedding", 2)
      .filter(col("probe_rank") === 1)
      .select(col("query_id"), col("cluster")).as[(Long, Long)].collect().toMap
    assert(probe1 == assigned)
  }

  test("native float-dot is identical to the composed aggregate/zip_with form") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < 10 && col("b.vec_id").between(10, 30))
      .select(
        aggregate(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _).as("composed"),
        call_function("graft_float_dot", col("a.embedding"), col("b.embedding")).as("native"))
    // exact double equality — same widening, same left-to-right fold
    assert(pairs.filter(col("composed") =!= col("native")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("native float-dot on mismatched dimensions is NULL, like the composed form") {
    val uneven = Seq((0L, Array(1f, 2f, 3f)), (1L, Array(4f, 5f))).toDF("id", "v")
    val pairs = uneven.as("a").crossJoin(uneven.as("b")).select(
      call_function("graft_float_dot", col("a.v"), col("b.v")).as("native"))
      .collect()
    assert(pairs.length == 4)
    assert(pairs.count(_.isNullAt(0)) == 2) // exactly the two mismatched pairs
  }

  test("pqEncode: argmin-L2 codes per subspace, ties break to the lower code") {
    // m=2 subspaces of width 1; codewords 0→(0,0) and 100→(10,10) give
    // dense codes 0 and 1 in both subspaces
    val cws = Seq((0L, Array(0f, 0f)), (100L, Array(10f, 10f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 9f)),  // s0 nearer 0 → code 0; s1 nearer 10 → code 1
      (2L, Array(6f, 4f)),  // s0 → 1; s1 → 0
      (3L, Array(5f, 5f)))  // equidistant both subspaces → tie → code 0
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(cws, "vec_id", "embedding", m = 2, dsub = 1)
    val codes = Similarity.pqEncode(corpus, cb, "vec_id", "embedding", m = 2, dsub = 1)
      .as[(Long, Array[Int])].collect().map { case (id, cs) => id -> cs.toSeq }.toMap
    assert(codes == Map(1L -> Seq(0, 1), 2L -> Seq(1, 0), 3L -> Seq(0, 0)))
  }

  test("graft_pq_adc: subspace-major LUT lookups; malformed codes are NULL") {
    // m=2, K=2: lut = [q0·cw00, q0·cw01, q1·cw10, q1·cw11]
    val rows = Seq(
      (Array(1.0, 2.0, 10.0, 20.0), Array(1, 0)),  // 2.0 + 10.0
      (Array(1.0, 2.0, 10.0, 20.0), Array(0, 1)),  // 1.0 + 20.0
      (Array(1.0, 2.0, 10.0, 20.0), Array(2, 0)),  // code ≥ K → NULL
      (Array(1.0, 2.0, 10.0, 20.0), Array(-1, 0)), // code < 0 → NULL
      (Array(1.0, 2.0), Array(0, 0, 0)),           // LUT shorter than m·K → NULL
      (Array(1.0, 2.0, 10.0, 20.0), Array(0)))     // LUT LONGER than m·K → NULL,
                                                   // never a silent partial score
      .toDF("lut", "codes")
    val got = rows.select(
      call_function("graft_pq_adc", col("lut"), col("codes"), lit(2)).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(12.0), Some(21.0), None, None, None, None))
  }

  test("pqTopK matches a JVM replica of encode + ADC scoring") {
    val rows = graft.Tables.load(spark, Sf0001, "embeddings")
      .filter(col("vec_id") < 60)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val d = rows.head._2.length
    val (m, dsub) = (4, d / 4)
    def sub(v: Array[Float], j: Int) = v.slice(j * dsub, (j + 1) * dsub)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def rnd6(x: Double) =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val cw = rows.filter(_._1 % 20 == 0).sortBy(_._1) // dense code = sorted rank
    def encode(v: Array[Float]): Array[Int] = (0 until m).map { j =>
      cw.indices.minBy(c =>
        (rnd6(dot(sub(v, j), sub(v, j)) - 2 * dot(sub(v, j), sub(cw(c)._2, j))
          + dot(sub(cw(c)._2, j), sub(cw(c)._2, j))), c))
    }.toArray
    val codes = rows.map { case (id, v) => id -> encode(v) }.toMap
    def score(q: Array[Float], nid: Long): Double =
      rnd6((0 until m).map(j => rnd6(dot(sub(q, j), sub(cw(codes(nid)(j))._2, j)))).sum)
    val expected = (for {
      (qid, qv) <- rows.filter(_._1 < 3)
      scored = rows.filter(_._1 != qid).map { case (nid, _) => (nid, score(qv, nid)) }
    } yield qid -> scored.sortBy { case (nid, sc) => (-sc, nid) }.take(4).toSeq).toMap
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val got = Similarity.pqTopK(
        emb001.filter(col("vec_id") < 3), emb001, emb001.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 4, m = m, dsub = dsub)
      .select("query_id", "neighbor_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    assert(got == expected)
  }

  test("ivfPqTopK: one centroid + nProbe=1 degenerates to pqTopK") {
    // a single cluster holds the whole corpus, so IVF pruning removes
    // nothing and the composed index must reproduce flat PQ row-for-row
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val oneCentroid = emb001.filter(col("vec_id") === 0)
    val codewords = emb001.filter(col("vec_id") % 20 === 0)
    val flat = Similarity.pqTopK(
        emb001.filter(col("vec_id") < 3), emb001, codewords,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    val ivfpq = Similarity.ivfPqTopK(
        emb001.filter(col("vec_id") < 3), emb001, oneCentroid, codewords,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16, nProbe = 1)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    assert(ivfpq == flat)
  }

  test("ivfPqTopK: candidates come only from probed clusters") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings")
    val sample = emb001.filter(col("vec_id") % 100 === 0)
    val queries = emb001.filter(col("vec_id") < 5)
    val out = Similarity.ivfPqTopK(queries, emb001, sample, sample,
      "vec_id", "embedding", k = 3, m = 4, dsub = 16, nProbe = 2)
    // every result's cluster is in its query's 2-probe list
    val probed = Similarity.probeClusters(queries, sample, "vec_id", "embedding", 2)
      .select(col("query_id"), col("cluster")).as[(Long, Long)].collect().toSet
    val got = out.select(col("query_id"), col("cluster")).as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.subsetOf(probed))
    // and the corpus-side cluster is the vector's ASSIGNED cluster
    val assigned = Similarity.assignClusters(emb001, sample, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    out.select(col("neighbor_id"), col("cluster")).as[(Long, Long)].collect()
      .foreach { case (nid, cl) => assert(assigned(nid) == cl) }
  }

  test("ivfPqResidualTopK: lossless residual codebook reproduces ivfTopK's neighbor sets") {
    // every corpus vector contributes its own residual as a codeword, so
    // encoding is exact and the L2 ADC ranks by true ||q−x||² within the
    // probed cluster — on unit-norm embeddings that is cosine order, i.e.
    // ivfTopK's ranking over the same candidates
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings")
    val centroids = emb001.filter(col("vec_id") % 100 === 0)
    val queries = emb001.filter(col("vec_id") < 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val residual = pairs(Similarity.ivfPqResidualTopK(queries, emb001, centroids, emb001,
      "vec_id", "embedding", k = 3, m = 4, dsub = 16, nProbe = 1))
    val ivf = pairs(Similarity.ivfTopK(queries, emb001, centroids,
      "vec_id", "embedding", k = 3))
    assert(residual == ivf)
  }

  test("ivfPqResidualTopK: candidates come only from probed clusters, tagged with assignment") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings")
    val centroids = emb001.filter(col("vec_id") % 100 === 0)
    val codewords = emb001.filter(col("vec_id") % 100 === 50)
    val queries = emb001.filter(col("vec_id") < 5)
    val out = Similarity.ivfPqResidualTopK(queries, emb001, centroids, codewords,
      "vec_id", "embedding", k = 3, m = 4, dsub = 16, nProbe = 2)
    val probed = Similarity.probeClusters(queries, centroids, "vec_id", "embedding", 2)
      .select(col("query_id"), col("cluster")).as[(Long, Long)].collect().toSet
    val got = out.select(col("query_id"), col("cluster")).as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.subsetOf(probed))
    val assigned = Similarity.assignClusters(emb001, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    out.select(col("neighbor_id"), col("cluster")).as[(Long, Long)].collect()
      .foreach { case (nid, cl) => assert(assigned(nid) == cl) }
  }

  test("residual IVF-PQ beats the global codebook on clustered data at equal parameters") {
    // the by_residual=true premise made measurable where it actually
    // holds — CLUSTERED vectors, where the centroid absorbs the coarse
    // position and residuals concentrate near the origin. (On uniform
    // random unit vectors — the driver's embeddings table — residuals
    // are ~√2 LARGER than the vectors themselves and the global flavor
    // wins; measured, and documented on ivfPqResidualTopK.) Four
    // axis-aligned blobs in d=8, deterministic per-member jitter; same
    // centroid set, codeword budget, m/dsub/nProbe for both flavors.
    def jit(id: Int, i: Int): Float = (((id * 37 + i * 11) % 7) - 3) / 20.0f
    val members = (0 until 40).map { id =>
      val blob = id % 4
      val v = Array.tabulate(8)(i => jit(id, i) + (if (i == blob * 2) 1.0f else 0.0f))
      (id.toLong, v)
    }
    val corpus = members.toDF("vec_id", "embedding")
    val centroids = Seq.tabulate(4) { b =>
      (1000L + b, Array.tabulate(8)(i => if (i == b * 2) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val codewords = corpus.filter(col("vec_id") % 5 === 2) // 8 codewords, 2/blob
    val queries = corpus.filter(col("vec_id") < 4)         // one query per blob
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 3)
    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exact).agg(avg(col("recall"))).as[Double].head()
    val global = mean(Similarity.ivfPqTopK(queries, corpus, centroids, codewords,
      "vec_id", "embedding", k = 3, m = 4, dsub = 2, nProbe = 1))
    val residual = mean(Similarity.ivfPqResidualTopK(queries, corpus, centroids, codewords,
      "vec_id", "embedding", k = 3, m = 4, dsub = 2, nProbe = 1))
    assert(residual >= global,
      s"residual recall $residual should be >= global-codebook recall $global on clustered data")
    assert(residual > 0.5, s"residual recall $residual should be substantial on clustered data")
  }

  test("pqTrainCodebooks: codewords move to subspace means; empty codes keep their codeword") {
    // subspace 0 has members near both codewords; subspace 1's members all
    // sit near codeword 0, so codeword 1 attracts nothing there and must
    // SURVIVE unchanged (keep-alive Lloyd — the LUT stride depends on it)
    val cws = Seq((0L, Array(0f, 0f)), (100L, Array(10f, 100f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 1f)), (2L, Array(3f, 3f)),     // s0 → code 0; s1 → code 0
      (3L, Array(9f, 5f)), (4L, Array(11f, 7f)))    // s0 → code 1; s1 → code 0
      .toDF("vec_id", "embedding")
    val trained = Similarity.pqTrainCodebooks(corpus, cws, "vec_id", "embedding",
        m = 2, dsub = 1, iters = 1)
      .select(col("subspace"), col("code"), col("__cw"))
      .as[(Int, Int, Array[Float])].collect()
      .map { case (j, c, cw) => (j, c) -> cw.toSeq }.toMap
    assert(trained((0, 0)) == Seq(2.0f))   // mean(1, 3)
    assert(trained((0, 1)) == Seq(10.0f))  // mean(9, 11)
    assert(trained((1, 0)) == Seq(4.0f))   // mean(1, 3, 5, 7)
    assert(trained((1, 1)) == Seq(100.0f)) // no members → keep-alive
    // uniform dense-code stride preserved: both subspaces still have K=2
    assert(trained.keySet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
  }

  test("pqTopKWithCodebook on an untrained pqCodebook equals pqTopK") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val cws = emb001.filter(col("vec_id") % 20 === 0)
    val direct = Similarity.pqTopK(
        emb001.filter(col("vec_id") < 3), emb001, cws,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    val viaCb = Similarity.pqTopKWithCodebook(
        emb001.filter(col("vec_id") < 3), emb001,
        Similarity.pqCodebook(cws, "vec_id", "embedding", m = 4, dsub = 16),
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    assert(viaCb == direct)
  }

  test("kernel PQ encode and LUT are identical to the DataFrame twins") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val cws = emb001.filter(col("vec_id") % 20 === 0)
    val cbDf = Similarity.pqCodebook(cws, "vec_id", "embedding", m = 4, dsub = 16)
    val ref = graft.functions.PqCodebookRef.fromCodebook(cbDf, m = 4, dsub = 16)
    val twinCodes = Similarity.pqEncode(emb001, cbDf, "vec_id", "embedding", m = 4, dsub = 16)
      .as[(Long, Array[Int])].collect().map { case (id, cs) => id -> cs.toSeq }.toMap
    val kernelCodes = emb001.select(col("vec_id"),
        GraftSqlBridge.column(graft.functions.PqEncodeCodes(
          UnresolvedAttribute.quoted("embedding"), ref)).as("codes"))
      .as[(Long, Array[Int])].collect().map { case (id, cs) => id -> cs.toSeq }.toMap
    assert(kernelCodes == twinCodes)
    val twinLut = Similarity.pqLut(emb001.filter(col("vec_id") < 5), cbDf,
        "vec_id", "embedding", m = 4, dsub = 16)
      .as[(Long, Array[Double])].collect().map { case (id, l) => id -> l.toSeq }.toMap
    val kernelLut = emb001.filter(col("vec_id") < 5).select(col("vec_id"),
        GraftSqlBridge.column(graft.functions.PqBuildLut(
          UnresolvedAttribute.quoted("embedding"), ref)).as("__lut"))
      .as[(Long, Array[Double])].collect().map { case (id, l) => id -> l.toSeq }.toMap
    assert(kernelLut == twinLut)
  }

  test("kernel PQ encode is NULL on a dimension mismatch") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val cws = Seq((0L, Array(0f, 0f)), (100L, Array(10f, 10f))).toDF("vec_id", "embedding")
    val ref = graft.functions.PqCodebookRef.fromCodebook(
      Similarity.pqCodebook(cws, "vec_id", "embedding", m = 2, dsub = 1), m = 2, dsub = 1)
    val rows = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        GraftSqlBridge.column(graft.functions.PqEncodeCodes(
          UnresolvedAttribute.quoted("embedding"), ref)).as("codes"))
      .collect()
    assert(!rows.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("kernel centroid assignment and probe list are identical to the composed twins") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val centroids = emb001.filter(col("vec_id") % 100 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    assert(pairs(Similarity.assignClusters(emb001, centroids, "vec_id", "embedding")) ==
      pairs(Similarity.assignClustersComposed(emb001, centroids, "vec_id", "embedding")))
    def probes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("cluster"), col("probe_rank"))
        .as[(Long, Long, Int)].collect().toSet
    val q = emb001.filter(col("vec_id") < 20)
    assert(probes(Similarity.probeClusters(q, centroids, "vec_id", "embedding", 3)) ==
      probes(Similarity.probeClustersComposed(q, centroids, "vec_id", "embedding", 3)))
  }

  test("pqSearchEncoded over a persisted index reproduces inline pqTopK") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val cws = emb001.filter(col("vec_id") % 20 === 0)
    val cbDf = Similarity.pqCodebook(cws, "vec_id", "embedding", m = 4, dsub = 16)
    val ref = graft.functions.PqCodebookRef.fromCodebook(cbDf, m = 4, dsub = 16)
    // build the index and round-trip it through parquet — the deploy shape
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    emb001.select(col("vec_id").as("id"),
        GraftSqlBridge.column(graft.functions.PqEncodeCodes(
          UnresolvedAttribute.quoted("embedding"), ref)).as("codes"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    val loaded = spark.read.parquet(s"$dir/codes")
    val fromIndex = Similarity.pqSearchEncoded(
        emb001.filter(col("vec_id") < 3), loaded, cbDf,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqTopK(
        emb001.filter(col("vec_id") < 3), emb001, cws,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    assert(fromIndex == inline)
  }

  test("pqEncode output round-trips into pqSearchEncoded without a rename") {
    // the public encode emits (idCol, codes); the persisted-index search
    // must accept that shape directly, not only the literal "id"
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val cws = emb001.filter(col("vec_id") % 20 === 0)
    val cbDf = Similarity.pqCodebook(cws, "vec_id", "embedding", m = 4, dsub = 16)
    val codes = Similarity.pqEncode(emb001, cbDf, "vec_id", "embedding", m = 4, dsub = 16)
    val fromEncode = Similarity.pqSearchEncoded(
        emb001.filter(col("vec_id") < 3), codes, cbDf,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqTopK(
        emb001.filter(col("vec_id") < 3), emb001, cws,
        "vec_id", "embedding", k = 4, m = 4, dsub = 16)
      .collect().map(_.toSeq).toSet
    assert(fromEncode == inline)
  }

  test("pqIndexAppend: appends only missing ids, converges to the from-scratch index") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val cb = Similarity.pqCodebook(emb001.filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", m = 4, dsub = 16)
    val empty = emb001.select(col("vec_id").as("id"),
      expr("cast(array() as array<int>)").as("codes")).limit(0)
    val half = Similarity.pqIndexAppend(empty, emb001.filter(col("vec_id") % 2 === 0),
      cb, "vec_id", "embedding", m = 4, dsub = 16)
    // append the FULL corpus: overlapping ids must not re-encode or duplicate
    val full = Similarity.pqIndexAppend(half, emb001,
      cb, "vec_id", "embedding", m = 4, dsub = 16)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("codes")).as[(Long, Array[Int])]
        .collect().map { case (i, c) => i -> c.toSeq }.toMap
    val appended = m(full)
    assert(appended.size == 60, "no duplicate ids after an overlapping append")
    val scratch = m(Similarity.pqIndexAppend(empty, emb001,
      cb, "vec_id", "embedding", m = 4, dsub = 16))
    assert(appended == scratch, "appended index must equal the from-scratch encode")
  }

  test("pqIndexRefresh: converges to from-scratch, keeps unchanged codes untouched, drops retired ids") {
    val emb001 = graft.Tables.load(spark, Sf0001, "embeddings").filter(col("vec_id") < 60)
    val cb = Similarity.pqCodebook(emb001.filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", m = 4, dsub = 16)
    // yesterday: ids %5==0 re-embedded since (stale = reversed vector),
    // ids %7==1 hadn't arrived, ids 9000+x are retired today
    val old = emb001.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 1)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb001.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      .unionByName(emb001.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 9000).as("vec_id"), col("embedding")))
    val index0 = Similarity.pqIndexDigested(old, cb, "vec_id", "embedding", 4, 16)
    // poison the codes of one UNCHANGED row: refresh must preserve the
    // poisoned value verbatim — direct proof kept rows never re-encode
    val unchangedId = 2L // 2%5!=0, 2%7!=1 → present & unchanged
    val poisoned = index0.withColumn("codes",
      when(col("id") === unchangedId, typedLit(Seq(-1, -1, -1, -1)))
        .otherwise(col("codes")))
    val refreshed = Similarity.pqIndexRefresh(poisoned, emb001, cb,
      "vec_id", "embedding", 4, 16)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("codes")).as[(Long, Array[Int])]
        .collect().map { case (i, c) => i -> c.toSeq }.toMap
    val got = m(refreshed)
    assert(got(unchangedId) == Seq(-1, -1, -1, -1),
      "unchanged row must keep its stored codes (no re-encode)")
    assert(!got.keySet.exists(_ >= 9000), "retired ids must drop out")
    val scratch = m(Similarity.pqIndexDigested(emb001, cb, "vec_id", "embedding", 4, 16))
    assert(got.keySet == scratch.keySet)
    assert((got - unchangedId) == (scratch - unchangedId),
      "refreshed index must equal the from-scratch encode on every other id")
  }

  test("pqCodebook raises on duplicate codeword ids instead of ranking nondeterministically") {
    val dup = Seq((1L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqCodebook(dup, "vec_id", "embedding", m = 2, dsub = 1).collect()
    }
    assert(ex.getMessage.contains("duplicate codeword id"))
  }

  test("pqRerankTopK: refine covering the corpus reproduces exact brute-force top-k") {
    // coarse k×refine ≥ corpus-1 → every vector survives the coarse PQ
    // stage, so the rerank IS brute force (exact cosine order)
    val cws = emb // every vector its own codeword: encoding is lossless
    val exact = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", k = 2)
      .collect().map(_.toSeq).toSet
    val reranked = Similarity.pqRerankTopK(
      emb.filter(col("vec_id") < 2), emb, cws,
      "vec_id", "embedding", k = 2, m = 2, dsub = 2, refine = 3)
      .collect().map(_.toSeq).toSet
    assert(reranked == exact)
  }

  test("pqRerankTopK: candidates come only from the coarse PQ list") {
    val cws = emb.filter(col("vec_id") % 2 === 0)
    val out = Similarity.pqRerankTopK(
      emb.filter(col("vec_id") === 0), emb, cws,
      "vec_id", "embedding", k = 1, m = 2, dsub = 2, refine = 1)
      .collect()
    val coarse = Similarity.pqTopK(
      emb.filter(col("vec_id") === 0), emb, cws,
      "vec_id", "embedding", k = 1, m = 2, dsub = 2)
      .collect().map(_.getLong(1)).toSet
    assert(out.length == 1)
    assert(coarse.contains(out.head.getLong(1)),
      "rerank winner must be drawn from the coarse candidate list")
  }

  test("recallAtK: exact-vs-itself is 1.0; disjoint results are 0.0; partial counts hits") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    def recall(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact)
        .as[(Long, Double)].collect().toMap
    assert(recall(exact) == Map(1L -> 1.0, 2L -> 1.0))
    val disjoint = Seq((1L, 99L), (2L, 98L)).toDF("query_id", "neighbor_id")
    assert(recall(disjoint) == Map(1L -> 0.0, 2L -> 0.0))
    // one hit of two for query 1; query 2 absent from approx → 0.0 not a
    // dropped row (left join keeps every exact-side query)
    val partial = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "neighbor_id")
    assert(recall(partial) == Map(1L -> 0.5, 2L -> 0.0))
  }

  test("ivfTopK self-registers: works on a session with a fresh function registry") {
    // regression: ivfTopK's cosineNative once resolved by function name,
    // so it failed on any session no graft operator had registered on;
    // kernels are typed columns now and need no registration
    val fresh = spark.newSession()
    val emb = fresh.read.parquet(s"$Sf0001/embeddings.parquet").select("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      emb.filter(col("vec_id") < 2), emb, emb.filter(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 2)
    assert(out.count() > 0)
  }

  test("assignClusters/probeClusters with non-integral centroid ids fall back to the composed twin") {
    val cen = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.0f, 1.0f)))
      .toDF("cid", "embedding")
    val v = Seq(("x", Array(0.9f, 0.1f)), ("y", Array(0.1f, 0.9f)))
      .toDF("cid", "embedding")
    val assigned = Similarity.assignClusters(v, cen, "cid", "embedding")
      .select(col("cid"), col("cluster")).as[(String, String)].collect().toMap
    assert(assigned == Map("x" -> "a", "y" -> "b"))
    val probed = Similarity.probeClusters(v, cen, "cid", "embedding", 2)
      .filter(col("probe_rank") === 1)
      .select(col("query_id"), col("cluster")).as[(String, String)].collect().toMap
    assert(probed == assigned.map { case (k2, v2) => (k2, v2) })
  }

  test("kernel assignClusters keeps the centroid id column's own type for cluster") {
    val cenInt = Seq((10, Array(1.0f, 0.0f)), (20, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val v = Seq((1, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val schema = Similarity.assignClusters(v, cenInt, "vec_id", "embedding").schema
    assert(schema("cluster").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("lloydCentroids converges to the blob means from a skewed init") {
    // two clean direction blobs; init centroids both sit in blob A's
    // half-space but one is closer to blob B's members
    val blobs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.98f, 0.02f, 0.0f, 0.0f)),
      (2L, Array(0.96f, 0.01f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (11L, Array(0.02f, 0.98f, 0.0f, 0.0f)),
      (12L, Array(0.01f, 0.96f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val init = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.6f, 0.8f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = Similarity.lloydCentroids(blobs, init, "vec_id", "embedding", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(trained.keySet == Set(100L, 200L))
    // each trained centroid is the mean of its blob: dominant axis ≈ .98/.98
    assert(math.abs(trained(100L).head - 0.98f) < 0.01)
    assert(math.abs(trained(200L)(1) - 0.98f) < 0.01)
    // deterministic: same input → same centroids
    val again = Similarity.lloydCentroids(blobs, init, "vec_id", "embedding", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again == trained)
  }

  test("ivfProbeM plan: cluster IN pushed into the assigned scan; cap falls back cleanly") {
    val root = new java.io.File(
      java.lang.System.getProperty("java.io.tmpdir"),
      s"graft_ivfplan_${java.util.UUID.randomUUID().toString.take(8)}").toString
    val centroids = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfIndexM(emb, centroids, "vec_id", "embedding", root)
    val queries = emb.filter(col("vec_id") === 0)
    val probed = Similarity.ivfProbeM(queries, "vec_id", "embedding",
      k = 3, nProbe = 2, root)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("In(cluster"),
      "probe-cluster IN filter must push into the assigned parquet scan")
    val want = probed.as[(Long, Long, Long, Double, Int)].collect().toSet
    // above the cap: no isin, broadcast join only — result identical
    spark.conf.set("spark.graft.ivf.isinClusterCap", "0")
    try {
      val uncapped = Similarity.ivfProbeM(queries, "vec_id", "embedding",
        k = 3, nProbe = 2, root)
      assert(!uncapped.queryExecution.executedPlan.toString.contains("In(cluster"))
      assert(uncapped.as[(Long, Long, Long, Double, Int)].collect().toSet == want)
    } finally spark.conf.unset("spark.graft.ivf.isinClusterCap")
    // and the served probe ≡ the inline operator on the same corpus
    val inline = Similarity.ivfTopKProbed(queries, emb, centroids,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(want == inline)
  }

  test("kernel JL projection is bit-identical to the composed digest60 twin") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
      .select("vec_id", "embedding")
      .unionByName(Seq(
        (9001L, Array.empty[Float]),            // empty → all-zero projection
        (9002L, Array(1.5f, -2.5f)),            // shorter than d: prefix fold
        (9003L, Array.fill(80)(0.25f)))         // longer than d: tail ignored
        .toDF("vec_id", "embedding"))
    val both = vecs.select(
      Similarity.jlProjectKernel("embedding", m = 8, d = 64).as("n"),
      Similarity.jlProjectComposed(col("embedding"), m = 8, d = 64).as("c"))
    assert(both.filter(not(col("c") <=> col("n"))).count() == 0)
    assert(both.count() > 0)
  }

  test("jlRerankTopK: refine covering the corpus reproduces exact brute-force top-k") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
    val queries = vecs.filter(col("vec_id") < 5)
    val n = vecs.count().toInt
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    // refine wide enough that the coarse JL list is the whole corpus:
    // the exact rerank must then restore brute-force ordering exactly
    val rer = Similarity.jlRerankTopK(queries, vecs, "vec_id", "embedding",
        k = 3, m = 4, d = 64, refine = n)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rer == exact)
  }

  test("native double-cosine kernel is bit-identical to the composed form on projections") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
      .select(Similarity.jlProjectKernel("embedding", m = 8, d = 64).as("pv"),
        col("vec_id"))
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < 20 && col("b.vec_id").between(20, 40))
      .select(
        Similarity.cosine(col("a.pv"), col("b.pv")).as("composed"),
        call_function("graft_cosine_d", col("a.pv"), col("b.pv")).as("native"))
    assert(pairs.filter(col("composed") =!= col("native")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("mmrTopK at λ=1 degenerates to pure relevance: selection order = brute rank") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
    val queries = vecs.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val mmr = Similarity.mmrTopK(queries, vecs, "vec_id", "embedding",
        k = 4, poolSize = 10, lambdaNum = 1, lambdaDen = 1)
      .select("query_id", "neighbor_id", "mmr_rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(mmr == brute)
  }

  test("mmrTopK diversifies: a near-duplicate of the first pick is deferred") {
    // c1/c2 are near-duplicates and both highly relevant; c3 is less
    // relevant but diverse. Pure relevance ranks (c1, c2, c3); MMR at
    // λ=1/2 must select (c1, c3, c2) — redundancy pushed to last.
    val fixture = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.10f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.11f, 0.0f, 0.0f)),
      (3L, Array(0.5f, -0.5f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q0 = fixture.filter(col("vec_id") === 0)
    val relOrder = Similarity.bruteForceTopK(q0, fixture, "vec_id", "embedding", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().map(_._2).toSeq
    assert(relOrder == Seq(1L, 2L, 3L), relOrder.toString)
    val mmrOrder = Similarity.mmrTopK(q0, fixture, "vec_id", "embedding",
        k = 3, poolSize = 3, lambdaNum = 1, lambdaDen = 2)
      .orderBy("mmr_rank").as[(Long, Long, Double, Int)].collect().map(_._2).toSeq
    assert(mmrOrder == Seq(1L, 3L, 2L), mmrOrder.toString)
  }

  test("jlTopK: k rows per query, deterministic, ranked desc in the projected space") {
    val vecs = graft.Tables.load(spark, Sf0001, "embeddings")
    val queries = vecs.filter(col("vec_id") < 5)
    val got = Similarity.jlTopK(queries, vecs, "vec_id", "embedding",
        k = 4, m = 16, d = 64)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.groupBy(_._1).forall(_._2.length == 4))
    got.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._3).sliding(2).forall(p => p.head >= p.last),
        byRank.mkString(","))
    }
    val again = Similarity.jlTopK(queries, vecs, "vec_id", "embedding",
        k = 4, m = 16, d = 64)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.toSet == again.toSet)
  }

  test("JL manifest lifecycle: served ≡ inline rerank; pinned v1 sees the even half only") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_jlidx_spec").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    try {
      // v1: even half; HEAD: everything (append projects only fresh ids
      // with the manifest's own (m, d))
      val v1 = Similarity.buildJlIndexM(even, "vec_id", "embedding", 16, 64, root)
      Similarity.appendJlIndexM(emb, "vec_id", "embedding", root)
      Similarity.compactJlIndexM(spark, root) // probe-preserving re-layout
      val served = rows(Similarity.jlProbeM(queries, emb,
        "vec_id", "embedding", k = 5, refine = 4, root))
      val inline = rows(Similarity.jlRerankTopK(queries, emb,
        "vec_id", "embedding", k = 5, m = 16, d = 64, refine = 4))
      assert(served == inline,
        "stored projections must replay the inline two-stage search exactly")
      // pinned at v1: the shortlist (and so the ranking) covers the
      // even half alone — identical to the inline search over it
      val pinned = rows(Similarity.jlProbeM(queries, emb,
        "vec_id", "embedding", k = 5, refine = 4, root, at = Some(v1)))
      val inlineEven = rows(Similarity.jlRerankTopK(queries, even,
        "vec_id", "embedding", k = 5, m = 16, d = 64, refine = 4))
      assert(pinned == inlineEven)
      assert(pinned != served, "fixture must make time travel observable")
      // refresh under corpus UPDATES: re-embedded vectors (reversed),
      // retired rows (id ≥ 400 dropped) — the refreshed probe must
      // equal the inline search over exactly today's corpus
      val mutated = emb.filter(col("vec_id") < 400)
        .select(col("vec_id"),
          when(col("vec_id") % 5 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      Similarity.refreshJlIndexM(mutated, "vec_id", "embedding", root)
      val refreshed = rows(Similarity.jlProbeM(queries, mutated,
        "vec_id", "embedding", k = 5, refine = 4, root))
      val inlineMut = rows(Similarity.jlRerankTopK(queries, mutated,
        "vec_id", "embedding", k = 5, m = 16, d = 64, refine = 4))
      assert(refreshed == inlineMut,
        "refresh must converge the stored projections to today's corpus")
      assert(refreshed != served, "fixture must make the refresh observable")
    } finally {
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(del)
        f.delete(): Unit
      }
      del(new java.io.File(root))
    }
  }
}
