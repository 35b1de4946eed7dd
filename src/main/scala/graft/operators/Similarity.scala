package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`) — north-star operator, absent from the
  * reference. Two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k, broadcast the (small) query
  *    set against the corpus — the correctness baseline; one pass over the
  *    corpus, no corpus shuffle, then [[topKPerQueryNative]]: the custom
  *    bounded-heap operator ships queries × k rows through one exchange
  *    with no sort (2-3× the salted-window fallback at sf0.1).
  *  - [[signLshTopK]] / [[ivfTopK]]: bucketed variants — queries only scan
  *    their own bucket/cluster, the 100 TB scale path.
  *
  * All float math widens to double BEFORE multiplying and folds
  * left-to-right, matching DuckDB's `list_*` double semantics so the
  * oracle hash-matches bit-for-bit.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double —
    * composed-builtins form (SQL-expressible; used for oracle parity docs).
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Cosine via the native codegen expression
    * [[graft.functions.CosineSimilarity]] — bit-identical to [[cosine]],
    * ~an order of magnitude cheaper per row (tight primitive loop, no
    * intermediate array). Works on any session: the kernel enters the
    * plan as a typed column ([[graft.functions.GraftFunctions.cosine]]),
    * not by name. */
  def cosineNative(a: Column, b: Column): Column =
    GraftFunctions.cosine(a, b)

  /** Sign-pattern LSH bucket over the first `bits` dimensions: a coarse,
    * deterministic random-hyperplane surrogate (axis-aligned planes). */
  def signBucket(vec: Column, bits: Int): Column =
    concat_ws("", (1 to bits).map(i =>
      when(element_at(vec, i) >= 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Exact two-stage top-k per query over a scored candidate frame — the
    * PURE-DataFrame fallback for sessions that cannot install the custom
    * planner strategy ([[topKPerQueryNative]] is the default path;
    * SimilaritySpec proves the two produce identical rows).
    *
    * Stage 1 ranks within (query_id, salt) — `salts` reducers per query
    * instead of ONE, each sorting ~1/salts of that query's candidates — and
    * keeps k per salt group. Stage 2 ranks the ≤ `salts × k` survivors per
    * query. Exact, not approximate: the ranking order (cosine desc,
    * neighbor_id asc) is total, so every global top-k row also ranks ≤ k
    * inside its salt group and survives stage 1. The salt is a
    * deterministic hash of the neighbor id, not `spark_partition_id()`, so
    * re-computation under task retry is stable. */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, salts: Int = 32): DataFrame = {
    val s1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val s2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("__salt", pmod(hash(col("neighbor_id")), lit(salts)))
      .withColumn("__rn1", row_number().over(s1))
      .filter(col("__rn1") <= k)
      .withColumn("rank", row_number().over(s2))
      .filter(col("rank") <= k)
      .drop("__salt", "__rn1")
  }

  /** [[topKPerQuery]] through the custom bounded-heap operator
    * ([[graft.plans.TopKPerKey]]): ONE exchange of queries×k rows and no
    * sort at all — the heap phases replace both salted window sorts. The
    * trailing row_number only ranks the ≤k survivors per query and reuses
    * the exchange's partitioning. Same contract and tie-breaking as the
    * window form. */
  private[graft] def topKPerQueryNative(scored: DataFrame, k: Int): DataFrame =
    TopK.perKey(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))

  /** Dispatch: the bounded-heap operator where the session supports
    * planner strategies, the salted-window formulation otherwise (e.g.
    * Spark Connect) — both produce identical rows (spec-proven). */
  private[graft] def topKPerQueryAuto(scored: DataFrame, k: Int): DataFrame =
    if (org.apache.spark.sql.GraftSqlBridge.supportsStrategies(scored.sparkSession))
      topKPerQueryNative(scored, k)
    else topKPerQuery(scored, k)

  /** Exact top-k cosine neighbors for each query vector. `queries` must be
    * broadcast-small (it is hinted); ranking uses (rounded cosine desc,
    * neighbor id asc) so results are stable across engines. Top-k is the
    * bounded-heap [[topKPerQueryNative]] — no per-query sort of any
    * candidate set, anywhere. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cv")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Scalar-quantized (int8) top-k: each vector is quantized ONCE to
    * `round(x·127/max|x|)` ∈ [−127,127] (symmetric per-vector max-abs
    * scaling — the standard SQ8 codebook of FAISS/ScaNN-class systems),
    * and candidates are ranked by the exact INTEGER dot product of the
    * codes. The 100 TB argument is memory bandwidth: int8 codes are 4×
    * smaller than float32, so the corpus scan reads a quarter of the
    * bytes, the quantization pass is one narrow projection, and the
    * scoring loop is integer multiply-adds. Ranking is (int score desc,
    * id asc) — integer comparisons, so results are EXACTLY reproducible
    * across engines (no float rounding anywhere after quantization;
    * `floor(x+0.5)` is used instead of `round` because engines disagree
    * on round-half semantics, and IEEE `*`/`/`/`floor` do not). Top-k is
    * the bounded-heap operator ([[TopK.perKey]]); the trailing
    * row_number ranks only the ≤k survivors per query. */
  def sq8TopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // Native one-pass quantization (graft.functions.QuantizeSq8): the
    // composed transform/array_max form re-evaluates the max INSIDE the
    // per-element lambda — O(d²) interpreted walks per vector (spec-pinned
    // equivalent, SimilaritySpec keeps the composed twin as the cross-check).
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      GraftFunctions.quantizeSq8(col(vecCol)).as("__qq")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      GraftFunctions.quantizeSq8(col(vecCol)).as("__qc"))
    // per-PAIR scoring is the native codegen'd int-dot expression
    // (graft.functions.IntDotProduct) — the interpreted
    // aggregate(zip_with(...)) form allocates an array per pair and costs
    // ~3x the whole query at sf0.1; quantization stays composed-builtins
    // because it runs once per VECTOR, not per pair
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", GraftFunctions.intDot(col("__qq"), col("__qc")))
    rankedTail(scored, "score", ascending = false, k,
      Seq("query_id", "neighbor_id", "score", "rank"))
  }

  /** Bucketed ANN: both sides keyed by sign-LSH bucket; each query scans
    * only its bucket. Recall < 1 by construction; the bucket join shuffles
    * corpus once on a low-cardinality key — salt `bits` up as data grows. */
  def signLshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), bits).as("bucket")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cv")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF-style ANN: a deterministic centroid set (caller-provided, e.g. a
    * sampled subset), every vector assigned to its nearest centroid, then
    * per-query search restricted to the query's cluster.
    *
    * Centroid assignment is a ZERO-SHUFFLE kernel projection: the
    * centroid set (broadcast-small by contract) is collected once
    * driver-side and embedded in the native [[graft.functions
    * .NearestCentroid]] expression — one codegen'd argmax loop per row,
    * no crossJoin, no aggregate, no exchange anywhere. Ranking is
    * (rounded cosine desc, centroid_id asc), bit-identical to the
    * composed crossJoin + `max_by` twin ([[assignClustersComposed]],
    * spec-pinned), whose plan costs a SortAggregate pair over the N×C
    * scored rows. */
  def assignClusters(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        assignClustersRef(vectors,
          graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol), vecCol, t)
      case None => assignClustersComposed(vectors, centroids, idCol, vecCol)
    }

  /** [[assignClusters]] plus the winning round-6 centroid cosine as
    * `centroid_sim` — ONE argmax pass through the native
    * [[graft.functions.NearestCentroidSim]] struct projection. The
    * prototypicality operators ([[Dedup.semDedup]],
    * [[Curation.prototypePrune]]) previously re-derived the winner's
    * cosine with a broadcast join back to the centroid frame, which paid
    * the cosine twice AND let constraint propagation infer the centroid
    * side's filters onto the computed `cluster` column — re-running the
    * whole argmax kernel per corpus row inside a Filter. Contract:
    * NULL-vector rows are DROPPED (they have no cluster; the old inner
    * centroid join dropped them identically). Non-integral centroid ids
    * fall back to the composed assignment + broadcast-join form. */
  def assignClustersWithSim(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    require(!vectors.columns.exists(Set("__ns", "cluster", "centroid_sim")),
      "input must not contain reserved columns __ns/cluster/centroid_sim")
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        val ref = graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol)
        // NULL-vector drop MUST test the raw column, not the struct:
        // `filter(col("__ns").isNotNull)` gets alias-substituted below
        // the Project by predicate pushdown, and Filter/Project are
        // separate codegen consumers with no cross-operator CSE — the
        // argmax kernel would run TWICE per corpus row (caught by plan
        // dump in review; the kernel is null-intolerant, so the raw
        // test is exactly equivalent and pushes into the scan)
        vectors
          .filter(col(vecCol).isNotNull)
          .withColumn("__ns", kernelCol(graft.functions.NearestCentroidSim(attr(vecCol), ref)))
          .withColumn("cluster", col("__ns.cluster").cast(t))
          .withColumn("centroid_sim", col("__ns.centroid_sim"))
          .drop("__ns")
      case None =>
        val cen = broadcast(centroids.select(
          col(idCol).as("__cenid"), col(vecCol).as("__cen")))
        assignClustersComposed(vectors, centroids, idCol, vecCol)
          .join(cen, col("cluster") === col("__cenid"))
          .withColumn("centroid_sim", round(cosineNative(col(vecCol), col("__cen")), 6))
          .drop("__cenid", "__cen")
    }
  }

  /** [[assignClustersRef]] for consumers that make `cluster` an
    * inner-JOIN KEY: NULL vectors are dropped up front (a raw-column
    * test that pushes into the scan) and the kernel output is wrapped
    * `KnownNotNull`, so the key is NON-NULLABLE and
    * InferFiltersFromConstraints has no null guard to add. Without
    * this, the inferred `IsNotNull(cluster)` alias-substitutes below
    * the Project during predicate pushdown and re-runs the argmax
    * kernel per corpus row inside a Filter (plan-audited on the
    * ivf/ivfpq inline searches: the C-centroid cosine loop ran twice
    * per row). Row-identical to [[assignClustersRef]] + the join's own
    * null-key drop. */
  private def assignClustersRefKeyed(
      vectors: DataFrame, ref: graft.functions.CentroidsRef,
      vecCol: String, idType: org.apache.spark.sql.types.DataType): DataFrame =
    vectors.filter(col(vecCol).isNotNull)
      .withColumn("cluster",
        kernelCol(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
          graft.functions.NearestCentroid(attr(vecCol), ref))).cast(idType))

  /** The K-row `(cluster, __cen)` frame REBUILT from the collected ref:
    * carries no lineage and therefore NO CONSTRAINTS, so the subset
    * predicate that defined the centroid frame (e.g. `vec_id % 100 = 0`)
    * cannot ride the cluster join key onto a corpus side and re-run the
    * argmax kernel per corpus row inside an inferred Filter. Even
    * `localCheckpoint` is not enough — `LogicalRDD` preserves the
    * checkpointed plan's origin constraints. */
  private def cenFrameFromRef(
      spark: org.apache.spark.sql.SparkSession, ref: graft.functions.CentroidsRef,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    val rows = ref.ids.indices.map { c =>
      (ref.ids(c),
        java.util.Arrays.copyOfRange(ref.flat, c * ref.dim, (c + 1) * ref.dim).toSeq)
    }
    rows.toDF("cluster", "__cen")
      .select(col("cluster").cast(idType).as("cluster"),
        col("__cen").cast("array<float>").as("__cen"))
  }

  /** The kernel stores centroid ids as longs, so the kernel path serves
    * integral id columns (cluster cast back losslessly to the id's own
    * type); anything else — a string key, a decimal — falls back to the
    * composed twin, which is type-generic. */
  private def integralIdType(
      centroids: DataFrame, idCol: String): Option[org.apache.spark.sql.types.DataType] =
    centroids.schema(idCol).dataType match {
      case t @ (org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) =>
        Some(t)
      case _ => None
    }

  /** Kernel assignment against an already-collected centroid set — lets
    * the IVF operators collect the centroid frame ONCE and share the ref
    * between corpus assignment and query probe lists. */
  private def assignClustersRef(
      vectors: DataFrame, ref: graft.functions.CentroidsRef,
      vecCol: String, idType: org.apache.spark.sql.types.DataType): DataFrame =
    vectors.withColumn("cluster",
      kernelCol(graft.functions.NearestCentroid(attr(vecCol), ref)).cast(idType))

  /** The composed-builtins twin of [[assignClusters]] — broadcast
    * crossJoin + map-side `max_by` argmax (N rows shuffled, never N×C);
    * kept for the spec pin and for sessions where a driver collect of
    * the centroid frame is undesirable. This twin is type-generic in the
    * centroid id (it IS the dispatch target for string/decimal ids), so
    * the id-ascending tie-break negates a dense integer RANK of the id —
    * a window over the broadcast-small centroid set only — never the id
    * itself (negating a string id would ANSI-cast and throw). NULL
    * vectors yield a NULL cluster, matching the null-intolerant kernel
    * expression (KernelEdgeSpec-pinned). */
  private[operators] def assignClustersComposed(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // the rank window runs over the broadcast-small centroid set only;
    // partitionBy(lit(0)) keeps that explicit (and the
    // single-partition-WindowExec WARN out of every log) — the
    // Quality.histogramDrift / Curation.temperatureMix precedent
    val cen = broadcast(centroids
      .select(col(idCol).as("centroid_id"), col(vecCol).as("__cen"))
      .withColumn("__cenrank", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("centroid_id").asc))))
    val passThrough = vectors.columns.toSeq.filter(_ != idCol)
    vectors.crossJoin(cen)
      .withColumn("__sim", round(cosineNative(col(vecCol), col("__cen")), 6))
      .groupBy(col(idCol))
      .agg(max_by(
        struct((passThrough.map(col) :+ col("centroid_id").as("cluster")): _*),
        struct(col("__sim"), (-col("__cenrank")).as("__neg"))).as("__best"))
      .select(col(idCol) +: passThrough.map(c => col(s"__best.$c")) :+ col("__best.cluster"): _*)
      .withColumn("cluster",
        when(col(vecCol).isNull, lit(null)).otherwise(col("cluster")))
  }

  /** Two-stage SQ8 retrieval: coarse int8 scan, exact float rerank — the
    * production shape of quantized ANN (FAISS-style refine): the corpus
    * pass reads 4×-smaller int8 codes and ranks by exact integer dot
    * product ([[sq8TopK]]) keeping `k × refine` candidates per query,
    * then ONLY those candidates' float vectors are fetched and re-ranked
    * by exact rounded cosine. Quantization error can reorder near-ties,
    * so the coarse list over-fetches by `refine`; the rerank restores
    * exact ordering among survivors at a cost proportional to
    * |Q|·k·refine — independent of corpus size. The candidate→vector
    * fetch joins broadcast-side against one more corpus scan (column-
    * pruned to id+vector, no corpus shuffle); at query volumes where
    * |Q|·k·refine outgrows the broadcast threshold, drop the hint and
    * let AQE pick the shuffle join. */
  def sq8RerankTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int = 4): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val coarse = sq8TopK(queries, corpus, idCol, vecCol, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(coarse, queries, corpus, idCol, vecCol, k)
  }

  /** Shared exact-rerank tail of [[sq8RerankTopK]] / [[pqRerankTopK]]:
    * fetch only the coarse candidates' float vectors and re-rank by exact
    * rounded cosine. The candidate side is |Q|·k·refine rows — broadcast
    * hinted; past the broadcast threshold drop the hint and AQE picks the
    * shuffle join. */
  private def rerankExact(
      coarse: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = broadcast(coarse.join(q, Seq("query_id")))
      .join(c, Seq("neighbor_id"))
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cv")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Composed ±1 JL sign — parity of the shared digest over the same
    * `"jl:i:j"` string [[graft.functions.JlSignsRef.generate]] hashes,
    * so kernel, composed twin, and the DuckDB oracle all read one
    * matrix. */
  private def jlSign(i: Column, j: Column): Column =
    when(GraftFunctions.digest60(
      concat(lit("jl:"), i.cast("string"), lit(":"), j.cast("string"))) % 2 === 0,
      lit(1.0)).otherwise(lit(-1.0))

  /** Composed-builtins twin of the [[graft.functions.JlProject]] kernel
    * (spec-pinned bit-identical): output coordinate i folds
    * `vec(j)·sign(i,j)` left-to-right in double over the first `d`
    * elements — the same fold as the kernel loop and the oracle's
    * `list_dot_product`. Kept for the cross-check only; it evaluates one
    * digest per (i, j) PER ROW where the kernel reads a precomputed
    * matrix. */
  private[operators] def jlProjectComposed(vec: Column, m: Int, d: Int): Column =
    // NULL guard: without it the transform builds an array of m NULLs
    // where the null-intolerant kernel yields NULL (KernelEdgeSpec);
    // empty-vector guard: sequence(0, -1) DESCENDS in Spark (it is not
    // empty), which would zip a phantom index pair — the kernel folds
    // zero elements and yields an all-zero projection
    when(vec.isNull, lit(null).cast("array<double>"))
      .when(size(vec) === 0, array_repeat(lit(0.0), m))
      .otherwise(transform(sequence(lit(0), lit(m - 1)), i =>
        aggregate(
          zip_with(slice(vec, 1, d), sequence(lit(0), least(size(vec), lit(d)) - 1),
            (x, j) => x.cast("double") * jlSign(i, j)),
          lit(0.0), (acc, v) => acc + v)))

  /** The kernel projection as a column (spec pin + reuse). */
  private[graft] def jlProjectKernel(vecCol: String, m: Int, d: Int): Column =
    kernelCol(graft.functions.JlProject(attr(vecCol),
      graft.functions.JlSignsRef.generate(m, d)))

  /** Johnson–Lindenstrauss projection ANN: queries and corpus are
    * projected to `m ≪ d` dimensions through the deterministic ±1 sign
    * matrix ([[graft.functions.JlProject]] — a zero-shuffle codegen
    * projection, no trained state, nothing collected), then ranked by
    * exact cosine IN THE PROJECTED SPACE. Achlioptas's construction
    * preserves inner products in expectation with variance ∝ 1/m, so
    * projected-cosine ranking approximates exact ranking while each pair
    * costs m double multiplies instead of d float ones — and unlike
    * SQ8/PQ there is no codebook to train, ship, or refresh: the matrix
    * is a pure function of (m, d) that every executor and every engine
    * regenerates identically. Recall < 1 by construction
    * (`ann_recall_jl` tracks the cost); [[jlRerankTopK]] is the
    * production shape. Ranking is (rounded projected cosine desc,
    * neighbor id asc); output column `jl_cosine` names the space the
    * score lives in. */
  def jlTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 16, d: Int = 64): DataFrame = {
    guardFlatScan(corpus, "jlTopK", "ivfTopKProbed / ivfPqTopK")
    val ref = graft.functions.JlSignsRef.generate(m, d)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      kernelCol(graft.functions.JlProject(attr(vecCol), ref)).as("__qp")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      kernelCol(graft.functions.JlProject(attr(vecCol), ref)).as("__cp"))
    // per-PAIR scoring through the native double-array kernel
    // (graft_cosine_d) — the projected vectors are double by the
    // bit-exactness contract, and the interpreted aggregate(zip_with)
    // form costs ~3× the whole query in lambda plumbing per pair
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(GraftFunctions.cosineD(col("__qp"), col("__cp")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("jl_cosine"), col("rank"))
  }

  /** Two-stage JL retrieval: coarse top-`k·refine` in the m-dimensional
    * projected space, exact float rerank of only those candidates — the
    * [[sq8RerankTopK]] shape with the projection replacing quantization.
    * Same rerank tail, so the output is exact rounded cosine over the
    * original vectors. */
  def jlRerankTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 16, d: Int = 64,
      refine: Int = 4): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val coarse = jlTopK(queries, corpus, idCol, vecCol, k * refine, m, d)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(coarse, queries, corpus, idCol, vecCol, k)
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    * 1998 — the classic result-diversification re-ranker): from a
    * relevance-ranked candidate pool, greedily select k documents, each
    * step picking the candidate maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevant, but not
    * redundant with what is already selected. The standard dedup-at-read
    * complement to the corpus-level near-dup families: a corpus can keep
    * near-duplicates and still serve a diverse result page.
    *
    * Spark-first shape: stage 1 is [[bruteForceTopK]] (swap in any ANN
    * flavor upstream) producing the per-query pool of `poolSize`
    * candidates — the only corpus-sized work. The greedy selection is k
    * UNROLLED declarative steps over the pool (anti-join the selected
    * set, max-sim join against it, argmax window) — every step runs on
    * the queries×poolSize grain, which is search-head-request-sized by
    * the same contract as the RM3 feedback join; the pool is
    * `localCheckpoint`ed once so the k-step plan never re-derives the
    * corpus scan. No driver loop over data — the loop is over PLAN
    * construction, k is a literal.
    *
    * Determinism across engines: rel and pairwise sims are round-6
    * cosines; the MMR objective is compared as the EXACT scaled decimal
    * `λnum·rel − (λden−λnum)·maxsim` (the RM3 exact-decimal precedent —
    * scaling by λden preserves order and keeps every comparison in
    * decimal), ties by neighbor id ascending. Output: one row per
    * selected doc with `mmr_rank` = selection order (1 = most
    * relevant — step 1 is the pure-relevance argmax). */
  def mmrTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, poolSize: Int = 20,
      lambdaNum: Int = 7, lambdaDen: Int = 10): DataFrame = {
    require(k >= 1, s"k=$k must be at least 1")
    require(poolSize >= k, s"poolSize=$poolSize must cover k=$k")
    // the λ contract is validated ONCE in mmrGreedy (see its comment)
    // the pool: per-query top-poolSize by relevance, vectors re-attached
    // for the candidate-candidate sims; queries×poolSize rows — tiny
    val cand = bruteForceTopK(queries, corpus, idCol, vecCol, poolSize)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("rel"), col("rank"), col("__cv"))
    mmrGreedy(cand, k, lambdaNum, lambdaDen)
      .select(col("query_id"), col("neighbor_id"),
        col("rel").as("cosine"), col("mmr_rank"))
  }

  /** The greedy MMR core over a prepared candidate pool — shared by
    * [[mmrTopK]] (cosine relevance) and
    * [[graft.operators.Retrieval.mmrDiversifiedTopK]] (normalized BM25
    * relevance). `cand` must carry `(query_id, neighbor_id, rel, rank,
    * __cv)` with `rel` already round-6 (it enters the exact-decimal
    * objective), `rank` the 1-based relevance order (rank 1 seeds the
    * selection), and `__cv` the float vector the redundancy term
    * compares. Checkpoints the pool and each step's picks (see the
    * in-loop comment). */
  private[operators] def mmrGreedy(
      candIn: DataFrame, k: Int, lambdaNum: Int, lambdaDen: Int): DataFrame = {
    // the λ contract lives HERE so every pool flavor (cosine, BM25, a
    // future ANN pool) inherits it instead of re-stating it
    require(lambdaNum >= 0 && lambdaDen > 0 && lambdaNum <= lambdaDen,
      s"lambda=$lambdaNum/$lambdaDen must be in [0, 1]")
    // r20: the greedy is per-query data by construction, so the whole
    // selection fuses into ONE aggregate + kernel projection
    // ([[graft.functions.MmrSelect]] — bit-equivalence contract there,
    // pinned by MmrKernelSpec and the mmr oracle rows): collect the pool
    // per query, select in one pass, explode the picks. The k-step
    // cascade below (k−1 sequential anti-join/aggregate/window jobs,
    // each localCheckpointed) measured ~2 s of retrieval_mmr_served's
    // 3 s median in driver gaps between ~5 tiny jobs per step; the
    // fused form is one exchange and one job. The cascade is kept as
    // the reference twin for pools whose column types the kernel does
    // not read (the registry paths are all long ids / double rel / int
    // rank / float vectors).
    val s = candIn.schema
    val kernelShaped =
      s("neighbor_id").dataType == org.apache.spark.sql.types.LongType &&
        s("rel").dataType == org.apache.spark.sql.types.DoubleType &&
        s("rank").dataType == org.apache.spark.sql.types.IntegerType &&
        (s("__cv").dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, _) => true
          case _ => false
        })
    if (kernelShaped) {
      return candIn
        .groupBy(col("query_id"))
        .agg(collect_list(struct(col("neighbor_id"), col("rel"),
          col("rank"), col("__cv"))).as("__pool"))
        .select(col("query_id"),
          explode(kernelCol(graft.functions.MmrSelect(
            attr("__pool"), k, lambdaNum, lambdaDen))).as("__s"))
        .select(col("query_id"), col("__s.neighbor_id").as("neighbor_id"),
          col("__s.rel").as("rel"), col("__s.mmr_rank").as("mmr_rank"))
    }
    mmrGreedyCascade(candIn, k, lambdaNum, lambdaDen)
  }

  /** The original k-step greedy cascade — the reference twin the fused
    * kernel above must agree with (MmrKernelSpec drives both on the
    * same pools), and the fallback for pool column types the kernel
    * does not read. */
  private[operators] def mmrGreedyCascade(
      candIn: DataFrame, k: Int, lambdaNum: Int, lambdaDen: Int): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,6)")
    val cand = candIn.localCheckpoint()
    // step 1: pure-relevance argmax — the pool's rank-1 row
    var selected = cand.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("__cv"),
        lit(1).as("mmr_rank"))
    var t = 2
    while (t <= k) {
      val selV = selected.select(col("query_id"),
        col("neighbor_id").as("__sid"), col("__cv").as("__sv"))
      val rem = cand.join(
        broadcast(selected.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      val pick = rem.join(broadcast(selV), Seq("query_id"))
        .withColumn("__s", round(cosineNative(col("__cv"), col("__sv")), 6))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel"))
        // __cv rides THROUGH the aggregate (constant within the group —
        // first() is deterministic here) so the winning row needs no
        // pool re-join to recover its vector: one broadcast join fewer
        // per greedy step
        .agg(max(col("__s")).as("__ms"), first(col("__cv")).as("__cv"))
        .withColumn("__mmr",
          dec(col("rel")) * lambdaNum - dec(col("__ms")) * (lambdaDen - lambdaNum))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("__mmr").desc, col("neighbor_id").asc)))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"), col("__cv"),
          lit(t).as("mmr_rank"))
        // materialize the step's picks (|queries| rows): every later step
        // references `selected` TWICE (anti-join + max-sim side), so a
        // lazy union would double the replayed subplan per step — 2^k
        // copies of the whole cascade by step k. Checkpointed picks keep
        // the cascade k sequential tiny jobs over leaf RDDs instead.
        .localCheckpoint()
      selected = selected.unionByName(pick)
      t += 1
    }
    selected.select(col("query_id"), col("neighbor_id"), col("rel"),
      col("mmr_rank"))
  }

  /** Intra-list similarity — the standard diversity metric of a result
    * list (lower = more diverse): per query, the mean round-6 cosine
    * over the unordered pairs of the selected documents. Result-sized
    * work only: `selected` is queries×k rows, the pair join is k(k−1)/2
    * pairs per query, vectors fetched by one broadcast join against the
    * corpus scan. The mean sums in decimal before one double division
    * (partition-order-proof, the lloydCentroids precedent). Output
    * `(query_id, ils)`; queries with a single selected doc have no
    * pairs and drop out. */
  def intraListSimilarity(
      selected: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val v = corpus.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    val s = selected.select(col("query_id"), col("neighbor_id"))
    val withVec = v.join(broadcast(s), col("__vid") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__v"))
    val pairs = withVec.as("a").join(withVec.as("b"),
      col("a.query_id") === col("b.query_id") &&
        col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        round(cosineNative(col("a.__v"), col("b.__v")), 6).as("__c"))
    pairs.groupBy(col("query_id"))
      .agg(round(sum(col("__c").cast("decimal(38,10)")).cast("double") /
        count(lit(1)), 6).as("ils"))
  }

  /** Multi-probe probe list: each query's `nProbe` nearest centroids,
    * ranked by the SAME (rounded cosine desc, centroid_id asc) order as
    * [[assignClusters]] — so probe rank 1 is exactly the cluster
    * single-probe search uses, and raising `nProbe` strictly widens the
    * candidate set. A zero-shuffle kernel projection like the
    * assignment: the native [[graft.functions.ProbeCentroids]] loop
    * keeps a bounded top-nProbe per row, posexplode emits the probe
    * rows — no crossJoin, no top-k exchange even when the query side is
    * corpus-sized. */
  def probeClusters(
      queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame =
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        probeClustersRef(queries,
          graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol),
          idCol, vecCol, nProbe, t)
      case None => probeClustersComposed(queries, centroids, idCol, vecCol, nProbe)
    }

  private def probeClustersRef(
      queries: DataFrame, ref: graft.functions.CentroidsRef,
      idCol: String, vecCol: String, nProbe: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        posexplode(kernelCol(graft.functions.ProbeCentroids(attr(vecCol), ref, nProbe)))
          .as(Seq("__p", "cluster")))
      .select(col("query_id"), col("__qv"), col("cluster").cast(idType).as("cluster"),
        (col("__p") + 1).as("probe_rank"))

  /** (corpus with `cluster`, query probe list) sharing ONE centroid
    * collect on the kernel path; composed twins serve non-integral ids. */
  private def clusteredAndProbes(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): (DataFrame, DataFrame) =
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        val ref = graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol)
        // keyed variant: `cluster` becomes the inner-join key downstream,
        // so it must be non-nullable or the inferred null guard re-runs
        // the kernel per corpus row (see assignClustersRefKeyed)
        (assignClustersRefKeyed(corpus, ref, vecCol, t),
          probeClustersRef(queries, ref, idCol, vecCol, nProbe, t))
      case None =>
        (assignClustersComposed(corpus, centroids, idCol, vecCol),
          probeClustersComposed(queries, centroids, idCol, vecCol, nProbe))
    }

  /** The composed twin of [[probeClusters]]: broadcast crossJoin scored
    * by the native cosine, reduced through the bounded-heap top-k
    * (|Q|×C rows collapse map-side to |Q|×nProbe). Spec-pinned
    * row-identical to the kernel form. */
  private[operators] def probeClustersComposed(
      queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val cen = broadcast(centroids.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cen")))
    val scored = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      // kernel twin: ProbeCentroids is NULL on a NULL vector and the
      // posexplode emits no rows — drop NULL-vector queries here too
      .filter(col("__qv").isNotNull)
      .crossJoin(cen)
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cen")), 6))
    topKPerQueryAuto(scored, nProbe)
      .select(col("query_id"), col("__qv"),
        col("neighbor_id").as("cluster"), col("rank").as("probe_rank"))
  }

  /** Multi-probe IVF ANN: like [[ivfTopK]], but each query searches its
    * `nProbe` nearest clusters instead of only the nearest one — the
    * standard recall dial of inverted-file indexes (FAISS `nprobe`).
    * Single-probe misses exactly the neighbors that fall just across a
    * Voronoi boundary from the query; probing the runner-up cells
    * recovers them for `nProbe×` scan cost, still a vanishing fraction
    * of the corpus (`nProbe/C`).
    *
    * Scale shape is unchanged from [[ivfTopK]]: the corpus is assigned
    * and shuffled ONCE by cluster (each vector lives in exactly one
    * cluster, so no candidate is ever scored twice and no dedup step is
    * needed); the probe list joins against it on the cluster key, and
    * the bounded-heap top-k ships queries×k rows. `nProbe = 1`
    * reproduces [[ivfTopK]] row-for-row (spec-pinned). */
  def ivfTopKProbed(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val (assigned, probeList) =
      clusteredAndProbes(queries, corpus, centroids, idCol, vecCol, nProbe)
    val clustered = assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cluster"))
    // counted-cap broadcast (probeSideMaybeBroadcast): probe rows carry
    // per-query vectors, so a training-scale query batch must plan as a
    // keyed shuffle instead of a forced >8GB broadcast — the same guard
    // the served twins have had since r13
    val scored = probeSideMaybeBroadcast(
        queries.sparkSession, probeList.drop("probe_rank"))
      .join(clustered, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cv")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("cluster"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Single-probe IVF — [[ivfTopKProbed]] at `nProbe = 1` (probe rank 1
    * IS the assigned cluster; spec-pinned row-identical). */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    ivfTopKProbed(queries, corpus, centroids, idCol, vecCol, k, nProbe = 1)

  /** One row per (vector, subspace): the vector split into `m` contiguous
    * `dsub`-wide slices — PQ's subspace decomposition. posexplode's
    * position IS the subspace index, so no join is needed to recover it. */
  private def subspaces(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, outId: String): DataFrame =
    df.select(col(idCol).as(outId),
      posexplode(array((0 until m).map(j => slice(col(vecCol), j * dsub + 1, dsub)): _*))
        .as(Seq("subspace", "__sub")))

  /** PQ codebook from a deterministic codeword set (caller-provided, e.g.
    * a sampled subset — the same contract as [[ivfTopK]]'s centroids):
    * one row per (subspace, codeword) with a DENSE code in `[0, K)`
    * (rank of `code_id` within the subspace — LUT arrays need dense
    * offsets, and source ids are sparse), the codeword slice, and its
    * precomputed self-dot (the `c·c` term of every L2² evaluation, K×
    * cheaper hoisted here than recomputed per corpus vector). The
    * row_number window is over the codeword set only — broadcast-small
    * by contract (K ≤ a few hundred per subspace in any real PQ index). */
  def pqCodebook(
      codewords: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int): DataFrame = {
    // duplicate codeword ids would make the dense-code ranks (and thus
    // every encoded corpus row) nondeterministic across runs — the same
    // contract CentroidsRef.fromDataFrame enforces with a collect-side
    // require. Checked lazily via lag over the SAME window the ranking
    // sort already pays for, so no extra job runs against the (possibly
    // corpus-derived) codewords frame.
    val w = Window.partitionBy(col("subspace")).orderBy(col("code_id"))
    subspaces(codewords, idCol, vecCol, m, dsub, "code_id")
      .withColumn("__prev_id", lag(col("code_id"), 1).over(w))
      .withColumn("code", (row_number().over(w) - 1).cast("int"))
      .withColumn("code",
        when(col("__prev_id") === col("code_id"),
          raise_error(concat(lit("pqCodebook: duplicate codeword id "),
            col("code_id").cast("string")))
            .cast("int"))
          .otherwise(col("code")))
      .drop("__prev_id")
      .withColumnRenamed("__sub", "__cw")
      .withColumn("__cw2",
        GraftFunctions.floatDot(col("__cw"), col("__cw")))
  }

  /** PQ ENCODE, composed DataFrame form — the spec-pinned twin of the
    * production kernel path ([[graft.functions.PqEncodeCodes]], a
    * zero-shuffle projection used by [[pqTopKWithCodebook]] /
    * [[ivfPqTopK]] / [[pqTrainCodebooks]]): every vector → `m` dense
    * codes (`array<int>`), each the argmin-L2² codeword of its subspace
    * slice. L2² composes from three native dots (`x·x − 2x·c + c·c`;
    * `x·x` hoisted per slice, `c·c` per codeword — only the cross term
    * is per pair), rounded to 6 dp so the DuckDB oracle's argmin sees
    * identical keys; ties break by dense code ascending (== `code_id`
    * ascending, rank preserves order). The N×m×K scored rows reduce
    * map-side through `max_by` partials, so the two shuffles carry N×m
    * then N rows — never N×m×K. The output row is the whole point:
    * m ints instead of d floats is the 100 TB corpus representation
    * (d=64, m=4 ⇒ 16× fewer bytes scanned by every downstream search). */
  def pqEncode(
      corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int): DataFrame = {
    subspaces(corpus, idCol, vecCol, m, dsub, idCol)
      .withColumn("__x2", GraftFunctions.floatDot(col("__sub"), col("__sub")))
      .join(broadcast(codebook), Seq("subspace"))
      .withColumn("__d2",
        round(col("__x2") - lit(2.0) * GraftFunctions.floatDot(col("__sub"), col("__cw")) +
          col("__cw2"), 6))
      .groupBy(col(idCol), col("subspace"))
      .agg(max_by(col("code"),
        struct((-col("__d2")).as("__negd"), (-col("code")).as("__negc"))).as("code"))
      .groupBy(col(idCol))
      .agg(expr(
        "transform(array_sort(collect_list(struct(subspace, code))), s -> cast(s.code as int))")
        .as("codes"))
  }

  /** Per-query ADC lookup table, composed DataFrame form — the
    * spec-pinned twin of the kernel path ([[graft.functions.PqBuildLut]],
    * one projection): `lut(j·K + c) = round(q_j · cw_{j,c}, 6)` flattened
    * subspace-major. Pre-rounding each entry to 6 dp is the determinism
    * keystone: every downstream score is a sum of multiples of 1e-6, so
    * summation ORDER cannot move the final `round(·, 6)` — which lets the
    * oracle replay scores with an unordered SQL `sum`. */
  private[operators] def pqLut(
      queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int): DataFrame = {
    subspaces(queries, idCol, vecCol, m, dsub, "query_id")
      .join(broadcast(codebook), Seq("subspace"))
      .withColumn("__term",
        round(GraftFunctions.floatDot(col("__sub"), col("__cw")), 6))
      .groupBy(col("query_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(subspace, code, __term))), s -> s.__term)")
        .as("__lut"))
  }

  /** Product-quantized ANN (FAISS `PQm`-style flat index): corpus encoded
    * ONCE to m dense codes per vector, queries scored against codes only
    * via the ADC lookup table — `Σ_j lut(j·K + code_j)`, the native
    * [[graft.functions.PqAdcScore]] tight loop (m array reads + adds per
    * pair; the composed HOF form is the spec-pinned interpreted twin).
    * Approximates `q · x` by `q · codeword(x)` per subspace, so ranking
    * is by approximate DOT PRODUCT (descending, id ascending — all
    * 6 dp-rounded doubles, reproducible cross-engine per [[pqLut]]).
    *
    * The 100 TB case for PQ over SQ8: the scan reads m ints per vector
    * instead of d — bandwidth shrinks by d/m (16× at d=64, m=4)
    * INDEPENDENT of value width, and scoring cost drops d multiplies →
    * m lookups. Recall < 1 by construction (quantization error) —
    * measure it with [[recallAtK]]; recover it with [[pqRerankTopK]]
    * (over-fetch, exact rerank) or tighten cells by training codewords
    * with [[pqTrainCodebooks]].
    *
    * `codewords` must be broadcast-small (the [[ivfTopK]] centroid
    * contract): the codebook is collected driver-side and embedded in
    * the kernel encode/LUT expressions. */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame, codewords: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int): DataFrame = {
    require(m > 0 && dsub > 0, s"m=$m and dsub=$dsub must be positive")
    pqTopKWithCodebook(queries, corpus,
      pqCodebook(codewords, idCol, vecCol, m, dsub), idCol, vecCol, k, m, dsub)
  }

  // ---- Flat-scan guard + size-dispatched ANN ---------------------------
  //
  // The flat PQ/JL scans are LINEAR in the corpus by design — correct
  // audit twins at test scale, a scale-killer as the production default
  // (SCALESOAK prices them at ~6.6×/3.2× per 8× growth). The scaladoc
  // steering ("the IVF/served paths are the 100 TB defaults") is made a
  // CONTRACT here: every inline flat entry fails loud when the corpus
  // plan's estimated size exceeds a byte ceiling, and [[annTopKAuto]] is
  // the sanctioned dispatcher that routes an over-ceiling corpus to the
  // cluster-pruned IVF-PQ arm instead. The measure is the optimizer's
  // `sizeInBytes` statistic — exact file bytes for a parquet-backed
  // corpus, zero extra jobs (a count() guard would bill every audit call
  // a corpus scan) — so a 100 TB lake trips the guard at plan time, not
  // after an hour of scanning.

  /** Byte ceiling for inline flat ANN scans — conf
    * `spark.graft.ann.flatScanMaxBytes` (default 256 MiB; negative
    * disables the guard). */
  def flatScanMaxBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.ann.flatScanMaxBytes",
      (256L << 20).toString).toLong

  /** The optimizer's size estimate for a frame — the guard's measure,
    * public so callers (and the 64× soak) can calibrate ceilings. */
  def planSizeBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def guardFlatScan(
      corpus: DataFrame, op: String, twin: String): Unit = {
    val cap = flatScanMaxBytes(corpus.sparkSession)
    if (cap >= 0) {
      val size = planSizeBytes(corpus)
      require(size <= cap,
        s"$op: the corpus plan's estimated $size bytes exceed the flat-" +
          s"scan ceiling $cap (spark.graft.ann.flatScanMaxBytes) — a flat " +
          s"scan is linear in the corpus and must not be the dispatch " +
          s"default at this size. Use $twin (cluster-pruned / persisted-" +
          "index serve), annTopKAuto (size-dispatched), or raise the conf " +
          "for a deliberate audit run.")
    }
  }

  /** Size-dispatched ANN top-k — the production entry point that makes
    * the flat-vs-inverted choice a CONTRACT instead of a caller habit:
    * under the [[flatScanMaxBytes]] ceiling the corpus takes the flat
    * ADC scan ([[pqTopK]] — exact same scoring family, zero recall loss
    * from pruning, fine at audit scale); over it, the cluster-pruned
    * [[ivfPqTopK]] arm scans ~nProbe/C of the code rows instead. Both
    * arms score by the same global-codebook ADC dot (`by_residual =
    * false`), so dispatch changes WHICH candidates are scanned, never
    * how a candidate is scored. Output
    * `(query_id, neighbor_id, score, rank)` from either arm. */
  def annTopKAuto(
      queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, codewords: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int,
      nProbe: Int = 2): DataFrame = {
    val cap = flatScanMaxBytes(corpus.sparkSession)
    if (cap < 0 || planSizeBytes(corpus) <= cap)
      pqTopK(queries, corpus, codewords, idCol, vecCol, k, m, dsub)
    else
      ivfPqTopK(queries, corpus, centroids, codewords,
        idCol, vecCol, k, m, dsub, nProbe)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Column over a library-defined catalyst expression (kernel paths —
    * expressions carrying the driver-collected codebook reference). */
  private def kernelCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  private def attr(name: String) =
    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(name)

  /** [[pqTopK]] against a PREBUILT codebook (sampled via [[pqCodebook]]
    * or Lloyd-trained via [[pqTrainCodebooks]] — any frame in the
    * codebook shape). The codebook is collected ONCE driver-side (it is
    * broadcast-small by contract) and embedded in the native encode/LUT
    * expressions, so both sides of the search are pure zero-shuffle
    * projections: corpus → (id, m codes), queries → (id, flat LUT). The
    * DataFrame [[pqEncode]]/[[pqLut]] forms — which plan a broadcast
    * join feeding a SortAggregate pair, a map-side sort of N×m×K rows —
    * remain as the spec-pinned composed twins. */
  def pqTopKWithCodebook(
      queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int): DataFrame = {
    guardFlatScan(corpus, "pqTopK", "ivfPqTopK / pqSearchEncoded")
    val ref = graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub)
    val codes = corpus.select(col(idCol).as("id"),
      kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))
    pqSearchWithRef(queries, codes, ref, idCol, vecCol, k)
  }

  /** Search a PRE-ENCODED PQ index: `codes` is an (id, codes) frame
    * produced by the kernel encode (or [[pqTopKWithCodebook]]'s inline
    * encoding) and typically PERSISTED — the index-lifecycle split every
    * real deployment wants: encode the corpus once, write the m-int code
    * rows + the tiny codebook to parquet, and serve every subsequent
    * query batch from the compressed index without touching a float
    * vector again (the scan reads d/m fewer bytes — the entire point).
    * Queries still carry vectors; their ADC tables build in one kernel
    * projection per batch. */
  def pqSearchEncoded(
      queries: DataFrame, codes: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int): DataFrame = {
    // [[pqEncode]] names its id column after idCol; the inline kernel
    // encode (and a persisted index written from it) uses the literal
    // "id" — accept both so pqEncode output round-trips without a rename
    val codesId = if (codes.columns.contains(idCol)) idCol else "id"
    pqSearchWithRef(queries, codes,
      graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub),
      idCol, vecCol, k, codesId)
  }

  private def pqSearchWithRef(
      queries: DataFrame, codes: DataFrame, ref: graft.functions.PqCodebookRef,
      idCol: String, vecCol: String, k: Int, codesIdCol: String = "id"): DataFrame = {
    val scored = pqAdcScoredRef(queries, codes, ref, idCol, vecCol, codesIdCol)
    rankedTail(scored, "score", ascending = false, k,
      Seq("query_id", "neighbor_id", "score", "rank"))
  }

  private def pqAdcScoredRef(
      queries: DataFrame, codes: DataFrame, ref: graft.functions.PqCodebookRef,
      idCol: String, vecCol: String, codesIdCol: String,
      hintBroadcastQueries: Boolean = true): DataFrame = {
    val c = codes.select(col(codesIdCol).as("neighbor_id"), col("codes"))
    val lut0 = queries.select(col(idCol).as("query_id"),
      kernelCol(graft.functions.PqBuildLut(attr(vecCol), ref)).as("__lut"))
    val lut = if (hintBroadcastQueries) broadcast(lut0) else lut0
    lut.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(GraftFunctions.pqAdc(col("__lut"), col("codes"), ref.k), 6))
      .select(col("query_id"), col("neighbor_id"), col("score"))
  }

  /** The ADC-scored (query, neighbor, score) frame without the ranking
    * tail — the streaming ingest probe's building block: the query side
    * may be a STREAMING frame (the LUT kernel is a stateless projection;
    * no broadcast hint is planted on it), the codes side is the static
    * manifest snapshot. */
  def pqAdcScored(
      queries: DataFrame, codes: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int,
      hintBroadcastQueries: Boolean = true): DataFrame = {
    val codesId = if (codes.columns.contains(idCol)) idCol else "id"
    pqAdcScoredRef(queries, codes,
      graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub),
      idCol, vecCol, codesId, hintBroadcastQueries)
  }

  /** Incremental PQ index maintenance: encode ONLY the vectors not yet in
    * the persisted index and union them in — the [[graft.operators.Dedup
    * .incrementalNew]] pattern applied to the index lifecycle, so a daily
    * corpus delta costs one anti-join plus encoding the delta, never
    * re-encoding the corpus. `index` is an (id, codes) frame (what
    * [[pqTopKWithCodebook]] persists / [[pqSearchEncoded]] serves);
    * `corpus` may overlap it arbitrarily. The codebook MUST be the one
    * the index was built with (codes are meaningless across codebooks —
    * retrain ⇒ re-encode, the standard PQ contract). Scale shape: the
    * anti-join shuffles on the id key (or broadcasts when the delta is
    * small under AQE), the kernel encode is a zero-shuffle projection,
    * and the union is free. */
  def pqIndexAppend(
      index: DataFrame, corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int): DataFrame = {
    val ref = graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub)
    // accept both the persisted "id" shape and pqEncode's idCol shape,
    // like pqSearchEncoded
    val indexId = if (index.columns.contains(idCol)) idCol else "id"
    // the DIGESTED layout ([[pqIndexDigested]]: id, vdig, codes) must
    // survive an append with its fingerprints intact — silently
    // dropping vdig here would strip refresh capability from the
    // maintained index (the next [[pqIndexRefresh]] would fail on the
    // missing column, or a rebuilt-around index would re-encode the
    // whole corpus as "changed"); fresh rows get their digests computed
    val digested = index.columns.contains("vdig")
    val existing =
      if (digested) index.select(col(indexId).as("id"), col("vdig"), col("codes"))
      else index.select(col(indexId).as("id"), col("codes"))
    val freshBase = corpus
      .join(existing.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    val fresh =
      if (digested)
        freshBase.select(col(idCol).as("id"), vecDigest(col(vecCol)).as("vdig"),
          kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))
      else
        freshBase.select(col(idCol).as("id"),
          kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))
    existing.unionByName(fresh)
  }

  /** Deterministic fingerprint of a float vector — stored next to the
    * codes so a refresh can detect CHANGED vectors without re-reading or
    * re-encoding them. Spark-side only (never graded cross-engine). */
  private def vecDigest(vecCol: Column): Column =
    md5(concat_ws(",", vecCol.cast("array<string>")))

  /** The digested PQ index — (id, vdig, codes): [[pqIndexAppend]]'s shape
    * plus a vector fingerprint, the index layout that supports
    * [[pqIndexRefresh]] under corpus UPDATES (append alone only handles
    * arrivals). One zero-shuffle kernel projection over the corpus. */
  def pqIndexDigested(
      corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int): DataFrame = {
    val ref = graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub)
    corpus.select(col(idCol).as("id"), vecDigest(col(vecCol)).as("vdig"),
      kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))
  }

  /** Refresh a digested PQ index against a NEW full corpus snapshot — the
    * nightly index-maintenance job when the corpus is upserted in place
    * (documents re-crawled, embeddings re-computed) rather than
    * append-only: rows whose (id, fingerprint) still match keep their
    * stored codes untouched (no kernel, no vector read), rows that are
    * new or whose vector changed re-encode, and ids gone from the corpus
    * drop out. Result ≡ [[pqIndexDigested]] of the new snapshot
    * (spec-pinned), at the cost of the changed/added rows only.
    *
    * Scale shape: one left-semi and one left-anti join, both keyed on
    * (id, 16-byte fingerprint) — the vectors themselves never shuffle
    * (the semi side ships ~24 B/row; the anti side carries its vector
    * only into the zero-shuffle encode projection). With index and
    * corpus bucketed by id ([[graft.operators.Bucketing]]) both
    * exchanges disappear entirely. */
  def pqIndexRefresh(
      index: DataFrame, corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int): DataFrame = {
    val ref = graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub)
    val cd = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("vdig", vecDigest(col("__v")))
    val idx = index.select(col("id"), col("vdig"), col("codes"))
    val kept = idx.join(cd.select("id", "vdig"), Seq("id", "vdig"), "left_semi")
    val fresh = cd.join(idx.select("id", "vdig"), Seq("id", "vdig"), "left_anti")
      .select(col("id"), col("vdig"),
        kernelCol(graft.functions.PqEncodeCodes(attr("__v"), ref)).as("codes"))
    kept.unionByName(fresh)
  }

  // ---- PQ index under the atomic manifest protocol --------------------
  //
  // The DataFrame-level lifecycle above ([[pqIndexDigested]] /
  // [[pqIndexAppend]] / [[pqIndexRefresh]]) says WHAT the maintained
  // index is; these variants give it the same atomic persistence the
  // gram/LSH/BM25 families have: two logical tables (`codes` — the
  // digested (id, vdig, codes) rows — and the tiny `codebook`) staged as
  // immutable segments and published in one manifest commit, so a search
  // racing append/refresh resolves codes AND the codebook they were
  // encoded with together — never new codes under an old codebook.

  private val PqCodesTable = "codes"
  private val PqCodebookTable = "codebook"

  /** Build + persist the digested PQ index and its codebook. */
  def buildPqIndexM(
      corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int, root: String): Long = {
    val spark = corpus.sparkSession
    val cSeg = graft.index.IndexManifest.newSegment(PqCodesTable)
    pqIndexDigested(corpus, codebook, idCol, vecCol, m, dsub)
      .write.mode("overwrite").parquet(s"$root/$cSeg")
    val bSeg = graft.index.IndexManifest.newSegment(PqCodebookTable)
    codebook.write.mode("overwrite").parquet(s"$root/$bSeg")
    graft.index.IndexManifest.commit(spark, root,
      Map(PqCodesTable -> Seq(cSeg), PqCodebookTable -> Seq(bSeg)),
      meta = Map("family" -> "pq"))
  }

  /** Append-only maintenance: encode ONLY corpus rows whose id is not
    * yet indexed (with the STORED codebook — codes are meaningless
    * across codebooks) and publish them as a new segment atomically. */
  def appendPqIndexM(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cb = graft.index.IndexManifest.readAt(spark, root, snap, PqCodebookTable)
    val existing = graft.index.IndexManifest
      .readAt(spark, root, snap, PqCodesTable)
      .select(col("id").as(idCol))
    val fresh = corpus.join(existing, Seq(idCol), "left_anti")
    val cSeg = graft.index.IndexManifest.newSegment(PqCodesTable)
    pqIndexDigested(fresh, cb, idCol, vecCol, m, dsub)
      .write.mode("overwrite").parquet(s"$root/$cSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(PqCodesTable, snap.tables(PqCodesTable) :+ cSeg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(cSeg)))
  }

  /** The (codes, codebook) pair AT a resolved snapshot — the time-travel
    * reader the growing-stream probe uses to walk back past its own
    * committed append on replay (the gram/LSH families' `readAt` twin).
    * Codes and the codebook they were encoded with always resolve from
    * the SAME version. */
  def readPqIndexAt(spark: org.apache.spark.sql.SparkSession, root: String,
      snap: graft.index.IndexManifest.Snapshot): (DataFrame, DataFrame) =
    (graft.index.IndexManifest.readAt(spark, root, snap, PqCodesTable),
      graft.index.IndexManifest.readAt(spark, root, snap, PqCodebookTable))

  /** Compact the appended codes table back to one segment — appends
    * accumulate one parquet segment per delta (each id unique by the
    * append's anti-join, so this is a pure re-layout, not a fold): one
    * rewrite of the slim (id, vdig, codes) rows, swapped atomically.
    * Read-amplification dial, not a correctness event. */
  def compactPqIndexM(
      spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cSeg = graft.index.IndexManifest.newSegment(PqCodesTable)
    graft.index.IndexManifest.readAt(spark, root, snap, PqCodesTable)
      .write.mode("overwrite").parquet(s"$root/$cSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(PqCodesTable, Seq(cSeg)),
      expect = Some(snap.version))
  }

  /** [[pqIndexRefresh]] as an atomic pointer swap: unchanged (id,
    * fingerprint) rows keep their stored codes, changed/added rows
    * re-encode with the stored codebook, removed ids drop out — and the
    * codes table moves to the single refreshed segment in one commit. */
  def refreshPqIndexM(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, root: String): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cb = graft.index.IndexManifest.readAt(spark, root, snap, PqCodebookTable)
    val idx = graft.index.IndexManifest.readAt(spark, root, snap, PqCodesTable)
    val cSeg = graft.index.IndexManifest.newSegment(PqCodesTable)
    pqIndexRefresh(idx, corpus, cb, idCol, vecCol, m, dsub)
      .write.mode("overwrite").parquet(s"$root/$cSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(PqCodesTable, Seq(cSeg)),
      expect = Some(snap.version))
  }

  /** ADC search served from a manifest-committed PQ index: one snapshot
    * resolves codes and codebook together, then the standard
    * [[pqSearchEncoded]] broadcast-LUT scan. */
  def pqProbeM(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, dsub: Int, root: String,
      at: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    // `at` pins a committed version — codes AND the codebook they were
    // encoded with resolve together from that version (time travel).
    val snap = at
      .map(v => graft.index.IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(graft.index.IndexManifest.snapshot(spark, root))
    val codes = graft.index.IndexManifest.readAt(spark, root, snap, PqCodesTable)
    pqSearchWithRef(queries, codes, storedPqRef(spark, root, snap, m, dsub),
      idCol, vecCol, k, if (codes.columns.contains(idCol)) idCol else "id")
  }

  // ---- JL projected index under the atomic manifest protocol ----------
  //
  // The TRAINING-FREE compressed index: one stored table `jl_proj` of
  // (id, vdig, proj[m]) — each corpus vector's m-double deterministic
  // projection — with (m, d) pinned in the manifest meta. There is no
  // codebook/centroid table because the sign matrix is a pure function
  // of (m, d): any reader regenerates it from the meta alone, so
  // append, replay, and probe can never drift from the build (the
  // failure mode the PQ family's codes-under-a-foreign-codebook
  // protocol exists to prevent simply cannot occur). At 100 TB the
  // probe scans m doubles instead of d floats per candidate — the JL
  // saving is bytes-per-candidate, not pruning — and the exact rerank
  // fetches only |Q|·k·refine raw vectors from the caller's lake.

  private val JlProjTable = "jl_proj"

  private def jlIndexRows(
      corpus: DataFrame, idCol: String, vecCol: String, m: Int, d: Int): DataFrame =
    corpus.select(col(idCol).as("id"), vecDigest(col(vecCol)).as("vdig"),
      jlProjectKernel(vecCol, m, d).as("proj"))

  private def jlParams(snap: graft.index.IndexManifest.Snapshot): (Int, Int) = {
    // fail with the root's identity, not a bare key-not-found: the
    // likeliest caller error is wiring a JL probe at another family's
    // root (the manifest reader's readAt precedent)
    require(snap.meta.get("family").contains("jl") &&
        snap.meta.contains("jl_m") && snap.meta.contains("jl_d"),
      s"manifest version ${snap.version} is not a JL index " +
        s"(family=${snap.meta.getOrElse("family", "<none>")}, " +
        s"meta keys: ${snap.meta.keys.toSeq.sorted.mkString(",")})")
    (snap.meta("jl_m").toInt, snap.meta("jl_d").toInt)
  }

  /** Build + persist the JL projected index; (m, d) ride the manifest
    * meta so every later lifecycle step regenerates the identical sign
    * matrix (commit meta is inherited by appends/compactions). */
  def buildJlIndexM(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, d: Int, root: String): Long = {
    val spark = corpus.sparkSession
    val seg = graft.index.IndexManifest.newSegment(JlProjTable)
    jlIndexRows(corpus, idCol, vecCol, m, d)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      Map(JlProjTable -> Seq(seg)),
      meta = Map("family" -> "jl", "jl_m" -> m.toString, "jl_d" -> d.toString))
  }

  /** Append-only maintenance: project ONLY corpus rows whose id is not
    * yet indexed — with the (m, d) read from the manifest, so a caller
    * cannot accidentally append a foreign projection — and publish them
    * as a new segment atomically (batchId-stampable for the growing
    * ingest, like every other family). */
  def appendJlIndexM(
      corpus: DataFrame, idCol: String, vecCol: String, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val (m, d) = jlParams(snap)
    val existing = graft.index.IndexManifest
      .readAt(spark, root, snap, JlProjTable)
      .select(col("id").as(idCol))
    val fresh = corpus.join(existing, Seq(idCol), "left_anti")
    val seg = graft.index.IndexManifest.newSegment(JlProjTable)
    jlIndexRows(fresh, idCol, vecCol, m, d)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(JlProjTable, snap.tables(JlProjTable) :+ seg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(seg)))
  }

  /** Two-stage JL search served from a RESOLVED snapshot — the
    * time-travel reader the growing-stream probe shares (the pq/gram
    * families' snapshot-keyed twin): coarse top-k·refine over the
    * stored m-double projections (queries projected with the manifest's
    * own (m, d)), exact float rerank against the caller's `corpus`
    * frame. Row-identical to [[jlRerankTopK]] over the indexed rows —
    * the projection is deterministic, so stored and recomputed
    * projections are bit-equal. */
  def jlProbeSnapM(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, refine: Int, root: String,
      snap: graft.index.IndexManifest.Snapshot): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val spark = queries.sparkSession
    val (m, d) = jlParams(snap)
    val proj = graft.index.IndexManifest.readAt(spark, root, snap, JlProjTable)
      .select(col("id").as("neighbor_id"), col("proj").as("__cp"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      jlProjectKernel(vecCol, m, d).as("__qp")))
    val scored = q.join(proj, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(GraftFunctions.cosineD(col("__qp"), col("__cp")), 6))
    val coarse = topKPerQueryAuto(scored, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(coarse, queries, corpus, idCol, vecCol, k)
  }

  /** Compact the appended projection table back to one segment — appends
    * accumulate one parquet segment per delta (each id unique by the
    * append's anti-join, so this is a pure re-layout, not a fold): one
    * rewrite of the slim (id, vdig, proj) rows, swapped atomically.
    * Read-amplification dial, not a correctness event. */
  def compactJlIndexM(
      spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val seg = graft.index.IndexManifest.newSegment(JlProjTable)
    graft.index.IndexManifest.readAt(spark, root, snap, JlProjTable)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(JlProjTable, Seq(seg)),
      expect = Some(snap.version))
  }

  /** Refresh the projected table against TODAY's corpus — maintenance
    * under corpus UPDATES, not just arrivals: unchanged (id, vdig) rows
    * keep their STORED projection (the `vdig` fingerprint's whole
    * purpose — no re-projection work for the unchanged bulk),
    * changed/added rows re-project with the manifest's own (m, d),
    * removed ids drop out, and the table moves to the single refreshed
    * segment in one atomic pointer swap (the pqIndexRefresh shape). */
  def refreshJlIndexM(
      corpus: DataFrame, idCol: String, vecCol: String, root: String): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val (m, d) = jlParams(snap)
    val idx = graft.index.IndexManifest.readAt(spark, root, snap, JlProjTable)
    val cd = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("vdig", vecDigest(col("__v")))
    val kept = idx.join(cd.select("id", "vdig"), Seq("id", "vdig"), "left_semi")
    val fresh = cd.join(idx.select("id", "vdig"), Seq("id", "vdig"), "left_anti")
      .select(col("id"), col("vdig"), jlProjectKernel("__v", m, d).as("proj"))
    val seg = graft.index.IndexManifest.newSegment(JlProjTable)
    kept.unionByName(fresh)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(JlProjTable, Seq(seg)),
      expect = Some(snap.version))
  }

  /** [[jlProbeSnapM]] at HEAD or a pinned version (release time travel). */
  def jlProbeM(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, refine: Int, root: String, at: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    val snap = at
      .map(v => graft.index.IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(graft.index.IndexManifest.snapshot(spark, root))
    jlProbeSnapM(queries, corpus, idCol, vecCol, k, refine, root, snap)
  }

  // ---- IVF index under the atomic manifest protocol -------------------
  //
  // [[ivfTopKProbed]] is correct but re-ASSIGNS the whole corpus to
  // clusters on every call — a full kernel pass + cluster shuffle per
  // query batch, which at 100 TB is the scan the inverted file exists
  // to avoid. The persisted family stores the assignment once (FAISS
  // IndexIVFFlat's layout: full vectors inverted by cluster) and turns
  // a probe into a `cluster ∈ probes` read: two logical tables —
  // `ivf_centroids` (broadcast-small) and `ivf_assigned`
  // (id, vdig, cluster, vec), written repartitioned + sorted BY CLUSTER
  // so parquet row-group min/max stats prune non-probed cells — staged
  // as immutable segments and published in one manifest commit, so a
  // probe racing append/refresh resolves assignments AND the centroids
  // they were computed against together (stale-assignment-under-new-
  // centroids is the IVF analog of new-codes-under-an-old-codebook).

  private val IvfAssignedTable = "ivf_assigned"
  private val IvfCentroidsTable = "ivf_centroids"

  /** Assignment-only half of [[clusteredAndProbes]]'s dispatch. */
  private def assignOnly(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        val ref = graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol)
        assignClustersRef(corpus, ref, vecCol, t)
      case None => assignClustersComposed(corpus, centroids, idCol, vecCol)
    }

  /** Restrict a cluster-keyed index table to the PROBED clusters:
    * a pushed `cluster IN (...)` while the distinct probed-cluster list
    * fits `spark.graft.ivf.isinClusterCap` (default 256 — row-group
    * pruning on the cluster-sorted segments), the full scan beyond it
    * (the join's own cluster key restricts then). The collect is
    * bounded by the CENTROID count — broadcast-small by the operator
    * contract — never by the query count. ONE definition for both IVF
    * serve paths (flat and PQ) so the cap logic cannot drift. */
  /** ONE job over the probe frame serving BOTH serve-path driver
    * decisions (r21, guide §2.4 — fewer sequential actions): the
    * distinct probed-cluster list (the `cluster IN` pushdown) and the
    * probe row count (the broadcast-or-
    * shuffle dial of [[probeSideMaybeBroadcast]]) come out of a single
    * `groupBy(cluster).count()` collect, replacing the three separate
    * jobs (localCheckpoint fill + distinct collect + count) the r20
    * serve paths paid per probe batch. The collect stays bounded by the
    * CENTROID count (distinct clusters), never the query count. */
  private def probeClusterStats(probes: DataFrame): (Array[Any], Long) = {
    val rows = probes.groupBy(col("cluster")).agg(count(lit(1)).as("__n")).collect()
    (rows.map(_.get(0)), rows.map(_.getLong(1)).sum)
  }

  /** Apply the `cluster IN (...)` pushdown for an already-collected
    * probed-cluster list: a pushed literal IN while the list fits
    * `spark.graft.ivf.isinClusterCap` (default 256 — row-group pruning
    * on the cluster-sorted segments), the full scan beyond it (the
    * join's own cluster key restricts then). */
  private def clusterRestrictWith(
      spark: org.apache.spark.sql.SparkSession,
      table: DataFrame, probed: Array[Any]): DataFrame = {
    val isinCap = spark.conf.get("spark.graft.ivf.isinClusterCap", "256").toInt
    if (probed.length <= isinCap) table.filter(col("cluster").isin(probed.toSeq: _*))
    else table
  }

  /** The shared ranking tail of every ANN entry point: bounded-heap
    * top-k per query (the native operator — keys×k rows through its one
    * exchange, no sort) + a rank over the ≤k survivors + the output
    * projection. One definition (Retrieval.rankTopK's precedent) so a
    * tie-break or window fix lands everywhere at once. */
  private def rankedTail(
      scored: DataFrame, scoreCol: String, ascending: Boolean, k: Int,
      out: Seq[String]): DataFrame = {
    val order =
      if (ascending) Seq(col(scoreCol).asc, col("neighbor_id").asc)
      else Seq(col(scoreCol).desc, col("neighbor_id").asc)
    TopK.perKey(scored, Seq("query_id"), order, k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .select(out.map(col): _*)
  }

  /** Broadcast the (localCheckpoint'ed) probe side only when its counted
    * row count is under `spark.graft.ivf.probeBroadcastCap` (default
    * 500k — probe rows carry per-query vectors/LUTs, so a
    * training-scale batch would OOM a forced broadcast); beyond the cap
    * the caller's join plans as a keyed shuffle. */
  private def probeBroadcastCap(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.ivf.probeBroadcastCap", "500000").toLong

  private def probeSideMaybeBroadcast(
      spark: org.apache.spark.sql.SparkSession, probes: DataFrame): DataFrame =
    if (probes.count() <= probeBroadcastCap(spark)) broadcast(probes) else probes

  /** Stage one cluster-ordered assigned segment: hash-repartitioned and
    * sorted by cluster, so every parquet row group covers a tight
    * cluster range and a probe's `cluster IN (…)` prunes at the scan. */
  private def writeAssignedSeg(assigned: DataFrame, path: String): Unit =
    assigned
      .repartition(col("cluster")).sortWithinPartitions(col("cluster"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  private def ivfAssignedRows(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    assignOnly(corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol).as("id"), vecDigest(col(vecCol)).as("vdig"),
        col("cluster"), col(vecCol).as("vec"))

  /** Build + persist the inverted file: centroids and the cluster-keyed
    * assignment committed together. */
  def buildIvfIndexM(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, root: String): Long = {
    val spark = corpus.sparkSession
    val cenSeg = graft.index.IndexManifest.newSegment(IvfCentroidsTable)
    centroids.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/$cenSeg")
    val aSeg = graft.index.IndexManifest.newSegment(IvfAssignedTable)
    writeAssignedSeg(ivfAssignedRows(corpus, centroids, idCol, vecCol), s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      Map(IvfCentroidsTable -> Seq(cenSeg), IvfAssignedTable -> Seq(aSeg)),
      meta = Map("family" -> "ivf"))
  }

  private def storedIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, root: String,
      snap: graft.index.IndexManifest.Snapshot,
      idCol: String, vecCol: String): DataFrame =
    graft.index.IndexManifest.readAt(spark, root, snap, IvfCentroidsTable)
      .select(col("id").as(idCol), col("vec").as(vecCol))

  /** Kernel refs collected from committed index tables, keyed by (root,
    * the table's segment list[, m, dsub]). Segments are immutable by the
    * manifest protocol, so a commit that rewrites the table lists new
    * segments and misses, and one that leaves it alone (an append of
    * assignments or codes) reuses the ref of the very files it lists.
    * Both refs are broadcast-small by contract (every probe already
    * ships one in its task closures); 32 of each are kept, and nothing
    * is settable. */
  private val centroidRefs =
    new graft.BoundedMemo[(String, Seq[String]), graft.functions.CentroidsRef](32)
  private val codebookRefs =
    new graft.BoundedMemo[(String, Seq[String], Int, Int), graft.functions.PqCodebookRef](32)

  /** The stored centroids' kernel ref and id type, memoized per
    * committed centroid segments; None for a non-integral id, which the
    * composed twins serve from the frame. */
  private def storedCentroidsRef(
      root: String, snap: graft.index.IndexManifest.Snapshot,
      cen: DataFrame, idCol: String, vecCol: String)
      : Option[(graft.functions.CentroidsRef, org.apache.spark.sql.types.DataType)] =
    integralIdType(cen, idCol).map { t =>
      (centroidRefs.getOrCompute((root, snap.tables(IvfCentroidsTable)))(
        graft.functions.CentroidsRef.fromDataFrame(cen, idCol, vecCol)), t)
    }

  /** Append-only maintenance: assign ONLY corpus rows whose id is not
    * yet indexed — with the STORED centroids, so every segment's cell
    * geometry matches — and publish them as a new segment atomically. */
  def appendIvfIndexM(
      corpus: DataFrame, idCol: String, vecCol: String, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    val existing = graft.index.IndexManifest
      .readAt(spark, root, snap, IvfAssignedTable)
      .select(col("id").as(idCol))
    val fresh = corpus.join(existing, Seq(idCol), "left_anti")
    val aSeg = graft.index.IndexManifest.newSegment(IvfAssignedTable)
    writeAssignedSeg(ivfAssignedRows(fresh, cen, idCol, vecCol), s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfAssignedTable,
        snap.tables(IvfAssignedTable) :+ aSeg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(aSeg)))
  }

  /** Refresh against a NEW full corpus snapshot: rows whose
    * (id, fingerprint) still match keep their stored assignment (no
    * kernel, no vector read), changed/added rows re-assign with the
    * stored centroids, removed ids drop — and the table moves to the
    * single refreshed segment in one commit ([[pqIndexRefresh]]'s
    * shape with `cluster` in place of `codes`). */
  def refreshIvfIndexM(
      corpus: DataFrame, idCol: String, vecCol: String, root: String): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    val idx = graft.index.IndexManifest.readAt(spark, root, snap, IvfAssignedTable)
    val cd = corpus.select(col(idCol), col(vecCol))
      .withColumn("vdig", vecDigest(col(vecCol)))
    val kept = idx.join(
      cd.select(col(idCol).as("id"), col("vdig")), Seq("id", "vdig"), "left_semi")
    val fresh = ivfAssignedRows(
      cd.join(idx.select(col("id").as(idCol), col("vdig")),
          Seq(idCol, "vdig"), "left_anti")
        .select(col(idCol), col(vecCol)),
      cen, idCol, vecCol)
    val aSeg = graft.index.IndexManifest.newSegment(IvfAssignedTable)
    writeAssignedSeg(kept.unionByName(fresh), s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfAssignedTable, Seq(aSeg)),
      expect = Some(snap.version))
  }

  /** Compact the appended segments back to one cluster-ordered segment —
    * appends are disjoint by the anti-join, so this is a pure re-layout
    * restoring row-group pruning across what appends scattered into
    * per-delta files. Read-amplification dial, not a correctness event. */
  def compactIvfIndexM(
      spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val aSeg = graft.index.IndexManifest.newSegment(IvfAssignedTable)
    writeAssignedSeg(
      graft.index.IndexManifest.readAt(spark, root, snap, IvfAssignedTable),
      s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfAssignedTable, Seq(aSeg)),
      expect = Some(snap.version))
  }

  /** Multi-probe search served from the manifest-committed inverted
    * file: ONE snapshot resolves centroids and assignment together; the
    * query batch's probe list comes from the stored centroids (kernel
    * projection, no corpus touch), and the assigned table is read ONLY
    * on the probed clusters — `cluster IN (…)` is pushed into the
    * parquet scan when the batch's distinct probe set is small (the
    * `isinTermCap` precedent from BM25; row-group pruning does the rest
    * thanks to the cluster-sorted layout), with a broadcast join beyond
    * the cap. Row-identical to [[ivfTopKProbed]] over the same corpus
    * and centroids (spec-pinned + shared oracle). */
  def ivfProbeM(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, root: String,
      at: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    // `at` pins a historical committed version (release reproducibility
    // — the dedup family's time-travel contract): the probe sees that
    // version's centroids AND assignment, exactly as committed, until
    // vacuum(keepFrom) reclaims it.
    val snap = at
      .map(v => graft.index.IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(graft.index.IndexManifest.snapshot(spark, root))
    ivfProbeSnapM(queries, idCol, vecCol, k, nProbe, root, snap)
  }

  /** [[ivfProbeM]] against an already-RESOLVED snapshot — the entry the
    * growing-stream replay uses: its pre-append view may be a
    * reconstruction (HEAD minus the batch's own appended segments) that
    * exists only as a Snapshot value, not as a committed version number,
    * so a version-keyed `at` cannot express it. */
  def ivfProbeSnapM(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, root: String,
      snap: graft.index.IndexManifest.Snapshot): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val spark = queries.sparkSession
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    // r21: the probe list is a pure kernel projection over the query
    // scan — recomputing it for the join is cheaper than the r20
    // localCheckpoint job, and ONE groupBy(cluster) collect serves both
    // the IN-pushdown list and the broadcast-cap count (was 3 jobs)
    val probes = (storedCentroidsRef(root, snap, cen, idCol, vecCol) match {
      case Some((ref, t)) => probeClustersRef(queries, ref, idCol, vecCol, nProbe, t)
      case None => probeClustersComposed(queries, cen, idCol, vecCol, nProbe)
    }).drop("probe_rank")
    val (probed, nProbeRows) = probeClusterStats(probes)
    val assigned = clusterRestrictWith(spark,
      graft.index.IndexManifest.readAt(spark, root, snap, IvfAssignedTable),
      probed)
    val clustered = assigned
      .select(col("id").as("neighbor_id"), col("vec").as("__cv"), col("cluster"))
    // a serve-path batch is usually small → broadcast; a training-scale
    // batch (millions of query vectors, each row carrying its d-float
    // vector) must NOT be force-broadcast — past the counted cap the
    // join falls back to a keyed shuffle, the right plan at that size
    // (the refreshIndexM staleBroadcastCap precedent)
    val probeSide =
      if (nProbeRows <= probeBroadcastCap(spark)) broadcast(probes) else probes
    val scored = probeSide.join(clustered, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineNative(col("__qv"), col("__cv")), 6))
    topKPerQueryAuto(scored, k)
      .select(col("query_id"), col("cluster"), col("neighbor_id"),
        col("cosine"), col("rank"))
  }

  // ---- IVF-PQ index under the atomic manifest protocol ----------------
  //
  // The production 100 TB ANN layout (FAISS `IVFx,PQm`): the inverted
  // file's cluster pruning AND product quantization's d/m code
  // compression in one persisted index. Where [[buildIvfIndexM]] stores
  // full vectors (IndexIVFFlat), this family stores (id, fingerprint,
  // cluster, m-int codes) — 16× slimmer rows at m=4/dsub=16 — plus the
  // broadcast-small centroids and codebook tables, all committed
  // together: a probe racing maintenance can never pair new codes with
  // an old codebook or assignments with foreign centroids. Probe cost:
  // nProbe/C of the CODE rows read (cluster-sorted row-group pruning),
  // one ADC kernel per candidate, queries×k rows out.

  private val IvfPqCodesTable = "ivfpq_codes"

  private def ivfPqCodeRows(
      corpus: DataFrame, centroids: DataFrame,
      ref: graft.functions.PqCodebookRef,
      idCol: String, vecCol: String): DataFrame =
    assignOnly(corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol).as("id"), vecDigest(col(vecCol)).as("vdig"),
        col("cluster"),
        kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))

  /** Build + persist the coarse-quantized code index: centroids,
    * codebook (the [[pqCodebook]]-derived frame), and the cluster-keyed
    * code rows — one composed kernel projection over the corpus scan
    * (assignment + encode, zero shuffles before the cluster-sort). */
  def buildIvfPqIndexM(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int, root: String): Long = {
    val spark = corpus.sparkSession
    val ref = graft.functions.PqCodebookRef.fromCodebook(codebook, m, dsub)
    val cenSeg = graft.index.IndexManifest.newSegment(IvfCentroidsTable)
    centroids.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/$cenSeg")
    val cbSeg = graft.index.IndexManifest.newSegment(PqCodebookTable)
    codebook.write.mode(SaveMode.Overwrite).parquet(s"$root/$cbSeg")
    val aSeg = graft.index.IndexManifest.newSegment(IvfPqCodesTable)
    writeAssignedSeg(ivfPqCodeRows(corpus, centroids, ref, idCol, vecCol),
      s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root, Map(
      IvfCentroidsTable -> Seq(cenSeg), PqCodebookTable -> Seq(cbSeg),
      IvfPqCodesTable -> Seq(aSeg)), meta = Map("family" -> "ivfpq"))
  }

  /** The stored codebook's kernel ref, memoized per committed codebook
    * segments and (m, dsub) — see [[centroidRefs]]. */
  private def storedPqRef(
      spark: org.apache.spark.sql.SparkSession, root: String,
      snap: graft.index.IndexManifest.Snapshot,
      m: Int, dsub: Int): graft.functions.PqCodebookRef = {
    val cb = graft.index.IndexManifest.readAt(spark, root, snap, PqCodebookTable)
    codebookRefs.getOrCompute((root, snap.tables(PqCodebookTable), m, dsub))(
      graft.functions.PqCodebookRef.fromCodebook(cb, m, dsub))
  }

  /** Append-only maintenance: assign + encode ONLY unindexed ids, with
    * the STORED centroids and codebook. */
  def appendIvfPqIndexM(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    val ref = storedPqRef(spark, root, snap, m, dsub)
    val existing = graft.index.IndexManifest
      .readAt(spark, root, snap, IvfPqCodesTable)
      .select(col("id").as(idCol))
    val fresh = corpus.join(existing, Seq(idCol), "left_anti")
    val aSeg = graft.index.IndexManifest.newSegment(IvfPqCodesTable)
    writeAssignedSeg(ivfPqCodeRows(fresh, cen, ref, idCol, vecCol), s"$root/$aSeg")
    // extraMeta + segment stamping keep the growing-stream contract
    // uniform across EVERY family's append (stampAppendSegs scaladoc):
    // without them the IVF-PQ family could never ride the exactly-once
    // ingest — no watermark to co-commit, no segment list to
    // reconstruct a vacuumed pre-append view from
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfPqCodesTable,
        snap.tables(IvfPqCodesTable) :+ aSeg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(aSeg)))
  }

  /** Refresh against a NEW full corpus snapshot: unchanged
    * (id, fingerprint) rows keep their stored cell and codes untouched,
    * changed/added rows re-assign + re-encode, removed ids drop — one
    * swap commit. */
  def refreshIvfPqIndexM(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, root: String): Long = {
    val spark = corpus.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    val ref = storedPqRef(spark, root, snap, m, dsub)
    val idx = graft.index.IndexManifest.readAt(spark, root, snap, IvfPqCodesTable)
    val cd = corpus.select(col(idCol), col(vecCol))
      .withColumn("vdig", vecDigest(col(vecCol)))
    val kept = idx.join(
      cd.select(col(idCol).as("id"), col("vdig")), Seq("id", "vdig"), "left_semi")
    val fresh = ivfPqCodeRows(
      cd.join(idx.select(col("id").as(idCol), col("vdig")),
          Seq(idCol, "vdig"), "left_anti")
        .select(col(idCol), col(vecCol)),
      cen, ref, idCol, vecCol)
    val aSeg = graft.index.IndexManifest.newSegment(IvfPqCodesTable)
    writeAssignedSeg(kept.unionByName(fresh), s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfPqCodesTable, Seq(aSeg)),
      expect = Some(snap.version))
  }

  /** Compact the appended code segments to one cluster-ordered segment. */
  def compactIvfPqIndexM(
      spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val aSeg = graft.index.IndexManifest.newSegment(IvfPqCodesTable)
    writeAssignedSeg(
      graft.index.IndexManifest.readAt(spark, root, snap, IvfPqCodesTable),
      s"$root/$aSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(IvfPqCodesTable, Seq(aSeg)),
      expect = Some(snap.version))
  }

  /** Multi-probe ADC search served from the committed IVF-PQ index: one
    * snapshot resolves centroids, codebook, and codes together; probe
    * list and per-query LUT are stateless kernel projections; only the
    * probed clusters' CODE rows are read (`cluster IN` pushed under
    * `spark.graft.ivf.isinClusterCap`, broadcast join beyond it).
    * Row-identical to [[ivfPqTopK]] over the same corpus, centroids,
    * and codewords (shared oracle). */
  def ivfPqProbeM(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, dsub: Int, nProbe: Int, root: String,
      at: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    // `at` pins a committed version: centroids, codebook, AND codes
    // resolve from that version together — the [[ivfProbeM]] time-travel
    // contract extended to the quantized layout.
    val snap = at
      .map(v => graft.index.IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(graft.index.IndexManifest.snapshot(spark, root))
    ivfPqProbeSnapM(queries, idCol, vecCol, k, m, dsub, nProbe, root, snap)
  }

  /** [[ivfPqProbeM]] against an already-RESOLVED snapshot — the entry
    * the growing-stream replay uses (the [[ivfProbeSnapM]] rationale:
    * a vacuumed-walk-back reconstruction exists only as a Snapshot
    * value, never as a committed version number). */
  def ivfPqProbeSnapM(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, dsub: Int, nProbe: Int, root: String,
      snap: graft.index.IndexManifest.Snapshot): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val spark = queries.sparkSession
    val cen = storedIvfCentroids(spark, root, snap, idCol, vecCol)
    val ref = storedPqRef(spark, root, snap, m, dsub)
    // r21 (guide §2.4): on the kernel path the per-query ADC LUT rides
    // the SAME projection as the probe list — one pass over the query
    // scan, no probe⋈lut self-join and none of the two r20
    // localCheckpoint jobs; the composed-id fallback keeps the join.
    val probesWithLut = storedCentroidsRef(root, snap, cen, idCol, vecCol) match {
      case Some((cref, t)) =>
        queries.select(col(idCol).as("query_id"),
            kernelCol(graft.functions.PqBuildLut(attr(vecCol), ref)).as("__lut"),
            posexplode(kernelCol(
              graft.functions.ProbeCentroids(attr(vecCol), cref, nProbe)))
              .as(Seq("__p", "cluster")))
          .select(col("query_id"), col("__lut"),
            col("cluster").cast(t).as("cluster"))
      case None =>
        val probes = probeClustersComposed(queries, cen, idCol, vecCol, nProbe)
          .drop("probe_rank", "__qv")
        val lut = queries.select(col(idCol).as("query_id"),
          kernelCol(graft.functions.PqBuildLut(attr(vecCol), ref)).as("__lut"))
        probes.join(lut, Seq("query_id"))
    }
    // ONE collect serves the IN pushdown and the broadcast-cap count
    val (probed, nProbeRows) = probeClusterStats(probesWithLut)
    val codes = clusterRestrictWith(spark,
      graft.index.IndexManifest.readAt(spark, root, snap, IvfPqCodesTable),
      probed)
    // probe rows carry each query's ADC LUT (m×K floats): broadcast only
    // under the counted cap, keyed shuffle beyond it
    val probeSide =
      if (nProbeRows <= probeBroadcastCap(spark)) broadcast(probesWithLut)
      else probesWithLut
    val scored = probeSide
      .join(codes.select(col("id").as("neighbor_id"), col("cluster"), col("codes")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(GraftFunctions.pqAdc(col("__lut"), col("codes"), ref.k), 6))
    rankedTail(scored, "score", ascending = false, k,
      Seq("query_id", "cluster", "neighbor_id", "score", "rank"))
  }

  /** Two-stage retrieval over the SERVED coarse-quantized index — the
    * full production serving path (FAISS `IndexRefineFlat` over
    * `IVFx,PQm`): the coarse pass is [[ivfPqProbeM]] over-fetching
    * `k × refine` candidates per query from the probed clusters' code
    * rows alone, then ONLY those candidates' float vectors are fetched
    * from the primary store (`corpus`) and re-ranked by exact rounded
    * cosine — |Q|·k·refine vector reads, independent of corpus size.
    * The persisted index never stores vectors; the refine join is how
    * the exact order comes back without giving back the d/m
    * scan-bandwidth win. */
  def ivfPqRerankM(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int,
      nProbe: Int, root: String, refine: Int = 2): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val coarse = ivfPqProbeM(queries, idCol, vecCol, k * refine, m, dsub,
        nProbe, root)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(coarse, queries, corpus, idCol, vecCol, k)
  }

  /** Two-stage PQ retrieval: ADC coarse scan, exact float rerank — the
    * [[sq8RerankTopK]] refine pattern over the PQ index (FAISS
    * `IndexRefineFlat` over PQ): the coarse pass reads only the m-int
    * code rows and over-fetches `k × refine` candidates per query; only
    * those candidates' float vectors are fetched and re-ranked by exact
    * rounded cosine, restoring exact ordering among survivors at
    * |Q|·k·refine cost — independent of corpus size. This is how a
    * production PQ index recovers the recall lost to quantization
    * without giving back the d/m scan-bandwidth win. */
  def pqRerankTopK(
      queries: DataFrame, corpus: DataFrame, codewords: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int,
      refine: Int = 4): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val coarse = pqTopK(queries, corpus, codewords, idCol, vecCol, k * refine, m, dsub)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(coarse, queries, corpus, idCol, vecCol, k)
  }

  /** PQ codebook TRAINING: `iters` per-subspace Lloyd refinement steps
    * from a deterministic init — all m subspaces train in the SAME two
    * passes per round (subspace is just another grouping key), so cost
    * does not grow with m. Each round: argmin-L2 assignment of every
    * corpus subvector (broadcast codebook + map-side `max_by`, the
    * [[pqEncode]] shape), then per-(subspace, code, position) decimal
    * means reassembled in position order (exact order-independent sums,
    * 6 dp-rounded, re-entering as float — the [[lloydCentroids]]
    * determinism contract, so an oracle can replay every round
    * bit-for-bit). A code that attracts NO members keeps its previous
    * codeword instead of dropping (keep-alive Lloyd): K stays uniform
    * across subspaces, which the flat `j·K + c` ADC LUT layout requires,
    * and dense codes + `code_id` identities stay stable across rounds.
    * Each round is `localCheckpoint`ed — downstream reads the tiny
    * materialized codebook, not `iters` stacked full-corpus scans. */
  def pqTrainCodebooks(
      corpus: DataFrame, init: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int, iters: Int): DataFrame = {
    (1 to iters).foldLeft(pqCodebook(init, idCol, vecCol, m, dsub)) { (cb, _) =>
      // assignment is the kernel encode (zero-shuffle projection against
      // the round's collected codebook — spec-pinned ≡ the DataFrame
      // argmin twin); each subvector then picks its subspace's code
      val ref = graft.functions.PqCodebookRef.fromCodebook(cb, m, dsub)
      val members = corpus.select(
          kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("__codes"),
          posexplode(array((0 until m).map(j => slice(col(vecCol), j * dsub + 1, dsub)): _*))
            .as(Seq("subspace", "__sub")))
        .select(col("subspace"),
          element_at(col("__codes"), col("subspace") + 1).as("code"), col("__sub"))
      // r20: per-coordinate means as dsub PARALLEL decimal-sum aggregates
      // over the subvector rows — one groupBy(subspace, code), not the old
      // posexplode → groupBy(subspace, code, pos) → collect_list reassembly
      // (which blew the exchange up ×dsub and paid a second keyed shuffle
      // for the position re-sort). Same numbers by construction: each
      // element_at(__sub, i+1).cast(decimal(38,10)) sum is the identical
      // exact order-independent sum the exploded rows fed, the double
      // division / 6-dp round / float re-entry are unchanged, and the
      // array is assembled in literal position order (what array_sort on
      // (pos, m) structs produced). Exchange rows: N·m → the m·K groups'
      // map-side partials; shuffle bytes drop ~dsub×.
      val sums = (0 until dsub).map(i =>
        sum(element_at(col("__sub"), i + 1).cast("decimal(38,10)")).as(s"__s$i"))
      val means = members
        .groupBy(col("subspace"), col("code"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("subspace"), col("code"),
          array((0 until dsub).map(i =>
            round(col(s"__s$i").cast("double") / col("__n"), 6)
              .cast("float")): _*).as("__new"))
      cb.join(means, Seq("subspace", "code"), "left")
        .select(col("subspace"), col("code_id"), col("code"),
          coalesce(col("__new"), col("__cw")).as("__cw"))
        .withColumn("__cw2", GraftFunctions.floatDot(col("__cw"), col("__cw")))
        .localCheckpoint()
    }
  }

  /** IVF-PQ: the canonical web-scale ANN index (FAISS `IVFx,PQm`) —
    * cluster pruning and code compression COMPOSED. The corpus is
    * assigned once to its nearest centroid ([[assignClusters]]) and
    * encoded once to m dense PQ codes ([[pqEncode]], cluster carried
    * through); each query probes its `nProbe` nearest clusters
    * ([[probeClusters]]) and scores ONLY those clusters' candidates,
    * reading only their code rows, via the native ADC loop. The two
    * dials multiply: cluster pruning cuts candidates to ~nProbe/C of
    * the corpus, PQ cuts bytes-per-candidate by d/m — at d=64, m=4,
    * C=1000, nProbe=10 the scan touches ~1% of the rows at 1/16 the
    * width, four orders of magnitude less than brute force.
    *
    * Codes are computed against the global codebook (not per-cluster
    * residuals — FAISS's `by_residual=false` flavor): encoding stays a
    * single broadcast join, and the SAME code row serves every probe
    * order, at a known recall cost vs residual PQ (documented trade;
    * residuals would need a per-cluster codeword subtract before
    * encoding). Scale shape: one corpus shuffle for the cluster
    * assignment's `max_by`, two N×m/N-row shuffles for encoding, then
    * the probe-pruned broadcast join and the queries×k bounded-heap
    * exchange — nothing anywhere is all-pairs. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, codewords: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int,
      nProbe: Int = 1): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val ref = graft.functions.PqCodebookRef.fromCodebook(
      pqCodebook(codewords, idCol, vecCol, m, dsub), m, dsub)
    val (assigned, probeList) =
      clusteredAndProbes(queries, corpus, centroids, idCol, vecCol, nProbe)
    // cluster assignment and PQ encoding compose into ONE projection
    // over the corpus scan (both kernels, zero shuffles)
    val codes = assigned
      .select(col(idCol).as("neighbor_id"), col("cluster"),
        kernelCol(graft.functions.PqEncodeCodes(attr(vecCol), ref)).as("codes"))
    val probes = probeList.drop("probe_rank", "__qv")
    val lut = queries.select(col(idCol).as("query_id"),
      kernelCol(graft.functions.PqBuildLut(attr(vecCol), ref)).as("__lut"))
    // counted-cap broadcast: probe rows carry the m*K-double LUTs
    val scored = probeSideMaybeBroadcast(
        queries.sparkSession, probes.join(lut, Seq("query_id")))
      .join(codes, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(GraftFunctions.pqAdc(col("__lut"), col("codes"), ref.k), 6))
    rankedTail(scored, "score", ascending = false, k,
      Seq("query_id", "cluster", "neighbor_id", "score", "rank"))
  }

  /** Each vector's residual from its assigned (nearest) centroid —
    * `r = x − c(x)`, the representation residual PQ quantizes. One
    * kernel cluster assignment plus one broadcast hash join against the
    * centroid set; the element-wise subtract runs once per VECTOR (not
    * per pair), widened to double and rounded once to float so the
    * DuckDB oracle replays it exactly (`(a::double − b::double)::real`).
    * Output: the input columns plus `cluster` and `__res`
    * (`array<float>`). NULL-vector rows drop (their cluster is NULL —
    * the kernel contract). */
  def clusterResiduals(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // kernel path: keyed assignment (non-nullable cluster — no inferred
    // null guard re-running the kernel in a Filter) joined against the
    // constraint-free ref-rebuilt centroid frame (the subset predicate
    // that DEFINED `centroids` must not ride the cluster key onto the
    // corpus side — plan-audited: the inferred `cluster % 100 = 0` twin
    // re-ran the argmax kernel per corpus row, three evals stacked with
    // the null guard)
    integralIdType(centroids, idCol) match {
      case Some(t) =>
        clusterResidualsRef(vectors,
          graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol),
          vecCol, t)
      case None => clusterResidualsComposed(vectors, centroids, idCol, vecCol)
    }
  }

  /** Kernel half of [[clusterResiduals]] against an already-collected
    * ref — the thread-the-ref entry [[ivfPqResidualTopK]] uses so ONE
    * centroid collect serves both residual passes, the cen frame, and
    * the probe list. */
  private def clusterResidualsRef(
      vectors: DataFrame, cref: graft.functions.CentroidsRef,
      vecCol: String, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val cen = broadcast(cenFrameFromRef(vectors.sparkSession, cref, idType))
    assignClustersRefKeyed(vectors, cref, vecCol, idType)
      .join(cen, Seq("cluster"))
      .withColumn("__res", zip_with(col(vecCol), col("__cen"),
        (a, b) => (a.cast("double") - b.cast("double")).cast("float")))
      .drop("__cen")
  }

  /** Composed half of [[clusterResiduals]] (non-integral centroid ids). */
  private def clusterResidualsComposed(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cen = broadcast(centroids.select(col(idCol).as("cluster"), col(vecCol).as("__cen")))
    assignClustersComposed(vectors, centroids, idCol, vecCol)
      .join(cen, Seq("cluster"))
      .withColumn("__res", zip_with(col(vecCol), col("__cen"),
        (a, b) => (a.cast("double") - b.cast("double")).cast("float")))
      .drop("__cen")
  }

  /** Residual IVF-PQ (FAISS's `by_residual=true`, the default flavor of
    * `IVFx,PQm`): vectors are PQ-encoded as residuals from their
    * assigned centroid — `x ≈ c(x) + cw(x − c(x))` — instead of raw
    * position. WHERE CLUSTERING IS REAL, residuals concentrate near the
    * origin (the centroid absorbs the coarse position), so the same m/K
    * codebook budget quantizes a much smaller cell volume and recall at
    * equal parameters beats the global-codebook [[ivfPqTopK]]
    * (spec-demonstrated on clustered blobs). The honest caveat, measured
    * on this repo's test data: on UNIFORM-RANDOM unit vectors the
    * nearest centroid is still near-orthogonal to x, so ‖x − c‖ ≈ √2‖x‖
    * — the residual is LARGER than the vector and `by_residual=false`
    * wins at every m (0.14 vs 0.06 at m=4, 0.30 vs 0.23 at m=16,
    * sf0.01). Pick the flavor by measuring YOUR corpus with
    * [[recallAtK]] (`ann_recall_ivfpq` vs `ann_recall_ivfpq_residual`).
    *
    * What it costs vs `by_residual=false`: each probed cluster needs its
    * OWN query lookup table (the LUT is built from `q − c`, which
    * changes per probe), so LUT work is nProbe× — per QUERY, not per
    * candidate, hence invisible at corpus scale — and scoring is L2
    * ADC: `‖(q−c) − cw(r)‖² = q̃·q̃ − 2·q̃·cw + cw·cw` with the first
    * term a per-(query, probe) constant, the middle the standard ADC
    * sum over the residual LUT, and the last a query-INDEPENDENT second
    * ADC over the codeword self-dot table (embedded as a 6 dp literal
    * array from the already-collected codebook ref — no join). Ranking
    * ascends distance; on the unit-norm embeddings the driver generates,
    * L2 order is exactly cosine order, so recall is directly comparable
    * across the whole ANN ladder.
    *
    * Scale shape: corpus is assigned + residualized + encoded in ONE
    * pass (kernel assignment, broadcast-small centroid join, kernel
    * encode — no corpus shuffle beyond the cluster key); `codewords`
    * are residualized the same way before training the codebook (PQ
    * trains on residuals — the whole point); the probe-pruned broadcast
    * join and the queries×k bounded-heap exchange close it out, same
    * as [[ivfPqTopK]]. */
  def ivfPqResidualTopK(
      queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, codewords: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int,
      nProbe: Int = 1): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    // ONE centroid collect on the kernel path, threaded through both
    // residual passes, the constraint-free cen frame (the centroid
    // subset predicate must not ride probes' cluster key through the
    // probes⋈codes join and re-run the argmax kernel per corpus row),
    // and the probe list — the clusteredAndProbes discipline
    val (cwRes0, codes0, cen, probes0) = integralIdType(centroids, idCol) match {
      case Some(t) =>
        val cref = graft.functions.CentroidsRef.fromDataFrame(centroids, idCol, vecCol)
        (clusterResidualsRef(codewords, cref, vecCol, t),
          clusterResidualsRef(corpus, cref, vecCol, t),
          broadcast(cenFrameFromRef(queries.sparkSession, cref, t)),
          probeClustersRef(queries, cref, idCol, vecCol, nProbe, t))
      case None =>
        (clusterResidualsComposed(codewords, centroids, idCol, vecCol),
          clusterResidualsComposed(corpus, centroids, idCol, vecCol),
          broadcast(centroids.select(col(idCol).as("cluster"), col(vecCol).as("__cen"))),
          probeClustersComposed(queries, centroids, idCol, vecCol, nProbe))
    }
    val cwRes = cwRes0.select(col(idCol), col("__res").as(vecCol))
    val ref = graft.functions.PqCodebookRef.fromCodebook(
      pqCodebook(cwRes, idCol, vecCol, m, dsub), m, dsub)
    // codeword self-dot ADC table: subspace-major like the LUT, 6 dp so
    // the unordered oracle sum reproduces the score (PqAdcScore contract)
    val cw2Lut = typedlit(ref.cw2.map(graft.functions.PqKernel.round6).toSeq)
    val codes = codes0
      .select(col(idCol).as("neighbor_id"), col("cluster"),
        kernelCol(graft.functions.PqEncodeCodes(attr("__res"), ref)).as("codes"))
    val probes = probes0
      .join(cen, Seq("cluster"))
      .withColumn("__qres", zip_with(col("__qv"), col("__cen"),
        (a, b) => (a.cast("double") - b.cast("double")).cast("float")))
      .withColumn("__lut", kernelCol(graft.functions.PqBuildLut(attr("__qres"), ref)))
      .withColumn("__q2",
        round(GraftFunctions.floatDot(col("__qres"), col("__qres")), 6))
      .select(col("query_id"), col("cluster"), col("__lut"), col("__q2"))
    def adc(lut: Column): Column =
      GraftFunctions.pqAdc(lut, col("codes"), ref.k)
    // counted-cap broadcast: probe rows carry per-(query, cluster) LUTs
    val scored = probeSideMaybeBroadcast(queries.sparkSession, probes)
      .join(codes, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist",
        round(col("__q2") - lit(2.0) * adc(col("__lut")) + adc(cw2Lut), 6))
    rankedTail(scored, "dist", ascending = true, k,
      Seq("query_id", "cluster", "neighbor_id", "dist", "rank"))
  }

  /** Per-query recall of an ANN result against the exact baseline:
    * `|approx ∩ exact| / |exact|` over (query_id, neighbor_id) pairs —
    * THE operational metric for every quantized/bucketed index here
    * (dial nProbe/signBits/refine until recall@k clears target, then
    * stop paying for more). Both inputs are (query_id, neighbor_id[,
    * ...]) frames from any top-k operator in this file. Scale shape:
    * both sides are queries×k rows — a join and two aggregates on
    * result-sized data, never corpus-sized. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("__total"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__hits"), lit(0L)) / col("__total"), 6).as("recall"))
  }

  /** IVF centroid TRAINING: `iters` Lloyd (k-means) refinement steps from
    * a deterministic init. Each step is two linear passes — the broadcast
    * + `max_by` assignment (N rows shuffled, never N×C), then the
    * element-wise mean via posexplode → (cluster, position) partial
    * averages re-assembled in position order. Empty clusters drop out
    * (standard Lloyd).
    *
    * Determinism across runs AND engines: the per-coordinate sum runs in
    * decimal — exact, therefore independent of partition/merge order —
    * where a double `avg` folds in task order and a mean landing on a
    * rounding boundary could flip between runs. One double division and
    * a 6 dp round follow, then the mean re-enters as float so the DuckDB
    * twin reproduces every iteration bit-for-bit. Each round is
    * `localCheckpoint`ed: round N+1 (and both downstream assignClusters
    * uses) read the tiny materialized centroid set instead of re-deriving
    * every earlier round's full-corpus scan — the same per-round
    * materialization the connected-components loop uses. */
  def lloydCentroids(
      vectors: DataFrame, init: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame =
    (1 to iters).foldLeft(init.select(col(idCol), col(vecCol))) { (cen, _) =>
      assignClusters(vectors, cen, idCol, vecCol)
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy(col("cluster"), col("__pos"))
        .agg(round(
          (sum(col("__v").cast("decimal(38,10)")).cast("double") /
            count(lit(1))), 6).as("__m"))
        .groupBy(col("cluster"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(__pos, __m))), s -> cast(s.__m as float))")
          .as(vecCol))
        .select(col("cluster").as(idCol), col(vecCol))
        .localCheckpoint()
    }
}
