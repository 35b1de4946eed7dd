package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexManifest

/** Sparse lexical retrieval — BM25 ranked search over the corpus, inline
  * and over a persisted inverted (postings) index.
  *
  * Why it belongs in a training-data engine: ranked lexical retrieval is
  * the workhorse behind (a) corpus exploration/debugging at curation time,
  * (b) contamination forensics ("which training docs score high against
  * this eval question?"), and (c) hard-negative mining for embedding-model
  * training data (high-BM25 non-positives are the classic negatives).
  * The reference engine has no search surface; this is Spark-first new
  * capability in the same family as the LSH/PQ/gram index lifecycles.
  *
  * Scale shape (the 100 TB contract):
  *   - The postings build is ONE keyed aggregate over exploded tokens —
  *     wordcount shape, map-side combine, no joins, no windows.
  *   - A probe never scans the corpus: query terms are a tiny broadcast,
  *     the postings scan is restricted to them — a pushed `term IN (...)`
  *     filter while the term set is small enough for a sane plan
  *     (row-group pruning on the term-clustered files), a broadcast
  *     left-semi join beyond that cap ([[termFilter]]) — per-term df
  *     stats reduce to a broadcast-sized frame, and only candidate
  *     postings (docs sharing ≥1 query term) reach the scoring
  *     aggregate. The final ranking is the bounded-heap [[TopK.perKey]]
  *     node — queries×k rows through the last exchange, no tail sort.
  *   - Scoring is cross-engine bit-stable: each per-term contribution is
  *     rounded to the 1e-6 grid, summed in DECIMAL(38,10) (order-free,
  *     exact), one final double round — the repo's established pattern
  *     for float aggregates under the DuckDB hash gate.
  *
  * BM25 constants k1=1.2, b=0.75; idf is the Lucene-style non-negative
  * `ln(1 + (n - df + 0.5)/(df + 0.5))`.
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75

  /** Above this many distinct query terms, postings/stats scans switch
    * from an inlined `term IN (...)` literal list (best row-group
    * pruning) to a broadcast left-semi join (bounded plan size at any
    * batch size). Overridable per session via
    * `spark.graft.bm25.isinTermCap`. */
  val DefaultIsinTermCap = 256

  private def isinTermCap(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bm25.isinTermCap",
      DefaultIsinTermCap.toString).toInt

  /** Restrict a (term, ...) frame to the query batch's distinct terms.
    * Small batches inline the literal IN list (pushed to the parquet
    * scan, prunes row groups on the term-clustered files); large batches
    * — hard-negative anchor sets, offline eval sweeps — semi-join
    * against the broadcast term frame instead, so plan size and driver
    * memory stay bounded no matter how many anchors the caller mines. */
  private def termFilter(
      frame: DataFrame, qterms: DataFrame, terms: Seq[String]): DataFrame =
    if (terms.size <= isinTermCap(frame.sparkSession))
      frame.filter(col("term").isin(terms: _*))
    else
      frame.join(broadcast(qterms.select("term").distinct()),
        Seq("term"), "left_semi")

  /** Inverted-index rows: one per (term, doc) — `(term, doc_id, dl, tf)`.
    * dl (doc length in tokens, empties included, mirroring the oracle's
    * `len(string_split(...))`) is denormalized onto every posting so a
    * probe never needs a doc-side join to normalize tf. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // NOT widened (r21 A/B): the b41ca8f widenScan here measured as a
    // loss — text_bm25_topk 2.83 s widened vs 1.46 s plain on the r21
    // host; the tokenize stream feeds an aggregate whose own exchange
    // already spreads the work, so the extra round-robin exchange is
    // pure cost (numbers in OPTIMIZATION_r21.md).
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus scalars the BM25 normalization needs: (nDocs, sumDl). One tiny
    * aggregate job; the result is two longs on the driver (contract-small,
    * same shape as the tfidf `docs.count()` precedent). Counted over ALL
    * docs — including all-empty-token ones that produce no postings —
    * which is why it scans the corpus's text column rather than deriving
    * from postings. */
  def corpusStats(docs: DataFrame, textCol: String): (Long, Long) = {
    val r = docs.agg(
      count(lit(1)).cast("long"),
      coalesce(sum(size(split(col(textCol), " "))), lit(0L)).cast("long")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A query batch as a DataFrame of (query_id, term) — distinct terms per
    * query (qtf folds to 1; repeated words in a query string are dropped,
    * matching the oracle's DISTINCT VALUES list). */
  def queryTerms(spark: SparkSession, queries: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
      }
      .toDF("query_id", "term")
  }

  /** The distinct term set of a driver-side query batch — computed on the
    * driver (the batch already lives there; no Spark job, no collect). */
  private def distinctTerms(queries: Seq[(Int, String)]): Seq[String] =
    queries.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct

  /** The shared scoring tail: candidate postings × query terms × df stats
    * → per-(query, doc) BM25 → top-k per query with rank.
    *
    * `posts` must be `(term, doc_id, dl, tf)`, already restricted (or
    * restrictable by Catalyst) to the query's terms; `dfStats` is
    * `(term, df)` for at least the query terms. Both query frames are
    * broadcast — the only shuffle is the per-(query_id, doc_id) partial
    * sum, whose input is candidate postings only. */
  def bm25Rank(
      posts: DataFrame, dfStats: DataFrame, qterms: DataFrame,
      nDocs: Long, sumDl: Long, k: Int): DataFrame =
    rankTopK(bm25Scored(posts, dfStats, qterms, nDocs, sumDl), k)

  /** The per-(term, doc) BM25 contribution — Robertson idf × saturated
    * tf, rounded once to the 1e-6 grid (the repo's bit-stable float
    * contract). Requires `tf`, `df`, `dl` columns in scope. Shared by the
    * plain scorer and the RM3 re-scorer so the formula has one source of
    * truth. */
  private def contribExpr(nDocs: Long, sumDl: Long): Column = {
    val avgdl = sumDl.toDouble / nDocs
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / lit(avgdl))))
    round(idf * tfn, 6)
  }

  /** The scoring core without the ranking tail: per-(query_id, doc_id)
    * BM25 over candidate postings. Exposed so compositions (hard-negative
    * mining's self-exclusion) can filter between scoring and ranking. */
  def bm25Scored(
      posts: DataFrame, dfStats: DataFrame, qterms: DataFrame,
      nDocs: Long, sumDl: Long): DataFrame =
    bm25ScoredPart(posts, dfStats, qterms, nDocs, sumDl,
      Seq(col("query_id")))

  /** [[bm25Scored]] with an explicit pre-aggregation partitioning.
    * r21 (guide §2.4, the rm3 fbw subset-rule precedent): one explicit
    * repartition placed BEFORE the score aggregate satisfies the
    * aggregate's ClusteredDistribution((query_id, doc_id)) (subset
    * rule) and is chosen to match the DOWNSTREAM consumer —
    * `query_id` alone when the bounded heap + rank window follow
    * (probe/rm3/hard-negative paths: the scoring tail collapses from
    * three exchanges to one), `(query_id, doc_id)` when the score
    * feeds an equi-join on both keys (the SDM blend, where Spark 4's
    * requireAllClusterKeysForCoPartition demands exact-key
    * co-partitioning). The exchange carries raw per-(term, doc)
    * contributions instead of partial (query, doc) sums — a few
    * matched terms per doc, candidate-sized either way; decimal sums
    * are order-exact, so scores are bit-identical. */
  private def bm25ScoredPart(
      posts: DataFrame, dfStats: DataFrame, qterms: DataFrame,
      nDocs: Long, sumDl: Long, partCols: Seq[Column]): DataFrame = {
    val contrib = contribExpr(nDocs, sumDl)
    posts
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfStats), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        contrib.cast("decimal(38,10)").as("w"))
      .repartition(partCols: _*)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")).cast("double"), 6).as("score"))
  }

  /** Bounded-heap top-k + rank over a (query_id, doc_id, score) frame. */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val order = Seq(col("score").desc, col("doc_id").asc)
    TopK.perKey(scored, Seq("query_id"), order, k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(order: _*)))
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion of two ranked candidate lists — the standard
    * hybrid-retrieval combiner (Cormack/Clarke/Buettcher's RRF): each
    * leg contributes `1 / (kRrf + rank)` for the documents it ranked,
    * documents surfaced by only one leg score with that leg alone, and
    * the fused list is the top-k by summed reciprocal rank. Rank-only by
    * design — BM25 scores and cosine similarities live on incomparable
    * scales, and RRF needs no per-leg normalization, which is exactly
    * why production hybrid stacks use it.
    *
    * Inputs are the ranked outputs of the two serve paths
    * ([[bm25ProbeM]] / an ANN probe finished through [[rankTopK]]):
    * `(query_id, doc_id, rank)` frames of queries×k rows each, so the
    * fusion is a result-sized full-outer join plus one bounded-heap
    * top-k — nothing here scales with the corpus. The reciprocal-rank
    * arithmetic is integer-fed double math rounded once to the 1e-6
    * grid, so the fused ordering replays exactly in the DuckDB oracle. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("lex_rank"))
    val v = vec.select(col("query_id"), col("doc_id"),
      col("rank").as("vec_rank"))
    val fused = l.join(v, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("vec_rank")), lit(0.0)), 6))
    val order = Seq(col("rrf").desc, col("doc_id").asc)
    TopK.perKey(fused, Seq("query_id"), order, k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(order: _*)))
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf"), col("rank"))
  }

  /** Hard-negative mining for contrastive-pair training data: each anchor
    * document's distinct terms become its query; the corpus is ranked by
    * BM25 and the anchor itself excluded — the top-k survivors are the
    * "lexically close but not the positive" negatives an embedding-model
    * batch wants. Anchors are a tiny broadcast frame; everything else is
    * the shared retrieval path, so the cost is the anchors' posting
    * lists, not a corpus cross-product. The term restriction is the
    * broadcast semi-join (anchor terms live in the data, and anchor sets
    * can be large) — never a driver-side literal list. */
  def hardNegatives(
      docs: DataFrame, idCol: String, textCol: String,
      anchorIds: Seq[Long], k: Int): DataFrame = {
    val posts = postings(docs, idCol, textCol)
    val qterms = docs
      .filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("query_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val termSet = qterms.select("term").distinct()
    val cand = posts.join(broadcast(termSet), Seq("term"))
    val dfStats = cand.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (n, sumDl) = corpusStats(docs, textCol)
    rankTopK(
      bm25Scored(cand, dfStats, qterms, n, sumDl)
        .filter(col("query_id") =!= col("doc_id")),
      k)
  }

  /** MMR-diversified BM25 retrieval (Carbonell & Goldstein 1998 — the
    * original MMR setting was exactly this, lexical relevance +
    * content-similarity redundancy): the BM25 top-`poolSize` pool per
    * query, relevance NORMALIZED per query to [0, 1] (BM25 scores are
    * query-scale-free; `score / max(score)` over the pool, round-6 —
    * the redundancy cosine already lives in [−1, 1]), candidate
    * vectors from the deterministic hashing-trick embedding
    * ([[TextAnalysis.hashEmbed]] — no model anywhere), then the shared
    * greedy core ([[Similarity.mmrGreedy]]) selects k diverse results.
    *
    * Scale shape: the pool is the shared BM25 probe (candidate postings
    * only); the embedding join scans the corpus ONCE with the tiny pool
    * broadcast against it; the greedy steps never leave the
    * queries×poolSize grain. Output:
    * `(query_id, doc_id, rel, mmr_rank)`. */
  def mmrDiversifiedTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int, poolSize: Int = 20,
      dim: Int = 64, lambdaNum: Int = 7, lambdaDen: Int = 10): DataFrame = {
    require(k >= 1, s"k=$k must be at least 1")
    require(poolSize >= k, s"poolSize=$poolSize must cover k=$k")
    mmrOverPool(docs, idCol, textCol,
      bm25TopK(docs, idCol, textCol, queries, poolSize),
      k, dim, lambdaNum, lambdaDen)
  }

  /** [[mmrDiversifiedTopK]]'s SERVE path: the relevance pool probes the
    * committed inverted index ([[bm25ProbeM]] — exact BM25, stored df ≡
    * counted df, so the served selection replays the inline oracle
    * bit-for-bit), and only the POOL MEMBERS' text leaves the lake for
    * the redundancy embeddings. `at` pins a committed version — the
    * diversified page a release served replays against v1's postings
    * AND v1's corpus statistics until vacuum reclaims them. */
  def mmrDiversifiedProbeM(
      spark: SparkSession, root: String,
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int, poolSize: Int = 20,
      dim: Int = 64, lambdaNum: Int = 7, lambdaDen: Int = 10,
      at: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k=$k must be at least 1")
    require(poolSize >= k, s"poolSize=$poolSize must cover k=$k")
    mmrOverPool(docs, idCol, textCol,
      bm25ProbeM(spark, root, queries, poolSize, at),
      k, dim, lambdaNum, lambdaDen)
  }

  /** Shared MMR tail over a BM25 pool `(query_id, doc_id, score, rank)`:
    * per-query score/max normalization (round-6 `rel`), redundancy
    * vectors = hash-embeddings of the POOL MEMBERS' text only (the pool
    * ids broadcast-semi-restrict the lake scan BEFORE tokenization —
    * queries×poolSize docs embed, never the corpus), then the shared
    * unrolled greedy ([[Similarity.mmrGreedy]]). */
  private def mmrOverPool(
      docs: DataFrame, idCol: String, textCol: String,
      pool: DataFrame, k: Int, dim: Int,
      lambdaNum: Int, lambdaDen: Int): DataFrame = {
    // the pool frame feeds BOTH the lake-restricting semi-join and the
    // candidate join below; left LAZY deliberately — the duplicated
    // subtree shares its shuffle via ReusedExchange, and an eager
    // localCheckpoint here measured ~0.9 s SLOWER on the served registry
    // query (the materialization job costs more than the reuse saves)
    val relPool = pool.withColumn("rel",
      round(col("score") /
        max(col("score")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))),
        6))
    val poolDocs = docs.join(
      broadcast(relPool.select(col("doc_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    val emb = TextAnalysis.hashEmbed(poolDocs, idCol, textCol, dim)
      .select(col(idCol).as("doc_id"), col("embedding").as("__cv"))
    val cand = emb.join(broadcast(relPool), Seq("doc_id"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("rel"), col("rank"), col("__cv"))
    Similarity.mmrGreedy(cand, k, lambdaNum, lambdaDen)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rel"), col("mmr_rank"))
  }

  /** Inline BM25 top-k: postings, df, and corpus stats derived from the
    * corpus in-query. Two corpus passes (stats scalar + postings), then
    * the shared ranking tail. */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    val spark = docs.sparkSession
    val posts = postings(docs, idCol, textCol)
    val qt = queryTerms(spark, queries)
    val cand = termFilter(posts, qt, distinctTerms(queries))
    val dfStats = cand.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (n, sumDl) = corpusStats(docs, textCol)
    bm25Rank(cand, dfStats, qt, n, sumDl, k)
  }

  // ---- Query-likelihood retrieval (Dirichlet-smoothed language model) --

  /** Dirichlet pseudo-count μ — the standard default of the LM-retrieval
    * literature (Zhai & Lafferty 2001; Indri/Galago ship 2500/1500-class
    * defaults, 2000 is the canonical textbook operating point). */
  val QldMu = 2000L

  /** One Dirichlet-smoothed log term, rounded once to the 1e-6 grid:
    * `ln(num/den)` with num/den EXACT bigints (the rational arithmetic
    * that makes the replay deterministic — both engines cast the same
    * integers to double, take one IEEE division, one `ln`, one round). */
  private def qldLn(num: Column, den: Column): Column =
    round(log(num.cast("double") / den.cast("double")), 6)

  /** The QLD scoring core over candidate postings. Query-likelihood with
    * Dirichlet smoothing ranks by
    * `Σ_{t∈q} ln((tf(t,d) + μ·cf(t)/|C|) / (|d| + μ))`, equivalently (as
    * the exact rational both engines replay)
    * `Σ_t ln((tf·|C| + μ·cf) / ((dl + μ)·|C|))` — tf = 0 for query terms
    * the doc lacks, so ABSENT terms still contribute their background
    * probability, which depends on dl and genuinely reorders docs.
    *
    * Decomposition that keeps the work candidate-sized: every candidate
    * doc (shares ≥1 query term) pays the BACKGROUND sum over all its
    * query's terms (candidates × |q| rows, from a broadcast of the
    * query×cf frame), and each MATCHED posting adds the exact-decimal
    * correction `full − background` — both legs union into ONE keyed
    * aggregate, all terms 6-dp-rounded doubles carried as
    * DECIMAL(18,9), so the regrouping is exact and the oracle's
    * unordered sum replays it.
    *
    * Query terms ABSENT from the corpus (cf = 0) drop from scoring
    * entirely (ln 0 is undefined; the standard engine behavior). Query
    * term multiplicity folds to 1 ([[queryTerms]]' distinct contract,
    * matching BM25). `cand` must be `(term, doc_id, dl, tf)` covering
    * ALL postings of the query's terms — cf derives from it, so no
    * separate collection-frequency table is needed. */
  private def qldRank(
      cand: DataFrame, qt: DataFrame, queries: Seq[(Int, String)],
      sumDl: Long, mu: Long, k: Int): DataFrame = {
    require(mu > 0, s"mu=$mu must be positive")
    val spark = cand.sparkSession
    import spark.implicits._
    // r21 (guide §2.4): collection frequencies are CONTRACT-SMALL — one
    // row per distinct batch term, whatever the corpus size — so ONE
    // aggregate collect folds them to the driver and BOTH consumers
    // (the per-query background frame and the matched-posting
    // correction) re-enter as local broadcast frames. The r20 plan
    // computed the cf aggregate TWICE (Catalyst would not reuse the
    // exchange across the two broadcast subtrees) and paid two
    // broadcast-build jobs for it.
    val cfMap = cand.groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // qcf replayed from the driver-side batch with the SAME distinct
    // rule as [[queryTerms]]; inner-join semantics (cf = 0 terms drop)
    val qcfLocal = queries.flatMap { case (qid, text) =>
      text.split(" ").filter(_.nonEmpty).distinct
        .flatMap(t => cfMap.get(t).map(cf => (qid, t, cf)))
    }.toDF("query_id", "term", "cf")
    val cfLocal = cfMap.toSeq.sortBy(_._1).toDF("term", "cf")
    val matches = cand.join(broadcast(qt), Seq("term"))
    val docsQ = matches.select(col("query_id"), col("doc_id"), col("dl"))
      .distinct()
    val denom = (col("dl") + lit(mu)) * lit(sumDl)
    val bg = docsQ.join(broadcast(qcfLocal), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        qldLn(lit(mu) * col("cf"), denom).cast("decimal(18,9)").as("__m"))
    val cor = matches.join(broadcast(cfLocal), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (qldLn(col("tf") * lit(sumDl) + lit(mu) * col("cf"), denom)
          .cast("decimal(18,9)") -
          qldLn(lit(mu) * col("cf"), denom).cast("decimal(18,9)"))
          .cast("decimal(18,9)").as("__m"))
    // r21 (guide §2.4, subset rule): one repartition(query_id) serves
    // the keyed aggregate, the bounded heap, AND the rank window — two
    // fewer exchanges in the tail; decimal sums are order-exact. (A
    // join-form split of bg/cor was tried and REJECTED: Spark 4's
    // requireAllClusterKeysForCoPartition=true forces full-key
    // exchanges on both join inputs, costing more stages than the
    // union it replaced — measured 17 jobs vs 13 on the r21 host.)
    val scored = bg.unionByName(cor)
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("__m")).cast("double"), 6).as("score"))
    rankTopK(scored, k)
  }

  /** Inline Dirichlet query-likelihood top-k — the standard complement
    * to [[bm25TopK]] (same postings lineage, same bounded-heap tail; LM
    * scoring instead of tf-idf saturation). */
  def qldTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int, mu: Long = QldMu): DataFrame = {
    val spark = docs.sparkSession
    val posts = postings(docs, idCol, textCol)
    val qt = queryTerms(spark, queries)
    val cand = termFilter(posts, qt, distinctTerms(queries))
    val (_, sumDl) = corpusStats(docs, textCol)
    qldRank(cand, qt, queries, sumDl, mu, k)
  }

  /** [[qldTopK]] served from the SAME committed inverted index
    * [[bm25ProbeM]] probes — postings restricted to the batch's terms
    * (pushed IN / broadcast-semi), collection frequencies summed from
    * the candidate postings themselves (no extra stored table: cf is a
    * per-term sum over exactly the rows the probe already reads), |C|
    * from the corpus segments. `at` pins a version — same release-replay
    * contract as every served probe. */
  def qldProbeM(
      spark: SparkSession, root: String,
      queries: Seq[(Int, String)], k: Int, mu: Long = QldMu,
      at: Option[Long] = None): DataFrame = {
    val snap = at
      .map(v => IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(IndexManifest.snapshot(spark, root))
    val qt = queryTerms(spark, queries)
    val cand = termFilter(
      IndexManifest.readAt(spark, root, snap, PostingsTable),
      qt, distinctTerms(queries))
    val c = IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("sum_dl")).cast("long")).head()
    qldRank(cand, qt, queries, c.getLong(0), mu, k)
  }

  /** RM3 pseudo-relevance feedback — the published query-expansion
    * recipe (Lavrenko/Croft relevance models, interpolated with the
    * original query as RM3; the default feedback reranker of the
    * standard IR stacks): retrieve top-`fbDocs` per query with BM25,
    * estimate a feedback term distribution from those docs (each term
    * weighted by tf/dl times its doc's retrieval score), keep the
    * top-`fbTerms` feedback terms, interpolate with the original query
    * terms at `alpha`, and re-rank the corpus under the expanded
    * weighted query.
    *
    * Every float step follows the repo's bit-stable contract so the
    * DuckDB oracle replays the full two-stage ranking exactly:
    * per-(term, doc) products rounded to 1e-6 then summed in
    * DECIMAL(38,10), one double division per normalization, original
    * query weights pre-rounded driver-side literals.
    *
    * Scale shape: stage-1 is the inline BM25 path (candidate postings
    * only); the feedback join is the queries×fbDocs winner frame
    * BROADCAST against the postings aggregate (no corpus shuffle); the
    * expanded term set (≤ |q| + fbTerms per query) broadcasts back for
    * stage-2, so the re-rank costs one more candidate-postings
    * restriction — never a corpus rescan beyond the postings lineage.
    * The served twin composes the same stages over [[bm25ProbeM]]'s
    * index tables. */
  def rm3TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int,
      fbDocs: Int = 3, fbTerms: Int = 8, alpha: Double = 0.5): DataFrame = {
    // posts feeds FOUR subtrees (stage-1 candidates, the feedback
    // term-vector join, stage-2 candidates, stage-2 df) and Catalyst's
    // pushed filters make them canonically distinct, so without the
    // cache each subtree re-runs the corpus-wide tokenize+wordcount
    // (lazy, evictable; the served twin reads parquet instead and needs
    // no cache)
    val posts = postings(docs, idCol, textCol).persist()
    // the result is queries×k rows: materialize it eagerly so the
    // postings cache can drop HERE (finally)
    // instead of pinning corpus-sized evictable blocks for the
    // session's lifetime — long-lived services call this repeatedly
    try rm3Inline(posts, docs, textCol, queries, k, fbDocs, fbTerms, alpha)
      .localCheckpoint(true)
    finally posts.unpersist()
  }

  /** The LAZY inline RM3 plan over an already-cached postings frame —
    * what [[rm3TopK]] materializes. Separate so PlanSpec can pin the
    * composed two-stage plan (TopKPerKey ranking, broadcast feedback
    * frames, queries×terms-grain SMJs): the public entry checkpoints
    * its result to release the postings cache, which collapses the
    * visible plan to a Scan ExistingRDD. */
  private[graft] def rm3Inline(
      posts: DataFrame, docs: DataFrame, textCol: String,
      queries: Seq[(Int, String)], k: Int,
      fbDocs: Int, fbTerms: Int, alpha: Double): DataFrame = {
    val spark = docs.sparkSession
    val qt = queryTerms(spark, queries)
    val (n, sumDl) = corpusStats(docs, textCol)
    val cand1 = termFilter(posts, qt, distinctTerms(queries))
    val df1 = cand1.groupBy(col("term")).agg(count(lit(1)).as("df"))
    rm3Core(posts, cand1, df1,
      (ts, _) => posts.join(broadcast(ts), Seq("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df")),
      qt, n, sumDl, queries, k, fbDocs, fbTerms, alpha)
  }

  /** RM3 served from the PERSISTED inverted index ([[buildIndexM]]) —
    * the steady-state shape: both retrieval stages read committed
    * postings/stats/corpus segments resolved from ONE manifest snapshot
    * (optionally pinned via `at`), so feedback expansion never touches
    * lake text. The feedback term-vector read is the postings scan
    * restricted by a BROADCAST semi-join on the queries×fbDocs winner
    * ids — the index never shuffles, the classic term-vector lookup of
    * the production RM3 rerankers. Score-identical to [[rm3TopK]] over
    * the same corpus (stored df ≡ counted df; spec-pinned). */
  def rm3ProbeM(
      spark: SparkSession, root: String,
      queries: Seq[(Int, String)], k: Int,
      fbDocs: Int = 3, fbTerms: Int = 8, alpha: Double = 0.5,
      at: Option[Long] = None): DataFrame = {
    val snap = at
      .map(v => IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(IndexManifest.snapshot(spark, root))
    val posts = IndexManifest.readAt(spark, root, snap, PostingsTable)
    val stats = IndexManifest.readAt(spark, root, snap, StatsTable)
    val corpus = IndexManifest.readAt(spark, root, snap, CorpusTable)
    val qt = queryTerms(spark, queries)
    val terms = distinctTerms(queries)
    val c = corpus
      .agg(sum(col("n_docs")).cast("long"), sum(col("sum_dl")).cast("long")).head()
    val cand1 = termFilter(posts, qt, terms)
    val df1 = storedDfStats(stats, qt, terms) // r21: driver-folded under the cap
    rm3Core(posts, cand1, df1,
      // r21: the expanded term set is driver-known — under the cap the
      // stage-2 dfs fold on the driver off the stored stats segments
      (ts, seq) => storedDfStats(stats, ts, seq),
      qt, c.getLong(0), c.getLong(1), queries, k, fbDocs, fbTerms, alpha)
  }

  /** The shared two-stage RM3 pipeline over resolved posting frames —
    * inline and index-served differ only in where stage df stats come
    * from (`df2Of`: counted from candidate postings inline, summed from
    * stored stats segments when served — equal by construction). */
  private def rm3Core(
      posts: DataFrame, cand1: DataFrame, df1: DataFrame,
      df2Of: (DataFrame, Seq[String]) => DataFrame,
      qt: DataFrame, n: Long, sumDl: Long,
      queries: Seq[(Int, String)], k: Int,
      fbDocs: Int, fbTerms: Int, alpha: Double): DataFrame = {
    val spark = posts.sparkSession
    // stage 1: plain BM25, top fbDocs per query
    val fb = rankTopK(bm25Scored(cand1, df1, qt, n, sumDl), fbDocs)
      .select(col("query_id"), col("doc_id"), col("score"))

    // feedback relevance model: w(t|q) ∝ Σ_{d∈fb(q)} (tf/dl)·score_d;
    // the fb frame is queries×fbDocs rows — broadcast into the postings.
    // r20: ONE exchange serves the weight aggregate AND the top-fbTerms
    // heap — the explicit repartition(query_id) satisfies both the
    // groupBy's ClusteredDistribution((query_id, term)) (subset rule)
    // and TopKPerKey's (query_id). Skew-safe: the frame is the feedback
    // docs' term vectors, bounded by queries × fbDocs documents.
    val fbw = posts
      .join(broadcast(fb), Seq("doc_id"))
      .select(col("query_id"), col("term"),
        round(col("tf") / col("dl") * col("score"), 6)
          .cast("decimal(38,10)").as("c"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("term"))
      .agg(round(sum(col("c")).cast("double"), 6).as("fbw"))
    val selected = TopK.perKey(fbw, Seq("query_id"),
      Seq(col("fbw").desc, col("term").asc), fbTerms)

    // r20: the selected feedback set is CONTRACT-SMALL — at most
    // queries × fbTerms rows, both caller parameters (the
    // centroid/codebook collect class) — so normalization and the
    // original-query interpolation fold on the DRIVER, and stage 2's
    // term restriction becomes a LITERAL `IN` pushed into the
    // term-clustered parquet scan whenever the expanded set fits the
    // same isinTermCap that governs termFilter (over-cap batches keep
    // the broadcast semi-join shape below). This replaced a lazy chain
    // of window + full-outer SMJ + distinct whose ~5 extra exchanges
    // were pure plan latency at every batch size, and whose broadcast
    // semi-join kept stage 2's scan unpruned. Bit-equality with the old
    // frame chain is exact-arithmetic, not float luck: every step
    // below replays the identical decimal ops on the identical values
    // (shortest-string double→BigDecimal = Spark's Cast/Round path).
    val expandedRows = rm3Expansion(
      selected.select(col("query_id"), col("term"), col("fbw")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq,
      queries, alpha)
    import spark.implicits._
    val expanded = expandedRows.toDF("query_id", "term", "w")

    // stage 2: re-rank under the expanded weighted query. The weighted
    // per-term products multiply as exact decimals (6-dp × 6-dp = exact
    // 12-dp — a pre-round at the 12-dp half would again be an engine
    // coin flip), sum exactly, and round ONCE at the end.
    val termSeq = expandedRows.map(_._2).distinct
    val termSet = expanded.select(col("term")).distinct()
    val cand2 =
      if (termSeq.size <= isinTermCap(spark))
        posts.filter(col("term").isin(termSeq: _*))
      else posts.join(broadcast(termSet), Seq("term"))
    val df2 = df2Of(termSet, termSeq)
    val contrib = contribExpr(n, sumDl)
    val scored = cand2
      .join(broadcast(expanded), Seq("term"))
      .join(broadcast(df2), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (col("w").cast("decimal(18,9)") *
          contrib.cast("decimal(18,9)")).as("c"))
      // r21: subset-rule exchange shared with the heap + rank window
      // (the stage-1/fbw precedent); decimal sums are order-exact
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")), 6).cast("double").as("score"))
    rankTopK(scored, k)
  }

  /** RM3's driver-side interpolation over the selected feedback rows
    * `(query_id, term, fbw)`: the expanded weighted query `(query_id,
    * term, w)`, sorted by (query_id, term). */
  private[graft] def rm3Expansion(
      selected: Seq[(Int, String, Double)], queries: Seq[(Int, String)],
      alpha: Double): Seq[(Int, String, java.math.BigDecimal)] = {
    def round6(x: Double): Double =
      // Spark's Round(double) passes NaN/Inf through untouched
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // per query: s = Σ fbw as exact decimal(·,10) cast to double (the
    // old window's sum), then fbw_n = round6(fbw / s)
    val fbByQ = selected.groupBy(_._1)
    val fbwN: Map[(Int, String), Double] = fbByQ.toSeq.flatMap {
      case (qid, rows) =>
        val s = rows.map(r => java.math.BigDecimal.valueOf(r._3)
            .setScale(10, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).doubleValue
        rows.map(r => (qid, r._2) -> round6(r._3 / s))
    }.toMap
    // interpolate with the original query: each original term carries
    // alpha/|q| (pre-rounded, the same literal the oracle reads),
    // feedback terms carry (1-alpha)·fbw_n. The interpolation runs in
    // EXACT DECIMAL: wq + (1-α)·fbw_n is an exact ≤8-dp decimal whose
    // 7th digit is 5 half the time (whenever fbw_n's 6th digit is odd
    // at α = ½) — a double round there is engine-dependent on every
    // such tie, so the one rounding happens on the exact decimal, where
    // HALF_UP ties agree across engines by definition.
    val origWRows: Map[(Int, String), Double] = queries.flatMap {
      case (qid, text) =>
        val terms = text.split(" ").filter(_.nonEmpty).distinct
        if (terms.isEmpty) Seq.empty
        else {
          val w = BigDecimal(alpha / terms.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          terms.map(t => (qid, t) -> w)
        }
    }.toMap
    val oneMinusAlphaD = java.math.BigDecimal.valueOf(1.0 - alpha)
    def dec9(x: Double): java.math.BigDecimal =
      // NaN/Inf → 0: an all-zero feedback sum (s = 0 ⇒ fbw/s = NaN)
      // contributes nothing, and an original-query term KEEPS its α/|q|
      // share. NOTE (r21): this is an intentional divergence from the
      // pre-r20 frame chain on this degenerate edge — there the NaN
      // survived the coalesce (which ran BEFORE the cast), cast to NULL,
      // and nulled the ENTIRE interpolated weight including the α/|q|
      // share. No oracle row exercises the edge (RetrievalSpec pins it);
      // keeping the α/|q| share is the intended semantics — a degenerate
      // feedback set must degrade RM3 toward the original query, not
      // erase it.
      if (x.isNaN || x.isInfinite) java.math.BigDecimal.ZERO.setScale(9)
      else java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    (origWRows.keySet ++ fbwN.keySet).toSeq.sorted.map { case (qid, t) =>
      val w = dec9(origWRows.getOrElse((qid, t), 0.0))
        .add(oneMinusAlphaD.multiply(dec9(fbwN.getOrElse((qid, t), 0.0))))
        .setScale(6, java.math.RoundingMode.HALF_UP)
      (qid, t, w)
    }
  }

  // ---- persisted inverted index ---------------------------------------

  /** Salt buckets for the postings layout: files cluster by term (so a
    * probe's term restriction prunes row groups) but a stopword-frequency
    * term's posting list splits across up to this many partitions instead
    * of pinning one hot task/file at build time. */
  val PostingsSaltBuckets = 16

  private def writePostings(posts: DataFrame, dir: String): Unit =
    posts
      .repartition(col("term"),
        pmod(hash(col("doc_id")), lit(PostingsSaltBuckets)))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Derive the per-term df segment from ALREADY-WRITTEN postings files —
    * re-reading the slim persisted rows instead of re-executing the
    * corpus-wide postings lineage a second time. */
  private def writeStatsFromPostings(
      spark: SparkSession, postingsDir: String, statsDir: String): Unit =
    graft.Tables.parquet(spark, postingsDir)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode(SaveMode.Overwrite).parquet(statsDir)

  private def writeCorpusSeg(
      docs: DataFrame, textCol: String, dir: String): Unit = {
    val (n, sumDl) = corpusStats(docs, textCol)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((n, sumDl)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Per-term document frequencies off the stored stats segments,
    * restricted to the batch's terms. r21: under the literal-IN cap the
    * restricted stats are CONTRACT-SMALL (≤ isinTermCap terms × a
    * handful of segment rows — the rm3 driver-fold collect class), so
    * they fold on the driver with exact long sums and re-enter as a
    * local broadcast frame — the stats-side exchange + aggregate stage
    * disappears from every served probe. Over-cap batches keep the
    * distributed aggregate. */
  private def storedDfStats(
      stats: DataFrame, qt: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = stats.sparkSession
    if (terms.size <= isinTermCap(spark)) {
      import spark.implicits._
      termFilter(stats, qt, terms)
        .select(col("term"), col("df").cast("long"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (t, rows) => (t, rows.map(_.getLong(1)).sum) }
        .toSeq.sortBy(_._1).toDF("term", "df")
    } else
      termFilter(stats, qt, terms)
        .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
  }

  // ---- persisted BM25 index (atomic manifest protocol) ----------------
  //
  // Four logical tables (`postings`, `stats`, `corpus`, `docs`) staged as
  // immutable segments and published together in one manifest commit —
  // a probe racing build/append/compact/refresh resolves a consistent
  // set (postings with their own df/corpus segments), never a mix.

  private val PostingsTable = "postings"
  private val StatsTable = "stats"
  private val CorpusTable = "corpus"
  private val DocsTable = "docs"

  /** The slim per-doc table `(doc_id, tdig, dl)` stored beside the
    * postings: a content digest per indexed doc (what [[refreshIndexM]]
    * diffs against the new corpus snapshot to find changed/removed
    * docs without re-tokenizing anything) and the token length (so the
    * refreshed corpus scalars re-derive from this table alone — empty-
    * token docs included — never from lake text). ~40 B/doc. */
  private def docDigests(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      md5(coalesce(col(textCol), lit(""))).as("tdig"),
      size(split(col(textCol), " ")).as("dl"))

  /** Persist the inverted index at `root`, one segment per table:
    * `postings` term-clustered (salted-repartitioned + sorted by term, so
    * a probe's pushed `term IN` prunes row groups while hot terms still
    * split across files), `stats` per-term df rows and `corpus` one
    * (n_docs, sum_dl) row — both summed at probe time, so
    * [[appendIndexM]] never rewrites anything — and `docs`
    * ([[docDigests]]). df stats re-read the just-written postings rather
    * than re-running the corpus lineage. */
  def buildIndexM(
      docs: DataFrame, idCol: String, textCol: String, root: String): Long = {
    val spark = docs.sparkSession
    val pSeg = IndexManifest.newSegment(PostingsTable)
    writePostings(postings(docs, idCol, textCol), s"$root/$pSeg")
    val sSeg = IndexManifest.newSegment(StatsTable)
    writeStatsFromPostings(spark, s"$root/$pSeg", s"$root/$sSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    writeCorpusSeg(docs, textCol, s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    docDigests(docs, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root, Map(
      PostingsTable -> Seq(pSeg), StatsTable -> Seq(sSeg),
      CorpusTable -> Seq(cSeg), DocsTable -> Seq(dSeg)),
      meta = Map("family" -> "bm25"))
  }

  /** Append a delta corpus: its postings, df, corpus and docs rows land
    * as four new segments, published atomically (expect-guarded); no
    * stored row is rewritten, so ingest cost is the delta's wordcount.
    *
    * CONTRACT: exact ONLY when the delta's doc ids are disjoint from the
    * indexed corpus — re-appending an indexed doc double-counts its
    * postings, df contribution, and corpus stats. Callers that cannot
    * guarantee disjointness pass `dedupAgainstIndex = true`: the delta is
    * anti-joined against the stored `docs` ids first (one slim per-doc
    * scan). `docs` holds a row for EVERY indexed doc, so a blank-text doc
    * (no postings row) is deduped too and its (1, dl) never counts twice
    * (spec-pinned). The default stays the pure append because pipelines
    * with monotone doc ids shouldn't pay the scan. */
  def appendIndexM(
      delta: DataFrame, idCol: String, textCol: String, root: String,
      dedupAgainstIndex: Boolean = false,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = delta.sparkSession
    val snap = IndexManifest.snapshot(spark, root)
    // the slim per-doc digest table answers "which docs are indexed" in
    // one row per doc — never scan the posting log for that
    val src =
      if (!dedupAgainstIndex) delta
      else delta.join(
        IndexManifest.readAt(spark, root, snap, DocsTable)
          .select(col("doc_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    val pSeg = IndexManifest.newSegment(PostingsTable)
    writePostings(postings(src, idCol, textCol), s"$root/$pSeg")
    val sSeg = IndexManifest.newSegment(StatsTable)
    writeStatsFromPostings(spark, s"$root/$pSeg", s"$root/$sSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    writeCorpusSeg(src, textCol, s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    docDigests(src, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root,
      snap.tables
        .updated(PostingsTable, snap.tables(PostingsTable) :+ pSeg)
        .updated(StatsTable, snap.tables(StatsTable) :+ sSeg)
        .updated(CorpusTable, snap.tables(CorpusTable) :+ cSeg)
        .updated(DocsTable, snap.tables(DocsTable) :+ dSeg),
      expect = Some(snap.version),
      meta = IndexManifest.stampAppendSegs(
        extraMeta, Seq(pSeg, sSeg, cSeg, dSeg)))
  }

  /** Hard-negative mining against a RESOLVED committed snapshot with the
    * query batch as a DataFrame — the growing-ingest probe: an arriving
    * anchor's distinct terms are its query, and postings, df stats, and
    * corpus scalars ALL resolve from `snap` together, so the scoring
    * normalization (idf / avgdl) is exactly the corpus as of that
    * version — the stats grow transactionally with the postings. The
    * term restriction always takes [[termFilter]]'s broadcast-semi arm:
    * a batch-derived term set has no driver-side literal list, and the
    * anchors' combined vocabulary can be arbitrarily large. */
  def hardNegativesAtM(
      batch: DataFrame, idCol: String, textCol: String, k: Int,
      root: String, snap: IndexManifest.Snapshot): DataFrame = {
    val spark = batch.sparkSession
    val qt = batch
      .select(col(idCol).as("query_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val termSet = qt.select("term").distinct()
    val cand = IndexManifest.readAt(spark, root, snap, PostingsTable)
      .join(broadcast(termSet), Seq("term"), "left_semi")
    val dfStats = IndexManifest.readAt(spark, root, snap, StatsTable)
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
    val c = IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("n_docs")).cast("long"), sum(col("sum_dl")).cast("long"))
      .head()
    rankTopK(
      bm25Scored(cand, dfStats, qt, c.getLong(0), c.getLong(1))
        .filter(col("query_id") =!= col("doc_id")),
      k)
  }

  /** Compaction — the maintenance half [[appendIndexM]]'s grow-only
    * contract needs: df segments fold back to ONE row per term, corpus
    * segments to one row, and the accumulated postings rewrite
    * term-clustered (restoring row-group pruning across what appends
    * scattered into per-delta files). One keyed shuffle over slim
    * posting rows + one over df rows — never touches corpus text — and
    * the whole triple swaps in atomically. Probe-after-compact ≡
    * probe-before (spec-pinned), so cadence is a read-amplification
    * dial, not a correctness decision. */
  def compactIndexM(spark: SparkSession, root: String): Long = {
    val snap = IndexManifest.snapshot(spark, root)
    val pSeg = IndexManifest.newSegment(PostingsTable)
    writePostings(
      IndexManifest.readAt(spark, root, snap, PostingsTable), s"$root/$pSeg")
    val sSeg = IndexManifest.newSegment(StatsTable)
    IndexManifest.readAt(spark, root, snap, StatsTable)
      .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$sSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    val c = IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))
      .coalesce(1)
    c.write.mode(SaveMode.Overwrite).parquet(s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    IndexManifest.readAt(spark, root, snap, DocsTable)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root,
      snap.tables
        .updated(PostingsTable, Seq(pSeg))
        .updated(StatsTable, Seq(sSeg))
        .updated(CorpusTable, Seq(cSeg))
        .updated(DocsTable, Seq(dSeg)),
      expect = Some(snap.version))
  }

  /** REFRESH — index maintenance under corpus UPDATES and REMOVALS, the
    * quartet member append can't cover (append is arrivals-only): diff
    * the stored per-doc digests against the new corpus snapshot, keep
    * unchanged docs' postings VERBATIM (no re-tokenize, no re-read of
    * their text), tokenize only changed/added docs, drop removed ids,
    * and swap the whole (postings, stats, corpus, docs) quadruple in one
    * commit. Result ≡ [[buildIndexM]] of the new snapshot (spec-pinned).
    *
    * Scale shape: the changed/removed id set is usually delta-sized and
    * then BROADCASTS into an anti-join that filters the standing
    * postings (the lake-sized posting log streams, never shuffles); a
    * removal-heavy refresh whose stale set exceeds
    * `spark.graft.bm25.refresh.staleBroadcastCap` ids falls back to a
    * keyed shuffle anti-join instead of an OOM-risking broadcast. Df stats
    * recompute from the refreshed postings' slim rows (one keyed count),
    * and the corpus scalars re-derive from the refreshed doc-digest
    * table — lake text is read only for the changed/added docs. */
  def refreshIndexM(
      corpus: DataFrame, idCol: String, textCol: String, root: String): Long = {
    val spark = corpus.sparkSession
    val snap = IndexManifest.snapshot(spark, root)
    val oldDocs = IndexManifest.readAt(spark, root, snap, DocsTable)
    val cur = docDigests(corpus, idCol, textCol).localCheckpoint()
    // docs whose stored (id, digest) no longer matches the snapshot —
    // changed or removed; their postings must go. Usually delta-sized,
    // but a removal-heavy refresh (retention purge, large re-crawl) makes
    // it lake-scale — so the broadcast hint is applied only below a
    // counted cap (ids are ~16 B/row; 2M ids ≈ 32 MB, safely inside a
    // tuned driver); past the cap the anti-join falls back to a keyed
    // shuffle, which is the right plan at that size anyway.
    val stale = oldDocs
      .join(cur.select("doc_id", "tdig"), Seq("doc_id", "tdig"), "left_anti")
      .select("doc_id")
      .localCheckpoint()
    val staleBroadcastCap = spark.conf
      .get("spark.graft.bm25.refresh.staleBroadcastCap", "2000000").toLong
    val staleSide =
      if (stale.count() <= staleBroadcastCap) broadcast(stale) else stale
    // docs the snapshot has that the index doesn't — changed or added;
    // their text gets tokenized (the only corpus-text work in a refresh)
    val freshIds = cur
      .join(oldDocs.select("doc_id", "tdig"), Seq("doc_id", "tdig"), "left_anti")
      .select("doc_id")
    val freshSrc = corpus.join(
      freshIds.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    val retained = IndexManifest.readAt(spark, root, snap, PostingsTable)
      .join(staleSide, Seq("doc_id"), "left_anti")
    val pSeg = IndexManifest.newSegment(PostingsTable)
    writePostings(retained.unionByName(postings(freshSrc, idCol, textCol)),
      s"$root/$pSeg")
    val sSeg = IndexManifest.newSegment(StatsTable)
    writeStatsFromPostings(spark, s"$root/$pSeg", s"$root/$sSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    cur.write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    graft.Tables.parquet(spark, s"$root/$dSeg")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("sum_dl"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/$cSeg")
    IndexManifest.commit(spark, root,
      snap.tables
        .updated(PostingsTable, Seq(pSeg))
        .updated(StatsTable, Seq(sSeg))
        .updated(CorpusTable, Seq(cSeg))
        .updated(DocsTable, Seq(dSeg)),
      expect = Some(snap.version))
  }

  /** Probe a persisted index: ranks `queries` against the indexed corpus
    * without touching the corpus itself, reading postings, stats and
    * corpus from ONE snapshot. The postings/stats scans are restricted to
    * the batch's terms ([[termFilter]]: pushed `IN` under the cap,
    * broadcast semi-join above it) and stats segments merge AFTER that
    * restriction, so the work is proportional to the query terms'
    * posting lists, not the lake. */
  def bm25ProbeM(
      spark: SparkSession, root: String,
      queries: Seq[(Int, String)], k: Int,
      at: Option[Long] = None): DataFrame = {
    // `at` pins a committed version: postings, df stats, and corpus
    // scalars resolve from that version together — release-pinned time
    // travel (a ranked run that fed a dataset replays exactly, with the
    // idf/avgdl of the pinned corpus, until vacuum reclaims it).
    val snap = at
      .map(v => IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(IndexManifest.snapshot(spark, root))
    val qt = queryTerms(spark, queries)
    val terms = distinctTerms(queries)
    val c = IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("n_docs")).cast("long"), sum(col("sum_dl")).cast("long")).head()
    bm25Rank(
      termFilter(IndexManifest.readAt(spark, root, snap, PostingsTable), qt, terms),
      storedDfStats(IndexManifest.readAt(spark, root, snap, StatsTable), qt, terms),
      qt, c.getLong(0), c.getLong(1), k)
  }

  // ---- Positional phrase search ----------------------------------------
  //
  // The postings above carry (term, doc, tf) — enough for bag-of-words
  // BM25, blind to word ORDER. Phrase search ("window agg" as a unit, not
  // two independent terms) needs token positions. Classic IR machinery
  // (Lucene's PositionsEnum, Indri's #1 operator) re-expressed
  // relationally: a phrase occurrence at start position s is one row per
  // phrase offset o with term(s+o) = phrase[o], so the match is a
  // broadcast join of positional postings against the (offset, term)
  // phrase frame followed by a grouped completeness check — no
  // per-document iteration, no UDF, shuffle keyed on candidates only.

  /** Positional postings: one row per surviving (doc, position) token —
    * `(term, doc_id, pos, dl)`. `pos` is 1-based over the RAW space-split
    * (an empty token from doubled separators keeps its slot and is then
    * dropped), so adjacency is a property of the source text, not of the
    * filtered stream; `dl` is the raw split length, same normalization as
    * [[postings]]. Build is wordcount-shaped: one projection over one
    * corpus scan, no joins, no windows — ~row-per-token, the same output
    * volume the tf postings' pre-aggregation stream has. */
  def positionalPostings(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // NOT widened (r21 A/B, same verdict as [[postings]]):
    // retrieval_sdm 3.19 s widened vs 2.37-2.58 s plain on the r21 host
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        posexplode(col("toks")).as(Seq("pos0", "term")))
      .filter(col("term") =!= "")
      .select(col("term"), col("doc_id"), (col("pos0") + 1).as("pos"),
        col("dl"))

  /** A driver-side phrase batch as `(query_id, off, term, plen)` — one
    * row per phrase token with its 0-based offset within the phrase
    * (duplicated terms keep BOTH offsets: "table table" is two distinct
    * constraints) and the phrase length denormalized for the
    * completeness check. Offsets number the FILTERED token sequence
    * (empty phrase tokens are squeezed), matching how a user writes a
    * phrase, while document positions stay raw — the contract the
    * oracle replays. */
  def phraseQueryFrame(
      spark: SparkSession, phrases: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    phrases.flatMap { case (qid, text) =>
      val ts = text.split(" ").filter(_.nonEmpty)
      ts.zipWithIndex.map { case (t, i) => (qid, i, t, ts.length) }
    }.toDF("query_id", "off", "term", "plen")
  }

  /** Phrase occurrences: `(query_id, doc_id, start)` — one row per place
    * a phrase matches in full. `posts` must be positional `(term,
    * doc_id, pos)` rows already restricted (or restrictable by Catalyst)
    * to the phrase terms. Each matched posting votes for the start
    * position it would imply (`pos - off`); a start with ALL `plen`
    * distinct offsets present is an occurrence. COUNT(DISTINCT off) —
    * not COUNT(*) — because a term repeated in the phrase matches one
    * document position under several offsets.
    *
    * PAIRING CONTRACT: `pq` must be the [[phraseQueryFrame]] of the same
    * phrase batch `posts` was term-restricted for. The join is correct
    * on unrestricted postings too, but its broadcast-probe cost is then
    * the WHOLE positional table instead of the phrase terms' rows —
    * every in-repo caller routes through [[phraseTopK]]/[[phraseScreen]]/
    * [[phraseProbeM]]/[[phraseScreenGrownM]], which pair the two. */
  def phraseStarts(posts: DataFrame, pq: DataFrame): DataFrame =
    posts
      .join(broadcast(pq), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("start"), col("off"), col("plen"))
      // r21 (guide §2.4, subset rule): one repartition(query_id) serves
      // the per-start completeness aggregate here AND every downstream
      // consumer keyed on query_id (the per-doc frequency aggregate, the
      // bounded heap, the rank window) — the phrase tail collapses from
      // three exchanges to one, carrying the same candidate-sized
      // matched-posting rows. Integer counts, so results are identical.
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("__hits"),
        max(col("plen")).as("__plen"))
      .filter(col("__hits") === col("__plen"))
      .select(col("query_id"), col("doc_id"), col("start"))

  /** The shared ranking tail: occurrence counts → the standard
    * [[rankTopK]] tail (bounded heap, rank by score DESC / doc_id ASC)
    * over the integer frequency — nothing to round, the ordering
    * replays exactly in any engine. */
  private def phraseRank(occ: DataFrame, k: Int): DataFrame =
    rankTopK(
      phraseCounts(occ).withColumnRenamed("n_occ", "score"), k)
      .withColumnRenamed("score", "n_occ")

  /** Occurrences → per-(query, doc) phrase frequency. */
  private def phraseCounts(occ: DataFrame): DataFrame =
    occ.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))

  /** Phrase SCREEN — the policy/decontamination shape ("which docs
    * contain any of these banned/benchmark phrases, and how often"):
    * every matching `(query_id, doc_id, n_occ)` row, unranked and
    * unbounded (a screen wants ALL hits, not the top k). Shares the
    * occurrence core with [[phraseTopK]]; non-matching docs produce no
    * row (hits-only output — the contamination-probe precedent). */
  def phraseScreen(
      docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(Int, String)]): DataFrame = {
    val spark = docs.sparkSession
    val pq = phraseQueryFrame(spark, phrases)
    val posts = termFilter(
      positionalPostings(docs, idCol, textCol)
        .select(col("term"), col("doc_id"), col("pos")),
      pq, distinctPhraseTerms(phrases))
    phraseCounts(phraseStarts(posts, pq))
  }

  private def distinctPhraseTerms(phrases: Seq[(Int, String)]): Seq[String] =
    phrases.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct

  /** Inline phrase top-k over the lake: positional postings restricted to
    * the phrase vocabulary (pushed `term IN` under [[termFilter]]'s cap,
    * broadcast semi beyond), occurrence assembly, integer-rank top-k.
    * Scale shape: the corpus is scanned once for positional postings of
    * the PHRASE TERMS ONLY — the scan's explode output is filtered by the
    * pushed term predicate before any shuffle — then two candidate-sized
    * keyed aggregates (per-start completeness, per-doc frequency) and the
    * bounded-heap rank. Nothing is quadratic; a phrase of length L
    * contributes ≤ L rows per matched document position. */
  def phraseTopK(
      docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(Int, String)], k: Int): DataFrame = {
    val spark = docs.sparkSession
    val pq = phraseQueryFrame(spark, phrases)
    val posts = termFilter(
      positionalPostings(docs, idCol, textCol)
        .select(col("term"), col("doc_id"), col("pos")),
      pq, distinctPhraseTerms(phrases))
    phraseRank(phraseStarts(posts, pq), k)
  }

  // ---- Positional index under the atomic manifest protocol -------------
  //
  // The phrase/proximity serve path: positions persisted once,
  // term-clustered like the tf postings so a probe's pushed `term IN`
  // prunes row groups, published through the same build → append →
  // probe(→ pinned) manifest lifecycle as every other index family.
  // ~row-per-token storage (the honest cost of positional search —
  // Lucene pays the same), but a probe reads only the phrase terms'
  // rows. Three tables: `pos` (term, doc_id, pos, dl), `corpus`
  // (n_docs, sum_dl segment rows — phrase ranking is integer-only but
  // window-scored probes need the scalars, and they must travel with
  // the positions), `docs` (digest rows for exact append dedup).

  private val PosTable = "pos"

  /** Build the positional index at `root` under the manifest protocol. */
  def buildPosIndexM(
      docs: DataFrame, idCol: String, textCol: String, root: String): Long = {
    val spark = docs.sparkSession
    val pSeg = IndexManifest.newSegment(PosTable)
    writePosSegment(positionalPostings(docs, idCol, textCol), s"$root/$pSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    writeCorpusSeg(docs, textCol, s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    docDigests(docs, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root, Map(
      PosTable -> Seq(pSeg), CorpusTable -> Seq(cSeg),
      DocsTable -> Seq(dSeg)),
      meta = Map("family" -> "posidx"))
  }

  private def writePosSegment(pos: DataFrame, dir: String): Unit =
    pos
      .repartition(col("term"),
        pmod(hash(col("doc_id")), lit(PostingsSaltBuckets)))
      .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Append a delta corpus to a positional index — pure segment append
    * (positions of new docs only ADD rows; corpus scalars are segment
    * rows summed at probe time). Same disjoint-doc-ids contract and
    * `dedupAgainstIndex` escape hatch as [[appendIndexM]]; the dedup
    * anti-joins the slim digest table, exact for every doc shape. */
  def appendPosIndexM(
      delta: DataFrame, idCol: String, textCol: String, root: String,
      dedupAgainstIndex: Boolean = false,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = delta.sparkSession
    val snap = IndexManifest.snapshot(spark, root)
    val src =
      if (!dedupAgainstIndex) delta
      else delta.join(
        IndexManifest.readAt(spark, root, snap, DocsTable)
          .select(col("doc_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    val pSeg = IndexManifest.newSegment(PosTable)
    writePosSegment(positionalPostings(src, idCol, textCol), s"$root/$pSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    writeCorpusSeg(src, textCol, s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    docDigests(src, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root,
      snap.tables
        .updated(PosTable, snap.tables(PosTable) :+ pSeg)
        .updated(CorpusTable, snap.tables(CorpusTable) :+ cSeg)
        .updated(DocsTable, snap.tables(DocsTable) :+ dSeg),
      expect = Some(snap.version),
      meta = IndexManifest.stampAppendSegs(
        extraMeta, Seq(pSeg, cSeg, dSeg)))
  }

  /** Phrase top-k against a committed positional index: the stored `pos`
    * table restricted to the phrase vocabulary (pushed `term IN` on the
    * term-clustered files), then the same occurrence assembly and
    * integer rank as the inline path — never touches lake text. `at`
    * pins a committed version (release-pinned phrase replay). */
  def phraseProbeM(
      spark: SparkSession, root: String,
      phrases: Seq[(Int, String)], k: Int,
      at: Option[Long] = None): DataFrame = {
    val snap = at
      .map(v => IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(IndexManifest.snapshot(spark, root))
    val pq = phraseQueryFrame(spark, phrases)
    val posts = termFilter(
      IndexManifest.readAt(spark, root, snap, PosTable)
        .select(col("term"), col("doc_id"), col("pos")),
      pq, distinctPhraseTerms(phrases))
    phraseRank(phraseStarts(posts, pq), k)
  }

  /** Phrase SCREEN over a committed positional SNAPSHOT unioned with an
    * in-memory delta corpus — the growing-ingest probe: "which docs of
    * the accumulated corpus (the index as of the previous batch, plus
    * the arrivals in hand) contain any banned phrase, and how often".
    * Stored rows come pushed-`term IN` off the term-clustered segment
    * files (the filter pushes through the union); the delta's positions
    * derive in memory, BEFORE its append commits — so the screen a
    * batch emits already covers yesterday's arrivals without a nightly
    * rebuild, and a crashed batch's replay reconstructs the same view
    * from the walked-back snapshot. Per-batch cost: the phrase terms'
    * stored rows + the arrivals' own tokenize, never a corpus scan. */
  def phraseScreenGrownM(
      delta: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(Int, String)], root: String,
      snap: IndexManifest.Snapshot): DataFrame = {
    val spark = delta.sparkSession
    val pq = phraseQueryFrame(spark, phrases)
    val stored = IndexManifest.readAt(spark, root, snap, PosTable)
      .select(col("term"), col("doc_id"), col("pos"))
    val fresh = positionalPostings(delta, idCol, textCol)
      .select(col("term"), col("doc_id"), col("pos"))
    val posts = termFilter(stored.unionByName(fresh), pq,
      distinctPhraseTerms(phrases))
    phraseCounts(phraseStarts(posts, pq))
  }

  /** Compaction for the positional index — the append lifecycle's
    * closer (the [[compactIndexM]] shape): per-delta `pos` segments
    * re-cluster by term (restoring probe-side row-group pruning that
    * per-append files progressively lose), corpus segments fold to one
    * row, doc digests rewrite as one segment, all swapped in one atomic
    * manifest commit. Pure re-layout: probe-after ≡ probe-before
    * (spec-pinned). */
  def compactPosIndexM(spark: SparkSession, root: String): Long = {
    val snap = IndexManifest.snapshot(spark, root)
    val pSeg = IndexManifest.newSegment(PosTable)
    writePosSegment(
      IndexManifest.readAt(spark, root, snap, PosTable), s"$root/$pSeg")
    val cSeg = IndexManifest.newSegment(CorpusTable)
    IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$cSeg")
    val dSeg = IndexManifest.newSegment(DocsTable)
    IndexManifest.readAt(spark, root, snap, DocsTable)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$dSeg")
    IndexManifest.commit(spark, root,
      snap.tables
        .updated(PosTable, Seq(pSeg))
        .updated(CorpusTable, Seq(cSeg))
        .updated(DocsTable, Seq(dSeg)),
      expect = Some(snap.version))
  }

  // ---- Offline ranking evaluation ---------------------------------------

  /** Ranking-quality metrics — the offline eval harness a retrieval
    * stack runs on every change: recall@k, MRR@k, and nDCG@k of a
    * CANDIDATE ranking `(query_id, doc_id, rank)` against graded
    * reference JUDGMENTS `(query_id, doc_id, rel)` (rel > 0 =
    * relevant; higher = better). DCG uses the classic `rel / log2(rank
    * + 1)` gain (expressed as `ln/ln 2` so both engines compute the
    * identical correctly-rounded doubles); per-position terms round to
    * the 1e-6 grid and sum in decimal, each final metric rounds once —
    * bit-replayable. The output is JUDGMENT-driven: every query with at
    * least one judged-relevant doc gets a row — a query the ranker
    * returned nothing for (or nothing within k) scores 0/0/0, the
    * honest miss an averaged report must include. Only queries with NO
    * judged-relevant docs are absent (their metrics are undefined, not
    * zero — the caller decides).
    *
    * Scale shape: everything is result-sized — the candidate is
    * queries×k rows, judgments are queries×judged rows; the ideal-DCG
    * window partitions by query over the judgment rows only. Nothing
    * here touches a corpus. */
  def rankingMetrics(
      cand: DataFrame, judgments: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val log2 = (x: Column) => log(x) / log(lit(2.0))
    // judgments dedup to one row per (query, doc) — max rel wins (the
    // TREC multiple-assessor convention). Without it a duplicated
    // judgment row fans out the candidate left-join AND double-counts
    // __nrel/__idcg, so recall/ndcg could silently exceed 1.0.
    val j = judgments.select(col("query_id"), col("doc_id"), col("rel"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("rel")).as("rel"))
    val hits = cand.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"))
      .join(j, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("rel"), lit(0L)).as("rel"))
    val perQ = hits.groupBy(col("query_id")).agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("__hits"),
      min(when(col("rel") > 0, col("rank"))).as("__first"),
      sum(round(col("rel").cast("double") / log2(col("rank") + lit(1)), 6)
        .cast("decimal(38,10)")).as("__dcg"))
    val relOnly = j.filter(col("rel") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val ideal = relOnly
      .withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
      .groupBy(col("query_id"))
      .agg(sum(round(col("rel").cast("double") / log2(col("__r") + lit(1)), 6)
        .cast("decimal(38,10)")).as("__idcg"))
    val totals = relOnly.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__nrel"))
    // judgment-driven assembly: totals/ideal define the row set (both
    // derive from relOnly, so the inner join is total over it); the
    // candidate side joins LEFT — a query the ranker missed entirely
    // coalesces to the 0/0/0 row instead of vanishing
    totals.join(ideal, Seq("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("__nrel"), 6).as("recall"),
        when(col("__first").isNotNull,
          round(lit(1.0) / col("__first"), 6)).otherwise(lit(0.0))
          .as("mrr"),
        round(coalesce(col("__dcg"), lit(java.math.BigDecimal.ZERO))
          .cast("double") / col("__idcg").cast("double"), 6)
          .as("ndcg"))
  }

  // ---- Sequential dependence model (SDM) --------------------------------
  //
  // Metzler & Croft 2005: term order matters SOFTLY — blend the
  // bag-of-words score with scores for adjacent query-term pairs
  // appearing (a) exactly adjacent in order (#1 windows) and (b) both
  // within an unordered window (#uw8). The de-facto strong lexical
  // baseline in IR evaluation, here in its BM25 adaptation (each
  // component scored with [[contribExpr]], window counts as pseudo-term
  // tf, window document frequencies as pseudo-term df). Default weights
  // are the paper's (0.85, 0.10, 0.05).

  /** Distinct adjacent query-term pairs per query, in raw token order. */
  private def sdmPairs(queries: Seq[(Int, String)]): Seq[(Int, String, String)] =
    queries.flatMap { case (qid, text) =>
      val ts = text.split(" ").filter(_.nonEmpty)
      ts.zip(ts.drop(1)).distinct.map { case (a, b) => (qid, a, b) }
    }

  /** SDM top-k over the lake. Scale shape: the corpus is scanned ONCE
    * for positional postings of the query vocabulary (pushed `term IN`);
    * that candidate-sized frame is cached and feeds all three
    * components — the unigram tf/df aggregate and the two pair joins,
    * each an equi-join keyed (doc, pos[, term]) whose inputs are
    * query-term rows only, never the corpus. Window dfs are
    * queries×pairs-sized broadcasts. Per-component scores are the
    * round-6/decimal-sum discipline; the blend multiplies round-6
    * doubles by exact decimal weights and rounds ONCE, so the ranking
    * replays bit-for-bit in the oracle. A doc with a window hit
    * necessarily has both unigrams, so the blend left-joins the window
    * components onto the unigram frame (no full outer needed). */
  def sdmTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int, wUn: Int = 8,
      lambdaT: String = "0.85", lambdaO: String = "0.10",
      lambdaU: String = "0.05"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queryTerms(spark, queries)
    val pairFrame = sdmPairs(queries).toDF("query_id", "ta", "tb")
    val (n, sumDl) = corpusStats(docs, textCol)
    // r21 (guide §2.4): the candidate positional frame is MATERIALIZED
    // once (eager localCheckpoint) instead of lazily cached — every
    // component's AQE stage chain then starts from the tiny
    // materialized RDD rather than re-deriving (and re-optimizing) the
    // corpus tokenize lineage per stage, which is where ~2/3 of the r20
    // query's 40 jobs came from. Candidate-sized by the pushed term
    // restriction; blocks are released by the harness-global unpersist
    // (the [[nbClassify]] lifecycle note).
    val pp = termFilter(
      positionalPostings(docs, idCol, textCol),
      qt, distinctTerms(queries)).localCheckpoint()
    rankTopK(
      sdmScored(pp, qt, pairFrame, n, sumDl, wUn,
        lambdaT, lambdaO, lambdaU),
      k)
  }

  /** SDM top-k against a committed positional index — the steady-state
    * serve path: stored positions restricted to the query vocabulary
    * (pushed `term IN` on the term-clustered files), corpus scalars
    * summed from the segment rows of the SAME snapshot (idf/avgdl grow
    * transactionally with the positions), then the shared three-component
    * scoring — never touches lake text. `at` pins a committed version. */
  def sdmProbeM(
      spark: SparkSession, root: String,
      queries: Seq[(Int, String)], k: Int,
      at: Option[Long] = None, wUn: Int = 8,
      lambdaT: String = "0.85", lambdaO: String = "0.10",
      lambdaU: String = "0.05"): DataFrame = {
    import spark.implicits._
    val snap = at
      .map(v => IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(IndexManifest.snapshot(spark, root))
    val qt = queryTerms(spark, queries)
    val pairFrame = sdmPairs(queries).toDF("query_id", "ta", "tb")
    val c = IndexManifest.readAt(spark, root, snap, CorpusTable)
      .agg(sum(col("n_docs")).cast("long"), sum(col("sum_dl")).cast("long"))
      .head()
    val (n, sumDl) = (c.getLong(0), c.getLong(1))
    // r21: eager localCheckpoint for the same stage-chain reason as
    // [[sdmTopK]] (the stored positional scan is already term-pruned)
    val pp = termFilter(
      IndexManifest.readAt(spark, root, snap, PosTable),
      qt, distinctTerms(queries)).localCheckpoint()
    rankTopK(
      sdmScored(pp, qt, pairFrame, n, sumDl, wUn,
        lambdaT, lambdaO, lambdaU),
      k)
  }

  /** The LAZY SDM scoring plan over an already-cached positional-postings
    * frame — split out (the [[rm3Inline]] precedent) so plan audits can
    * inspect the shape the materializing wrapper hides: the one cached
    * scan feeds all three components, pair dfs broadcast, no cartesian. */
  private[graft] def sdmScored(
      pp: DataFrame, qt: DataFrame, pairFrame: DataFrame,
      n: Long, sumDl: Long, wUn: Int,
      lambdaT: String, lambdaO: String, lambdaU: String): DataFrame = {
    val contrib = contribExpr(n, sumDl)
    // unigram component — plain BM25 over tf postings derived from
    // the cached positional rows (one less corpus scan)
    val tfPosts = pp.groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tfPosts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // (query_id, doc_id) partitioning: the blend's left joins then
    // co-partition on their exact key set (Spark 4 requires ALL cluster
    // keys for join co-partitioning) — zero blend exchanges, as r20
    val sT = bm25ScoredPart(tfPosts, dfT, qt, n, sumDl,
        Seq(col("query_id"), col("doc_id")))
      .withColumnRenamed("score", "s_t")

    // pair sides: `a` carries the left term + its dl, `b` the right
    val aSide = pp
      .join(broadcast(pairFrame), pp("term") === pairFrame("ta"))
      .select(col("query_id"), col("ta"), col("tb"), col("doc_id"),
        col("pos").as("pa"), col("dl"))
    val bSide = pp.select(col("term").as("tb2"),
      col("doc_id").as("doc_b"), col("pos").as("pb"))

    def pairComponent(hits: DataFrame, outCol: String): DataFrame = {
      // r21 (guide §2.4, subset rule): ONE repartition on (query_id,
      // doc_id) feeds the window-tf aggregate (subset of its 5 keys),
      // the per-doc component sum, and the blend join (exact key set —
      // Spark 4's co-partitioning requires all cluster keys) — the r20
      // shape paid a 5-key exchange plus a component-sum exchange per
      // pair component. The window-df aggregate keeps its own tiny
      // exchange on the broadcast side. Counts and decimal sums are
      // order-exact, so scores are unchanged.
      val tfW = hits
        .select(col("query_id"), col("ta"), col("tb"), col("doc_id"),
          col("dl"))
        .repartition(col("query_id"), col("doc_id"))
        .groupBy(col("query_id"), col("ta"), col("tb"), col("doc_id"),
          col("dl"))
        .agg(count(lit(1)).as("tf"))
      val dfW = tfW.groupBy(col("query_id"), col("ta"), col("tb"))
        .agg(count(lit(1)).as("df"))
      tfW.join(broadcast(dfW), Seq("query_id", "ta", "tb"))
        .select(col("query_id"), col("doc_id"),
          contrib.cast("decimal(38,10)").as("w"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(round(sum(col("w")).cast("double"), 6).as(outCol))
    }

    // ordered: exactly adjacent, in order (#1 windows). pa+1 = pb is an
    // EQUALITY, so Catalyst hashes on (doc, term, pa+1) — linear.
    val sO = pairComponent(
      aSide.join(bSide,
        aSide("doc_id") === bSide("doc_b") &&
          bSide("tb2") === aSide("tb") &&
          bSide("pb") === aSide("pa") + 1), "s_o")
    // unordered: both terms within wUn positions, any order (#uwN)
    val sU = pairComponent(
      unorderedPairHits(aSide, bSide, wUn), "s_u")

    val blend = round(
      col("s_t").cast("decimal(18,9)") *
        lit(new java.math.BigDecimal(lambdaT)) +
        coalesce(col("s_o"), lit(0.0)).cast("decimal(18,9)") *
          lit(new java.math.BigDecimal(lambdaO)) +
        coalesce(col("s_u"), lit(0.0)).cast("decimal(18,9)") *
          lit(new java.math.BigDecimal(lambdaU)), 6).cast("double")
    sT
      .join(sO, Seq("query_id", "doc_id"), "left")
      .join(sU, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), blend.as("score"))
  }

  /** The #uwN hit pairs via WIDTH-`wUn` POSITION BINS — the RangeJoin /
    * two-level-Jaccard discipline applied to the unordered window. The
    * naive shape equi-joins only on (doc, pair) and filters
    * `|pb − pa| < wUn` AFTER the hash join, so a term occurring m times
    * in one document materializes m² join rows pre-filter — occ² per
    * (doc, pair), the 100 TB cliff on any stopword-bearing query. Here
    * every position maps to its canonical bin `pos div wUn`; a partner
    * within the window is necessarily in the SAME bin or an ADJACENT
    * one, so the a-side emits its three candidate bins (bin−1, bin,
    * bin+1 — a constant ×3, never ×occ) and the join hashes on
    * (doc, pair-term, bin). The window predicate stays as the RESIDUAL
    * on the bin-matched rows. Each true (pa, pb) pair survives EXACTLY
    * once — pb has one canonical bin, matched by exactly one of the
    * three emitted a-rows — so the hit multiset is identical to the
    * naive join's (spec-pinned in [[graft.RetrievalSpec]] against a
    * brute-force reference). A repeated-term pair (ta = tb) counts each
    * unordered position pair once via the pb > pa half-window. */
  private[graft] def unorderedPairHits(
      aSide: DataFrame, bSide: DataFrame, wUn: Int): DataFrame = {
    // wUn = 1 is degenerate-but-valid (|pb - pa| < 1 matches nothing →
    // an empty component the blend coalesces to 0) and was accepted by
    // the pre-binning join — the public sdmTopK/sdmProbeM contract must
    // not narrow under a refactor
    require(wUn >= 1, s"wUn=$wUn must be positive")
    val aBinned = aSide.withColumn("__bin",
      explode(array(Seq(-1, 0, 1).map(d =>
        floor(col("pa") / lit(wUn)).cast("long") + lit(d.toLong)): _*)))
    val bBinned = bSide.withColumn("__binb",
      floor(col("pb") / lit(wUn)).cast("long"))
    aBinned.join(bBinned,
      aBinned("doc_id") === bBinned("doc_b") &&
        bBinned("tb2") === aBinned("tb") &&
        bBinned("__binb") === aBinned("__bin") &&
        (when(aBinned("ta") === aBinned("tb"),
          bBinned("pb") > aBinned("pa") &&
            bBinned("pb") - aBinned("pa") < wUn)
          .otherwise(bBinned("pb") =!= aBinned("pa") &&
            abs(bBinned("pb") - aBinned("pa")) < wUn)))
  }
}
