package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators (north-star; absent from the
  * reference): benchmark-contamination checking, deterministic stratified
  * splits, and token-budget sequence packing. Everything is md5-keyed and
  * Column algebra so the DuckDB oracle reproduces results exactly, and
  * every shape is chosen for the 100 TB case: the benchmark side of the
  * contamination join broadcasts (eval sets are small by construction),
  * splits are stateless per-row hashing, and packing partitions by an
  * explicit shard column so no global sort ever exists.
  */
object Curation {

  /** 60-bit md5 digest — the one deterministic hash primitive every
    * curation decision derives from. ONE definition repo-wide:
    * delegates to [[TextAnalysis.tokenHash60]] (same oracle twin,
    * `('0x' || substr(md5(x), 1, 15))::bigint`) so a future migration
    * of the primitive — e.g. to the native Digest60 kernel — cannot
    * silently move one module and not the other. */
  private[operators] def digest60(c: Column): Column =
    TextAnalysis.tokenHash60(c)

  /** Salted content-hash bucket in [0, buckets); distinct salts make
    * decisions independent (split vs mix). */
  private def hashBucket(text: Column, salt: String, buckets: Int): Column =
    digest60(concat(lit(salt), text)) % buckets

  /** Decontamination: fraction of each corpus document's distinct n-gram
    * shingles that appear in the benchmark shingle set (the industry-
    * standard n-gram-overlap contamination test for held-out evals).
    *
    * `corpusShingles`/`benchShingles`: (id, shingle) pairs, as produced by
    * [[Dedup.explodedShingles]]. The benchmark's DISTINCT shingle set is
    * broadcast with a marker column — an eval suite is a few thousand
    * documents against a 100 TB corpus, so the corpus is read ONCE and
    * shuffles once: broadcast left join, then a single groupBy(doc)
    * computing total and matched together with map-side partials. Both
    * sides join on a 60-bit md5 digest of the shingle, not the text —
    * the broadcast table carries 8-byte longs instead of n-gram strings
    * (a 5-10× smaller build side; a 2^-60 collision inflates one doc's
    * overlap marginally and identically in the oracle).
    */
  def contamination(
      corpusShingles: DataFrame,
      benchShingles: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val bench = broadcast(
      benchShingles.select(digest60(col("shingle")).as("__sh")).distinct()
        .withColumn("__hit", lit(1)))
    corpusShingles
      .withColumn("__sh", digest60(col("shingle")))
      .join(bench, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("total"), count(col("__hit")).as("matched"))
      .select(
        col(idCol),
        round(col("matched").cast("double") / col("total"), 4).as("overlap"),
        (col("matched").cast("double") / col("total") >= threshold)
          .as("contaminated"))
  }

  /** The benchmark side of [[contamination]] as a standalone digest set —
    * distinct 60-bit shingle digests, the broadcast-small-by-contract
    * frame an ingest-time probe joins against. */
  def benchDigests(
      bench: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    Dedup.explodedShingles(bench, textCol, idCol, n)
      .select(digest60(col("shingle")).as("__sh")).distinct()

  /** The IN-STREAM half of [[contamination]] — decontamination AT INGEST:
    * each arriving document's distinct shingle set is computed IN-ROW
    * (one stateless projection — no shuffle, no stream state), exploded,
    * and inner-joined against the broadcast benchmark digest set, so only
    * HIT rows (doc, total-shingles, matched digest) ever reach the sink.
    * Fold the collected hits with [[contaminationFromHits]]; documents
    * with zero hits never leave the executor, which is exactly the
    * report-only-overlapping-docs contract of the batch query. Shingle
    * semantics mirror [[Dedup.explodedShingles]]: per-doc DISTINCT
    * n-token windows, whole-text fallback under n tokens. */
  def contaminationHits(
      arrivals: DataFrame, benchDigestSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val sh = array_distinct(Dedup.shingles(toks, col(textCol), n))
    arrivals
      .select(col(idCol), size(sh).as("total"), explode(sh).as("__shs"))
      .select(col(idCol), col("total"), digest60(col("__shs")).as("__sh"))
      .join(broadcast(benchDigestSet.select(col("__sh"))), Seq("__sh"))
  }

  /** Fold [[contaminationHits]] output (result-sized: hit rows only) to
    * the per-doc contamination report — same arithmetic as the batch
    * [[contamination]] tail, with docs whose rounded overlap is zero
    * dropped (they are unreportable in the hits-only stream shape). */
  def contaminationFromHits(
      hits: DataFrame, idCol: String, threshold: Double): DataFrame =
    hits.groupBy(col(idCol))
      .agg(first(col("total")).as("__t"), count(lit(1)).as("__m"))
      .select(
        col(idCol),
        round(col("__m").cast("double") / col("__t"), 4).as("overlap"),
        (col("__m").cast("double") / col("__t") >= threshold)
          .as("contaminated"))
      .filter(col("overlap") > 0)

  /** Deterministic stratified train/val/test assignment: a content hash
    * (never a row number, never rand() — assignment must survive
    * re-partitioning, re-runs, and corpus growth, the SPARK-23207 class
    * of bugs) buckets each document into [0,100); `trainPct` → train,
    * next `valPct` → val, rest → test. Stateless per-row math: zero
    * shuffle, scales linearly, and a document keeps its split for life
    * (the property that prevents train/test leakage across corpus
    * versions). */
  def assignSplit(text: Column, trainPct: Int, valPct: Int): Column = {
    val bucket = hashBucket(text, "split:", 100)
    // NULL text PROPAGATES (split = NULL): the null hash bucket used to
    // make both when() tests null and fall through to otherwise("test"),
    // silently routing 100% of NULL-text docs into the held-out split —
    // the one place a degenerate doc biases evaluation. The caller
    // decides what a NULL split means; this function never classifies
    // content it cannot hash.
    when(text.isNull, lit(null).cast("string"))
      .when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic domain-mixture resampling: keep a document iff its
    * content-hash bucket (out of 10 000) falls below its domain's target
    * keep-rate — the data-recipe knob ("web at 30%, books at 100%")
    * implemented as stateless per-row math. No shuffle, no count
    * pre-pass, no rand(): the same document survives or dies identically
    * on every run, every partitioning, and every corpus version, and the
    * decision composes with [[assignSplit]] (independent salts). */
  def domainMix(
      text: Column,
      domain: Column,
      rates: Map[String, Double],
      defaultRate: Double): Column = {
    val bucket = hashBucket(text, "mix:", 10000)
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (d, r)) =>
      when(domain === d, lit(r)).otherwise(acc)
    }
    bucket < rate * 10000
  }

  /** Temperature-scaled domain mixture — the α-reweighting the published
    * multilingual / multi-source training recipes use (sampling weight
    * w_d ∝ n_d^α with α < 1 upsamples small domains relative to their
    * natural share; α here is fixed at 1/2). Per-domain keep rate
    * r_d = w_d · T / n_d for a target corpus size T = N·num/den, applied
    * as the same stateless salted-hash bucket decision as [[domainMix]] —
    * no rand(), identical keeps across runs / partitionings / retries.
    *
    * Bit-determinism contract: the weight is the INTEGER floor(√n_d)
    * (IEEE sqrt is correctly rounded and n_d is exact, so the floor is
    * engine-independent), the target is the integer (N·num) div den, and
    * the keep test is pure integer cross-multiplication in decimal(38,0)
    * — bucket·S·n_d < s_d·T·10000 — so no float rounding can flip a
    * decision at any scale (hugeint in the DuckDB twin).
    *
    * Scale shape: one tiny per-domain count aggregate (domains are
    * enumerable by contract), totals via a window over that tiny frame,
    * broadcast back onto the corpus; the corpus itself is a single
    * filtered pass — no shuffle of data rows. */
  def temperatureMix(
      df: DataFrame, textCol: String, domainCol: String,
      targetNum: Int, targetDen: Int,
      salt: String = "tmix:"): DataFrame = {
    require(targetNum > 0 && targetDen > 0 && targetNum <= targetDen,
      s"target fraction $targetNum/$targetDen must be in (0, 1]")
    // note: Spark resolves column names case-insensitively by default, so
    // the per-domain weight and its total need distinct spellings
    //
    // NULL-domain rows are excluded BEFORE weighting, not just by the
    // join: the null-rejecting equi-join below already dropped them from
    // the output, but they still counted into __wsum and __target,
    // silently deflating every real domain's keep rate. A row that can
    // never be kept must not shape the budget either.
    val in = df.filter(col(domainCol).isNotNull)
    val all = Window.partitionBy(lit(0)).rowsBetween(Long.MinValue, Long.MaxValue)
    val weights = in.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n"))).cast("long"))
      .withColumn("__wsum", sum(col("__w")).over(all))
      .withColumn("__target",
        expr(s"(sum(__n) over (partition by 0) * $targetNum) div $targetDen"))
    val bucket = hashBucket(col(textCol), salt, 10000)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    in.join(broadcast(weights), col(domainCol) === col("__dom"))
      .filter(dec(bucket) * dec(col("__wsum")) * dec(col("__n"))
        < dec(col("__w")) * dec(col("__target")) * lit(BigDecimal(10000)))
      .drop("__dom", "__n", "__w", "__wsum", "__target")
  }

  /** DSIR-style importance weighting (the published hashed-n-gram
    * importance-resampling recipe for matching a pretraining pool to a
    * target distribution — Xie et al. 2023): score each RAW-pool
    * document by how much more likely its hashed-unigram bag is under
    * the TARGET corpus's bucket distribution than under the raw pool's
    * own. Tokens hash through the shared 60-bit digest into `buckets`
    * cells; both pools' cell histograms get add-one smoothing; a
    * document's log-weight is Σ_b n_db · (ln p̂_target[b] − ln
    * p̂_raw[b]), rounded to 6 decimals (the repo's cross-engine float
    * contract, same as tf·idf and BM25).
    *
    * Scale shape: one aggregate over the token stream produces the
    * B-row histogram (map-side partials; B is a few hundred), totals
    * via a window over that tiny frame, and the per-document score is
    * integer-exact bucket counts broadcast-joined to the B-row
    * log-ratio table — the corpus shuffles only its (doc, bucket)
    * count pairs, never text, and nothing global exists beyond the
    * B-row frame. Returns (id, n_toks, logweight) for raw-pool docs.
    *
    * `isTarget` marks the rows whose distribution is the goal (an
    * in-corpus quality slice, a curated reference set); target rows are
    * scored-against, not scored. */
  /** The B-row smoothed log-ratio table both DSIR paths derive from:
    * (bucket, ln p̂_target[b] − ln p̂_raw[b]) with add-one smoothing
    * over both pools' hashed-unigram histograms. One aggregate over the
    * token stream (map-side partials), totals via a window over the
    * B-row frame. Buckets no token hashed into are absent — a batch
    * scorer never reaches them (any scored token implies rc ≥ 1), and
    * the streaming scorer substitutes the unseen-bucket smoothing
    * floor ([[importanceUnseenFloor]]). */
  def importanceLogRatios(
      df: DataFrame, textCol: String, isTarget: Column,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    lrFromHistogram(
      df.select(isTarget.as("__t"),
          explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
        .filter(col("__tok") =!= "")
        .select(col("__t"),
          pmod(TextAnalysis.tokenHash60Native(col("__tok")),
            lit(buckets.toLong)).cast("int").as("__b"))
        .groupBy("__b")
        .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"),
          sum(when(col("__t"), 0L).otherwise(1L)).as("__rc")),
      buckets)
  }

  /** The smoothing/log-ratio tail over a (__b, __tc, __rc) histogram —
    * one formula shared by the token-stream path and the
    * pre-counted-doc-buckets path so the arithmetic cannot diverge. */
  private def lrFromHistogram(hist: DataFrame, buckets: Int): DataFrame = {
    val all = Window.partitionBy(lit(0)).rowsBetween(Long.MinValue, Long.MaxValue)
    hist
      .withColumn("__tt", sum(col("__tc")).over(all))
      .withColumn("__rt", sum(col("__rc")).over(all))
      .select(col("__b"),
        (log((col("__tc") + 1).cast("double") /
            (col("__tt") + buckets).cast("double")) -
          log((col("__rc") + 1).cast("double") /
            (col("__rt") + buckets).cast("double"))).as("__lr"),
        col("__tt"), col("__rt"))
  }

  /** The log-ratio a bucket with zero observations in BOTH pools gets
    * under the same add-one smoothing — what the streaming scorer uses
    * for tokens whose bucket the reference histograms never saw. */
  def importanceUnseenFloor(tt: Long, rt: Long, buckets: Int): Double =
    math.log(1.0 / (tt + buckets)) - math.log(1.0 / (rt + buckets))

  /** NOTE on the internal cache: the per-(doc,pool,bucket) count frame
    * persists (lazily, evictable) and CANNOT be unpersisted here — the
    * returned per-doc weight frame is potentially corpus-sized and
    * lazy, so the cache must outlive this call. Batch/registry paths
    * are covered by the harness-global unpersist after each query; a
    * LONG-LIVED service calling this repeatedly should materialize the
    * result and then `spark.sparkContext.getPersistentRDDs.values
    * .foreach(_.unpersist())` (or prefer [[importanceResample]], which
    * cleans up after itself). */
  def importanceWeights(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame =
    importanceWeightsCached(df, idCol, textCol, isTarget, buckets)._1

  /** [[importanceWeights]] plus the cache HANDLE, so a caller that
    * materializes eagerly can release the token-count blocks in a
    * finally instead of leaking them for the session's lifetime. */
  private def importanceWeightsCached(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): (DataFrame, DataFrame) = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    // ONE tokenize+hash pass: the token stream collapses to per-
    // (doc, pool, bucket) integer counts in a single map-side-combined
    // aggregate, the frame CACHES (lazily — docs × ≤B rows, orders of
    // magnitude under the token stream; evictable blocks, and no eager
    // job on construction the way a localCheckpoint would run one),
    // and BOTH consumers read it: the B-row histogram re-aggregates
    // the counts (integer sums — identical to counting tokens
    // directly), and the per-doc weights are the raw-pool slice joined
    // to the broadcast log-ratio table. The earlier shape re-ran the
    // full corpus tokenize inside importanceLogRatios — the heaviest
    // stage, paid twice.
    val docBuckets = graft.Tables.widenScan(df)
      .select(col(idCol), isTarget.as("__t"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .select(col(idCol), col("__t"),
        pmod(TextAnalysis.tokenHash60Native(col("__tok")),
          lit(buckets.toLong)).cast("int").as("__b"))
      .groupBy(col(idCol), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val lr = lrFromHistogram(
      docBuckets.groupBy("__b")
        .agg(sum(when(col("__t"), col("__n")).otherwise(0L)).as("__tc"),
          sum(when(col("__t"), lit(0L)).otherwise(col("__n"))).as("__rc")),
      buckets).select("__b", "__lr")
    val w = docBuckets.filter(!col("__t"))
      .join(broadcast(lr), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).cast("long").as("n_toks"),
        round(sum(col("__n") * col("__lr")), 6).as("logweight"))
    (w, docBuckets)
  }

  /** Stateless per-row DSIR scorer — the INGEST shape of
    * [[importanceWeights]]: the B-row log-ratio table collapses to a
    * literal map keyed by bucket, and each document's (n_toks,
    * logweight) is a fold over its own token array — no explode, no
    * shuffle, no state, so the scorer rides a streaming micro-batch
    * like the quality gate and scales as a pure map over a 100 TB
    * scan. Tokens whose bucket the reference histograms never saw
    * score the unseen-bucket smoothing floor
    * ([[importanceUnseenFloor]]) — new data may hash where the
    * reference corpus had nothing. Rounds to the batch twin's 6
    * decimals. */
  def importanceScore(
      text: Column, lr: Map[Int, Double], unseenFloor: Double,
      buckets: Int): (Column, Column) = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    val toks = filter(TextAnalysis.tokens(text), t => t =!= "")
    val lrMap = map(lr.toSeq.sortBy(_._1).flatMap { case (b, v) =>
      Seq(lit(b), lit(v)) }: _*)
    val bkts = transform(toks, t =>
      pmod(TextAnalysis.tokenHash60Native(t), lit(buckets.toLong)).cast("int"))
    val w = aggregate(bkts, lit(0.0),
      (acc, b) => acc + coalesce(element_at(lrMap, b), lit(unseenFloor)))
    (size(toks).cast("long"), round(w, 6))
  }

  /** The RESAMPLING step over [[importanceWeights]]: draw `k` raw-pool
    * documents without replacement with probability ∝ softmax of their
    * log-weights, via the Gumbel-top-k trick (perturb each log-weight
    * with an independent Gumbel noise term and take the k largest —
    * the published equivalence for sampling-without-replacement). The
    * Gumbel draw is salted-content-hash-derived like every curation
    * draw here — u = (bucket + ½)/10⁴, g = −ln(−ln u) — never
    * `rand()`: the sample is identical across re-runs, partitionings,
    * and retries, and a fresh salt is a fresh draw. Ranking uses the
    * 6-decimal-rounded key with the id as tiebreak, so the kept SET is
    * engine-stable. Top-k runs on the bounded-heap operator — one
    * exchange of k rows, no global sort. */
  def importanceResample(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int, k: Int,
      salt: String = "dsir:"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val (w, cache) = importanceWeightsCached(df, idCol, textCol, isTarget, buckets)
    try {
      val u = (hashBucket(col(textCol), salt, 10000).cast("double") + 0.5) / 10000.0
      val keyed = w.join(df.select(col(idCol), col(textCol)), Seq(idCol))
        .withColumn("sample_key",
          round(col("logweight") - log(-log(u)), 6))
        .select(col(idCol), col("n_toks"), col("logweight"), col("sample_key"))
      val order = Seq(col("sample_key").desc, col(idCol).asc)
      // k rows: materialize eagerly so the token-count cache releases
      // in the finally instead of leaking for the session's lifetime
      TopK.perKey(keyed.withColumn("__g", lit(0)), Seq("__g"), order, k)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("__g")).orderBy(order: _*)))
        .drop("__g")
        .localCheckpoint(true)
    } finally cache.unpersist()
  }

  /** Quality-proportional stochastic keep — the "soft filter" between
    * hard thresholding (which cliffs at the cutoff) and keeping
    * everything: each document survives with probability equal to its
    * quality score (any Column in [0, 1], e.g.
    * [[TextAnalysis.qualityScore]]), decided by the same salted
    * content-hash bucket as every curation draw here — deterministic
    * across runs / partitionings / retries, a fresh salt is a fresh
    * draw, and high-quality docs are kept near-surely while low-quality
    * docs still contribute a diversity floor instead of vanishing.
    * Stateless per-row math; no shuffle, no count pre-pass. */
  def qualitySample(
      df: DataFrame, textCol: String, quality: Column,
      salt: String = "qs:"): DataFrame =
    df.filter(hashBucket(col(textCol), salt, 10000) < quality * 10000)

  /** Deterministic k-per-stratum sample (domain caps, eval-set draws,
    * "inspect 100 random docs per source"): rank each stratum's rows by a
    * salted id digest — a content-independent pseudo-uniform order — and
    * keep the first `k`, via the bounded-heap top-k operator
    * ([[TopK.perKey]]): one exchange of strata×k rows, per-key heaps, no
    * per-stratum sort of the full corpus anywhere. Like every curation
    * decision here the draw is hash-derived, never `rand()`: the sample
    * is identical across re-runs, re-partitioning, and task retries, and
    * a new salt is a fresh independent draw. Appends `sample_rank`
    * (1-based position in the stratum's draw order). */
  def sampleKPerKey(
      df: DataFrame, keyCol: String, idCol: String, k: Int,
      salt: String = "sample:"): DataFrame = {
    require(!df.columns.contains("__rnd"), "input must not contain reserved column '__rnd'")
    val order = Seq(col("__rnd").asc, col(idCol).asc)
    val tagged = df.withColumn("__rnd",
      digest60(concat(lit(salt), col(idCol).cast("string"))))
    TopK.perKey(tagged, Seq(keyCol), order, k)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(order: _*)))
      .drop("__rnd")
  }

  /** Deterministic seeded EXPORT SHUFFLE — the publish step of a training
    * pipeline: every document is assigned a shard and a within-shard
    * position from a salted id digest, so the exported order is (a)
    * pseudo-random — adjacent corpus documents (same crawl, same domain,
    * same dump file) decorrelate, the property packed-sequence training
    * needs — and (b) REPRODUCIBLE: identical across re-runs, retries, and
    * cluster sizes, because it derives from data, never from `rand()` or
    * partition layout. A new seed is a fresh independent permutation.
    *
    * Scale shape: shard assignment is stateless per-row hashing; the
    * within-shard `seq` is one rank window per shard — embarrassingly
    * parallel across shards, each shard's sort external and bounded by
    * corpus/shards, and NO global sort exists (the single-reducer
    * orderBy this operator family always avoids). Returns (id, shard,
    * seq) — the manifest a writer consumes to emit shard files in final
    * order. */
  def seededShuffle(
      df: DataFrame, idCol: String, shards: Int,
      seed: String = "export:"): DataFrame = {
    require(shards > 0, s"shards=$shards must be positive")
    val rnd = digest60(concat(lit(seed), col(idCol).cast("string")))
    df.select(col(idCol), rnd.as("__rnd"))
      .withColumn("shard", pmod(col("__rnd"), lit(shards.toLong)).cast("int"))
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__rnd"), col(idCol))))
      .select(col(idCol), col("shard"), col("seq"))
  }

  /** GPT-style sequence packing: within each shard (`idCol % shards`),
    * documents are concatenated in id order into one token stream that is
    * cut into fixed `budget`-token training sequences; a document is
    * attributed to the sequence containing its FIRST token (documents
    * spill across sequence boundaries, exactly as in packed-sequence
    * pretraining). The window is per-shard — packing is embarrassingly
    * parallel and sequences never cross shards, so there is NO global
    * sort (a single orderBy window over 100 TB is the exact
    * single-reducer shape the similarity/dedup operators eliminated).
    * Returns (id, shard, bin) where bin is the shard-local sequence
    * index. */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Int,
      shards: Int): DataFrame = {
    // pmod, not %: a negative id (signed 60-bit hashes are ids elsewhere
    // in this repo) under % yields a NEGATIVE shard, doubling the shard
    // census and misrouting writers keyed [0, shards) — seededShuffle
    // already uses pmod for exactly this
    val shard = pmod(col(idCol), lit(shards)).cast("int").as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(tokensCol), shard)
      .withColumn("cum", sum(col(tokensCol)).over(w))
      // start position of this doc in the shard's token stream
      .withColumn("bin", ((col("cum") - col(tokensCol)) / lit(budget)).cast("long"))
      .select(col(idCol), col("shard"), col("bin"))
  }

  /** CCNet-style LM-fluency bucketing (Wenzek et al. 2020): score every
    * document against the corpus's own bigram LM
    * ([[TextAnalysis.bigramFluency]] — higher = more fluent, the
    * in-repo analog of lower KenLM perplexity), cut the scored corpus
    * into `buckets` equal-frequency tiers, and keep everything at or
    * above `keepFrom` (CCNet's recipe: 3 tiers, drop the tail). The
    * tiers come from [[Binning.quantileBins]] — ONE pass of mergeable
    * percentile sketches + a broadcast edge row + stateless codegen'd
    * assignment — never an `ntile` window, whose single global sort is
    * exactly the 100 TB cliff this module exists to avoid. Docs the LM
    * cannot score (no bigrams: empty/one-token/NULL text) are absent
    * from the output, like the fluency frame itself — the caller
    * decides their fate, the bucketing never invents a score.
    * Bucket semantics inherit the Binning contract: equal fluency
    * values always land in the same bucket (edges compare by value),
    * stable under re-partitioning. */
  def perplexityBuckets(
      df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 3, keepFrom: Int = 2): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets needs at least 2 tiers")
    require(keepFrom >= 1 && keepFrom <= buckets,
      s"keepFrom=$keepFrom must be a bucket index in [1, $buckets]")
    val fluency = TextAnalysis.bigramFluency(df, idCol, textCol)
      .withColumn("__stratum", lit(1))
    Binning.quantileBins(fluency, "fluency_micro", "__stratum", buckets,
        binCol = "bucket")
      .select(col(idCol), col("fluency_micro"), col("bucket"),
        (col("bucket") >= keepFrom).as("kept"))
  }

  /** SSL-prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws"; the second half of the D4 recipe, Tirumala et al. 2023, whose
    * SemDeDup half is [[Dedup.semDedup]]): k-means-partition the embedding
    * space, score every example by PROTOTYPICALITY — cosine to its own
    * cluster centroid — and drop the most prototypical `dropNum/dropDen`
    * fraction of each cluster, keeping the atypical examples that carry
    * the marginal information (the paper's keep-hard-examples policy for
    * large, non-noisy corpora).
    *
    * Exact rule, deterministic and oracle-replayable: within each cluster
    * rank by (round-6 centroid cosine DESC, id ASC) — rank 1 is the most
    * prototypical — and a row is DROPPED iff
    * `proto_rank * dropDen <= n_cluster * dropNum` (all-integer: the
    * per-cluster drop count is exactly `floor(n·dropNum/dropDen)`, no
    * float fraction ever compared).
    *
    * Scale shape: centroid assignment and the winner's cosine are one
    * zero-shuffle struct-kernel projection
    * ([[Similarity.assignClustersWithSim]]); per-cluster sizes ride a
    * second window over the rank window's partitioning. The one
    * corpus-keyed exchange is the windows' shared hash partition on
    * cluster — linear, and the window buffer spills per group, so a
    * large cluster degrades to disk sort rather than OOM. The paper's
    * own recipe sizes K ∝ N (clusters ~constant); a boilerplate monster
    * cluster is [[Dedup.semDedup]]'s `maxCluster` cap's job upstream in
    * the D4 composition. NULL vectors have no cluster and are dropped
    * ([[Similarity.assignClustersWithSim]]'s contract, matching
    * [[Dedup.semDedup]]).
    *
    * Output: (id, cluster, centroid_sim, proto_rank, keep) — one row per
    * assigned input row, `keep = false` marking the pruned prototypes. */
  def prototypePrune(
      emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      dropNum: Int, dropDen: Int): DataFrame = {
    val assigned = Similarity.assignClustersWithSim(
        emb.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col("cluster"), col("centroid_sim"))
    prototypePruneAssigned(assigned, idCol, dropNum, dropDen)
  }

  /** The prune over an ALREADY-ASSIGNED frame `(idCol, cluster,
    * centroid_sim)` — the D4 composition point: [[Dedup.semDedup]]'s
    * survivors carry exactly these columns, so stage 2 of D4 runs with
    * zero additional corpus work beyond the rank window (no re-assignment,
    * no vector re-join). Shared core of [[prototypePrune]]. */
  def prototypePruneAssigned(
      assigned: DataFrame, idCol: String, dropNum: Int, dropDen: Int): DataFrame = {
    require(dropNum >= 0 && dropDen > 0 && dropNum <= dropDen,
      s"drop fraction $dropNum/$dropDen must be in [0, 1]")
    require(!assigned.columns.exists(Set("proto_rank", "__n", "keep")),
      "input must not contain reserved columns proto_rank/__n/keep")
    // per-cluster size as a SECOND window over the same partition key —
    // it shares the rank window's one hash exchange, where a
    // groupBy+join would re-derive the whole assignment subtree (scan +
    // kernel) a second time for the counts
    val byCluster = Window.partitionBy(col("cluster"))
    assigned
      .withColumn("proto_rank", row_number().over(
        byCluster.orderBy(col("centroid_sim").desc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(byCluster))
      // integer threshold: drop iff rank <= floor(n·num/den); __n is a
      // long and dropNum ≤ dropDen are Ints, so the product stays far
      // from Long overflow for any physical cluster size
      .withColumn("keep",
        col("proto_rank").cast("long") * dropDen > col("__n") * dropNum)
      .select(col(idCol), col("cluster"), col("centroid_sim"),
        col("proto_rank"), col("keep"))
  }
}
