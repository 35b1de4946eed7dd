package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (north-star in
  * BASELINE.json). Absent from the reference (SURVEY §2 "absent" list) —
  * designed Spark-first for 100 TB:
  *
  *  - exact dedup: one hash-shuffle on a 32-byte digest, never on the text;
  *  - MinHash/LSH: explode → two key-shuffles (doc×seed, then band) with
  *    map-side combine; candidate verification joins only within buckets,
  *    never all-pairs;
  *  - SimHash: single pass, no shuffle until the pair join;
  *  - n-gram Jaccard: inverted-index self-join (shingle → docs), skew-safe
  *    by dropping ubiquitous shingles (`maxDocFreq`) — the classic
  *    stop-shingle cut that bounds the per-key fanout at scale.
  *
  * Hashes are md5-based so the DuckDB oracle can reproduce them exactly.
  */
object Dedup {

  /** Exact dedup: annotate each row with its content digest and whether it
    * is the canonical (minimum-id) representative of its duplicate group.
    *
    * NULL text is NOT a duplicate group: md5(null) is null, and a
    * window partitioned on it would clique every null-text document
    * together (is_canonical false for all but one — a keep-canonical
    * consumer would silently drop real documents). Null-text rows keep
    * a null hash and stand alone (canonical, dup_count 1), matching
    * [[incremental]]'s explicit `null_text` status. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = md5(col(textCol))
    val w = Window.partitionBy(h)
    df.select(
      col(idCol),
      h.as("content_hash"),
      (col(textCol).isNull ||
        col(idCol) === min(col(idCol)).over(w)).as("is_canonical"),
      when(col(textCol).isNull, lit(1L))
        .otherwise(count(lit(1)).over(w)).as("dup_count"))
  }

  /** Incremental (cross-snapshot) exact dedup: classify each NEW-batch
    * document against the existing corpus — the daily-increment shape of a
    * production pipeline, where yesterday's 100 TB corpus is a digest set
    * and only the increment is scanned in full. Statuses:
    * 'dup_of_corpus' (digest already in the corpus), 'dup_in_batch'
    * (a smaller-id twin exists in the same increment), 'kept', and
    * 'null_text' (no content to dedup by — surfaced explicitly rather
    * than silently dropped by a null-key join).
    *
    * Scale: the corpus side reduces to DISTINCT md5 digests (the 32-char
    * hex string here — the full-width exact-match key; a production
    * ingest would persist the raw 16 bytes); the join and the
    * batch-internal min-aggregate both key on the digest, never the
    * text, and the min-per-digest uses groupBy (map-side partials), not
    * a window. */
  def incremental(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val ch = corpus.select(md5(col(textCol)).as("__h")).distinct()
      .withColumn("__in_corpus", lit(1))
    val b = batch.select(col(idCol), md5(col(textCol)).as("__h"))
    val keepers = b.groupBy(col("__h")).agg(min(col(idCol)).as("__keeper"))
    b.join(ch, Seq("__h"), "left")
      .join(keepers, Seq("__h"), "left")
      .select(col(idCol),
        when(col("__h").isNull, "null_text")
          .when(col("__in_corpus").isNotNull, "dup_of_corpus")
          .when(col(idCol) =!= col("__keeper"), "dup_in_batch")
          .otherwise("kept").as("status"))
  }

  /** Word n-gram shingles from a PRE-SPLIT token array; docs shorter than
    * `n` tokens shingle to the whole text. Taking the tokens as a bound
    * column matters: a `split(text)` written inline in the transform
    * lambda re-splits the document once PER SHINGLE (O(tokens²) per doc);
    * callers materialize the array once per row and pass it here.
    * Matches the DuckDB range/list_slice twin. */
  def shingles(toks: Column, textCol: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(textCol))

  /** Distinct (id, shingle) pairs — the inverted-index input. The
    * `distinct` is a full shuffle of every pair: required where set
    * semantics matter (Jaccard counts, doc frequency, contamination
    * ratios), NOT for min-aggregates — use [[rawShingles]] there. */
  def explodedShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    rawShingles(df, textCol, idCol, n).distinct()

  /** Distinct (id, 60-bit shingle digest) pairs — the NARROW inverted-index
    * input for set-similarity joins: every downstream shuffle and join keys
    * on an 8-byte long instead of the ~n-word shingle string, so the
    * distinct, the doc-frequency aggregate, and the self-join all move a
    * fraction of the bytes. A 60-bit digest collision is vanishingly rare,
    * and the DuckDB oracle applies the SAME digest, so result equality
    * stays exact either way. */
  def digestShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    rawShingles(df, textCol, idCol, n)
      .select(col(idCol), TextAnalysis.tokenHash60Native(col("shingle")).as("shingle"))
      .distinct()
  }

  /** Non-distinct (id, shingle) pairs. MinHash's per-seed `min` is
    * duplicate-insensitive (min over a multiset equals min over its set),
    * so the LSH chain reads this and skips the distinct's shuffle
    * entirely: the only exchange left is the groupBy(id) of map-side
    * partial mins — duplicates die in the partial aggregate without ever
    * crossing the wire. */
  def rawShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    // widenScan: the shingle kernel (and the md5 digests / k-seed min
    // folds downstream of it) is whole-corpus map work; on the
    // harness's single-row-group files the scan plans ONE task
    // (identity on a real multi-file corpus; see Tables.widenScan)
    graft.Tables.widenScan(df)
      .select(col(idCol), col(textCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        explode(shingles(col("__toks"), col(textCol), n)).as("shingle"))

  /** Prime modulus of the universal-hash MinHash family (2³¹−1): products
    * `a·h` with a, h < 2³¹ stay inside a signed 64-bit long in BOTH engines,
    * so the arithmetic is exactly reproducible in the DuckDB oracle. */
  val MinhashMod = 2147483647L

  /** Per-seed multiplier/offset of the i-th permutation h ↦ (aᵢ·h + bᵢ)
    * mod M. Fixed Knuth-constant spread; aᵢ ≠ 0 for every i < 2³⁰−1
    * (at i = 2³⁰−1, 2i+1 = 2³¹−1 ≡ 0 mod M — M is prime and the Knuth
    * constant is not a multiple of it, so that is the only small zero).
    *
    * Seed-index ranges are PARTITIONED between the sketch families so no
    * two ever share a permutation: MinHash owns [0, 101), count-min owns
    * [101, 211) (offset 101 in [[graft.functions.CountMinSketch.hashA]]),
    * Bloom owns [211, ∞) (offset 211 in
    * [[graft.functions.BloomFilter.hashA]]). [[minhash]]/[[minhashBands]]
    * and `CountMinSketch` enforce their upper bounds with requires. */
  def minhashA(i: Int): Long = ((2L * i + 1L) * 2654435761L) % MinhashMod
  def minhashB(i: Int): Long = (i * 40503L + 17L) % MinhashMod

  /** Upper bound on MinHash signature width `k`: seeds ≥ 101 belong to the
    * count-min family (see [[minhashA]]). */
  val MaxMinhashK = 101

  /** The shingle's 60-bit md5 digest reduced into the hash family's field —
    * computed ONCE per shingle row; every seed then derives its permuted
    * value with two integer ops. (The earlier scheme hashed md5(seed ‖
    * shingle) per seed — k full digests of ~n-word strings per row. One
    * digest + k multiply-adds is the textbook universal-hashing MinHash and
    * cuts the signature stage's CPU k-fold; the bytes shuffled are already
    * minimal — the groupBy ships one partial min per seed per task.)
    * Callers register the native digest expression on the session. */
  private def shingleHashMod(shingle: Column): Column =
    TextAnalysis.tokenHash60Native(shingle) % MinhashMod

  /** MinHash signatures: k universal-hash permutations over the shingle
    * digest, signature element = per-seed minimum. Returns
    * (id, seed, minhash: long).
    *
    * Computed as k parallel `min` aggregates in ONE groupBy(id) pass —
    * shuffling |shingles| rows with map-side partial mins — instead of
    * exploding to |shingles|×k rows first (a k× shuffle-volume saving that
    * dominates at 100 TB). The wide row is re-stacked to the narrow
    * (id, seed, minhash) contract afterwards, which is free (no shuffle).
    */
  def minhash(shingled: DataFrame, idCol: String, k: Int): DataFrame = {
    // the signature-aggregation core is wideSigs — ONE definition, so
    // the hash bytes cannot drift from minhashBands/lshEstimatedPairs
    // (their byte equality is a spec-pinned contract)
    val wide = wideSigs(shingled, idCol, k)
    wide
      .select(col(idCol), explode(array((0 until k).map(i =>
        struct(lit(i).as("seed"), col(s"__m$i").as("minhash"))): _*)).as("__sm"))
      .select(col(idCol), col("__sm.seed").as("seed"), col("__sm.minhash").as("minhash"))
  }

  /** ONE groupBy(id) pass producing the wide signature row
    * (id, __m0..__m{k-1}) — the shared upstream of [[minhashBands]] and
    * [[lshEstimatedPairs]]. */
  private def wideSigs(shingled: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k <= MaxMinhashK, s"k=$k exceeds $MaxMinhashK: seeds ≥ $MaxMinhashK are reserved for the count-min family")
    val base = shingled.select(col(idCol), shingleHashMod(col("shingle")).as("__hm"))
    val aggs = (0 until k).map(i =>
      min((lit(minhashA(i)) * col("__hm") + lit(minhashB(i))) % MinhashMod).as(s"__m$i"))
    base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Band rows (id, band, band_hash) assembled from a wide signature row —
    * no shuffle; identical hash bytes to [[minhash]]∘[[lshBands]]. */
  private def bandsFromWide(wide: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rpb = k / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rpb).map(i =>
        concat(lit(s"${b * rpb + i}:"), col(s"__m${b * rpb + i}")))
      struct(lit(b).as("band"),
        md5(concat_ws("|", array_sort(array(parts: _*)))).as("band_hash"))
    }
    wide.select(col(idCol), explode(array(bandCols: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_hash").as("band_hash"))
  }

  /** Fused MinHash+banding: signatures AND band hashes in ONE groupBy(id)
    * pass — the k per-seed mins aggregate map-side, and each band's hash is
    * assembled from the wide row with no further shuffle. Produces the same
    * (id, band, band_hash) as [[minhash]]∘[[lshBands]] (identical hash
    * bytes) while cutting the chain from three shuffles to one; at 100 TB
    * the only data movement left is |distinct shingles| rows keyed by id. */
  def minhashBands(shingled: DataFrame, idCol: String, k: Int, bands: Int): DataFrame =
    bandsFromWide(wideSigs(shingled, idCol, k), idCol, k, bands)

  /** LSH candidates scored by their MinHash-ESTIMATED Jaccard — the
    * signature-only similarity pass: est = (matching seeds)/k, the
    * unbiased MinHash estimator. At 100 TB this is the verification mode
    * that never re-touches the corpus: the exact inverted-index pass
    * ([[ngramJaccardPairs]]) re-reads every shingle to intersect
    * candidate pairs, while this joins two k-long signature arrays per
    * candidate — the signatures were already paid for by banding, the
    * wide row is materialized ONCE (`localCheckpoint`) and reused for
    * both the band derivation and the estimate, so the whole chain costs
    * one shingle scan + one groupBy + |pairs| narrow joins. Estimator
    * stderr ≈ √(j(1−j)/k) — the k dial trades signature bytes for
    * estimate precision; exact Jaccard stays the small-data/audit twin.
    *
    * @param minEst keep pairs with estimate ≥ this (0 keeps all
    *               candidates banding surfaced) */
  def lshEstimatedPairs(
      shingled: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucket: Int = Int.MaxValue, minEst: Double = 0.0): DataFrame = {
    val wide = wideSigs(shingled, idCol, k).localCheckpoint()
    val pairs = lshCandidates(bandsFromWide(wide, idCol, k, bands), idCol, maxBucket)
    val sigArr = wide.select(col(idCol),
      array((0 until k).map(i => col(s"__m$i")): _*).as("__sig"))
    pairs
      .join(sigArr.select(col(idCol).as("id_a"), col("__sig").as("__sa")), Seq("id_a"))
      .join(sigArr.select(col(idCol).as("id_b"), col("__sig").as("__sb")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("est_jaccard") >= minEst)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** LSH banding: group the k signature rows into `bands` bands and hash
    * each band; docs sharing any (band, band_hash) are candidates.
    * Returns (id, band, band_hash). */
  def lshBands(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    // same guard as bandsFromWide: a ragged split silently yields
    // bands+1 band values, breaking the minhash∘lshBands ≡ minhashBands
    // byte-equality contract and any caller iterating 0 until bands
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rowsPerBand = k / bands
    sig
      .withColumn("band", col("seed") / lit(rowsPerBand) cast "int")
      .groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws("|", array_sort(collect_list(concat(col("seed"), lit(":"), col("minhash")))))).as("band_hash"))
  }

  /** All ordered pairs (a < b) from a sorted-id array column — the shared
    * posting-list expansion of [[lshCandidates]] and [[ngramJaccardPairs]].
    * Returns struct('id_a, 'id_b) elements. */
  private def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Cross-product pairs between two chunks of one sorted posting list
    * (every element of `as` precedes every element of `bs`, so each
    * emitted pair is already ordered). */
  private def crossPairs(as: Column, bs: Column): Column =
    flatten(transform(as, x =>
      transform(bs, y => struct(x.as("id_a"), y.as("id_b")))))

  /** Two-level posting-list pair expansion — the skew-spread form of
    * `explode(orderedPairs(ids))` for lists whose quadratic cost would
    * otherwise land on ONE task: each list row fans out to its
    * chunk-pair rows (chunk i × chunk j, i ≤ j, chunks = contiguous
    * `chunk`-sized slices of the sorted array), those equal-weight rows
    * round-robin across the cluster, and only then does each row expand
    * its ≤ chunk² pairs. A `maxDocFreq`-sized list (1000 ids ≈ 500k
    * pairs on one task in the flat form) becomes nc(nc+1)/2 rows of ≤ ~chunk²
    * pairs each, spread evenly — the `saltedJoin` idea applied to pair
    * expansion. Lists that fit one chunk cost exactly one pass-through
    * row, so the common case pays only the round-robin exchange (chunk
    * rows ≈ list rows, far smaller than the pair stream it feeds).
    * Pair-multiset-identical to the flat expansion by construction:
    * chunks partition the sorted array, within-chunk pairs come from
    * [[orderedPairs]], cross-chunk pairs are ordered because chunk i's
    * values all precede chunk j's (DedupSpec pins the equivalence). */
  private def spreadOrderedPairs(
      lists: DataFrame, ids: Column, chunk: Int): DataFrame = {
    val c = lit(chunk)
    val maxChunk = ((size(ids) - 1) / c).cast("int")
    lists
      .select(ids.as("__ids"), explode(sequence(lit(0), maxChunk)).as("__i"))
      .select(col("__ids"), col("__i"),
        explode(sequence(col("__i"),
          ((size(col("__ids")) - 1) / c).cast("int"))).as("__j"))
      .select(
        slice(col("__ids"), col("__i") * c + lit(1), c).as("__ca"),
        when(col("__i") === col("__j"), lit(null))
          .otherwise(slice(col("__ids"), col("__j") * c + lit(1), c)).as("__cb"))
      .repartition(lists.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      .select(explode(
        when(col("__cb").isNull, orderedPairs(col("__ca")))
          .otherwise(crossPairs(col("__ca"), col("__cb")))).as("p"))
  }

  /** Candidate near-duplicate pairs from band buckets (a < b), via
    * per-bucket pair expansion: group to (band, band_hash) → sorted id
    * array → all ordered pairs from the array. This replaces the earlier
    * checkpointed self-join: the join keyed every bucket's rows to one
    * task anyway (same key → same reducer), so the array form has the
    * SAME parallelism but no second scan of the upstream chain, no
    * `localCheckpoint` materialization, and no join build. Bucket width
    * stays the skew bound: the quadratic work per bucket is the LSH
    * recall/cost dial (band count) exactly as before.
    *
    * `maxBucket` guards the degenerate case: a bucket of m near-identical
    * documents yields m² pairs on one task, and at corpus scale a single
    * boilerplate-heavy bucket can dominate the stage. Buckets wider than
    * the cap are skipped — they are exact-dup cliques in practice, which
    * [[exact]] dedup handles at linear cost; the cap trades recall on
    * pathological cliques for a bounded worst-case task. */
  def lshCandidates(
      banded: DataFrame, idCol: String, maxBucket: Int = Int.MaxValue): DataFrame =
    banded
      .groupBy(col("band"), col("band_hash"))
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

  /** Connected components over candidate pairs → duplicate clusters: every
    * doc labeled with the minimum id reachable through the pair graph (the
    * canonical representative). Iterative min-label propagation — each
    * round is one join + one min-aggregate, materialized with
    * `localCheckpoint` so round N+1 reads round N's result instead of the
    * whole lineage; rounds needed = graph diameter (tiny for dup clusters;
    * `maxIters` bounds pathological chains). Label propagation is the
    * standard scalable CC formulation (GraphX/Pregel-style) expressed as
    * plain DataFrame algebra.
    */
  def clusters(allIds: DataFrame, pairs: DataFrame, idCol: String,
      maxIters: Int = 15): DataFrame = {
    val ids = allIds.select(col(idCol)).distinct()
    // undirected edges + self-loops, as (src, dst)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .unionAll(ids.select(col(idCol).as("src"), col(idCol).as("dst")))
      .localCheckpoint()
    var labels = ids.select(col(idCol), col(idCol).as("cluster")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = edges
        .join(labels.withColumnRenamed(idCol, "dst").withColumnRenamed("cluster", "__nl"), Seq("dst"))
        .groupBy(col("src")).agg(min(col("__nl")).as("__min_nl"))
        .withColumnRenamed("src", idCol)
        .join(labels, Seq(idCol))
        .select(col(idCol), least(col("cluster"), col("__min_nl")).as("cluster"))
        .localCheckpoint()
      converged = next.join(labels.withColumnRenamed("cluster", "__old"), Seq(idCol))
        .filter(col("cluster") =!= col("__old")).isEmpty
      labels = next
      i += 1
    }
    labels
  }

  /** Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.
    * `maxDocFreq` drops shingles appearing in more than that many docs
    * before the self-join — the skew guard that keeps the join fanout
    * bounded at 100 TB (a ubiquitous shingle would otherwise produce a
    * quadratic bucket). */
  def ngramJaccardPairs(
      shingled: DataFrame,
      idCol: String,
      threshold: Double,
      maxDocFreq: Long = 1000L): DataFrame =
    shingleIntersections(shingled, idCol, maxDocFreq)
      .withColumn("jaccard",
        col("__inter").cast("double") /
          (col("__sz_a") + col("__sz_b") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact n-gram CONTAINMENT pairs — Broder's asymmetric coefficient
    * |A∩B| / |A|: the near-dup modality Jaccard structurally misses
    * when sizes differ (a paragraph quoted inside a 100× larger doc has
    * Jaccard ≈ 0.01 but containment ≈ 1.0 in the small doc — the
    * quote / partial-copy / boilerplate-superset shape a training
    * corpus screens for). Emits both directions per unordered pair
    * (`cont_a` = share of A's shingles found in B, `cont_b` the
    * reverse); a pair survives when EITHER direction reaches
    * `threshold`. Same inverted-index core, caps, and shuffle budget
    * as [[ngramJaccardPairs]] — the formula is the only difference. */
  def containmentPairs(
      shingled: DataFrame,
      idCol: String,
      threshold: Double,
      maxDocFreq: Long = 1000L): DataFrame =
    shingleIntersections(shingled, idCol, maxDocFreq)
      .withColumn("cont_a",
        col("__inter").cast("double") / col("__sz_a").cast("double"))
      .withColumn("cont_b",
        col("__inter").cast("double") / col("__sz_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))

  /** Shared core of the exact set-similarity family: candidate pairs
    * sharing ≥1 shingle, annotated with intersection and both set
    * sizes — `(id_a, id_b, __inter, __sz_a, __sz_b)`, id_a < id_b.
    *
    * Materialize the inverted index once, then annotate with AGGREGATES,
    * not windows: a Window.partitionBy(shingle) would drag every row of a
    * hot shingle onto one task BEFORE the maxDocFreq guard could drop it —
    * the skew guard itself would be skew-vulnerable. groupBy gets map-side
    * partial counts, so a ubiquitous shingle ships one partial per task.
    * The over-frequency shingle set is tiny by construction (they are the
    * ubiquitous ones) → broadcast anti-join, no extra shuffle of the index.
    * Per-doc size is computed BEFORE the stop-shingle cut, like the oracle.
    *
    * Intersections via per-shingle pair expansion (the lshCandidates
    * shape), not a self-join: the join keyed every posting list to one
    * reducer anyway, so collect_list has the same parallelism but scans
    * the index once and builds no hash table. Posting lists are bounded
    * by maxDocFreq, which caps the quadratic term per LIST — and the
    * two-level [[spreadOrderedPairs]] expansion spreads each list's
    * quadratic term across the cluster, so a corpus dense in
    * near-cap-frequency shingles (the boilerplate-clique skew shape)
    * no longer concentrates m²/2-pair explosions on whichever tasks
    * own the hot shingles. Doc sizes join AFTER the pair aggregate —
    * against |candidate pairs| rows, not every index row (the old
    * shape dragged __sz through the explosion). */
  private def shingleIntersections(
      shingled: DataFrame, idCol: String, maxDocFreq: Long): DataFrame = {
    val idx = shingled.localCheckpoint()
    val sizes = idx.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val hot = idx.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("shingle"))
    val lists = idx
      .join(broadcast(hot), Seq("shingle"), "left_anti")
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    // chunk width 64 measured best on BOTH axes at sf0.1 (vs 32: total
    // 1.88s vs 2.01s, skew ratio 1.28 vs 1.41): wide enough that only
    // genuinely hot lists pay the multi-chunk fanout, narrow enough
    // that a maxDocFreq-sized list still splits across tasks
    val inter = spreadOrderedPairs(lists, col("ids"),
      chunk = shingled.sparkSession.conf
        .get("spark.graft.jaccard.pairChunk", "64").toInt)
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("__sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("__sz_b")), Seq("id_b"))
  }

  /** SimHash signatures computed the scale-friendly way: explode tokens →
    * one hash per token → ONE groupBy(id) with 60 codegen'd conditional-sum
    * aggregates (±1 vote per bit) → signature assembled from the votes.
    * Semantically identical to [[TextAnalysis.simhash60]] (kept as the
    * scalar/SQL-facing form) but stays inside WholeStageCodegen instead of
    * interpreting a nested higher-order fold per row — ~20× faster at
    * sf0.1 and shuffle-bounded at scale (|tokens| rows, partial aggs
    * map-side). */
  def simhashSigs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NOT widened (r21 A/B): dedup_simhash 1.07 s widened vs 0.81-0.92 s
    // plain on the r21 host — the 60 conditional sums aggregate map-side
    // behind their own exchange, so the round-robin widening only added
    // scheduling overhead (numbers in OPTIMIZATION_r21.md)
    val toks = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("__tok"))
    val h = TextAnalysis.tokenHash60Native(col("__tok")) // the shared cross-engine hash
    val votes = (0 until 60).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__v$j"))
    toks.select(col(idCol), h.as("__h"))
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), (0 until 60).map(j =>
        when(col(s"__v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
  }

  /** SimHash near-dup pairs via pigeonhole multi-block banding: the 60-bit
    * signature splits into `maxHamming + 1` blocks, and any pair within
    * hamming `maxHamming` must match EXACTLY on at least one block
    * (pigeonhole: ≤ maxHamming differing bits cannot touch all
    * maxHamming+1 blocks). So the block-bucket join has recall 1.0 — the
    * result is exactly every pair at hamming ≤ maxHamming — while
    * candidate generation only compares within (block, block_value)
    * buckets, never all-pairs. Realistic thresholds (≤ 3, the standard
    * near-dup operating point) give 4 blocks of 15 bits: 32k bucket
    * values per block, so bucket population — and the quadratic
    * within-bucket term — shrinks with corpus spread, and a hot bucket
    * means genuinely-similar docs, not a bucketing artifact (unlike a
    * fixed 12-bit prefix, whose recall was heuristic). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming=$maxHamming out of range")
    require(maxBucket > 1, s"maxBucket=$maxBucket would drop every bucket")
    val blocks = maxHamming + 1
    val base = 60 / blocks
    val rem = 60 % blocks
    def width(b: Int) = base + (if (b < rem) 1 else 0)
    val offsets = (0 until blocks).scanLeft(0)((acc, b) => acc + width(b))
    val allBanded = simhashSigs(df, textCol, idCol)
      .select(col(idCol), col("sig"),
        explode(array((0 until blocks).map { b =>
          struct(lit(b).as("block"),
            shiftright(col("sig"), offsets(b))
              .bitwiseAND(lit((1L << width(b)) - 1)).as("block_val"))
        }: _*)).as("__b"))
      .select(col(idCol), col("sig"),
        col("__b.block").as("block"), col("__b.block_val").as("block_val"))
    // Skew guard, same dial as lshCandidates: a bucket of m near-identical
    // docs is m² join pairs on ONE task. Oversize (block, block_val)
    // buckets — exact-dup cliques in practice, which [[exact]] handles
    // linearly — are cut BEFORE the self-join via a broadcast anti-join of
    // the (tiny) hot-bucket set; groupBy partials keep the census itself
    // skew-safe (cf. ngramJaccardPairs' doc-frequency cut).
    val banded = (if (maxBucket == Int.MaxValue) allBanded else {
      val hot = allBanded.groupBy(col("block"), col("block_val"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select(col("block"), col("block_val"))
      allBanded.join(broadcast(hot), Seq("block", "block_val"), "left_anti")
    }).localCheckpoint() // materialize before self-join (see lshCandidates)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.block") === col("b.block") &&
        col("a.block_val") === col("b.block_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        expr("bit_count(a.sig ^ b.sig)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may share several blocks
  }

  /** Perceptual-hash fingerprints of a BINARY payload corpus —
    * `(id, phash)`: each payload runs the integer-DCT pHash kernel
    * ([[graft.functions.PHash64]] — the published 8×8-DCT
    * sign-of-AC-coefficient recipe in all-Long arithmetic, so every
    * hash replays bit-exactly in the oracle) as one zero-shuffle
    * codegen projection. Empty payloads drop (NULL hash — the
    * classifier's absent-unclassifiable contract). The IMAGE near-dup
    * primitive: where [[simhashSigs]] fingerprints token text, this
    * fingerprints media bytes. */
  def phashSigs(df: DataFrame, payloadCol: String, idCol: String): DataFrame = {
    df.select(col(idCol),
        GraftFunctions.phash(col(payloadCol)).as("phash"))
      .filter(col("phash").isNotNull)
  }

  /** Image near-dup pairs by perceptual hash — [[simhashPairs]]'s
    * pigeonhole banding over the 64-bit pHash: the hash splits into
    * `maxHamming + 1` disjoint blocks and any pair within hamming
    * `maxHamming` must match exactly on at least one block, so the
    * block-bucket join has recall 1.0 (the result is EXACTLY every pair
    * at hamming ≤ maxHamming) while candidates only form within
    * (block, block_val) buckets — never all-pairs. At the standard
    * threshold 3 that is 4 blocks of 16 bits (64k values per block).
    * `maxBucket` is the family's standard skew dial: oversize buckets
    * (exact-dup cliques — [[exact]]'s linear job) cut via the broadcast
    * anti-join before the self-join. Output
    * `(id_a, id_b, hamming)`, id_a < id_b. */
  def phashPairs(
      df: DataFrame, payloadCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket would drop every bucket")
    val allBanded =
      phashBanded(phashSigs(df, payloadCol, idCol), idCol, maxHamming)
        .withColumnRenamed("doc_id", idCol)
    val banded = (if (maxBucket == Int.MaxValue) allBanded else {
      val hot = allBanded.groupBy(col("block"), col("block_val"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select(col("block"), col("block_val"))
      allBanded.join(broadcast(hot), Seq("block", "block_val"), "left_anti")
    }).localCheckpoint() // materialize before self-join (see lshCandidates)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.block") === col("b.block") &&
        col("a.block_val") === col("b.block_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        expr("bit_count(a.phash ^ b.phash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may share several blocks
  }

  // ---- Persisted pHash index (image near-dup, daily-ingest shape) ------

  private val PhashTable = "phash"

  /** Banded hash rows — `(id, phash, block, block_val)`, one row per
    * (doc, block): the SINGLE home of the banding arithmetic, shared by
    * [[phashPairs]]'s inline self-join, the persisted index's stored
    * rows, and a probing delta's inline frame — so the equi-join sides
    * are banded identically by construction. The hash splits into
    * `maxHamming + 1` disjoint blocks (pigeonhole: ≤ maxHamming
    * differing bits cannot touch all maxHamming+1 blocks, so hamming-≤
    * pairs must agree exactly on at least one block). The hash occupies
    * bits 0..62 (63 AC bits; see PHashKernel), but banding the full
    * 64-bit value keeps widths even and costs nothing. */
  private def phashBanded(
      sigs: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming=$maxHamming out of range")
    val blocks = maxHamming + 1
    val base = 64 / blocks
    val rem = 64 % blocks
    def width(b: Int) = base + (if (b < rem) 1 else 0)
    val offsets = (0 until blocks).scanLeft(0)((acc, b) => acc + width(b))
    sigs.select(col(idCol), col("phash"),
        explode(array((0 until blocks).map { b =>
          struct(lit(b).as("block"),
            shiftright(col("phash"), offsets(b))
              .bitwiseAND(lit(if (width(b) >= 64) -1L else (1L << width(b)) - 1))
              .as("block_val"))
        }: _*)).as("__b"))
      .select(col(idCol).as("doc_id"), col("phash"),
        col("__b.block").as("block"), col("__b.block_val").as("block_val"))
  }

  /** Persist a corpus's banded pHash rows under the manifest protocol —
    * the standing IMAGE-dedup index a daily ingest probes (the
    * [[buildLshIndexM]] sibling for the binary-payload modality).
    * `maxHamming` is part of the index's identity (band widths derive
    * from it) and is recorded in the manifest meta; probes must use the
    * same value. ~4 slim rows/payload at the standard threshold 3. */
  def buildPhashIndexM(
      df: DataFrame, payloadCol: String, idCol: String,
      maxHamming: Int, root: String): Long = {
    val spark = df.sparkSession
    val seg = graft.index.IndexManifest.newSegment(PhashTable)
    phashBanded(phashSigs(df, payloadCol, idCol), idCol, maxHamming)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      Map(PhashTable -> Seq(seg)),
      meta = Map("family" -> "phash", "max_hamming" -> maxHamming.toString))
  }

  /** Append a delta's banded rows (one new segment, atomic commit) —
    * the [[appendIndexM]] contract: exact only for delta ids disjoint
    * from the lake (hash rows are per-doc; re-appending double-counts
    * nothing arithmetically but would duplicate the doc's pairs). */
  def appendPhashIndexM(
      delta: DataFrame, payloadCol: String, idCol: String,
      maxHamming: Int, root: String): Long = {
    val spark = delta.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    require(phashMaxHamming(snap, root) == maxHamming,
      s"index at $root was built with max_hamming=" +
        s"${phashMaxHamming(snap, root)} but the append banded with " +
        s"maxHamming=$maxHamming — mixed band widths in one store would " +
        "silently corrupt every probe's candidate set")
    val seg = graft.index.IndexManifest.newSegment(PhashTable)
    phashBanded(phashSigs(delta, payloadCol, idCol), idCol, maxHamming)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(PhashTable, snap.tables(PhashTable) :+ seg),
      expect = Some(snap.version))
  }

  /** The committed banded rows (HEAD snapshot). */
  def readPhashIndexM(
      spark: SparkSession, root: String): DataFrame =
    graft.index.IndexManifest.readAt(spark, root,
      graft.index.IndexManifest.snapshot(spark, root), PhashTable)

  /** The `max_hamming` an index's rows were banded with — part of the
    * index's IDENTITY (band widths derive from it), stamped by
    * [[buildPhashIndexM]] and inherited through every later commit.
    * Fails loud on a root that never recorded it (not a pHash index). */
  private def phashMaxHamming(
      snap: graft.index.IndexManifest.Snapshot, root: String): Int =
    snap.meta.getOrElse("max_hamming",
      sys.error(s"index at $root carries no max_hamming meta — " +
        "not a buildPhashIndexM store")).toInt

  /** CROSS-CORPUS image near-dup pairs against the persisted index:
    * every (delta, lake) pair within hamming ≤ `maxHamming` — exactly
    * (pigeonhole recall 1.0, both sides banded identically), with NO
    * intra-delta or intra-lake pairs (a delta deduped against the
    * standing lake wants the cross edges; [[phashPairs]] owns the
    * within-corpus job). The delta's banded rows BROADCAST into the
    * lake scan (bands × |delta| rows — always delta-sized), so the
    * lake never shuffles: ingest cost tracks the delta, not the
    * accumulated corpus. Output `(delta_id, lake_id, hamming)`.
    *
    * The manifest-reading [[indexedPhashPairsM]] is the public probe:
    * it derives `maxHamming` from the store's `max_hamming` meta so a
    * probe can never band with different block widths than the stored
    * rows (which would silently miss and fabricate candidates). This
    * frame-level primitive stays package-private for callers that
    * already hold validated banded rows. */
  private[graft] def indexedPhashPairs(
      lakeBanded: DataFrame, delta: DataFrame,
      payloadCol: String, idCol: String, maxHamming: Int): DataFrame = {
    val d = phashBanded(phashSigs(delta, payloadCol, idCol), idCol, maxHamming)
      .withColumnRenamed("doc_id", "delta_id")
      .withColumnRenamed("phash", "__dh")
    broadcast(d)
      .join(lakeBanded.withColumnRenamed("doc_id", "lake_id")
          .withColumnRenamed("phash", "__lh"),
        Seq("block", "block_val"))
      .select(col("delta_id"), col("lake_id"),
        expr("bit_count(__dh ^ __lh)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may share several blocks
  }

  /** Probe the persisted pHash index at `root` with a delta — the
    * public cross-corpus entry. `maxHamming` is NOT a parameter: it is
    * the index's identity, read from the snapshot's `max_hamming` meta,
    * so the delta's inline banding always matches the stored rows' band
    * widths. One manifest read serves both the meta and the row
    * listing (a probe sees one consistent version even under a
    * concurrent retrain commit). */
  def indexedPhashPairsM(
      spark: SparkSession, root: String, delta: DataFrame,
      payloadCol: String, idCol: String): DataFrame = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    indexedPhashPairs(
      graft.index.IndexManifest.readAt(spark, root, snap, PhashTable),
      delta, payloadCol, idCol, phashMaxHamming(snap, root))
  }

  /** CROSS-CORPUS MinHash near-dup pairs — the daily-ingest shape: every
    * (new, base) candidate whose band hashes collide, scored by the
    * MinHash-estimated Jaccard, with NO pairs within either side (a
    * delta deduped against the standing lake wants exactly the cross
    * edges; intra-delta dups are [[lshEstimatedPairs]]' job on the small
    * side). Both sides pay one shingle scan + one fused groupBy each —
    * the lake's signatures are the kind of thing a real deployment
    * persists, and this function takes any frame in the shingled shape,
    * so a precomputed-signature path is one `wideSigs` materialization
    * away. The candidate join is keyed (band, band_hash) — with
    * `broadcastDelta` (the default) the delta band side carries an
    * EXPLICIT broadcast hint (always delta-sized: bands × |delta|), so
    * "the lake never shuffles" is a plan contract (PlanSpec-locked), not
    * an AQE sizing hope; a caller whose "delta" is itself lake-sized
    * turns the dial off and gets the plain shuffled equi-join. The
    * CANDIDATE set additionally broadcasts into both signature fetches,
    * but only when `maxBucket` is set: capped buckets bound the pair
    * count at |delta-bands| × maxBucket, whereas an uncapped lake with
    * one hot band bucket (boilerplate docs) could make the candidate
    * set lake-sized — there AQE decides. `maxBucket` caps pathological
    * base-side buckets with the family's standard anti-join guard.
    * Estimates replay exactly in the oracle (same seeds, same integer
    * arithmetic). */
  def crossCorpusLshPairs(
      newShingled: DataFrame, baseShingled: DataFrame, idCol: String,
      k: Int, bands: Int, maxBucket: Int = Int.MaxValue,
      minEst: Double = 0.0, broadcastDelta: Boolean = true): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket would drop every bucket")
    val newWide = wideSigs(newShingled, idCol, k).localCheckpoint()
    val baseWide = wideSigs(baseShingled, idCol, k).localCheckpoint()
    val nb0 = bandsFromWide(newWide, idCol, k, bands)
      .select(col(idCol).as("id_new"), col("band"), col("band_hash"))
    val nb = if (broadcastDelta) broadcast(nb0) else nb0
    val allBb = bandsFromWide(baseWide, idCol, k, bands)
      .select(col(idCol).as("id_base"), col("band"), col("band_hash"))
    val bb = if (maxBucket == Int.MaxValue) allBb else {
      val hot = allBb.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select(col("band"), col("band_hash"))
      allBb.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
    }
    val cand = nb.join(bb, Seq("band", "band_hash"))
      .select(col("id_new"), col("id_base")).distinct()
    def sigArr(wide: DataFrame, as: String) = wide.select(col(idCol).as(as),
      array((0 until k).map(i => col(s"__m$i")): _*).as(s"__s$as"))
    // with a capped lake the candidate set is bounded (delta-bands ×
    // maxBucket): broadcast it into both signature fetches so the lake's
    // wide rows stream through a BroadcastHashJoin instead of shuffling
    // on id_base; uncapped, a hot band bucket could make it lake-sized —
    // leave those joins to AQE
    val candBounded = broadcastDelta && maxBucket != Int.MaxValue
    val withNewSigs = (if (candBounded) broadcast(cand) else cand)
      .join(sigArr(newWide, "id_new"), Seq("id_new"))
    (if (candBounded) broadcast(withNewSigs) else withNewSigs)
      .join(sigArr(baseWide, "id_base"), Seq("id_base"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sid_new"), col("__sid_base"), (x, y) => x === y),
          b => b)).cast("double") / k)
      .filter(col("est_jaccard") >= minEst)
      .select(col("id_new"), col("id_base"), col("est_jaccard"))
  }

  /** Persist the standing corpus's MinHash/LSH INDEX to parquet — the
    * artifact that makes cross-corpus near-dup dedup incremental at
    * 100 TB. Two tables under `path`:
    *
    *  - `sigs/`  (id, sig: array[long])  — one wide MinHash signature row
    *    per lake document (k longs), computed in the single fused
    *    groupBy(id) pass ([[minhashBands]]' upstream) and written FIRST so
    *    the band table derives from the persisted copy (no re-shingling,
    *    no checkpoint);
    *  - `bands/` (id, band, band_hash, bucket_n) — the banded LSH rows
    *    with each row carrying its (band, band_hash) bucket's lake-side
    *    cardinality. Materializing `bucket_n` at build time is what frees
    *    every probe from the hot-bucket count aggregate — the skew cap
    *    becomes a plain pushable column predicate on the scan.
    *
    * Build cost: the lake's one signature shuffle plus one band-keyed
    * count join — paid once, not per delta. */
  def writeLshIndex(shingled: DataFrame, idCol: String,
      k: Int, bands: Int, path: String): Unit = {
    val spark = shingled.sparkSession
    sigRowsFromWide(wideSigs(shingled, idCol, k), idCol, k)
      .write.mode("overwrite").parquet(s"$path/sigs")
    bandsWithCounts(spark.read.parquet(s"$path/sigs"), k, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Collapse a wide `__m0..__m{k-1}` signature frame to persisted
    * (id, sig: array&lt;long&gt;) rows. */
  private def sigRowsFromWide(wide: DataFrame, idCol: String, k: Int): DataFrame =
    wide.select(col(idCol).as("id"),
      array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))

  /** Banded rows with exact per-bucket cardinalities from persisted
    * signature rows (id, [tdig,] sig) — the `bands/` table both the plain
    * and digested builds (and every compaction/refresh) write. */
  private def bandsWithCounts(sigRows: DataFrame, k: Int, bands: Int): DataFrame = {
    val wide = sigRows.select(col("id") +:
      (0 until k).map(i => col("sig")(i).as(s"__m$i")): _*)
    recountBands(bandsFromWide(wide, "id", k, bands))
  }

  /** Re-annotate slim (id, band, band_hash) rows with their bucket's
    * exact cardinality. */
  private def recountBands(bd: DataFrame): DataFrame =
    bd.select(col("id"), col("band"), col("band_hash"))
      .join(
        bd.groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("bucket_n")),
        Seq("band", "band_hash"))
      .select(col("id"), col("band"), col("band_hash"), col("bucket_n"))

  /** Fold an ingested delta into the standing LSH index — the append
    * half of the persisted near-dup loop ([[indexedCrossCorpusPairs]]
    * probes, this persists, the next delta probes the grown index). Both
    * tables are append-only logs: the delta's signature rows land as new
    * parquet files under `sigs/`, and its band rows under `bands/`, each
    * carrying its bucket's AS-OF-APPEND total cardinality — the prior
    * exact count (the max over the bucket's existing rows, see the
    * invariant below) plus the delta's contribution. Older rows of a
    * grown bucket keep their stale smaller `bucket_n`; the invariant that
    * makes probes exact anyway is that **stored counts only ever
    * undercount, and `max(bucket_n)` over a bucket's rows IS its exact
    * current cardinality** (induction: the build writes exact counts;
    * every append to a bucket writes the new exact total, which exceeds
    * all earlier rows'). [[indexedCrossCorpusPairs]] with
    * `staleCounts=true` exploits both directions. Index traffic: the
    * existing-count lookup semi-joins the band scan by the BROADCAST
    * delta bucket set and aggregates only the surviving delta-sized
    * rows — the lake-sized log streams, exactly the probe's contract. */
  def appendLshIndex(deltaShingled: DataFrame, idCol: String,
      k: Int, bands: Int, path: String): Unit = {
    val spark = deltaShingled.sparkSession
    val newWide = wideSigs(deltaShingled, idCol, k).localCheckpoint()
    sigRowsFromWide(newWide, idCol, k)
      .write.mode("append").parquet(s"$path/sigs")
    appendBandRows(newWide, idCol, k, bands, spark.read.parquet(s"$path/bands"))
      .write.mode("append").parquet(s"$path/bands")
  }

  /** The band rows one append adds: the delta's bands annotated with
    * as-of-append bucket totals (prior exact count = max over the
    * bucket's existing rows, plus the delta's contribution). */
  private def appendBandRows(newWide: DataFrame, idCol: String,
      k: Int, bands: Int, existingBands: DataFrame): DataFrame = {
    val db = bandsFromWide(newWide, idCol, k, bands)
      .select(col(idCol).as("id"), col("band"), col("band_hash"))
      .localCheckpoint()
    val deltaN = db.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__dn"))
    val existing = existingBands
      .join(broadcast(deltaN.select(col("band"), col("band_hash"))),
        Seq("band", "band_hash"), "left_semi")
      .groupBy(col("band"), col("band_hash"))
      .agg(max(col("bucket_n")).as("__en"))
    db.join(broadcast(deltaN), Seq("band", "band_hash"))
      .join(broadcast(existing), Seq("band", "band_hash"), "left")
      .select(col("id"), col("band"), col("band_hash"),
        (coalesce(col("__en"), lit(0L)) + col("__dn")).as("bucket_n"))
  }

  /** Compact the appended LSH index back to the [[writeLshIndex]] shape:
    * every band row re-annotated with its bucket's exact cardinality, so
    * the stored `bucket_n` is uniformly fresh again and probes can run
    * without the stale-counts hot-set pass. One count aggregate plus one
    * keyed join over the band log's slim rows — never re-shingles, never
    * recomputes a signature; converges to [[writeLshIndex]] over the
    * accumulated corpus (spec-pinned), so compaction cadence is a pure
    * read-amplification dial, not a correctness decision. */
  def compactLshIndex(spark: SparkSession, path: String, outPath: String): Unit = {
    require(path != outPath,
      "compact must write to a fresh path (the source index is being read)")
    spark.read.parquet(s"$path/sigs")
      .write.mode("overwrite").parquet(s"$outPath/sigs")
    recountBands(spark.read.parquet(s"$path/bands"))
      .write.mode("overwrite").parquet(s"$outPath/bands")
  }

  /** [[writeLshIndex]] plus a content digest next to each signature —
    * the sigs layout that supports [[refreshLshIndex]] under corpus
    * UPDATES (append alone only handles arrivals): `sigs/` rows are
    * (id, tdig, sig) with `tdig = md5(text)`, `bands/` is unchanged, so
    * every existing probe ([[indexedCrossCorpusPairs]]) reads it as-is.
    * Build cost adds one id-keyed join of two doc-sized frames. */
  def writeLshIndexDigested(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, path: String): Unit = {
    val spark = docs.sparkSession
    digestedSigRows(docs, textCol, idCol, shingleN, k)
      .write.mode("overwrite").parquet(s"$path/sigs")
    writeBandsFromSigs(spark, path, k, bands)
  }

  /** The digested (id, tdig, sig) rows — ONE definition shared by the
    * bare and manifest digested builds, because [[refreshLshIndexM]]'s
    * unchanged-doc detection compares stored digests against freshly
    * computed ones: a divergent digest definition between build paths
    * would silently re-sign every doc (or miss changes). */
  private def digestedSigRows(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int): DataFrame =
    sigRowsFromWide(
        wideSigs(rawShingles(docs, textCol, idCol, shingleN), idCol, k),
        idCol, k)
      .join(docs.select(col(idCol).as("id"),
        md5(coalesce(col(textCol), lit(""))).as("tdig")), Seq("id"))
      .select(col("id"), col("tdig"), col("sig"))

  /** Rebuild `bands/` (with uniformly exact counts) from `$path/sigs` —
    * shared by the digested build and the refresh. */
  private def writeBandsFromSigs(
      spark: SparkSession, path: String, k: Int, bands: Int): Unit =
    bandsWithCounts(spark.read.parquet(s"$path/sigs"), k, bands)
      .write.mode("overwrite").parquet(s"$path/bands")

  /** Refresh a digested LSH index against an updated corpus snapshot —
    * the index-maintenance job when the lake is upserted in place rather
    * than append-only: unchanged docs (matching (id, md5(text))) keep
    * their STORED signatures — no re-shingling, no MinHash, the
    * expensive text-side work is paid by changed/added docs only —
    * removed ids drop out, and `bands/` is rebuilt from the refreshed
    * signatures with uniformly exact counts (the [[compactLshIndex]]
    * shape, over slim sig rows). Rebuilding counts rather than patching
    * them is what keeps the probe's pushed `bucket_n` filters sound:
    * removals would make patched stored counts OVERcount, breaking the
    * only-undercount invariant the stale-counts probe relies on.
    * Converges to [[writeLshIndexDigested]] of the new corpus
    * (spec-pinned). */
  def refreshLshIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, path: String, outPath: String): Unit = {
    require(path != outPath,
      "refresh must write to a fresh path (the source index is being read)")
    val spark = docs.sparkSession
    refreshedSigRows(spark.read.parquet(s"$path/sigs"),
        docs, textCol, idCol, shingleN, k)
      .write.mode("overwrite").parquet(s"$outPath/sigs")
    writeBandsFromSigs(spark, outPath, k, bands)
  }

  /** The refreshed (id, tdig, sig) rows: unchanged docs keep stored
    * signatures, changed/added docs re-sign, removed ids drop out. */
  private def refreshedSigRows(old: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, shingleN: Int, k: Int): DataFrame = {
    val cur = docs.select(col(idCol), col(textCol))
      .withColumn("tdig", md5(coalesce(col(textCol), lit(""))))
    val kept = old.join(
      cur.select(col(idCol).as("id"), col("tdig")), Seq("id", "tdig"), "left_semi")
    val freshSrc = cur.join(
        old.select(col("id").as(idCol), col("tdig")), Seq(idCol, "tdig"), "left_anti")
      .localCheckpoint()
    val freshSigs = sigRowsFromWide(wideSigs(
        rawShingles(freshSrc, textCol, idCol, shingleN), idCol, k), idCol, k)
      .join(freshSrc.select(col(idCol).as("id"), col("tdig")), Seq("id"))
      .select(col("id"), col("tdig"), col("sig"))
    kept.unionByName(freshSigs)
  }

  // ---- LSH index under the atomic manifest protocol -------------------
  //
  // Same contract as the gram-log `*M` lifecycle: every write stages
  // immutable segments for the two logical tables (`sigs`, `bands`) and
  // publishes both in ONE manifest commit, so a probe racing any of
  // build/append/compact/refresh resolves a consistent (sigs, bands)
  // pair — never yesterday's bands over today's signatures.

  private val LshSigsTable = "sigs"
  private val LshBandsTable = "bands"

  /** Current committed (bands, sigs) pair — the two frames
    * [[indexedCrossCorpusPairs]] takes, in that argument order. */
  def readLshIndexM(spark: SparkSession, root: String): (DataFrame, DataFrame) = {
    readLshIndexAt(spark, root, graft.index.IndexManifest.snapshot(spark, root))
  }

  /** The (bands, sigs) pair AT a resolved snapshot — the time-travel
    * reader the growing-stream probe uses to walk back past its own
    * committed append on replay (the [[readGramIndexAt]] twin). */
  def readLshIndexAt(spark: SparkSession, root: String,
      snap: graft.index.IndexManifest.Snapshot): (DataFrame, DataFrame) =
    (graft.index.IndexManifest.readAt(spark, root, snap, LshBandsTable),
      graft.index.IndexManifest.readAt(spark, root, snap, LshSigsTable))

  /** [[writeLshIndex]] under the manifest protocol. */
  def buildLshIndexM(shingled: DataFrame, idCol: String,
      k: Int, bands: Int, root: String): Long = {
    val spark = shingled.sparkSession
    val sigSeg = graft.index.IndexManifest.newSegment(LshSigsTable)
    sigRowsFromWide(wideSigs(shingled, idCol, k), idCol, k)
      .write.mode("overwrite").parquet(s"$root/$sigSeg")
    val bandSeg = graft.index.IndexManifest.newSegment(LshBandsTable)
    bandsWithCounts(spark.read.parquet(s"$root/$sigSeg"), k, bands)
      .write.mode("overwrite").parquet(s"$root/$bandSeg")
    graft.index.IndexManifest.commit(spark, root,
      Map(LshSigsTable -> Seq(sigSeg), LshBandsTable -> Seq(bandSeg)),
      meta = Map("family" -> "lsh"))
  }

  /** [[writeLshIndexDigested]] under the manifest protocol (the sigs
    * layout [[refreshLshIndexM]] maintains). */
  def buildLshIndexDigestedM(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, root: String): Long = {
    val spark = docs.sparkSession
    val sigSeg = graft.index.IndexManifest.newSegment(LshSigsTable)
    digestedSigRows(docs, textCol, idCol, shingleN, k)
      .write.mode("overwrite").parquet(s"$root/$sigSeg")
    val bandSeg = graft.index.IndexManifest.newSegment(LshBandsTable)
    bandsWithCounts(spark.read.parquet(s"$root/$sigSeg"), k, bands)
      .write.mode("overwrite").parquet(s"$root/$bandSeg")
    graft.index.IndexManifest.commit(spark, root,
      Map(LshSigsTable -> Seq(sigSeg), LshBandsTable -> Seq(bandSeg)),
      meta = Map("family" -> "lsh"))
  }

  /** [[appendLshIndex]] under the manifest protocol: the delta's sig and
    * as-of-append band rows land as new segments of the two tables,
    * published together atomically (expect-guarded against concurrent
    * writers). Probes over the grown index keep the `staleCounts=true`
    * contract. */
  def appendLshIndexM(deltaShingled: DataFrame, idCol: String,
      k: Int, bands: Int, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = deltaShingled.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val existingBands =
      graft.index.IndexManifest.readAt(spark, root, snap, LshBandsTable)
    val newWide = wideSigs(deltaShingled, idCol, k).localCheckpoint()
    val sigSeg = graft.index.IndexManifest.newSegment(LshSigsTable)
    sigRowsFromWide(newWide, idCol, k)
      .write.mode("overwrite").parquet(s"$root/$sigSeg")
    val bandSeg = graft.index.IndexManifest.newSegment(LshBandsTable)
    appendBandRows(newWide, idCol, k, bands, existingBands)
      .write.mode("overwrite").parquet(s"$root/$bandSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables
        .updated(LshSigsTable, snap.tables(LshSigsTable) :+ sigSeg)
        .updated(LshBandsTable, snap.tables(LshBandsTable) :+ bandSeg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(
        extraMeta, Seq(sigSeg, bandSeg)))
  }

  /** [[compactLshIndex]] as an atomic pointer swap: sigs re-laid as one
    * segment, bands re-annotated with uniformly exact counts, both
    * swapped in with one commit. */
  def compactLshIndexM(spark: SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val sigSeg = graft.index.IndexManifest.newSegment(LshSigsTable)
    graft.index.IndexManifest.readAt(spark, root, snap, LshSigsTable)
      .write.mode("overwrite").parquet(s"$root/$sigSeg")
    val bandSeg = graft.index.IndexManifest.newSegment(LshBandsTable)
    recountBands(graft.index.IndexManifest.readAt(spark, root, snap, LshBandsTable))
      .write.mode("overwrite").parquet(s"$root/$bandSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables
        .updated(LshSigsTable, Seq(sigSeg))
        .updated(LshBandsTable, Seq(bandSeg)),
      expect = Some(snap.version))
  }

  /** [[refreshLshIndex]] as an atomic pointer swap over a digested index
    * ([[buildLshIndexDigestedM]]): unchanged docs keep stored signatures,
    * changed/added docs re-sign, removed ids drop, bands rebuild with
    * exact counts — and the (sigs, bands) pair moves in one commit. */
  def refreshLshIndexM(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, root: String): Long = {
    val spark = docs.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val old = graft.index.IndexManifest.readAt(spark, root, snap, LshSigsTable)
    val sigSeg = graft.index.IndexManifest.newSegment(LshSigsTable)
    refreshedSigRows(old, docs, textCol, idCol, shingleN, k)
      .write.mode("overwrite").parquet(s"$root/$sigSeg")
    val bandSeg = graft.index.IndexManifest.newSegment(LshBandsTable)
    bandsWithCounts(spark.read.parquet(s"$root/$sigSeg"), k, bands)
      .write.mode("overwrite").parquet(s"$root/$bandSeg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables
        .updated(LshSigsTable, Seq(sigSeg))
        .updated(LshBandsTable, Seq(bandSeg)),
      expect = Some(snap.version))
  }

  /** [[crossCorpusLshPairs]] served from a persisted [[writeLshIndex]] —
    * the delta-vs-lake near-dup probe with the lake reduced to its index:
    * no lake re-shingling, no lake signature shuffle, no per-probe
    * hot-bucket aggregate. Pair-for-pair identical to the inline operator
    * on the same corpora and cap (spec-pinned).
    *
    * Scale shape — the index is scanned, never shuffled:
    *  - the delta's bands BROADCAST into the band-bucket join, so the
    *    index band scan streams; the skew cap `bucket_n <= maxBucket` is
    *    a stored-column predicate PUSHED INTO the parquet scan (row-group
    *    pruning on hot buckets, where the inline operator pays a
    *    lake-wide count aggregate every run);
    *  - the capped candidate set (≤ delta-bands × maxBucket) broadcasts
    *    into both signature fetches, so the lake's signature table also
    *    streams through broadcast joins;
    *  - the only hash exchange is the delta-sized candidate `distinct`.
    *
    * `staleCounts=true` keeps the probe EXACT over an APPENDED index
    * ([[appendLshIndex]]), where older rows of a grown bucket undercount
    * `bucket_n`. Both pushed filters stay sound because stored counts
    * only ever undercount: `bucket_n <= maxBucket` can only over-admit
    * (never drops a cold bucket), and any row with `bucket_n > maxBucket`
    * PROVES its bucket hot. So the exact pass scans the band log a second
    * time pruned to over-cap rows (the pushed `>` filter reads only hot
    * row groups), semi-joins by the broadcast delta bands, reduces to the
    * tiny delta-relevant hot-bucket key set, and anti-joins it out of the
    * admitted side — one extra hash exchange over that tiny set, and the
    * lake-sized log still never shuffles. */
  def indexedCrossCorpusPairs(indexBands: DataFrame, indexSigs: DataFrame,
      newShingled: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucket: Int, minEst: Double = 0.0,
      staleCounts: Boolean = false): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket would drop every bucket")
    val newWide = wideSigs(newShingled, idCol, k).localCheckpoint()
    val nb = broadcast(bandsFromWide(newWide, idCol, k, bands)
      .select(col(idCol).as("id_new"), col("band"), col("band_hash")))
    val bb0 = indexBands.filter(col("bucket_n") <= maxBucket)
      .select(col("id").as("id_base"), col("band"), col("band_hash"))
    val bb = if (!staleCounts) bb0 else {
      val hotKeys = indexBands.filter(col("bucket_n") > maxBucket)
        .select(col("band"), col("band_hash"))
        .join(nb.select(col("band"), col("band_hash")),
          Seq("band", "band_hash"), "left_semi")
        .distinct()
      bb0.join(broadcast(hotKeys), Seq("band", "band_hash"), "left_anti")
    }
    val cand = nb.join(bb, Seq("band", "band_hash"))
      .select(col("id_new"), col("id_base")).distinct()
    val newSig = newWide.select(col(idCol).as("id_new"),
      array((0 until k).map(i => col(s"__m$i")): _*).as("__snew"))
    // the candidate set is delta×cap-bounded ONLY under a finite
    // maxBucket — with the cap off, one hot band bucket makes it
    // lake-sized, and a hard broadcast hint would force a driver
    // collect/OOM (the crossCorpusLshPairs candBounded guard; beyond
    // the cap AQE picks the join side from runtime stats)
    val candBounded = maxBucket != Int.MaxValue
    val withNew = (if (candBounded) broadcast(cand) else cand)
      .join(newSig, Seq("id_new"))
    (if (candBounded) broadcast(withNew) else withNew)
      .join(indexSigs.select(col("id").as("id_base"), col("sig").as("__sbase")),
        Seq("id_base"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__snew"), col("__sbase"), (x, y) => x === y),
          b => b)).cast("double") / k)
      .filter(col("est_jaccard") >= minEst)
      .select(col("id_new"), col("id_base"), col("est_jaccard"))
  }

  /** Fuzzy (edit-distance) near-dup pairs — the classic record-linkage
    * modality: documents whose `keyChars`-char near-key is within
    * `maxDist` Levenshtein edits, compared only inside `blockChars`-char
    * prefix blocks (standard blocking: an edit inside the block prefix
    * escapes the block — recall is a blocking choice, like every LSH
    * family here; tighten by unioning a second blocking pass on a
    * different key if the corpus needs it). Levenshtein runs on the
    * bounded near-key, never the full document, so the per-pair cost is
    * O(keyChars²) regardless of document size; `maxBlock` caps the
    * quadratic within-block term with the same broadcast anti-join
    * skew guard as the LSH/simhash/embedding variants. Spark's
    * `levenshtein` and DuckDB's agree exactly (classic unweighted edit
    * distance), so pairs and distances hash-match. */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      keyChars: Int, blockChars: Int, maxDist: Int,
      maxBlock: Int = Int.MaxValue): DataFrame = {
    require(keyChars > 0 && blockChars > 0 && blockChars <= keyChars,
      s"need 0 < blockChars=$blockChars <= keyChars=$keyChars")
    require(maxDist >= 0, s"maxDist=$maxDist must be non-negative")
    require(maxBlock > 1, s"maxBlock=$maxBlock would drop every block")
    val allKeyed = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        substring(col(textCol), 1, keyChars).as("__key"),
        substring(col(textCol), 1, blockChars).as("__blk"))
    val keyed = (if (maxBlock == Int.MaxValue) allKeyed else {
      val hot = allKeyed.groupBy(col("__blk"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBlock)
        .select(col("__blk"))
      allKeyed.join(broadcast(hot), Seq("__blk"), "left_anti")
    }).localCheckpoint() // materialize before self-join (see lshCandidates)
    val a = keyed.as("a"); val b = keyed.as("b")
    // r20: THRESHOLDED levenshtein — the 3-arg built-in computes only the
    // ±maxDist diagonal band and early-exits (O(keyChars·maxDist) per
    // pair, not O(keyChars²)), returning -1 past the bound. Same
    // surviving pairs with the same distances by definition: dist ≤
    // maxDist rows are returned exactly, everything else was filtered
    // out before and maps to -1 (dropped by the same predicate) now.
    // Measured sf0.1: the pair-scan job 1.00 → ~0.4 s (guide §1.2 —
    // per-task work, after the block/cap shape is already right).
    a.join(b, col("a.__blk") === col("b.__blk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("dist", levenshtein(col("a.__key"), col("b.__key"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("dist"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within sign-LSH buckets
    * (see [[Similarity.signBucket]]) — the bucelocated variant of the
    * all-pairs check that survives a 100× corpus. */
  def embeddingDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signBits: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket would drop every bucket")
    val allBucketed = emb.withColumn("bucket", Similarity.signBucket(col(vecCol), signBits))
    // Same skew guard as simhashPairs: cap the quadratic within-bucket
    // term by anti-joining the (tiny) oversize-bucket set before the
    // self-join. An oversize sign bucket is a boilerplate clique —
    // [[exact]]/[[incremental]] dedup covers it at linear cost.
    val withBucket = (if (maxBucket == Int.MaxValue) allBucketed else {
      val hot = allBucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select(col("bucket"))
      allBucketed.join(broadcast(hot), Seq("bucket"), "left_anti")
    }).localCheckpoint() // materialize before self-join (see lshCandidates)
    val a = withBucket.as("a"); val b = withBucket.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cosine", Similarity.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .filter(col("cosine") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("cosine"))
  }

  /** SemDeDup — cluster-scoped semantic deduplication (the published
    * web-scale recipe: k-means-partition the embedding space, compare
    * pairs only WITHIN a cluster, and of every semantic-duplicate
    * relation keep the copy LEAST similar to its cluster centroid — the
    * keep-low-centroid-similarity policy, which retains the most
    * atypical representative).
    *
    * Exact rule, deterministic and oracle-replayable: a row is removed
    * iff some same-cluster row has round-6 pair cosine ≥ `threshold`
    * AND strictly higher keep-priority, priority ordering by
    * (centroid cosine ASC, id ASC). This is the pairwise-dominance
    * screen the published procedure runs per cluster; the
    * transitive-group variant of semantic dedup stays [[clusters]] over
    * [[embeddingDupPairs]] (`dedup_embedding_clusters`).
    *
    * Scale shape: centroid assignment AND the winner's cosine are one
    * zero-shuffle struct-kernel projection
    * ([[Similarity.assignClustersWithSim]] — no join back to the
    * centroid frame, nothing for constraint propagation to infer); the
    * quadratic term
    * is confined to within-cluster pairs and capped by `maxCluster`
    * exactly like every LSH-bucket family here (an oversize cluster is
    * a boilerplate clique — exact dedup covers it at linear cost; its
    * rows are dropped from the output like [[embeddingDupPairs]] drops
    * oversize buckets, so the cap is visible, not silent); the only
    * corpus-keyed exchanges are the self-join's cluster hash shuffle
    * and the result-sized dominated-id distinct. Nothing is all-pairs.
    *
    * Output: (id, cluster, centroid_sim, keep) — one row per input row
    * (in surviving clusters), `keep = false` marking removals. */
  def semDedup(
      emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxCluster: Int = Int.MaxValue): DataFrame = {
    require(maxCluster > 1, s"maxCluster=$maxCluster would drop every cluster")
    // one argmax pass: assignment + the winner's cosine from the struct
    // kernel — no join back to the centroid frame (whose filters
    // constraint propagation would re-infer onto `cluster`, re-running
    // the argmax kernel per row inside a Filter)
    val assigned = Similarity.assignClustersWithSim(
        emb.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cluster"), col("centroid_sim"))
    // same skew guard as embeddingDupPairs/lshCandidates: cap the
    // within-cluster quadratic term by anti-joining the (tiny)
    // oversize-cluster set before the self-join; materialize first so
    // the self-join reads one computed copy
    val capped = (if (maxCluster == Int.MaxValue) assigned else {
      val hot = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxCluster)
        .select(col("cluster"))
      assigned.join(broadcast(hot), Seq("cluster"), "left_anti")
    }).localCheckpoint()
    val a = capped.as("a"); val b = capped.as("b")
    val dominated = a.join(b,
        col("a.cluster") === col("b.cluster") &&
        col(s"a.$idCol") =!= col(s"b.$idCol") &&
        round(Similarity.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")), 6)
          >= threshold &&
        (col("b.centroid_sim") < col("a.centroid_sim") ||
         (col("b.centroid_sim") === col("a.centroid_sim") &&
          col(s"b.$idCol") < col(s"a.$idCol"))))
      .select(col(s"a.$idCol").as(idCol)).distinct()
      .withColumn("__rm", lit(true))
    capped.join(dominated, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("centroid_sim"),
        coalesce(!col("__rm"), lit(true)).as("keep"))
  }

  /** Gaps-and-islands fold of 1-based repeated-gram start positions
    * (`pos`) into maximal covered [span_start, span_end] CHAR ranges —
    * the shared tail of the whole char-gram span family (batch,
    * keep-first, incremental, bucketed, and the streaming leg), so the
    * merge convention has ONE definition. prevEnd is EXCLUSIVE:
    * max(pos + gramChars) = last covered char + 1, so pos > prevEnd is
    * a genuine gap and pos == prevEnd touches → merge. The per-doc
    * window runs over repeated POSITIONS only (result-sized, never the
    * corpus). */
  private[graft] def islandsToSpans(
      pts: DataFrame, idCol: String, gramChars: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + gramChars)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    pts
      .withColumn("__brk", when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (gramChars - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Shared core of the span family: keep the gram occurrences whose
    * digest reaches `minDocs` DISTINCT documents, each surviving row
    * carrying `__lo` = the lowest doc id of its digest (the keep-first
    * owner). Input must expose `__h` (the gram digest) plus `idCol` and
    * any position columns, which pass through untouched.
    *
    * Plan shape — the part that has to survive 100 TB AND a monster
    * exact-copy clique: the gram table is repartitioned by digest ONCE,
    * and BOTH consumers — the repeated-digest aggregate and the probe
    * side of the join — read that same exchange (`ReusedExchange` in the
    * physical plan: the scan+kernel+explode subtree is evaluated once
    * and its shuffle files are read twice; materializing the gram table
    * instead would persist ~20 bytes per corpus character — shuffle-file
    * reuse gives the single-evaluation win without the storage). The
    * aggregated side is per-digest rows only, so the SHUFFLE_HASH hint
    * builds the hash table from it and the occurrence side STREAMS —
    * no sort, no per-group buffering, so a million-doc boilerplate gram
    * is a streaming probe pass, where a per-digest window would sort and
    * buffer the whole clique in one task (measured: the window form blew
    * the ≤2× skew budget at 2.17× on the monster-clique stress; the
    * join form holds) and the un-reused aggregate+join form paid the
    * kernel twice. Build memory is the partition's share of distinct
    * repeated digests (16 B each) — size `spark.sql.shuffle.partitions`
    * to the corpus as usual and it stays a few MB per task. */
  private def repeatedOccurrences(
      grams: DataFrame, idCol: String, minDocs: Int,
      posSum: Column): DataFrame = {
    // null ids can't own or count toward the distinct-doc test; filtering
    // them in the SHARED subtree also keeps the two exchange copies
    // canonically identical when a caller's downstream `id != owner`
    // filter makes the optimizer infer `isnotnull(id)` on the probe side
    val byDigest = grams.filter(col(idCol).isNotNull).repartition(col("__h"))
    // `max(posSum)` is semantically ignored (the `>= 0` conjunct is
    // vacuously true — positions are non-negative — but not provably so
    // to the optimizer): it exists to REFERENCE the position columns in
    // the aggregate, so column pruning cannot push a narrower Project
    // below the build-side copy of the exchange. Both exchange subtrees
    // then canonicalize identically, which is the precondition for
    // ReuseExchange / AQE's stage cache to serve both consumers from
    // one shuffle. Without it the build side exchanges (id, digest)
    // rows, the probe exchanges (id, pos, digest) rows, and the
    // scan+kernel+explode subtree runs twice.
    val rep = (if (minDocs == 2)
        // ">= 2 distinct docs" ⟺ min(id) != max(id) — plain min/max,
        // none of count-distinct's expand machinery
        byDigest.groupBy(col("__h"))
          .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"),
            max(posSum).as("__mp"))
          .filter(col("__lo") =!= col("__hi") && col("__mp") >= 0)
      else
        byDigest.groupBy(col("__h"))
          .agg(count_distinct(col(idCol)).as("__nd"), min(col(idCol)).as("__lo"),
            max(posSum).as("__mp"))
          .filter(col("__nd") >= minDocs && col("__mp") >= 0))
      .select(col("__h"), col("__lo"))
    // rep is unique per digest, so the inner join is an occurrence
    // filter that also delivers the owner id
    byDigest.join(rep.hint("SHUFFLE_HASH"), Seq("__h"))
  }

  /** Repeated-substring SPANS — the exact-substring dedup modality of the
    * published training-data literature (the suffix-array "dedup
    * exact-substrings" pipelines): every maximal 1-based character range
    * of each document covered by length-`gramChars` grams occurring in at
    * least `minDocs` DISTINCT documents. Where the pairwise dedup families
    * classify whole documents, this one localizes the shared bytes — the
    * boilerplate header, the license block, the templated passage — so
    * the consumer can strip the span (or drop docs whose covered fraction
    * is high) instead of discarding whole documents.
    *
    * Spark shape replacing the suffix array (a global sorted structure no
    * executor could hold): (1) per-doc gram DIGESTS come from ONE
    * codegen'd kernel call per document ([[graft.functions.GramDigests]]
    * — a `transform(sequence, i -> digest60(substring))` one-liner
    * computes the same values but `ArrayTransform` is CodegenFallback,
    * an interpreted per-gram round trip that measured as the chain's
    * dominant cost), so the document string never survives the explode —
    * only (id, pos, 8-byte digest) rows do; (2) [[repeatedOccurrences]]
    * marks positions whose gram reaches `minDocs` distinct docs off ONE
    * digest-keyed shuffle whose exchange both consumers reuse — linear
    * in occurrences, never pairwise, so a boilerplate gram shared by a
    * million documents costs its million occurrence rows, not a million²
    * pair rows (no `maxDocFreq` cap needed: nothing here is quadratic);
    * (3) a per-doc gaps-and-islands window merges overlapping-or-touching
    * gram ranges into maximal spans, state bounded by document length.
    * Two keyed shuffles total (per-digest, per-doc) — each partitions
    * cleanly at any corpus size.
    *
    * Determinism: positions are 1-based character offsets, the digest is
    * the md5-based 60-bit [[TextAnalysis.tokenHash60]] family, every step
    * is integer arithmetic — the DuckDB oracle replays the span set
    * exactly. */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, minDocs: Int = 2): DataFrame = {
    require(gramChars > 0, s"gramChars=$gramChars must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every position is a span")
    val grams = graft.Tables.widenScan(df
        .filter(col(textCol).isNotNull && length(col(textCol)) >= gramChars))
      .select(col(idCol), posexplode(
          GraftFunctions.gramDigests(col(textCol), gramChars))
        .as(Seq("__p0", "__h")))
    val pts = repeatedOccurrences(grams, idCol, minDocs, col("__p0"))
      .select(col(idCol), (col("__p0") + 1).as("pos"))
    // gaps-and-islands: a new island starts where this gram's range no
    // longer overlaps or touches the furthest end seen so far (prevEnd is
    // EXCLUSIVE: max(pos + gramChars) = last covered char + 1, so
    // pos > prevEnd means a genuine gap; pos == prevEnd touches → merge)
    islandsToSpans(pts, idCol, gramChars)
  }

  /** Token-granular [[repeatedSpans]]: grams are `gramTokens` consecutive
    * whitespace tokens instead of a fixed character window — the unit the
    * published suffix-array dedup counts (50-TOKEN windows), so a repeated
    * sentence matches as a unit regardless of its character length.
    * Emitted spans are still 1-based CHARACTER ranges (each gram's
    * covering range comes from the kernel's token-offset index), so the
    * output feeds [[stripSpans]] unchanged.
    *
    * Scale shape is identical to the char version — the whole-document
    * [[graft.functions.TokenGramDigests]] kernel (one codegen'd call per
    * doc; the string never survives the explode, only (id, s, e, digest)
    * rows do), then the same two keyed shuffles: [[repeatedOccurrences]]
    * marking grams in >= 2 distinct docs (linear in occurrences, never
    * pairs²) and the per-doc gaps-and-islands merge. The
    * island window orders by span start with an EXCLUSIVE running
    * prev-end max — correct for variable-length gram ranges because a
    * range starting at or before max(e)+1 overlaps-or-touches the
    * furthest end seen. */
  def repeatedTokenSpans(
      df: DataFrame, idCol: String, textCol: String,
      gramTokens: Int, minDocs: Int = 2): DataFrame = {
    require(gramTokens > 0, s"gramTokens=$gramTokens must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every position is a span")
    val grams = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(
          GraftFunctions.tokenGramDigests(col(textCol), gramTokens))
        .as("__g"))
      .select(col(idCol), col("__g.s").as("s"), col("__g.e").as("e"),
        col("__g.h").as("__h"))
    val pts = repeatedOccurrences(grams, idCol, minDocs, col("s") + col("e"))
      .select(col(idCol), col("s"), col("e"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val prevEnd = max(col("e") + 1)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    pts
      .withColumn("__brk", when(col("s") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Keep-first [[repeatedSpans]] — the one-copy-survives policy of the
    * published suffix-array dedup (remove all but ONE occurrence of each
    * duplicated substring, rather than erasing it from every document):
    * per repeated gram, the LOWEST doc id is the owner and keeps its
    * copy; spans are built only from occurrences in non-owner documents.
    * Stripping the result leaves exactly one surviving copy of each
    * duplicated passage in the corpus — the variant that deduplicates
    * without destroying the passage's last copy. (The owner keeps all
    * its occurrences, including within-doc repeats; ownership is
    * per-gram, so overlapping grams owned by different docs each
    * protect only their own range.)
    *
    * Scale shape is [[repeatedSpans]] with one change: the row filter
    * `id != owner` reads the owner id [[repeatedOccurrences]] already
    * carries — still linear in occurrences, never pairs². Two keyed
    * shuffles, no quadratic term, no cap dial. */
  def repeatedSpansKeepFirst(
      df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, minDocs: Int = 2): DataFrame = {
    require(gramChars > 0, s"gramChars=$gramChars must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every position is a span")
    val grams = graft.Tables.widenScan(df
        .filter(col(textCol).isNotNull && length(col(textCol)) >= gramChars))
      .select(col(idCol), posexplode(
          GraftFunctions.gramDigests(col(textCol), gramChars))
        .as(Seq("__p0", "__h")))
    // owner = min(id) per repeated digest — [[repeatedOccurrences]]
    // carries it on every surviving row; the owner exemption is one
    // extra row filter.
    val pts = repeatedOccurrences(grams, idCol, minDocs, col("__p0"))
      .filter(col(idCol) =!= col("__lo"))
      .select(col(idCol), (col("__p0") + 1).as("pos"))
    islandsToSpans(pts, idCol, gramChars)
  }

  /** Write the standing corpus's gram-digest INDEX to parquet: one row per
    * DISTINCT gram digest, carrying the owning (minimum) doc id. This is
    * the artifact that makes repeated-span dedup INCREMENTAL at 100 TB:
    * the lake's grams are digested ONCE, reduced to their distinct-digest
    * summary (a keyed shuffle with map-side partial min — far smaller than
    * the occurrence table: ~16 bytes per distinct gram), and persisted;
    * every subsequent delta probes the index instead of re-scanning the
    * lake. Same producer chain as [[repeatedSpans]] (whole-document
    * [[graft.functions.GramDigests]] kernel, digest-keyed aggregate), so
    * index + delta compose to exactly the whole-corpus answer. */
  def writeGramIndex(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, path: String): Unit =
    gramIndexFrame(df, idCol, textCol, gramChars)
      .write.mode("overwrite").parquet(path)

  /** The (h, owner) index frame both persisted layouts write. */
  private def gramIndexFrame(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int): DataFrame = {
    require(gramChars > 0, s"gramChars=$gramChars must be positive")
    graft.Tables.widenScan(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= gramChars &&
          col(idCol).isNotNull))
      .select(col(idCol), explode(
          GraftFunctions.gramDigests(col(textCol), gramChars))
        .as("__h"))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("owner"))
      .select(col("__h").as("h"), col("owner"))
  }

  /** [[writeGramIndex]] as a BUCKETED catalog table — the big-delta
    * regime. The broadcast probe of [[incrementalSpans]] assumes the
    * delta's distinct digest set fits an executor broadcast (~8 B per
    * digest — fine for daily batches, not for a backfill that re-ingests
    * a quarter of the lake). Bucketing the index by digest pre-pays its
    * join shuffle at build time: [[incrementalSpansBucketed]] then joins
    * delta aggregates against the index with NO exchange on the index
    * side at ANY delta size — the bucketed layout satisfies the join's
    * distribution (the [[Bucketing]] contract), and within-bucket sort
    * by `h` lets a merge join skip its sort. `buckets` should match
    * `spark.sql.shuffle.partitions` so the delta's digest exchange is
    * reused as-is against the bucket layout. */
  def writeGramIndexBucketed(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, table: String, buckets: Int): Unit =
    Bucketing.writeBucketed(gramIndexFrame(df, idCol, textCol, gramChars),
      table, "h", buckets, sortCols = Seq("h"))

  /** [[incrementalSpans]] against a BUCKETED index
    * ([[writeGramIndexBucketed]]) — no broadcast anywhere, so the probe
    * holds when the delta is too large for the broadcast contract: the
    * delta's digest aggregate joins the index on `h` with the index side
    * reading its buckets in place (zero exchange — pre-paid at build),
    * and only the delta moves. Result-identical to [[incrementalSpans]]
    * (spec-pinned). */
  def incrementalSpansBucketed(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int): DataFrame = {
    require(gramChars > 0, s"gramChars=$gramChars must be positive")
    val grams = delta
      .filter(col(textCol).isNotNull && length(col(textCol)) >= gramChars)
      .select(col(idCol), posexplode(
          GraftFunctions.gramDigests(col(textCol), gramChars))
        .as(Seq("__p0", "__h")))
    val byDigest = grams.filter(col(idCol).isNotNull).repartition(col("__h"))
    val agg = byDigest.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"),
        max(col("__p0")).as("__mp"))
      .filter(col("__mp") >= 0 && col("__lo") <= col("__hi"))
    // delta-agg ⋈ index on the digest: the index's bucketed layout
    // satisfies the join's required distribution, so only the (already
    // exchanged) delta side moves; owner is non-null in the index by
    // construction, so it doubles as the hit marker
    val rep = agg
      .join(index.select(col("h").as("__h"), col("owner").as("__lown")),
        Seq("__h"), "left")
      .filter(col("__lo") =!= col("__hi") || col("__lown").isNotNull)
      .select(col("__h"))
    val pts = byDigest.join(rep.hint("SHUFFLE_HASH"), Seq("__h"))
      .select(col(idCol), (col("__p0") + 1).as("pos"))
    islandsToSpans(pts, idCol, gramChars)
  }

  /** Fold a processed delta's gram digests into the standing index —
    * the append half of the incremental loop ([[incrementalSpans]] probes,
    * this persists, the next delta probes the grown index). The standing
    * index is NEVER shuffled or rewritten: the delta's distinct digests
    * (one delta-keyed aggregate) are anti-joined against the BROADCAST
    * set of their own index hits (computed by the same shuffle-free
    * streaming semi-probe the span discovery uses), and only the NOVEL
    * digests append as new parquet files. The index directory is an
    * append-only digest log — per batch it grows by that batch's new
    * grams, and a 100 TB lake's index is only ever scanned, never moved.
    *
    * Owner semantics under append-only: a novel digest records the
    * delta's minimum id; a digest already present keeps its existing
    * rows untouched, and when the delta's minimum id undercuts the
    * stored owner an owner-LOWERING row is appended instead of a
    * rewrite. Readers reduce `min(owner)` per digest (keep-first does so
    * over its delta-sized hit set), so ownership stays exact whether or
    * not ingest ids are monotone, and the log is still only ever
    * appended — never shuffled or rewritten. */
  def appendGramIndex(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int, path: String): Unit =
    gramIndexDeltaRows(index, delta, idCol, textCol, gramChars)
      .write.mode("append").parquet(path)

  /** The rows one append adds to the digest log: novel digests plus
    * owner-lowering rows (shared by the bare-path append and the
    * manifest lifecycle). */
  private def gramIndexDeltaRows(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int): DataFrame = {
    val deltaAgg = gramIndexFrame(delta, idCol, textCol, gramChars)
    // stored owner per hit digest = min across rows: the log may already
    // carry lowering rows from earlier non-monotone appends
    val hitOwners = index.select(col("h"), col("owner"))
      .join(broadcast(deltaAgg.select(col("h"))), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("owner")).as("__iown"))
    val novel = deltaAgg
      .join(broadcast(hitOwners.select(col("h"))), Seq("h"), "left_anti")
    val lowered = deltaAgg.join(broadcast(hitOwners), Seq("h"))
      .filter(col("owner") < col("__iown"))
      .select(col("h"), col("owner"))
    novel.unionByName(lowered)
  }

  /** Compact the append-only gram-digest log back to one row per digest
    * (minimum owner) — the maintenance half of [[appendGramIndex]]'s
    * contract. Every append grows the log by its novel digests plus any
    * owner-lowering rows; probes stay exact at any log shape (readers
    * reduce min per digest), but a log that has absorbed thousands of
    * batches carries duplicate-digest rows and ever more parquet files —
    * read amplification, not wrong answers. Compaction rewrites the log
    * as `min(owner) GROUP BY h`: ONE keyed shuffle over the ~16-byte
    * digest rows (map-side partial min; never touches corpus text), so
    * compacting a 100 TB lake's index costs a scan of the index, not of
    * the lake. The output is byte-equal to [[writeGramIndex]] run over
    * the whole accumulated corpus — append+compact and from-scratch
    * converge (spec-pinned), so compaction can run on any cadence
    * without changing a single probe result. */
  def compactGramIndex(spark: SparkSession, path: String, outPath: String): Unit = {
    require(path != outPath,
      "compact must write to a fresh path (the source log is being read)")
    spark.read.parquet(path)
      .groupBy(col("h")).agg(min(col("owner")).as("owner"))
      .write.mode("overwrite").parquet(outPath)
  }

  // ---- gram-digest log under the atomic manifest protocol -------------
  //
  // The bare-path lifecycle above mutates one parquet directory in place:
  // fine at one-writer cadence, but a probe racing an append can list a
  // partial file set, and compaction leaves the old/new swap to the
  // caller. The [[graft.index.IndexManifest]] variants stage every write
  // as an immutable segment and publish it with one atomic manifest
  // commit — probe-during-append sees the old log or the new log, never
  // a mix, and compaction IS the pointer swap.

  private val GramTable = "grams"

  /** [[writeGramIndex]] under the manifest protocol. Returns the
    * committed version. */
  def buildGramIndexM(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, root: String): Long = {
    val seg = graft.index.IndexManifest.newSegment(GramTable)
    gramIndexFrame(df, idCol, textCol, gramChars)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(df.sparkSession, root,
      Map(GramTable -> Seq(seg)), meta = Map("family" -> "gram"))
  }

  /** The digest log at the current committed version — what every probe
    * ([[incrementalSpans]] etc.) should be handed. */
  def readGramIndexM(spark: SparkSession, root: String): DataFrame =
    graft.index.IndexManifest.read(spark, root, GramTable)

  /** The digest log pinned at a RESOLVED snapshot — what the exactly-once
    * streaming append probes with: a replayed micro-batch must read the
    * index as of BEFORE its own (already-committed) append, or every one
    * of its grams would self-match. */
  def readGramIndexAt(spark: SparkSession, root: String,
      snap: graft.index.IndexManifest.Snapshot): DataFrame =
    graft.index.IndexManifest.readAt(spark, root, snap, GramTable)

  /** [[appendGramIndex]] under the manifest protocol: the delta's novel +
    * owner-lowering rows land as a NEW segment, published atomically. The
    * commit carries the snapshot version the delta was computed against,
    * so a concurrent writer surfaces as ConcurrentModificationException
    * instead of a silently stale append. `extraMeta` rides on the commit
    * (merged over the inherited metadata) — the exactly-once streaming
    * append stamps its micro-batch id here so a replayed batch can prove
    * its append already landed and skip instead of double-committing. */
  def appendGramIndexM(delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int, root: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = delta.sparkSession
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val idx = graft.index.IndexManifest.readAt(spark, root, snap, GramTable)
    val seg = graft.index.IndexManifest.newSegment(GramTable)
    gramIndexDeltaRows(idx, delta, idCol, textCol, gramChars)
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(GramTable, snap.tables(GramTable) :+ seg),
      expect = Some(snap.version),
      meta = graft.index.IndexManifest.stampAppendSegs(extraMeta, Seq(seg)))
  }

  /** [[compactGramIndex]] as an atomic pointer swap: the folded
    * min-owner log is staged as one fresh segment and the manifest moves
    * to it in a single commit — old segments stay on disk for pinned
    * readers until [[graft.index.IndexManifest.vacuum]]. */
  def compactGramIndexM(spark: SparkSession, root: String): Long = {
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val seg = graft.index.IndexManifest.newSegment(GramTable)
    graft.index.IndexManifest.readAt(spark, root, snap, GramTable)
      .groupBy(col("h")).agg(min(col("owner")).as("owner"))
      .write.mode("overwrite").parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated(GramTable, Seq(seg)),
      expect = Some(snap.version))
  }

  /** Incremental [[repeatedSpans]]: spans for a DELTA batch against a
    * standing corpus represented only by its persisted gram-digest index
    * ([[writeGramIndex]]). With lake and delta doc ids disjoint, a delta
    * gram is repeated (≥ 2 distinct docs across lake ∪ delta) iff its
    * digest exists in the index at all, OR it occurs in ≥ 2 distinct
    * delta docs — so the result equals [[repeatedSpans]] over the whole
    * corpus restricted to delta documents, without touching lake text.
    *
    * Scale shape — the lake never shuffles:
    *  - the delta's grams come from one kernel pass and ONE digest-keyed
    *    exchange that every consumer reuses (the [[repeatedOccurrences]]
    *    shared-exchange pattern, incl. the column-set pin);
    *  - the INDEX side is a parquet scan pruned to its 8-byte digest
    *    column, probed by a BROADCAST left-semi of the delta's distinct
    *    digests — streaming, shuffle-free, linear in index size and
    *    independent of lake text;
    *  - surviving index hits (delta-sized or smaller) broadcast back to
    *    mark repeated digests, the occurrence probe streams through a
    *    SHUFFLE_HASH join on the reused exchange, and the per-doc
    *    gaps-and-islands merge is the only other keyed shuffle.
    * Two delta-keyed shuffles total; index traffic is broadcast-only. */
  def incrementalSpans(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int): DataFrame =
    incrementalSpansImpl(index, delta, idCol, textCol, gramChars, keepFirst = false)

  /** Keep-first [[incrementalSpans]] — the one-copy-survives policy of
    * [[repeatedSpansKeepFirst]] against the persisted index, the
    * combination a production exact-substring dedup actually runs: per
    * repeated gram the OWNER keeps its copy, and the index's stored
    * `owner` column supplies the lake side of that decision (owner =
    * least(index owner, delta minimum) on an index hit, the delta
    * minimum otherwise — exact whether or not ingest ids are monotone).
    * Delta occurrences in the owner document are exempt; spans mark only
    * the copies to strip, so the corpus keeps exactly one copy of every
    * passage without ever re-reading lake text. Equals
    * [[repeatedSpansKeepFirst]] over the whole corpus restricted to
    * delta docs (spec-pinned). Same plan contract as the plain variant,
    * with the index scan widened to (h, owner) — 16 bytes a row. */
  def incrementalSpansKeepFirst(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int): DataFrame =
    incrementalSpansImpl(index, delta, idCol, textCol, gramChars, keepFirst = true)

  private def incrementalSpansImpl(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, gramChars: Int,
      keepFirst: Boolean): DataFrame = {
    require(gramChars > 0, s"gramChars=$gramChars must be positive")
    val grams = delta
      .filter(col(textCol).isNotNull && length(col(textCol)) >= gramChars)
      .select(col(idCol), posexplode(
          GraftFunctions.gramDigests(col(textCol), gramChars))
        .as(Seq("__p0", "__h")))
    val byDigest = grams.filter(col(idCol).isNotNull).repartition(col("__h"))
    // One aggregate serves three consumers (the broadcast probe set, the
    // repeated-digest filter, and nothing else): the vacuously-true
    // `__mp >= 0 && __lo <= __hi` filter references BOTH the position and
    // id columns, so column pruning cannot narrow the exchange under any
    // copy — the precondition for ReuseExchange (same trick as
    // [[repeatedOccurrences]]).
    val agg = byDigest.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"),
        max(col("__p0")).as("__mp"))
      .filter(col("__mp") >= 0 && col("__lo") <= col("__hi"))
    // Index scan pruned to `h` (plus `owner` when the keep-first policy
    // needs it), semi-joined by the BROADCAST delta digest set: the
    // lake-sized side streams and never shuffles. The index writes owner
    // as min of non-null ids, so `__lown.isNotNull` doubles as the hit
    // marker.
    val idxCols =
      if (keepFirst) Seq(col("h").as("__h"), col("owner").as("__lown"))
      else Seq(col("h").as("__h"))
    val hits0 = index.select(idxCols: _*)
      .join(broadcast(agg.select(col("__h"))), Seq("__h"), "left_semi")
    // The digest log may hold several rows per digest (owner-lowering
    // appends from non-monotone deltas). Keep-first reduces its
    // delta-sized hit set to the minimum owner — the exact ownership
    // decision; the existence-only path tolerates duplicate hit rows
    // (duplicate points are island-invariant), so it skips the aggregate.
    val hits =
      if (keepFirst) hits0.groupBy(col("__h")).agg(min(col("__lown")).as("__lown"))
      else hits0
    val hitsMarked =
      if (keepFirst) hits else hits.withColumn("__lown", col("__h"))
    val rep = agg
      .join(broadcast(hitsMarked), Seq("__h"), "left")
      .filter(col("__lo") =!= col("__hi") || col("__lown").isNotNull)
      .select(col("__h") +: (if (keepFirst)
        Seq(coalesce(least(col("__lown"), col("__lo")), col("__lo")).as("__own"))
      else Nil): _*)
    val joined = byDigest.join(rep.hint("SHUFFLE_HASH"), Seq("__h"))
    val pts = (if (keepFirst) joined.filter(col(idCol) =!= col("__own")) else joined)
      .select(col(idCol), (col("__p0") + 1).as("pos"))
    islandsToSpans(pts, idCol, gramChars)
  }

  /** STRIP the spans from the documents — the consumer of
    * [[repeatedSpans]] in the published exact-substring pipelines: each
    * document is rebuilt with its repeated character ranges removed, next
    * to the coverage accounting a drop-or-strip policy reads (a doc
    * mostly made of boilerplate is dropped; a doc with a license header
    * is stripped and kept). Takes ANY disjoint (id, span_start,
    * span_end) frame, so policy filters between the two steps compose
    * (e.g. strip only spans longer than k chars).
    *
    * Scale shape: spans collapse per doc into one sorted array (spans
    * are disjoint, so per-doc state is tiny) through a map-side-partial
    * aggregate, then ONE keyed join back to the corpus and a per-row
    * `aggregate` fold over the span array rebuilds the kept text — no
    * explode of the document, no per-char rows, no window. Docs without
    * spans pass through the left join untouched. */
  def stripSpans(
      df: DataFrame, spans: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(
        sort_array(collect_list(
          struct(col("span_start").as("s"), col("span_end").as("e")))).as("__sp"),
        sum(col("span_end") - col("span_start") + 1).as("__covered"))
    // fold state: (cursor = next uncopied position, acc = kept text so
    // far); each span copies [cursor, span_start) then jumps past the
    // span; the finisher copies the tail. All offsets 1-based, spans
    // sorted and disjoint by the repeatedSpans contract.
    val rebuilt = aggregate(
      col("__sp"),
      struct(lit(1).as("cur"), lit("").as("acc")),
      (st, span) => struct(
        (span.getField("e") + 1).as("cur"),
        concat(st.getField("acc"),
          col(textCol).substr(st.getField("cur"),
            span.getField("s") - st.getField("cur"))).as("acc")),
      st => concat(st.getField("acc"),
        col(textCol).substr(st.getField("cur"),
          length(col(textCol)) - st.getField("cur") + 1)))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__covered"), lit(0L)).as("covered_chars"),
        length(col(textCol)).as("total_chars"),
        when(col("__sp").isNull, col(textCol)).otherwise(rebuilt).as("clean_text"))
  }
}
