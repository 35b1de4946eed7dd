package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (north-star in
  * BASELINE.json — not present in the reference, which has no scalar
  * function surface at all, SURVEY §2 "absent" list).
  *
  * Everything is Column algebra over built-ins (codegen'd, no UDFs) and is
  * deliberately restricted to constructs with exact DuckDB equivalents so
  * the oracle can hash-match: single-space tokenization, explicit character
  * classes (no locale-dependent `\w`), md5 as the only hash, and double
  * arithmetic only in the final ratio step (exact-int numerators).
  */
object TextAnalysis {

  /** Tokenize on single spaces — matches DuckDB `string_split(text, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish regex token count: letter runs, digit runs, or single
    * non-alnum-non-space marks. Same RE semantics in Java regex and RE2. */
  val BpeTokenRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpeTokenRe))

  def punctCount(c: Column): Column = regexp_count(c, lit("[^a-zA-Z0-9 ]"))

  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / length(c).cast("double")

  /** English stopword markers (small fixed set; deterministic). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  // typed lambda, never expr(Column.toString): the splice only parsed
  // for bare column references — composing with any other operator here
  // (e.g. stopwordCount(normalizeText(c))) threw ParseException because
  // Column.toString renders unquoted SQL-invalid text
  def stopwordCount(c: Column): Column =
    size(filter(split(c, " "), t => t.isin(Stopwords: _*)))

  /** Mean token length = chars-excluding-spaces / token count. */
  def avgTokenLen(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") / tokenCount(c).cast("double")

  /** Composite quality score ∈ roughly [0,1]: rewards mid-length docs and
    * low punctuation, penalizes stopword stuffing. Pure double arithmetic
    * over exact integer counts — bit-identical across engines. */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPen  = punctRatio(text) * lit(2.0)
    val stopRatio = stopwordCount(text).cast("double") / tokenCount(text).cast("double")
    greatest(lit(0.0), lenScore - punctPen - greatest(lit(0.0), stopRatio - lit(0.4)))
  }

  /** Language-marker sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "and", "is", "of", "to", "a"),
    "es" -> Seq("el", "la", "los", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "我"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isin(markers: _*)))

  /** Predicted language = argmax marker count, ties broken by language code
    * (deterministic). Returns a struct-sort trick free expression: built as
    * chained CASE over the fixed language list. */
  def langId(text: Column): Column = {
    // greatest score wins; ties → lexicographically first lang code.
    val scored = LangMarkers.map { case (lang, m) => (lang, langScore(text, m)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Character trigrams of `text` in position order (spaces included —
    * deterministic, locale-free); empty array below 3 codepoints. Both
    * engines' substr counts CODEPOINTS, so the gram inventory replays
    * exactly. */
  def trigrams(text: Column): Column =
    when(length(text) >= 3,
      transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** Cavnar–Trenkle (1994) character-n-gram language identification —
    * the TRAINED language-ID modality ([[langId]] above is the
    * marker-word heuristic twin, the [[Classify]] NB filter the
    * word-level trained one): each language's PROFILE is its top
    * `profileK` trigrams ranked by frequency over a labeled seed; a
    * document ranks its own top `docK` trigrams and classifies to the
    * language minimizing the OUT-OF-PLACE distance — Σ |doc rank −
    * language rank|, with a gram absent from the language's profile
    * costing the maximum `profileK`. Ties everywhere break total-order
    * ((count DESC, gram ASC) for ranks; (distance ASC, lang ASC) for
    * the argmin), so the prediction replays exactly in the oracle.
    *
    * Scale shape: profiles are langs×profileK rows (broadcast); the
    * doc side is one trigram scan → per-doc counts → the bounded-heap
    * top-k (keys×k through its one exchange, never a window over the
    * corpus) → a rank window over the ALREADY-k-row frame; the
    * distance join fans each doc's k grams across the (tiny) language
    * list against the broadcast profiles. Nothing corpus-sized
    * shuffles beyond the per-doc gram counts. Docs with no trigrams
    * (NULL/short text) are absent — the classifier's
    * absent-unclassifiable contract. */
  def langIdRank(
      seed: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      profileK: Int = 100, docK: Int = 20): org.apache.spark.sql.DataFrame = {
    require(profileK > 0 && docK > 0,
      s"profileK=$profileK and docK=$docK must be positive")
    import org.apache.spark.sql.expressions.Window
    val lp = seed
      .filter(col(langCol).isNotNull && col(textCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(trigrams(col(textCol))).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("cnt"))
    val lpk = TopK.perKey(lp, Seq("lang"),
        Seq(col("cnt").desc, col("gram").asc), profileK)
      // rank window over the ALREADY-capped profile rows (langs×K)
      .withColumn("lrank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("gram").asc)))
      .select(col("lang"), col("gram"), col("lrank"))
    val dp = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(trigrams(col(textCol))).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    val dpk = TopK.perKey(dp, Seq(idCol),
        Seq(col("cnt").desc, col("gram").asc), docK)
      .withColumn("drank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("cnt").desc, col("gram").asc)))
      .select(col(idCol), col("gram"), col("drank"))
    val langs = lpk.select(col("lang")).distinct()
    val dist = dpk
      .crossJoin(broadcast(langs))
      .join(broadcast(lpk), Seq("lang", "gram"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(coalesce(abs(col("drank") - col("lrank")),
        lit(profileK))).cast("long").as("distance"))
    // argmin + RUNNER-UP in one bounded-heap pass (k=2): `margin` =
    // distance(second-best) − distance(best), Cavnar–Trenkle's standard
    // rejection dial — a downstream mix thresholds on it to drop docs
    // the profiles can't separate (margin 0 = a dead tie, broken to the
    // smaller lang; NULL = only one candidate language, nothing to
    // reject against). row_number and lead share ONE window over the
    // ALREADY-2-row-per-key frame (no aggregate — a string-valued
    // max-by would plan the SortAggregate this plan bans), never the
    // langs×docs grid.
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("distance").asc, col("lang").asc)
    TopK.perKey(dist, Seq(idCol),
        Seq(col("distance").asc, col("lang").asc), 2)
      .withColumn("__r", row_number().over(w))
      .withColumn("margin", lead(col("distance"), 1).over(w) - col("distance"))
      .filter(col("__r") === 1)
      .select(col(idCol), col("lang").as("predicted"), col("distance"),
        col("margin"))
  }

  /** Document fingerprint: md5 of the case/punctuation-normalized text
    * (SURVEY north-star "document fingerprinting"). */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(c, "[^a-zA-Z0-9]", "")))

  /** 60-bit token hash from md5 (15 hex chars → non-negative long) — the
    * cross-engine-stable primitive under MinHash/SimHash. DuckDB twin:
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`. */
  def tokenHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[tokenHash60]] through the native [[graft.functions.Digest60]]
    * expression — bit-identical, zero per-row string allocation. Works on
    * any session (a typed kernel column, not a by-name call). */
  def tokenHash60Native(c: Column): Column =
    GraftFunctions.digest60(c)

  /** SimHash over the token multiset: for each of 60 bits, sum ±1 votes
    * across token hashes; bit set where the vote is positive. Folded over
    * the token array with higher-order functions — no explode, no shuffle.
    */
  def simhash60(text: Column): Column = {
    // typed-lambda form (the previous expr splice of Column.toString only
    // parsed for bare column names). Bit test: shiftright(h, j) % 2 is
    // bit j EXACTLY for the non-negative 60-bit hash — identical to the
    // oracle's (h div 2^j) % 2 (a double-division floor would lose
    // precision past 2^53); shiftleft(1, j) is the exact 2^j the final
    // fold adds.
    val hashes = transform(split(text, " "), tok => tokenHash60(tok))
    aggregate(
      hashes,
      array_repeat(lit(0), 60),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)), (a, j) =>
        a + when(call_function("shiftright", h, j) % 2 === 1, lit(1))
          .otherwise(lit(-1))),
      acc => aggregate(sequence(lit(0), lit(59)), lit(0L), (s, j) =>
        s + when(element_at(acc, j + 1) > 0,
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))))
  }

  /** Feature-hashing text embedding (the "hashing trick"): every token's
    * 60-bit digest picks a dimension (`h mod dim`) and a sign
    * (`(h div dim) mod 2` — an independent bit, the signed variant that
    * keeps the estimator unbiased), and the document's vector is the
    * per-dimension sum of signs — a signed term-frequency vector. This is
    * the MODEL-FREE bridge from the text pipeline to the ANN/dedup stack:
    * bag-of-words similarity becomes cosine over a fixed `dim`-float
    * embedding, so every vector operator here (brute/LSH/IVF/SQ8/PQ
    * search, embedding near-dup) runs over plain text with no encoder.
    *
    * Scale shape: one explode of the token stream into a (doc, dim-index)
    * keyed HashAggregate — partial sums combine map-side, and the key
    * space (docs × dim) carries no hot-token skew (a stopword's mass
    * spreads over its documents, unlike a groupBy(token)). A zero row per
    * (doc, index) densifies absent dimensions, so the assembled array is
    * always `dim` wide in index order. Components are exact small
    * integers (sums of ±1), so every downstream cosine reproduces
    * bit-for-bit in the DuckDB oracle. */
  def hashEmbed(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    df.select(col(idCol),
      GraftFunctions.hashEmbed(col(textCol), dim).as("embedding"))
  }

  /** Canonical text normalization for dedup/training pipelines:
    * lowercase, collapse every whitespace run to one space, trim. Kept to
    * constructs with exact DuckDB twins (`lower`, `regexp_replace(…,
    * '\s+', ' ', 'g')`, `trim`) so normalized text hash-matches. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** PII redaction — the scrub every training corpus runs before
    * anything else sees the text. Three deterministic pattern families
    * (email, NANP-style phone, IPv4), replaced with typed placeholder
    * tokens so downstream token statistics stay stable. Patterns are
    * restricted to syntax with IDENTICAL semantics in Java regex (Spark,
    * codegen'd `regexp_replace`) and RE2 (DuckDB with the 'g' flag):
    * explicit classes, bounded repetition, ASCII `\b`. Order matters:
    * emails first (their domains contain dot-runs an aggressive IP/phone
    * pass could clip). This is pattern scrubbing, not NER — the
    * placeholder vocabulary is the contract, the pattern list is the
    * extension point. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"                -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, tag)) => regexp_replace(c, re, tag) }

  /** Split documents into fixed-size token windows with overlap — the
    * chunking step that turns raw documents into training-length
    * sequences (and RAG corpora into retrievable passages). Chunk starts
    * advance by `chunkTokens − overlapTokens`; the LAST start is the
    * first one whose window reaches the end of the document, so every
    * token is covered exactly once by a full-or-final window and no
    * degenerate all-overlap suffix chunk is emitted. Output: one row per
    * (doc, chunk_id) with the chunk text and its token count.
    *
    * Scale shape: a single projection + explode over the scan — the
    * token array, chunk count, and every slice are computed per row with
    * no shuffle at all; the output is partitioned exactly like the
    * input, which is what a follow-on write or embed pass wants. Integer
    * arithmetic only (ceil-div via `(x + step − 1) div step`), so the
    * DuckDB `//` replay is bit-identical. NULL text emits no rows — an
    * explicit filter: both engines' `greatest(NULL, 0)` ignore the NULL
    * and would otherwise emit one all-NULL chunk. */
  def chunk(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0, s"chunkTokens=$chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens=$overlapTokens must be in [0, $chunkTokens)")
    val step = chunkTokens - overlapTokens
    df.filter(col(textCol).isNotNull)
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__nchunks",
        (expr(s"(greatest(size(__toks) - $chunkTokens, 0) + ${step - 1}) div $step") + 1)
          .cast("int"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nchunks") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(
          slice(col("__toks"), col("chunk_id") * step + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("__toks"), col("chunk_id") * step + 1, lit(chunkTokens)))
          .as("n_tokens"))
  }

  /** Perplexity-proxy fluency score — the model-free version of the
    * LM-based quality filter every pretraining pipeline runs: a bigram
    * model is estimated from the corpus ITSELF (maximum likelihood,
    * `P(w2|w1) = c(w1 w2) / c(w1 ·)`), and each document scores the mean
    * conditional probability of its own bigrams. Repetitive/templated
    * text scores high, token-soup scores low; filter by percentile like
    * any quality dial. No logarithm anywhere — the score is built from
    * integer counts, IEEE-exact divisions, and the repo's 6 dp
    * pre-rounding, so the DuckDB oracle hash-matches without
    * transcendental-function ulp risk. The mean itself is emitted in
    * FLOORED MICRO-UNITS (`fluency_micro = ⌊Σp·10⁶ / n⌋`, a bigint):
    * the rounded sum is a multiple of 1e-6 and its micro-scaled value
    * is an exact integer, but dividing by n would leave the final
    * `round(·, 6)` on a genuine half-ulp boundary (observed once in
    * 500 docs) — integer floor-division is boundary-free in both
    * engines. Docs with fewer than two tokens have no bigrams and emit
    * no row.
    *
    * Scale shape: bigram extraction is a zip of the token array with its
    * own tail — one projection + explode, no shuffle; then two count
    * aggregations (map-side partials) and two stream joins keyed on the
    * bigram/prefix — vocabulary-sized build sides that AQE broadcasts
    * when small. */
  def bigramFluency(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    val pairs = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // the exploded bigram stream feeds THREE subtrees (itself plus the
    // c2/c1 count builds) and Catalyst plans them as three full
    // tokenize+explode scans of the corpus — cache the stream once
    // (lazy, evictable; the importanceWeights precedent). NOTE: the
    // cache must outlive this call (the returned frame is lazy);
    // batch/registry paths are covered by the harness-global unpersist
    // after each query, and a long-lived service should materialize the
    // result and release persistent RDDs itself.
    val bigrams = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(pairs).as("__bg"))
      .select(col(idCol), col("__bg.w1"), col("__bg.w2"))
      .persist()
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    bigrams.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("__p", round(col("__c2").cast("double") / col("__c1"), 6))
      .groupBy(col(idCol))
      .agg(round(round(sum(col("__p")), 6) * 1e6, 0).cast("long").as("__sum_micro"),
        count(lit(1)).as("n_bigrams"))
      .select(col(idCol),
        expr("__sum_micro div n_bigrams").as("fluency_micro"),
        col("n_bigrams"))
  }

  /** Vocabulary coverage: build the top-`vocabSize` corpus vocabulary
    * (frequency desc, token asc — a total order, so the cut is
    * deterministic) and score each document's out-of-vocabulary token
    * ratio — the cheap tokenizer-fit / gibberish dial (high OOV = the
    * doc's vocabulary is not the corpus's). The vocabulary is
    * `vocabSize` rows by construction — broadcast; the token stream
    * aggregates per doc with map-side partials. */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0, s"vocabSize=$vocabSize must be positive")
    val stream = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = stream.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    stream.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round((count(lit(1)) - count(col("__in"))).cast("double") / count(lit(1)), 6)
          .as("oov_ratio"))
  }

  /** PMI collocation mining — the corpus-analysis complement of the
    * frequency-ranked top-ngrams: rank adjacent bigrams by POINTWISE
    * MUTUAL INFORMATION, `ln(c(w1,w2)·N / (c_l(w1)·c_r(w2)))` over
    * bigram positions (c_l/c_r = left/right occurrence counts, N =
    * total bigrams), which surfaces ASSOCIATION ("San Francisco") where
    * raw frequency surfaces commonness ("of the") — the classic
    * vocabulary/tokenizer-design statistic (Church & Hanks 1990).
    * `minCount` floors the bigram count (PMI is noise-maximal on
    * singletons); top-k by (pmi DESC, w1, w2) — a global
    * TakeOrdered, k rows through the final exchange.
    *
    * Scale shape: ONE tokenize pass → a wordcount-shaped bigram
    * aggregate (map-side combine); the marginals re-derive from the
    * AGGREGATED (vocab²-bounded, cached) counts, never from a second
    * corpus pass; the marginal joins key on single terms. PMI itself is
    * one ln over correctly-rounded double products, rounded to the
    * 1e-6 grid — the ordering replays exactly in the oracle. */
  def collocations(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount=$minCount must be positive")
    require(k >= 1, s"k=$k must be positive")
    val t = tokens(col(textCol))
    val pairs = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // cached: feeds the N scalar, both marginals, and the scored join.
    // The k-row result materializes eagerly below, so the cache releases
    // in the finally instead of leaking for the session's lifetime (the
    // importanceResample discipline — this operator's output is
    // contract-small, unlike bigramLm's corpus-sized lazy frame)
    val c2 = df.filter(col(textCol).isNotNull)
      .select(explode(pairs).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val nTotal = c2.agg(coalesce(sum(col("n")), lit(0L)).cast("long"))
        .head().getLong(0)
      require(nTotal > 0, "collocations: the corpus has no bigrams")
      val cl = c2.groupBy(col("w1")).agg(sum(col("n")).as("cl"))
      val cr = c2.groupBy(col("w2")).agg(sum(col("n")).as("cr"))
      c2.filter(col("n") >= minCount)
        .join(cl, Seq("w1")).join(cr, Seq("w2"))
        .select(col("w1"), col("w2"), col("n"),
          round(log(col("n").cast("double") * lit(nTotal.toDouble) /
            (col("cl").cast("double") * col("cr").cast("double"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
        .localCheckpoint(true)
    } finally c2.unpersist()
  }

  /** The composed twin of [[hashEmbed]] — explode → digest → two
    * HashAggregates (token stream shuffled keyed (doc, dim-index), zero
    * rows densifying absent dimensions, NULL text → NULL embedding like
    * the kernel's null propagation). Spec-pinned bit-identical to the
    * kernel; kept as the cross-check and the shape that works without
    * the function registry. The SQL oracle twins assume non-null text
    * (true of the test corpus). */
  private[operators] def hashEmbedComposed(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    val hashed = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .select(col(idCol), tokenHash60Native(col("__tok")).as("__h"))
      .select(col(idCol),
        pmod(col("__h"), lit(dim.toLong)).cast("int").as("__i"),
        when(pmod(expr(s"__h div $dim"), lit(2)) === 0, lit(1.0f))
          .otherwise(lit(-1.0f)).as("__v"))
    val zeros = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(sequence(lit(0), lit(dim - 1))).as("__i"))
      .withColumn("__v", lit(0.0f))
    val embedded = hashed.unionByName(zeros)
      .groupBy(col(idCol), col("__i"))
      .agg(sum(col("__v")).as("__s")) // sums of ±1: exact, order-free
      .groupBy(col(idCol))
      .agg(expr(
        "transform(array_sort(collect_list(struct(__i, __s))), s -> cast(s.__s as float))")
        .as("embedding"))
    // null-text rows keep their row with a NULL embedding (kernel parity)
    df.select(col(idCol)).join(embedded, Seq(idCol), "left")
  }
}
