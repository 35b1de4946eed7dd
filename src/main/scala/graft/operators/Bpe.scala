package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BpeKernel, BpeMergeTableRef, BpeTokenCount, GraftFunctions}

/** Byte-pair-encoding tokenizer training — the TOKENIZER-TRAINING
  * primitive of an LLM data pipeline (Sennrich, Haddow & Birch 2016;
  * the same word-level trainer shape sentencepiece/HF-tokenizers run):
  * count the corpus into a word-frequency table ONCE, then learn merges
  * on that vocab-sized table — each step counts adjacent symbol pairs
  * weighted by word frequency, merges the most frequent pair (ties →
  * smaller (left, right) pair by CODEPOINT order, so the merge list
  * replays exactly in the oracle), and rewrites the vocabulary. This is
  * the GPT-2-style intra-word variant (no end-of-word marker): merges
  * never cross word boundaries because symbols live inside per-word
  * sequences.
  *
  * Scale shape (the whole point of the word-level trainer): the corpus
  * is touched EXACTLY ONCE at train time (a wordcount — map-side
  * combined, capped to the `maxWords` most frequent words through the
  * bounded heap: the visible-drop cap precedent, exactly
  * sentencepiece's `vocab_size`/`min_frequency` pruning) plus once more
  * at apply time. The capped table is CONTRACT-SMALL by the operator's
  * own cap, so the merges themselves are learned DRIVER-SIDE over the
  * collected table with incremental pair-count maintenance — all N
  * merges of a production tokenizer (tens of thousands) cost seconds
  * of driver CPU and ZERO Spark jobs beyond the one wordcount. (The
  * per-step distributed loop this replaced — one pair-aggregate job +
  * one-row collect per merge — remains as [[learnedMergesDistributed]],
  * the audit twin and the only honest path for a `maxWords` too large
  * to collect; at 32k merges its driver-sequenced job overhead alone
  * is hours for work the local learner does in seconds.) APPLYING the
  * learned merges is a stateless per-row kernel projection
  * ([[graft.functions.BpeTokenCount]]) a 100 TB corpus runs at scan
  * speed — cost tracks the merges that FIRE per word, not N.
  *
  * Symbol mechanics, shared bit-for-bit with the DuckDB oracle and the
  * distributed twin: a word splits into CODEPOINT symbols (Spark's
  * `split(word, "")` and DuckDB's `string_split(word, '')` both split
  * codepoints, never lone surrogates — probed empirically, spec-pinned
  * on astral-plane fixtures), a word's symbol sequence in the
  * distributed twin is one delimiter-wrapped string `␟s1␟␟s2␟…␟sn␟`
  * (␟ = U+001F, absent from any whitespace-split token), and merging
  * pair (a, b) is the left-to-right non-overlapping `replace` scan —
  * each symbol's own wrapping keeps shared-delimiter overlaps
  * impossible ([a,a,a,a] under (a,a) → [aa,aa], never [aa,a,a]).
  * Tie-breaks compare by codepoint (Spark string order IS codepoint
  * order — UTF8 binary; `String.compareTo`'s UTF-16 code-unit order
  * would disagree for supplementary characters). BPE's standard
  * string-identity caveat applies: a merged symbol IS its concatenated
  * string.
  */
object Bpe {

  /** Symbol delimiter (U+001F unit separator). Contract: it cannot
    * occur in corpus tokens — it is not producible by the whitespace
    * tokenization of any text column this repo's tables carry, and a
    * violating corpus would corrupt symbol boundaries silently, so
    * EVERY encode path (train and apply alike — [[guardWord]] here,
    * the same check inside [[graft.functions.BpeKernel.tokenCount]])
    * fails loud rather than trusting the caller. */
  private val D = BpeKernel.D

  /** Ceiling on a `maxWords` cap the driver-local learner will collect.
    * A million words × tens of bytes is tens of MB of driver heap — the
    * top of the comfortable band (the PQ-codebook / NB-broadcast
    * precedent); beyond it [[learnedMerges]] falls back to the
    * distributed per-step loop, which never collects the table. */
  val DriverLearnMaxWords: Int = 1 << 20

  private def encodeWord(word: Column): Column =
    concat(lit(D), array_join(split(guardWord(word), ""), D + D), lit(D))

  /** Fail-loud on a delimiter-bearing token — at TRAIN and APPLY alike:
    * tokenizeM's whole point is applying a pinned merge table to NEW
    * corpora, where a U+001F in the text would silently splice symbol
    * boundaries if only the training vocabulary were guarded. One
    * codegen'd contains() per token. */
  private def guardWord(word: Column): Column =
    when(word.contains(D),
      raise_error(lit("Bpe: corpus token contains the U+001F symbol " +
        "delimiter — symbol boundaries would corrupt")))
      .otherwise(word)

  private def decodeSyms(sym: Column): Column =
    split(sym.substr(lit(2), length(sym) - 2), D + D)

  /** The training table: ONE corpus wordcount, capped to the `maxWords`
    * most frequent words (ties → smaller word) via the bounded heap —
    * `(word, n, sym)` with `sym` the char-level symbol encoding.
    * `pre` transforms the RAW word into symbol space before the
    * codepoint split (identity for the codepoint flavor; the GPT-2 byte
    * encoder for byte-level BPE) — the cap's (n DESC, word ASC)
    * selection always ranks RAW words, so both flavors train over the
    * identical capped table. */
  def wordFreqs(
      docs: DataFrame, textCol: String, maxWords: Int,
      pre: Column => Column = identity): DataFrame = {
    require(maxWords > 0, s"maxWords=$maxWords must be positive")
    val wf = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    TopK.perKey(wf.withColumn("__g", lit(0)), Seq("__g"),
        Seq(col("n").desc, col("word").asc), maxWords)
      .drop("__g")
      .select(col("word"), col("n"), encodeWord(pre(col("word"))).as("sym"))
  }

  // ---- The learned-model handle -----------------------------------------

  /** One training run's full result: the merge table in learning order
    * (`(step, lhs, rhs, pair_count)`, step 1-based), plus the final
    * rewritten word table (word, freq, symbols) the vocabulary census
    * derives from. One [[learn]] call pays ONE corpus wordcount; every
    * downstream artifact (merge frame, vocab census, tokenize) composes
    * from the handle with zero further corpus scans. */
  final case class BpeModel(
      merges: Seq[(Int, String, String, Long)],
      finalWords: Seq[(String, Long, Seq[String])]) {

    def mergePairs: Seq[(String, String)] = merges.map(m => (m._2, m._3))

    /** Frequency-weighted symbol census of the (capped) training word
      * table after all merges — `(symbol, n_occ)`, the artifact a
      * fertility/coverage analysis consumes. Bounded by
      * |distinct chars| + nMerges symbols; tail words beyond the
      * `maxWords` cap don't count (consistent with their zero training
      * vote). */
    def vocabCensus: Seq[(String, Long)] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      finalWords.foreach { case (_, n, syms) =>
        syms.foreach(s => m.update(s, m.getOrElse(s, 0L) + n))
      }
      m.toSeq
    }
  }

  /** Codepoint-by-codepoint comparison — the string order Spark
    * (UTF8String binary) and DuckDB (BINARY collation) both use.
    * `String.compareTo` compares UTF-16 code units instead, which
    * disagrees for supplementary characters vs [U+E000, U+FFFF]: the
    * surrogate range sorts below U+E000 in code-unit order but astral
    * codepoints sort above U+FFFF in codepoint order. */
  private[operators] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Learn a BPE model: ONE Spark wordcount (capped through the bounded
    * heap — identical selection to the distributed twin), then all
    * `nMerges` merges driver-side over the collected table. Fails loud
    * when `maxWords` exceeds [[DriverLearnMaxWords]] (an over-cap
    * vocabulary wants [[learnedMergesDistributed]], which never
    * collects). */
  def learn(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): BpeModel = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    require(maxWords <= DriverLearnMaxWords,
      s"Bpe.learn: maxWords=$maxWords exceeds DriverLearnMaxWords=" +
        s"$DriverLearnMaxWords — the capped word table is collected " +
        "driver-side; use learnedMergesDistributed for an over-cap vocabulary")
    val table = wordFreqs(docs, textCol, maxWords)
      .select(col("word"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    learnLocal(table, nMerges)
  }

  /** The driver-local Sennrich learner over an already-capped word
    * table, with INCREMENTAL pair-count maintenance: initial adjacent
    * pair counts build in one pass; each merge step scans the live
    * count map for the argmax (count DESC, pair ASC by codepoint — the
    * exact distributed/oracle tie-break) and then touches ONLY the
    * words an occurrence index says carry the winning pair, subtracting
    * their old adjacencies and adding the rewritten ones. Per-step cost
    * is O(|count map| + affected words × their length) — a 50k-merge
    * production vocabulary trains in seconds where the per-step Spark
    * loop pays ~0.1–0.3 s of scheduler overhead per merge. Early-stops
    * (shorter merge list) when the vocabulary runs out of adjacent
    * pairs, exactly like the distributed twin. */
  def learnLocal(
      wordFreq: Seq[(String, Long)], nMerges: Int): BpeModel = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    // the fail-loud delimiter contract holds on the DRIVER path too:
    // the collected (word, n) projection column-prunes the distributed
    // encodeWord/guardWord away, so the guard must run here — otherwise
    // a U+001F-bearing corpus would train silently while the audit twin
    // throws (and the rank map's a␟b keys would turn ambiguous)
    // materialize both columns as arrays up front: the final
    // BpeModel assembly indexes by position, which is O(n) PER ACCESS
    // on a non-indexed caller Seq (a 2^20-entry List would turn the
    // linear assembly quadratic)
    val wordArr: Array[String] = wordFreq.map(_._1).toArray
    val words: Array[Array[String]] = wordArr
      .map(w => BpeKernel.cpSplit(BpeKernel.guardToken(w)))
    val freq: Array[Long] = wordFreq.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    def bump(p: (String, String), by: Long, wi: Int): Unit = {
      val c = counts.getOrElse(p, 0L) + by
      if (c == 0L) counts.remove(p) else counts.update(p, c)
      if (by > 0)
        where.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += wi
    }
    var wi = 0
    while (wi < words.length) {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) { bump((s(i), s(i + 1)), freq(wi), wi); i += 1 }
      wi += 1
    }
    def pairLess(x: (String, String), y: (String, String)): Boolean = {
      val c = cpCompare(x._1, y._1)
      c < 0 || (c == 0 && cpCompare(x._2, y._2) < 0)
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var t = 1
    while (t <= nMerges && counts.nonEmpty) {
      // argmax scan over the LIVE pair-count map — order-independent
      // selection by the (count DESC, pair ASC) total order, so the
      // map's iteration order never leaks into the result
      var best: (String, String) = null
      var bc = -1L
      counts.foreach { case (p, c) =>
        if (c > bc || (c == bc && pairLess(p, best))) { best = p; bc = c }
      }
      out += ((t, best._1, best._2, bc))
      val (a, b) = best
      where.remove(best).foreach(_.foreach { w =>
        val old = words(w)
        val merged = BpeKernel.mergeOnce(old, a, b)
        // the index is allowed stale entries (a word rewritten since it
        // gained this pair): mergeOnce returns the same reference when
        // the pair is absent, which is the cheap skip signal
        if (!(merged eq old)) {
          var i = 0
          while (i < old.length - 1) { bump((old(i), old(i + 1)), -freq(w), w); i += 1 }
          i = 0
          while (i < merged.length - 1) { bump((merged(i), merged(i + 1)), freq(w), w); i += 1 }
          words(w) = merged
        }
      })
      t += 1
    }
    BpeModel(out.result(),
      words.zipWithIndex.map { case (s, i) =>
        (wordArr(i), freq(i), s.toSeq)
      }.toSeq)
  }

  /** Learn `nMerges` BPE merges over the corpus. Returns the merge
    * table `(step, lhs, rhs, pair_count)` — step 1-based in learning
    * order, `pair_count` the frequency-weighted adjacent-pair count the
    * step merged. Stops early (fewer rows) if the vocabulary runs out
    * of adjacent pairs. */
  def learnMerges(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnedMerges(docs, textCol, nMerges, maxWords)
      .toDF("step", "lhs", "rhs", "pair_count")
  }

  /** The merge tuples driver-side — the driver-local learner when the
    * cap is collectable (the production path), the distributed per-step
    * loop beyond it. */
  def learnedMerges(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): Seq[(Int, String, String, Long)] =
    if (maxWords <= DriverLearnMaxWords)
      learn(docs, textCol, nMerges, maxWords).merges
    else learnedMergesDistributed(docs, textCol, nMerges, maxWords)

  /** How many chained replace steps accumulate before the vocabulary
    * frame re-materializes: each step's aggregate re-executes the whole
    * chain above the last checkpoint, so unbounded chaining would cost
    * O(steps²) replaces (and an ever-growing plan) over a real
    * tokenizer's thousands of merges. */
  private val CheckpointEvery = 8

  /** Release a localCheckpoint'd frame's backing blocks. `Dataset
    * .unpersist` is a NO-OP for checkpointed frames — it only uncaches
    * CacheManager (`.persist()`) entries, while the checkpoint's blocks
    * belong to the LogicalRDD it left behind (probed empirically on
    * this Spark: getPersistentRDDs is unchanged by Dataset.unpersist
    * and emptied by the RDD-level call). */
  private def releaseCkpt(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The DISTRIBUTED per-step learning loop — the audit twin of
    * [[learnLocal]] (differentially spec-pinned equal step-for-step)
    * and the only honest path for a `maxWords` too large to collect.
    * Each step is one vocab-sized pair aggregate + a one-row collect +
    * one appended string replace; the frame re-checkpoints every
    * [[CheckpointEvery]] steps so the replace chain stays bounded.
    * Releases every vocabulary checkpoint before returning. */
  def learnedMergesDistributed(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): Seq[(Int, String, String, Long)] = {
    val (merges, _, release) = learnLoop(docs, textCol, nMerges, maxWords)
    release()
    merges
  }

  /** The distributed loop's full state: merge tuples, the FINAL
    * rewritten vocabulary frame (lazy, chained on the last checkpoint),
    * and the release handle for the one checkpoint still held.
    * Superseded checkpoints release AS the loop runs ([[releaseCkpt]]). */
  private def learnLoop(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int,
      pre: Column => Column = identity): (Seq[(Int, String, String, Long)], DataFrame, () => Unit) = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    var ckpt = wordFreqs(docs, textCol, maxWords, pre).localCheckpoint()
    var cur = ckpt
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var t = 1
    var exhausted = false
    while (t <= nMerges && !exhausted) {
      val syms = decodeSyms(col("sym"))
      val pairs = cur.select(col("n"),
          explode(zip_with(
            slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum(col("n")).cast("long").as("cnt"))
      // the winning pair: a ONE-ROW driver scalar (the Lloyd-round
      // precedent) — ties break to the smaller (a, b) for exact replay
      val best = pairs.orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((t, a, b, cnt))
        cur = cur.withColumn("sym", call_function("replace", col("sym"),
          lit(D + a + D + D + b + D), lit(D + a + b + D)))
        if (t % CheckpointEvery == 0) {
          val next = cur.localCheckpoint()
          releaseCkpt(ckpt)
          ckpt = next
          cur = next
        }
        t += 1
      }
    }
    val held = ckpt
    (out.result(), cur, () => releaseCkpt(held))
  }

  /** The learned tokenizer's VOCABULARY census as a frame —
    * `(symbol, n_occ)`; see [[BpeModel.vocabCensus]]. In-cap: derived
    * from the [[learn]] handle (one wordcount, zero further Spark
    * jobs). Over-cap: aggregated from the distributed loop's final
    * frame. */
  def vocab(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    if (maxWords <= DriverLearnMaxWords)
      learn(docs, textCol, nMerges, maxWords)
        .vocabCensus.toDF("symbol", "n_occ")
    else {
      val (_, fin, release) = learnLoop(docs, textCol, nMerges, maxWords)
      try fin
        .select(col("n"), explode(decodeSyms(col("sym"))).as("symbol"))
        .groupBy(col("symbol"))
        .agg(sum(col("n")).cast("long").as("n_occ"))
        .localCheckpoint(true)
      finally release()
    }
  }

  // ---- Merge-table model store under the atomic manifest protocol -----
  //
  // TOKENIZER VERSIONING — the reproducibility contract an LLM pipeline
  // actually signs: the merge list IS the tokenizer, and the dataset a
  // training run packed must replay with the exact merge table it was
  // tokenized with, not whatever a later retrain produced. Same shape as
  // the NB model store: one committed table, retrain = one atomic
  // expect-guarded swap, `at` pins the version a release shipped with.

  private val MergesTable = "merges"

  /** Learn and commit the merge table at `root`. A retrain over the
    * same root swaps the table in one atomic commit; concurrent readers
    * keep resolving the version their snapshot pinned. */
  def buildBpeModelM(
      docs: DataFrame, textCol: String, nMerges: Int, maxWords: Int,
      root: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cur = graft.index.IndexManifest.currentVersion(spark, root)
    val snap =
      if (cur > 0L) Some(graft.index.IndexManifest.snapshotAt(spark, root, cur))
      else None
    val seg = graft.index.IndexManifest.newSegment(MergesTable)
    learnedMerges(docs, textCol, nMerges, maxWords)
      .toDF("step", "lhs", "rhs", "pair_count")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.map(_.tables).getOrElse(Map.empty)
        .updated(MergesTable, Seq(seg)),
      expect = snap.map(_.version),
      meta = Map("family" -> "bpemodel"))
  }

  /** The committed merge list in learning order (`at` pins a version) —
    * an N-row driver scalar, the model every tokenization plan inlines.
    * `expectFamily` guards the flavor: the codepoint and byte-level
    * stores share this table shape but their merge symbols live in
    * different alphabets, so a reader pointed at the wrong flavor's
    * root must fail loud, not tokenize with the wrong table.
    * [[tokenizeM]] / [[tokenizeBytesM]] always pass their flavor. */
  def mergesM(
      spark: org.apache.spark.sql.SparkSession, root: String,
      at: Option[Long] = None,
      expectFamily: Option[String] = None): Seq[(String, String)] = {
    val snap = at
      .map(v => graft.index.IndexManifest.snapshotAt(spark, root, v))
      .getOrElse(graft.index.IndexManifest.snapshot(spark, root))
    for (fam <- expectFamily) {
      val stored = snap.meta.get("family")
      require(stored.contains(fam),
        s"merge store at $root carries family=" +
          s"${stored.getOrElse("<absent>")} but the reader expected " +
          s"$fam — codepoint and byte-level merge tables are not " +
          "interchangeable")
    }
    graft.index.IndexManifest.readAt(spark, root, snap, MergesTable)
      .orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Tokenize against a committed merge-table version. */
  def tokenizeM(
      spark: org.apache.spark.sql.SparkSession, root: String,
      docs: DataFrame, idCol: String, textCol: String,
      at: Option[Long] = None): DataFrame =
    tokenizeWithMerges(docs, idCol, textCol,
      mergesM(spark, root, at, expectFamily = Some("bpemodel")))

  /** APPLY learned merges to the corpus — the deployment half: every
    * document's tokens run the rank-priority apply kernel
    * ([[graft.functions.BpeTokenCount]] — a stateless,
    * WholeStageCodegen'd pure map whose per-word cost tracks the merges
    * that FIRE, not the merge-table size; at 100 TB this is the
    * scan-speed tokenization pass a training-data pipeline pays per
    * epoch of preprocessing), and the per-doc output is the token
    * accounting a packing/budgeting stage consumes:
    * `(id, n_words, n_bpe_tokens)`. NULL-text docs are absent (nothing
    * to tokenize — the classifier's absent-unclassifiable contract).
    * Semantics are EXACTLY the sequential N-replace chain (the oracle's
    * form, kept as [[tokenizeWithMergesChained]] and spec-pinned
    * equal). */
  def tokenizeWithMerges(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ref = new BpeMergeTableRef(
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    val kCount = org.apache.spark.sql.GraftSqlBridge.column(
      BpeTokenCount(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted("word"),
        ref))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), kCount.as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__k")).cast("long").as("n_bpe_tokens"))
  }

  /** The N-replace CHAIN apply — the oracle's literal form and the
    * kernel's spec twin: fold every merge as one string replace over
    * the delimiter-wrapped symbol encoding. O(N × len) per word, so
    * it is the AUDIT path, not the production one. */
  private[graft] def tokenizeWithMergesChained(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sym0 = encodeWord(col("word"))
    val symN = merges.foldLeft(sym0) { case (s, (a, b)) =>
      call_function("replace", s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), size(split(symN, D + D)).as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__k")).cast("long").as("n_bpe_tokens"))
  }

  // ---- Byte-level BPE (the GPT-2 byte encoder below the merge table) ---
  //
  // The production norm: words byte-encode FIRST (each UTF-8 byte → one
  // printable codepoint, graft.functions.ByteEncodeKernel's public GPT-2
  // table), and the SAME codepoint machinery above — trainer, rank-
  // priority apply kernel, oracle replace chain — runs over the encoded
  // strings, whose codepoints now stand for bytes. Two consequences the
  // codepoint flavor cannot offer: (a) any string is representable with a
  // 256-symbol base alphabet, so the unicode-normalization failure class
  // (astral splits, combining-mark variance) vanishes — a merge table
  // can never meet an out-of-alphabet symbol; (b) the encoded alphabet
  // contains no whitespace/control codepoints, so the U+001F delimiter
  // guard is unreachable by construction on these paths. On a printable-
  // ASCII corpus the encoding is the identity, so byte-level merges
  // EQUAL the codepoint trainer's (differentially spec-pinned —
  // BpeBytesSpec).

  private def byteEncCol(c: Column): Column =
    GraftFunctions.byteEncode(c)

  /** Learn a BYTE-LEVEL BPE model: one capped corpus wordcount (raw-word
    * cap selection, identical to the codepoint flavor), words
    * byte-encoded driver-side, then [[learnLocal]] over the encoded
    * table. The returned model's symbols are byte-encoded strings. */
  def learnBytes(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): BpeModel = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    require(maxWords <= DriverLearnMaxWords,
      s"Bpe.learnBytes: maxWords=$maxWords exceeds DriverLearnMaxWords=" +
        s"$DriverLearnMaxWords — use learnedMergesBytesDistributed for an " +
        "over-cap vocabulary")
    val table = wordFreqs(docs, textCol, maxWords)
      .select(col("word"), col("n"))
      .collect()
      .map(r => (graft.functions.ByteEncodeKernel.encodeString(r.getString(0)),
        r.getLong(1)))
      .toSeq
    // byte encoding is injective per word, so the encoded table keeps
    // one row per raw word — no re-aggregation needed
    learnLocal(table, nMerges)
  }

  /** Byte-level merge tuples — driver learner in-cap, distributed loop
    * beyond (the [[learnedMerges]] split). */
  def learnedMergesBytes(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): Seq[(Int, String, String, Long)] =
    if (maxWords <= DriverLearnMaxWords)
      learnBytes(docs, textCol, nMerges, maxWords).merges
    else learnedMergesBytesDistributed(docs, textCol, nMerges, maxWords)

  /** The distributed byte-level audit twin: [[learnedMergesDistributed]]
    * with the byte-encode kernel applied before symbol splitting. */
  def learnedMergesBytesDistributed(
      docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int): Seq[(Int, String, String, Long)] = {
    val (merges, _, release) =
      learnLoop(docs, textCol, nMerges, maxWords, byteEncCol)
    release()
    merges
  }

  /** APPLY byte-level merges: the same rank-priority kernel chain as
    * [[tokenizeWithMerges]] with the byte-encode kernel composed below
    * it — scan → byte-encode → token count stays ONE WholeStageCodegen
    * projection per word. Output `(id, n_words, n_bpe_tokens)`;
    * `n_words` counts whitespace words exactly like the codepoint
    * flavor. */
  def tokenizeWithMergesBytes(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ref = new BpeMergeTableRef(
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    val kCount = org.apache.spark.sql.GraftSqlBridge.column(
      BpeTokenCount(
        graft.functions.ByteEncode(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted("word")),
        ref))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), kCount.as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__k")).cast("long").as("n_bpe_tokens"))
  }

  /** Byte-level model store — [[buildBpeModelM]]'s sibling under the
    * same atomic manifest protocol (a byte-level tokenizer IS its merge
    * list over byte-encoded symbols; retrain = one expect-guarded swap,
    * `at` pins the version a release shipped with). Distinct family tag
    * so a reader can never confuse the two flavors' stores. */
  def buildBpeBytesModelM(
      docs: DataFrame, textCol: String, nMerges: Int, maxWords: Int,
      root: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cur = graft.index.IndexManifest.currentVersion(spark, root)
    val snap =
      if (cur > 0L) Some(graft.index.IndexManifest.snapshotAt(spark, root, cur))
      else None
    val seg = graft.index.IndexManifest.newSegment(MergesTable)
    learnedMergesBytes(docs, textCol, nMerges, maxWords)
      .toDF("step", "lhs", "rhs", "pair_count")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.map(_.tables).getOrElse(Map.empty)
        .updated(MergesTable, Seq(seg)),
      expect = snap.map(_.version),
      meta = Map("family" -> "bpebytesmodel"))
  }

  /** Tokenize against a committed BYTE-LEVEL merge-table version. */
  def tokenizeBytesM(
      spark: org.apache.spark.sql.SparkSession, root: String,
      docs: DataFrame, idCol: String, textCol: String,
      at: Option[Long] = None): DataFrame =
    tokenizeWithMergesBytes(docs, idCol, textCol,
      mergesM(spark, root, at, expectFamily = Some("bpebytesmodel")))

  /** The byte-level N-replace CHAIN apply — oracle's literal form and
    * the kernel's spec twin ([[tokenizeWithMergesChained]] over the
    * byte-encoded word). */
  private[graft] def tokenizeWithMergesBytesChained(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sym0 = encodeWord(byteEncCol(col("word")))
    val symN = merges.foldLeft(sym0) { case (s, (a, b)) =>
      call_function("replace", s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), size(split(symN, D + D)).as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__k")).cast("long").as("n_bpe_tokens"))
  }
}
