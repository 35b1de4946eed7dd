package graft.queries

import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.{Binning, Curation, Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (north-star in BASELINE.json):
  * dedup (exact / MinHash-LSH / n-gram Jaccard / SimHash / embedding),
  * similarity search, text analysis, multimodal-column plumbing. Every
  * hash is md5-based so the DuckDB oracle reproduces results exactly;
  * float math is double-widened and rounded in-query.
  */
object LlmQueries {

  private def q(f: (SparkSession, String) => DataFrame) = f

  /** Per-INVOCATION index root under a deterministic per-dataset parent.
    * The root itself is UUID-suffixed so two concurrent invocations of
    * the same registry query (parallel test suites) can never wipe each
    * other's live index between build and probe — the failure mode of
    * the old shared-path wipe. Accumulation stays bounded without a
    * blind wipe: siblings untouched for 30+ minutes (finished or
    * abandoned invocations; a build+probe completes in seconds) are
    * reaped on the next invocation. */
  private def freshIndexRoot(tag: String, dir: String): String = {
    val parent = new java.io.File(
      java.lang.System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${Integer.toHexString(dir.hashCode)}")
    parent.mkdirs()
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles).getOrElse(Array.empty).foreach(rm)
      x.delete(): Unit
    }
    val cutoff = java.lang.System.currentTimeMillis() - 30L * 60L * 1000L
    Option(parent.listFiles).getOrElse(Array.empty)
      .filter(_.lastModified < cutoff).foreach(rm)
    new java.io.File(
      parent, java.util.UUID.randomUUID().toString.take(8)).toString
  }

  /** Persistent per-dataset index root for the steady-state SERVE
    * queries — never wiped; build-if-stale + vacuum keep it bounded. */
  private def serveIndexRoot(tag: String, dir: String): String =
    new java.io.File(
      java.lang.System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${Integer.toHexString(dir.hashCode)}").toString

  private val ShingleN = 5
  private[queries] val MinhashK = 16
  private[queries] val LshBands = 4
  // Hot-bucket cap for dedup_cross_corpus — interpolated into BOTH the
  // Spark call and the oracle's HAVING so the exclusion replays exactly
  // (the dedup_jaccard maxDocFreq precedent). Far above any bucket at
  // graded scale, so it drops nothing there; what it buys is the bounded
  // candidate set that licenses the broadcast-everywhere plan shape.
  private val CrossMaxBucket = 10000
  // Gram width of the exact-substring (repeated-span) dedup — interpolated
  // into both the Spark call and the oracle so the span arithmetic replays
  // exactly.
  private[graft] val SpanGramChars = 30
  // Token-gram width of the token-aware span dedup — the published
  // suffix-array pipelines count windows in TOKENS (50-token windows at
  // web scale); 6 keeps repeats discoverable in the small synthetic docs.
  private[queries] val SpanGramTokens = 6

  // The BM25 query batch — fixed literal, interpolated into BOTH the
  // Spark call and the oracle's VALUES list so the ranked retrieval
  // replays exactly (terms drawn from the synthetic corpus vocabulary).
  private[queries] val Bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "spark window agg",
    1 -> "hash join table",
    2 -> "stream batch merge",
    3 -> "customer vector scan")
  private val Bm25K = 10
  // Anchor documents for hard-negative mining — ids that exist at every
  // scale factor, interpolated into both sides.
  private[queries] val Bm25Anchors: Seq[Long] = Seq(0L, 1L, 2L, 3L)

  // The phrase batch — bigram, trigram, AND a repeated-term phrase
  // ("table table": one document position satisfies two phrase offsets,
  // the case COUNT(*) would miscount). All non-degenerate at sf0.01.
  private[queries] val PhraseQueries: Seq[(Int, String)] = Seq(
    0 -> "table part",
    1 -> "window agg",
    2 -> "table table",
    3 -> "key agg row")
  private val PhraseK = 10

  /** The shared occurrence-assembly CTEs (through `scored` =
    * per-(query, doc) phrase frequency); the ranked and screen oracles
    * append their own tails. */
  private def phraseOracleCtes(corpusSql: String): String = {
    val qvals = PhraseQueries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).zipWithIndex
          .map { case (t, i) => s"($qid, $i, '$t')" }
      }
      .mkString(", ")
    s"""WITH q(query_id, off, term) AS (VALUES $qvals),
       ql AS (SELECT query_id, count(*) AS plen FROM q GROUP BY 1),
       toks AS (
         SELECT doc_id,
           unnest(string_split(text, ' ')) AS term,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         FROM ($corpusSql)),
       p AS (SELECT term, doc_id, pos FROM toks WHERE term <> ''),
       starts AS (
         SELECT q.query_id, p.doc_id, p.pos - q.off AS start
         FROM q JOIN p USING (term) JOIN ql USING (query_id)
         GROUP BY 1, 2, 3, ql.plen
         HAVING count(DISTINCT q.off) = ql.plen),
       scored AS (
         SELECT query_id, doc_id, count(*) AS n_occ
         FROM starts GROUP BY 1, 2)"""
  }

  private def phraseOracleSql(corpusSql: String): String =
    s"""${phraseOracleCtes(corpusSql)}
       SELECT query_id, doc_id, n_occ,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_occ DESC, doc_id) AS rank
       FROM scored QUALIFY rank <= $PhraseK ORDER BY query_id, rank"""

  private def phraseScreenOracleSql: String =
    s"""${phraseOracleCtes("SELECT * FROM documents")}
       SELECT query_id, doc_id, n_occ
       FROM scored ORDER BY query_id, doc_id"""

  /** stream_phrase_growing: batch b's screen covers lake ∪ arrival
    * batches ≤ b (arrival batch = `(doc_id % 30) div 10` over the
    * `doc_id % 10 >= 8` arrivals — [[graft.streaming.StreamPipeline
    * .writeArrivalBatches]]'s deterministic staging); ONE occurrence
    * pass over the full corpus, cross-joined with the three cutoffs. */
  private def phraseGrowingOracleSql: String = {
    val qvals = PhraseQueries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).zipWithIndex
          .map { case (t, i) => s"($qid, $i, '$t')" }
      }
      .mkString(", ")
    s"""WITH q(query_id, off, term) AS (VALUES $qvals),
       ql AS (SELECT query_id, count(*) AS plen FROM q GROUP BY 1),
       corpus AS (
         SELECT doc_id, text,
           CASE WHEN doc_id % 10 < 8 THEN -1
                ELSE (doc_id % 30) // 10 END AS arr_batch
         FROM documents),
       toks AS (
         SELECT doc_id, arr_batch,
           unnest(string_split(text, ' ')) AS term,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         FROM corpus),
       p AS (SELECT term, doc_id, arr_batch, pos FROM toks WHERE term <> ''),
       starts AS (
         SELECT q.query_id, p.doc_id, any_value(p.arr_batch) AS arr_batch,
                p.pos - q.off AS start
         FROM q JOIN p USING (term) JOIN ql USING (query_id)
         GROUP BY q.query_id, p.doc_id, p.pos - q.off, ql.plen
         HAVING count(DISTINCT q.off) = ql.plen),
       occ AS (
         SELECT query_id, doc_id, any_value(arr_batch) AS arr_batch,
                count(*) AS n_occ
         FROM starts GROUP BY 1, 2),
       batches(as_of_batch) AS (VALUES (0), (1), (2))
       SELECT b.as_of_batch::bigint AS as_of_batch,
              o.query_id, o.doc_id, o.n_occ
       FROM batches b JOIN occ o ON o.arr_batch <= b.as_of_batch
       ORDER BY 1, 2, 3"""
  }

  private val BpeMerges = 8
  private val BpeMaxWords = 1000

  // Unigram-LM tokenizer registry parameters (small enough that the
  // oracle's unrolled EM + recursive-CTE Viterbi stays cheap, large
  // enough that seed selection, pruning, and UNK all bite)
  private val UniMaxWords = 1000
  private val UniSeedMulti = 40
  private val UniVocabMulti = 24
  private val UniEmIters = 2

  /** One recursive-CTE Viterbi over `(word, n)` rows of `wordsCte`
    * under `pieceCte(piece, llk)` — the DP of
    * [[graft.operators.Unigram]] replayed exactly: dp[i] maximizes
    * (micro-log cost, −pieces, last-piece length) lexicographically;
    * the row carries a 3-cell window of dp values (maxPieceLen = 3)
    * plus the winning piece PATH, so the E-step can count pieces.
    * Candidates materialize as comparable STRUCTS (field order c, k, l
    * = the tie-break order) and `list_sort(...)[3]` picks the max —
    * DuckDB 1.0's `greatest` does not take structs. Invalid candidates
    * (piece absent / prefix too short) become a −∞ sentinel struct; the
    * L=1 candidate instead coalesces to the UNK penalty, so the DP is
    * total. The inner recursive table name must be UNIQUE per instance:
    * DuckDB mis-scopes same-named RECURSIVE CTEs nested in sibling
    * CTEs (probed — vit2's `v` resolved into vit1's, silently corrupting
    * the second EM iteration). */
  private def uniViterbiCte(name: String, wordsCte: String,
      pieceCte: String): String = {
    val unk = graft.functions.UnigramKernel.UnkLlkMicro
    val sent =
      "{'c': -9223372036854775807::bigint, 'k': 0, 'l': 0, 'p': []::varchar[]}"
    s"""$name AS (
       WITH RECURSIVE rv_$name AS (
         SELECT word, n, 0 AS pos,
                0::bigint AS c0, NULL::bigint AS c1, NULL::bigint AS c2,
                0 AS k0, NULL::int AS k1, NULL::int AS k2,
                []::varchar[] AS p0, NULL::varchar[] AS p1, NULL::varchar[] AS p2
         FROM $wordsCte
         UNION ALL
         SELECT word, n, pos + 1,
                best.c, c0, c1,
                -best.k, k0, k1,
                best.p, p0, p1
         FROM (
           SELECT v.*, list_sort([
             CASE WHEN v.pos + 1 >= 1
                  THEN {'c': v.c0 + coalesce(q1.llk, $unk),
                        'k': -(v.k0 + 1), 'l': 1,
                        'p': list_append(v.p0, substr(v.word, v.pos + 1, 1))}
                  ELSE $sent END,
             CASE WHEN v.pos + 1 >= 2 AND q2.llk IS NOT NULL
                  THEN {'c': v.c1 + q2.llk, 'k': -(v.k1 + 1), 'l': 2,
                        'p': list_append(v.p1, substr(v.word, v.pos, 2))}
                  ELSE $sent END,
             CASE WHEN v.pos + 1 >= 3 AND q3.llk IS NOT NULL
                  THEN {'c': v.c2 + q3.llk, 'k': -(v.k2 + 1), 'l': 3,
                        'p': list_append(v.p2, substr(v.word, v.pos - 1, 3))}
                  ELSE $sent END])[3] AS best
           FROM rv_$name v
           LEFT JOIN $pieceCte q1 ON q1.piece = substr(v.word, v.pos + 1, 1)
           LEFT JOIN $pieceCte q2 ON v.pos >= 1 AND q2.piece = substr(v.word, v.pos, 2)
           LEFT JOIN $pieceCte q3 ON v.pos >= 2 AND q3.piece = substr(v.word, v.pos - 1, 3)
           WHERE v.pos < len(v.word))
       )
       SELECT word, n, p0 AS pieces, k0 AS ntok
       FROM rv_$name WHERE pos = len(word))"""
  }

  /** One unrolled EM iteration: Viterbi counts over the capped words
    * under p{i−1}, add-one smoothing over the WHOLE seed, re-quantized
    * micro-logs. Piece tables MATERIALIZE — each Viterbi references its
    * piece table three times, and DuckDB's default CTE inlining would
    * re-evaluate the whole upstream chain per reference (3^iters
    * blowup, measured 88 s vs 0.3 s at sf0.001). */
  private def uniEmStep(i: Int): String =
    s"""${uniViterbiCte(s"vit$i", "wcap", s"p${i - 1}")},
       e$i AS (
         SELECT piece, sum(n)::bigint AS used
         FROM (SELECT n, unnest(pieces) AS piece FROM vit$i)
         GROUP BY 1),
       sm$i AS MATERIALIZED (
         SELECT s.piece, coalesce(e.used, 0) + 1 AS cnt
         FROM seed s LEFT JOIN e$i e ON s.piece = e.piece),
       p$i AS MATERIALIZED (
         SELECT piece,
                round(ln(cnt::double / (SELECT sum(cnt) FROM sm$i)) * 1000000)::bigint AS llk
         FROM sm$i)"""

  /** The full unigram training chain through the final piece table
    * `pf(piece, llk)` — seed (all singles + top-`UniSeedMulti` multis),
    * `UniEmIters` unrolled EM iterations, prune to singles +
    * top-`UniVocabMulti` multis, renormalize. */
  private def uniTrainCtes(
      trainSql: String = "SELECT * FROM documents"): String = {
    val em = (1 to UniEmIters).map(uniEmStep).mkString(",\n")
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS word
              FROM ($trainSql)),
       wf AS (SELECT word, count(*)::bigint AS n FROM tok WHERE word <> ''
              GROUP BY 1),
       wcap AS MATERIALIZED (
         SELECT word, n FROM wf
         QUALIFY row_number() OVER (ORDER BY n DESC, word) <= $UniMaxWords),
       cand AS (
         SELECT substr(word, i, l) AS piece, sum(n)::bigint AS cnt
         FROM (SELECT word, n, unnest(range(1, len(word) + 1)) AS i
               FROM wcap) w,
              (SELECT unnest([1, 2, 3]) AS l) ls
         WHERE i + l - 1 <= len(word)
         GROUP BY 1),
       seed AS MATERIALIZED (
         SELECT piece, cnt FROM cand WHERE len(piece) = 1
         UNION ALL
         SELECT piece, cnt FROM (
           SELECT piece, cnt FROM cand WHERE len(piece) > 1
           QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
             <= $UniSeedMulti)),
       p0 AS MATERIALIZED (
         SELECT piece,
                round(ln(cnt::double / (SELECT sum(cnt) FROM seed)) * 1000000)::bigint AS llk
         FROM seed),
       $em,
       keepf AS MATERIALIZED (
         SELECT piece, cnt FROM sm$UniEmIters WHERE len(piece) = 1
         UNION ALL
         SELECT piece, cnt FROM (
           SELECT piece, cnt FROM sm$UniEmIters WHERE len(piece) > 1
           QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
             <= $UniVocabMulti)),
       pf AS MATERIALIZED (
         SELECT piece,
                round(ln(cnt::double / (SELECT sum(cnt) FROM keepf)) * 1000000)::bigint AS llk
         FROM keepf)"""
  }

  private def uniPiecesOracleSql: String =
    s"""WITH ${uniTrainCtes()}
       SELECT piece, llk FROM pf ORDER BY piece"""

  private lazy val UniTokenizeOracleSql: String = uniTokenizeOracleSql()

  private def uniTokenizeOracleSql(
      trainSql: String = "SELECT * FROM documents"): String =
    s"""WITH ${uniTrainCtes(trainSql)},
       bt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE text IS NOT NULL),
       btw AS MATERIALIZED (
         SELECT word, 1::bigint AS n
         FROM (SELECT DISTINCT word FROM bt WHERE word <> '')),
       ${uniViterbiCte("vitf", "btw", "pf")}
       SELECT b.doc_id, count(*)::bigint AS n_words,
              sum(v.ntok)::bigint AS n_unigram_tokens
       FROM bt b JOIN vitf v ON b.word = v.word
       WHERE b.word <> ''
       GROUP BY b.doc_id ORDER BY b.doc_id"""

  /** Shared BPE-training CTEs through the merge rows m1..mN: word
    * frequencies (top-`maxWords` by (n DESC, word)), char-level symbol
    * encoding as the chr(31)-wrapped string, and one unrolled
    * (pair-count → argmax → replace) step triple per merge — the exact
    * mechanics of [[graft.operators.Bpe]], shared bit-for-bit: both
    * engines' `replace` is the same left-to-right non-overlapping scan,
    * and each symbol's own delimiter wrapping makes shared-boundary
    * overlaps impossible. */
  /** The unrolled (pair-count → argmax → replace) step triple per merge —
    * shared by the codepoint and byte-level training oracles (both
    * operate on the delimiter-wrapped `sym` column of `w0`; only how
    * `w0` encodes a word differs). */
  private def bpeStepCtes(nMerges: Int): String = {
    val d = "chr(31)"
    val dd = s"$d || $d"
    (1 to nMerges).map { t =>
      s"""p$t AS (
           SELECT a, b, sum(n)::bigint AS cnt FROM (
             SELECT n, ss[i] AS a, ss[i + 1] AS b FROM (
               SELECT n, ss, unnest(range(1, len(ss))) AS i FROM (
                 SELECT n, string_split(trim(sym, $d), $dd) AS ss
                 FROM w${t - 1})))
           GROUP BY 1, 2),
         m$t AS (SELECT a, b, cnt FROM p$t ORDER BY cnt DESC, a, b LIMIT 1),
         -- exhaustion-safe: an empty m_t must leave w_t = w_{t-1} (the
         -- engine's early stop), not empty it through a cross join
         w$t AS (
           SELECT w.word, w.n,
             CASE WHEN m.a IS NULL THEN w.sym
                  ELSE replace(w.sym, $d || m.a || $d || $d || m.b || $d,
                    $d || m.a || m.b || $d) END AS sym
           FROM w${t - 1} w LEFT JOIN m$t m ON true)"""
    }.mkString(",\n")
  }

  private def bpeOracleCtes(
      nMerges: Int, maxWords: Int,
      trainSql: String = "SELECT * FROM documents"): String = {
    val d = "chr(31)"
    val dd = s"$d || $d"
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS word
              FROM ($trainSql)),
       wf AS (SELECT word, count(*)::bigint AS n FROM tok WHERE word <> ''
              GROUP BY 1),
       wcap AS (SELECT word, n FROM wf
                QUALIFY row_number() OVER (ORDER BY n DESC, word)
                  <= $maxWords),
       w0 AS (SELECT word, n,
                $d || array_to_string(string_split(word, ''), $dd) || $d
                  AS sym
              FROM wcap),
       ${bpeStepCtes(nMerges)}"""
  }

  private def bpeMergesOracleSql: String = {
    val rows = (1 to BpeMerges).map(t =>
      s"SELECT $t AS step, a AS lhs, b AS rhs, cnt AS pair_count FROM m$t")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeOracleCtes(BpeMerges, BpeMaxWords)}
       SELECT * FROM ($rows) ORDER BY step"""
  }

  private lazy val BpeTokenizeOracleSql: String = bpeTokenizeOracleSql()

  /** The unrolled apply chain s1..sN over `s0(doc_id, sym)` — shared by
    * the codepoint and byte-level tokenize oracles. */
  private def bpeApplyStepCtes(nMerges: Int): String = {
    val d = "chr(31)"
    (1 to nMerges).map { t =>
      s"""s$t AS (
           -- exhaustion-safe: an empty m_t coalesces to a never-matching
           -- pattern (three adjacent delimiters cannot occur) so the
           -- replace is the identity, mirroring the engine's early stop
           SELECT doc_id, replace(sym,
             coalesce((SELECT $d || a || $d || $d || b || $d FROM m$t),
               $d || $d || $d),
             coalesce((SELECT $d || a || b || $d FROM m$t), '')) AS sym
           FROM s${t - 1})"""
    }.mkString(",\n")
  }

  private def bpeTokenizeOracleSql(
      trainSql: String = "SELECT * FROM documents"): String = {
    val d = "chr(31)"
    val dd = s"$d || $d"
    s"""WITH ${bpeOracleCtes(BpeMerges, BpeMaxWords, trainSql)},
       bt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE text IS NOT NULL),
       s0 AS (SELECT doc_id,
                $d || array_to_string(string_split(word, ''), $dd) || $d
                  AS sym
              FROM bt WHERE word <> ''),
       ${bpeApplyStepCtes(BpeMerges)}
       SELECT doc_id, count(*)::bigint AS n_words,
              sum(len(string_split(trim(sym, $d), $dd)))::bigint
                AS n_bpe_tokens
       FROM s$BpeMerges GROUP BY doc_id ORDER BY doc_id"""
  }

  /** The GPT-2 byte→codepoint table as a 256-row VALUES list
    * `(hex_byte, codepoint)` — interpolated from the Scala kernel table
    * (the source of truth), so the two engines' byte encodings cannot
    * drift. */
  private lazy val byteMapValues: String =
    graft.functions.ByteEncodeKernel.table.zipWithIndex
      .map { case (s, b) => f"('$b%02X', ${s.codePointAt(0)})" }
      .mkString(", ")

  /** Byte-level BPE train+apply oracle: every distinct word byte-encodes
    * through the interpolated GPT-2 table (hex-dump of `encode(word)`
    * joined byte-by-byte against `bmap`, reassembled in order), and the
    * SAME unrolled train/apply replace chains run over the encoded
    * symbol strings. Cap selection ranks RAW words — identical to the
    * engine ([[graft.operators.Bpe.wordFreqs]]'s `pre` contract). */
  private def bpeBytesTokenizeOracleSql(
      trainSql: String = "SELECT * FROM documents"): String = {
    val d = "chr(31)"
    val dd = s"$d || $d"
    s"""WITH bmap(h2, cp) AS (VALUES $byteMapValues),
       tok AS (SELECT unnest(string_split(text, ' ')) AS word
              FROM ($trainSql)),
       wf AS (SELECT word, count(*)::bigint AS n FROM tok WHERE word <> ''
              GROUP BY 1),
       wcap AS (SELECT word, n FROM wf
                QUALIFY row_number() OVER (ORDER BY n DESC, word)
                  <= $BpeMaxWords),
       bt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE text IS NOT NULL),
       dwords AS (SELECT word FROM wf
                  UNION SELECT DISTINCT word FROM bt WHERE word <> ''),
       bw0 AS (SELECT word, hex(encode(word)) AS hx FROM dwords),
       bwi AS (SELECT word, hx, unnest(range(0, len(hx) // 2)) AS i
               FROM bw0),
       benc AS (
         SELECT word, string_agg(chr(m.cp), '' ORDER BY b.i) AS bword
         FROM (SELECT word, i, substr(hx, (2 * i + 1)::int, 2) AS h2
               FROM bwi) b
         JOIN bmap m USING (h2)
         GROUP BY word),
       w0 AS (SELECT c.word, c.n,
                $d || array_to_string(string_split(e.bword, ''), $dd) || $d
                  AS sym
              FROM wcap c JOIN benc e USING (word)),
       ${bpeStepCtes(BpeMerges)},
       s0 AS (SELECT t.doc_id,
                $d || array_to_string(string_split(e.bword, ''), $dd) || $d
                  AS sym
              FROM bt t JOIN benc e USING (word) WHERE t.word <> ''),
       ${bpeApplyStepCtes(BpeMerges)}
       SELECT doc_id, count(*)::bigint AS n_words,
              sum(len(string_split(trim(sym, $d), $dd)))::bigint
                AS n_bpe_tokens
       FROM s$BpeMerges GROUP BY doc_id ORDER BY doc_id"""
  }

  private lazy val BpeBytesTokenizeOracleSql: String =
    bpeBytesTokenizeOracleSql()

  /** Dirichlet query-likelihood oracle — mirrors
    * [[graft.operators.Retrieval.qldTopK]] operand-for-operand: exact
    * bigint rationals into one double division + ln + round-6, carried
    * as DECIMAL(18,9) through the background/correction two-leg union
    * (exact regrouping), one final double round, rank by
    * (score DESC, doc_id). */
  private lazy val QldOracleSql: String = {
    val qvals = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
      }
      .mkString(", ")
    val mu = Retrieval.QldMu
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       toks AS (
         SELECT doc_id, len(string_split(text, ' ')) AS dl,
                unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
         FROM toks WHERE term <> '' GROUP BY 1, 2),
       c AS (SELECT sum(len(string_split(text, ' ')))::bigint AS sumdl
             FROM documents),
       cf AS (SELECT term, sum(tf)::bigint AS cf FROM tf GROUP BY 1),
       qcf AS (SELECT q.query_id, q.term, cf.cf FROM q JOIN cf USING (term)),
       mt AS (SELECT q.query_id, tf.doc_id, tf.dl, tf.term, tf.tf
              FROM q JOIN tf USING (term)),
       dq AS (SELECT DISTINCT query_id, doc_id, dl FROM mt),
       bg AS (
         SELECT d.query_id, d.doc_id,
           round(ln(($mu * qc.cf)::double /
             ((d.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9) AS m
         FROM dq d JOIN qcf qc USING (query_id), c),
       cor AS (
         SELECT m.query_id, m.doc_id,
           (round(ln((m.tf * c.sumdl + $mu * f.cf)::double /
              ((m.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9)
            - round(ln(($mu * f.cf)::double /
              ((m.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9)
            )::DECIMAL(18,9) AS m
         FROM mt m JOIN cf f USING (term), c),
       scored AS (
         SELECT query_id, doc_id, round(sum(m)::double, 6) AS score
         FROM (SELECT * FROM bg UNION ALL SELECT * FROM cor)
         GROUP BY 1, 2)
       SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
       FROM scored QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
  }

  private lazy val NbOracleSql: String = nbOracleSql("doc_id % 5 <> 0")

  /** NB train+classify oracle. `vocabCap` replays [[Classify
    * .nbTrainCapped]]'s top-V selection: keep the `cap` terms with the
    * highest total class count (ties → smaller term) and train over the
    * REDUCED count frame — smoothing, totals, and the dense table all
    * see only kept terms, exactly like the engine. None = uncapped. */
  private def nbOracleSql(
      trainWhere: String, vocabCap: Option[Int] = None): String = {
    val capCte = vocabCap.map(cap =>
      s"""ctc0 AS (SELECT label, term, count(*) AS cnt FROM ttok GROUP BY 1, 2),
       vkeep AS (
         SELECT term FROM (
           SELECT term, sum(cnt)::bigint AS tc FROM ctc0 GROUP BY 1)
         QUALIFY row_number() OVER (ORDER BY tc DESC, term) <= $cap),
       ctc AS (SELECT c.label, c.term, c.cnt FROM ctc0 c JOIN vkeep USING (term)),""")
      .getOrElse(
        "ctc AS (SELECT label, term, count(*) AS cnt FROM ttok GROUP BY 1, 2),")
    s"""WITH train AS (
         SELECT source AS label, text FROM documents
         WHERE ($trainWhere)
           AND source IS NOT NULL AND text IS NOT NULL),
       test AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       ttok0 AS (
         SELECT label, unnest(string_split(text, ' ')) AS term FROM train),
       ttok AS (SELECT label, term FROM ttok0 WHERE term <> ''),
       $capCte
       tokc AS (SELECT label, sum(cnt)::bigint AS tok_c FROM ctc GROUP BY 1),
       v AS (SELECT count(DISTINCT term)::bigint AS vsize FROM ctc),
       nd AS (SELECT count(*)::bigint AS n FROM train),
       dc AS (SELECT label, count(*)::bigint AS dn FROM train GROUP BY 1),
       pri AS (
         SELECT dc.label,
           round(ln(dc.dn::double / nd.n), 6) AS logprior,
           round(ln(1.0 / (tokc.tok_c + v.vsize)), 6) AS logdef,
           tokc.tok_c
         FROM dc JOIN tokc USING (label), nd, v),
       dense AS (
         SELECT vt.term, p.label,
           coalesce(
             round(ln((c.cnt + 1)::double / (p.tok_c + v.vsize)), 6),
             p.logdef) AS loglik,
           p.logprior
         FROM (SELECT DISTINCT term FROM ctc) vt
         CROSS JOIN pri p
         LEFT JOIN ctc c ON c.term = vt.term AND c.label = p.label, v),
       dtok0 AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM test),
       dtok AS (SELECT doc_id, term FROM dtok0 WHERE term <> ''),
       sc AS (
         SELECT d.doc_id, l.label,
           round(sum(l.loglik::DECIMAL(18,9)) +
                 max(l.logprior)::DECIMAL(18,9), 6)::double AS score
         FROM dtok d JOIN dense l USING (term)
         GROUP BY 1, 2)
       SELECT doc_id, label AS predicted, score
       FROM sc
       QUALIFY row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, label) = 1
       ORDER BY doc_id"""
  }

  /** Shared oracle CTE bodies (comma-joined, no WITH) — ONE definition
    * for every oracle that replays the lexical BM25 chain
    * (`bq` → `lexscored`, text_bm25_topk's verbatim) or the hash-embed
    * cosine legs (`dtoks` → `demb`, `qt` → `qemb`, `vscored`), so a
    * change to either discipline edits one place. */
  private def bm25LexOracleCtes(qterms: String): String =
    s"""bq(query_id, term) AS (VALUES $qterms),
       toks AS (
         SELECT doc_id, len(string_split(text, ' ')) AS dl,
                unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
         FROM toks WHERE term <> '' GROUP BY 1, 2),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       c AS (SELECT count(*)::bigint AS n,
                    sum(len(string_split(text, ' ')))::bigint AS sumdl
             FROM documents),
       contrib AS (
         SELECT bq.query_id, tf.doc_id,
           round(
             ln(1.0 + (c.n::double - df.df + 0.5) / (df.df + 0.5)) *
             ((tf.tf * ${Retrieval.K1 + 1.0}) /
              (tf.tf + ${Retrieval.K1} *
                (${1.0 - Retrieval.B} + ${Retrieval.B} *
                  (tf.dl / (c.sumdl::double / c.n))))),
             6)::DECIMAL(38,10) AS w
         FROM bq JOIN tf USING (term) JOIN df ON tf.term = df.term, c),
       lexscored AS (
         SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
         FROM contrib GROUP BY 1, 2)"""

  private def hashEmbedVecOracleCtes(qtexts: String): String =
    s"""dtoks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       dhashed AS (
         SELECT doc_id, CAST(h % 64 AS INT) AS i,
                CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
         FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
               FROM dtoks WHERE tok <> '')),
       dzeros AS (
         SELECT doc_id, CAST(j AS INT) AS i, 0.0 AS v
         FROM documents, (SELECT unnest(range(64)) AS j)),
       dsummed AS (
         SELECT doc_id, i, sum(v) AS s
         FROM (SELECT * FROM dhashed UNION ALL SELECT * FROM dzeros)
         GROUP BY doc_id, i),
       demb AS (
         SELECT doc_id, list(CAST(s AS FLOAT) ORDER BY i) AS embedding
         FROM dsummed GROUP BY doc_id),
       qt(query_id, qtext) AS (VALUES $qtexts),
       qtoks AS (
         SELECT query_id, unnest(string_split(qtext, ' ')) AS tok FROM qt),
       qhashed AS (
         SELECT query_id, CAST(h % 64 AS INT) AS i,
                CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
         FROM (SELECT query_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
               FROM qtoks WHERE tok <> '')),
       qzeros AS (
         SELECT query_id, CAST(j AS INT) AS i, 0.0 AS v
         FROM qt, (SELECT unnest(range(64)) AS j)),
       qsummed AS (
         SELECT query_id, i, sum(v) AS s
         FROM (SELECT * FROM qhashed UNION ALL SELECT * FROM qzeros)
         GROUP BY query_id, i),
       qemb AS (
         SELECT query_id, list(CAST(s AS FLOAT) ORDER BY i) AS embedding
         FROM qsummed GROUP BY query_id),
       vscored AS (
         SELECT q.query_id, d.doc_id,
           round(list_dot_product(q.embedding::double[], d.embedding::double[]) /
             (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
              sqrt(list_dot_product(d.embedding::double[], d.embedding::double[]))),
             6) AS score
         FROM qemb q, demb d)"""

  private lazy val EvalMetricsOracleSql: String = {
    val qterms = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
      }
      .mkString(", ")
    val qtexts = Bm25Queries.map { case (qid, t) => s"($qid, '$t')" }
      .mkString(", ")
    // judgments = the shared BM25 chain graded 11-rank; candidate = the
    // shared hash-embed cosine ranking; the metrics tail mirrors
    // rankingMetrics operand-for-operand (ln/ln 2 gains, round-6 terms,
    // decimal sums, one round per metric, judgment-driven row set)
    s"""WITH ${bm25LexOracleCtes(qterms)},
       judg AS (
         SELECT query_id, doc_id, (${Bm25K + 1} - lex_rank)::bigint AS rel
         FROM (SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS lex_rank
               FROM lexscored QUALIFY lex_rank <= $Bm25K)),
       ${hashEmbedVecOracleCtes(qtexts)},
       cand AS (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
         FROM vscored QUALIFY rank <= $Bm25K),
       hits AS (
         SELECT cd.query_id, cd.rank, coalesce(j.rel, 0) AS rel
         FROM cand cd LEFT JOIN judg j USING (query_id, doc_id)),
       perq AS (
         SELECT query_id,
           sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::bigint AS hits,
           min(CASE WHEN rel > 0 THEN rank END) AS first,
           sum(round(rel::double / (ln(rank + 1) / ln(2.0)), 6)
               ::DECIMAL(38,10)) AS dcg
         FROM hits GROUP BY 1),
       rel_only AS (SELECT * FROM judg WHERE rel > 0),
       ideal AS (
         SELECT query_id,
           sum(round(rel::double / (ln(r + 1) / ln(2.0)), 6)
               ::DECIMAL(38,10)) AS idcg
         FROM (SELECT query_id, rel,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, doc_id) AS r
               FROM rel_only)
         WHERE r <= $Bm25K GROUP BY 1),
       tot AS (SELECT query_id, count(*)::bigint AS nrel
               FROM rel_only GROUP BY 1)
       SELECT t.query_id,
         round(coalesce(p.hits, 0)::double / t.nrel, 6) AS recall,
         CASE WHEN p.first IS NOT NULL
              THEN round(1.0::double / p.first, 6) ELSE 0.0 END AS mrr,
         round(coalesce(p.dcg, 0)::double / i.idcg::double, 6) AS ndcg
       FROM tot t JOIN ideal i USING (query_id)
       LEFT JOIN perq p USING (query_id)
       ORDER BY query_id"""
  }

  private lazy val SdmOracleSql: String =
    sdmOracleSql("SELECT * FROM documents")

  /** SDM oracle over a parameterized corpus — the pinned twin replays
    * the blend over v1's even-doc half exactly like the phrase pin. */
  private def sdmOracleSql(corpusSql: String): String = {
    val uvals = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
      }
      .mkString(", ")
    val pvals = Bm25Queries
      .flatMap { case (qid, text) =>
        val ts = text.split(" ").filter(_.nonEmpty)
        ts.zip(ts.drop(1)).distinct.map { case (a, b) => s"($qid, '$a', '$b')" }
      }
      .mkString(", ")
    // each component's contrib mirrors the Spark tree operand-for-operand
    def contrib(tf: String, df: String, dl: String) =
      s"""round(
           ln(1.0 + (c.n::double - $df + 0.5) / ($df + 0.5)) *
           (($tf * ${Retrieval.K1 + 1.0}) /
            ($tf + ${Retrieval.K1} *
              (${1.0 - Retrieval.B} + ${Retrieval.B} *
                ($dl / (c.sumdl::double / c.n))))),
           6)::DECIMAL(38,10)"""
    s"""WITH uq(query_id, term) AS (VALUES $uvals),
       pq(query_id, ta, tb) AS (VALUES $pvals),
       toks AS (
         SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         FROM ($corpusSql)),
       p AS (SELECT term, doc_id, pos, dl FROM toks WHERE term <> ''),
       tf AS (
         SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
         FROM p GROUP BY 1, 2),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       c AS (SELECT count(*)::bigint AS n,
                    sum(len(string_split(text, ' ')))::bigint AS sumdl
             FROM ($corpusSql)),
       st AS (
         SELECT uq.query_id, tf.doc_id,
           round(sum(${contrib("tf.tf", "df.df", "tf.dl")})::double, 6) AS s_t
         FROM uq JOIN tf USING (term) JOIN df ON tf.term = df.term, c
         GROUP BY 1, 2),
       ohit AS (
         SELECT pq.query_id, pq.ta, pq.tb, a.doc_id,
                any_value(a.dl) AS dl, count(*) AS tf
         FROM pq JOIN p a ON a.term = pq.ta
              JOIN p b ON b.doc_id = a.doc_id AND b.term = pq.tb
               AND b.pos = a.pos + 1
         GROUP BY 1, 2, 3, 4),
       odf AS (SELECT query_id, ta, tb, count(*) AS df FROM ohit GROUP BY 1, 2, 3),
       so AS (
         SELECT o.query_id, o.doc_id,
           round(sum(${contrib("o.tf", "odf.df", "o.dl")})::double, 6) AS s_o
         FROM ohit o JOIN odf USING (query_id, ta, tb), c
         GROUP BY 1, 2),
       uhit AS (
         SELECT pq.query_id, pq.ta, pq.tb, a.doc_id,
                any_value(a.dl) AS dl, count(*) AS tf
         FROM pq JOIN p a ON a.term = pq.ta
              JOIN p b ON b.doc_id = a.doc_id AND b.term = pq.tb
               AND CASE WHEN pq.ta = pq.tb
                     THEN b.pos > a.pos AND b.pos - a.pos < $SdmWindow
                     ELSE b.pos <> a.pos AND abs(b.pos - a.pos) < $SdmWindow
                   END
         GROUP BY 1, 2, 3, 4),
       udf AS (SELECT query_id, ta, tb, count(*) AS df FROM uhit GROUP BY 1, 2, 3),
       su AS (
         SELECT u.query_id, u.doc_id,
           round(sum(${contrib("u.tf", "udf.df", "u.dl")})::double, 6) AS s_u
         FROM uhit u JOIN udf USING (query_id, ta, tb), c
         GROUP BY 1, 2),
       blended AS (
         SELECT st.query_id, st.doc_id,
           round(st.s_t::DECIMAL(18,9) * 0.85::DECIMAL(3,2) +
                 coalesce(so.s_o, 0)::DECIMAL(18,9) * 0.10::DECIMAL(3,2) +
                 coalesce(su.s_u, 0)::DECIMAL(18,9) * 0.05::DECIMAL(3,2),
                 6)::double AS score
         FROM st LEFT JOIN so USING (query_id, doc_id)
                 LEFT JOIN su USING (query_id, doc_id))
       SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
       FROM blended QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
  }
  private val SdmWindow = 8

  private lazy val Rm3OracleSql: String = {
      val qvals = Bm25Queries
        .flatMap { case (qid, text) =>
          text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
        }
        .mkString(", ")
      val wvals = Bm25Queries
        .flatMap { case (qid, text) =>
          val terms = text.split(" ").filter(_.nonEmpty).distinct
          val w = BigDecimal(0.5 / terms.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          terms.map(t => s"($qid, '$t', $w)")
        }
        .mkString(", ")
      val contribSql =
        s"""round(
               ln(1.0 + (c.n::double - df.df + 0.5) / (df.df + 0.5)) *
               ((tf.tf * ${Retrieval.K1 + 1.0}) /
                (tf.tf + ${Retrieval.K1} *
                  (${1.0 - Retrieval.B} + ${Retrieval.B} *
                    (tf.dl / (c.sumdl::double / c.n))))),
               6)"""
      s"""WITH q(query_id, term) AS (VALUES $qvals),
         qw(query_id, term, wq) AS (VALUES $wvals),
         toks AS (
           SELECT doc_id, len(string_split(text, ' ')) AS dl,
                  unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (
           SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT count(*)::bigint AS n,
                      sum(len(string_split(text, ' ')))::bigint AS sumdl
               FROM documents),
         contrib1 AS (
           SELECT q.query_id, tf.doc_id,
             $contribSql::DECIMAL(38,10) AS w
           FROM q JOIN tf USING (term) JOIN df ON tf.term = df.term, c),
         scored1 AS (
           SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
           FROM contrib1 GROUP BY 1, 2),
         fb AS (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS r
           FROM scored1 QUALIFY r <= 3),
         fbw AS (
           SELECT fb.query_id, tf.term,
             round(sum(round(tf.tf / tf.dl * fb.score, 6)
               ::DECIMAL(38,10))::double, 6) AS fbw
           FROM fb JOIN tf ON fb.doc_id = tf.doc_id
           GROUP BY 1, 2),
         sel AS (
           SELECT query_id, term, fbw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY fbw DESC, term) AS tr
           FROM fbw QUALIFY tr <= 8),
         norm AS (
           SELECT query_id, term,
             round(fbw / (sum(fbw::DECIMAL(38,10))
               OVER (PARTITION BY query_id))::double, 6) AS fbw_n
           FROM sel),
         expq AS (
           -- exact-decimal interpolation: wq + (1-alpha)*fbw_n is an
           -- exact <=8-dp decimal whose 7th digit ties on 5 half the
           -- time; the single round runs on the exact decimal (ties
           -- away from zero in both engines), never on a double
           SELECT coalesce(qw.query_id, norm.query_id) AS query_id,
                  coalesce(qw.term, norm.term) AS term,
                  round(coalesce(qw.wq, 0.0)::DECIMAL(18,9) +
                        0.5 * coalesce(norm.fbw_n, 0.0)::DECIMAL(18,9),
                        6) AS w
           FROM qw FULL OUTER JOIN norm
             ON qw.query_id = norm.query_id AND qw.term = norm.term),
         contrib2 AS (
           -- exact 12-dp decimal products, summed exactly, ONE final
           -- round (a 6-dp pre-round of the product would coin-flip on
           -- 12-dp halves)
           SELECT expq.query_id, tf.doc_id,
             (expq.w::DECIMAL(18,9) * ($contribSql)::DECIMAL(18,9)) AS cw
           FROM expq JOIN tf ON expq.term = tf.term
           JOIN df ON tf.term = df.term, c),
         scored2 AS (
           SELECT query_id, doc_id, round(sum(cw), 6)::double AS score
           FROM contrib2 GROUP BY 1, 2)
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
         FROM scored2 QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
    }

  /** DuckDB CTE for the distinct (doc_id, shingle) inverted index — the
    * exact twin of [[Dedup.explodedShingles]] with n=5, over any relation
    * with (doc_id, text). Shared with [[CurationQueries]] (contamination
    * reads the same index; the spans pipeline re-shingles CLEANED text). */
  private[queries] def shinglesCteOver(rel: String, cteName: String): String =
    s"""$cteName AS (
         SELECT DISTINCT doc_id, unnest(
           CASE WHEN len(string_split(text, ' ')) >= 5
                THEN list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> array_to_string(
                              list_slice(string_split(text, ' '), i, i + 4), ' '))
                ELSE [text] END) AS shingle
         FROM $rel)"""
  private[queries] val ShinglesCte = shinglesCteOver("documents", "shingled")

  /** DuckDB CTE for MinHash signatures (k=16) over `shingled`: the exact
    * twin of [[Dedup.minhash]]'s universal-hash family — one 60-bit md5
    * digest per shingle, then per-seed (a·h + b) mod 2³¹−1 permutations
    * with the SAME per-seed constants interpolated from the Scala source
    * of truth. */
  private val MinhashSeeds = (0 until MinhashK)
    .map(i => s"($i, ${graft.operators.Dedup.minhashA(i)}, ${graft.operators.Dedup.minhashB(i)})")
    .mkString(", ")
  private[queries] val MinhashCte =
    s"""hashed AS (
         SELECT doc_id,
                (('0x' || substr(md5(shingle), 1, 15))::bigint) % 2147483647 AS hm
         FROM shingled),
       sig AS (
         SELECT doc_id, seed,
                min((a * hm + b) % 2147483647) AS minhash
         FROM hashed, (VALUES $MinhashSeeds) seeds(seed, a, b)
         GROUP BY doc_id, seed)"""

  /** The cross-corpus LSH oracle, parameterized on the LAKE membership
    * predicate (`lake("doc_id")` for bare refs, `lake("b.doc_id")` in the
    * pair join): signatures are per-doc, so one whole-table signature CTE
    * split by the predicate replays the two-sided Spark pipeline exactly.
    * The delta side is always the even ids; reused by the inline oracle
    * (lake = all odds) and the PINNED-version probe (lake = the %4==1
    * half that was indexed at the pinned commit). */
  private def crossCorpusOracleSql(lake: String => String): String =
    s"""WITH $ShinglesCte, $MinhashCte,
       banded AS (
         SELECT doc_id, (seed // 4) AS band,
                md5(array_to_string(
                  list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
         FROM sig GROUP BY doc_id, band),
       hot AS (
         SELECT band, band_hash FROM banded
         WHERE ${lake("doc_id")}
         GROUP BY band, band_hash
         HAVING count(*) > $CrossMaxBucket),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_base
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.band_hash = b.band_hash
         WHERE a.doc_id % 2 = 0 AND ${lake("b.doc_id")}
           AND NOT EXISTS (SELECT 1 FROM hot h
             WHERE h.band = a.band AND h.band_hash = a.band_hash))
       SELECT p.id_new, p.id_base,
              sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::double
                / 16 AS est_jaccard
       FROM pairs p
       JOIN sig sa ON sa.doc_id = p.id_new
       JOIN sig sb ON sb.doc_id = p.id_base AND sb.seed = sa.seed
       GROUP BY p.id_new, p.id_base
       ORDER BY id_new, id_base"""

  /** The GROWING-stream cross-corpus oracle: every doc gets an arrival
    * rank (lake = -1, arrival batch b = (doc_id%30)//10, the same
    * deterministic staging [[graft.streaming.StreamPipeline
    * .writeArrivalBatches]] produces), and a pair (id_new, id_base)
    * exists iff they share an LSH bucket AND id_base arrived STRICTLY
    * before id_new's batch — the index-as-of-previous-batch semantics.
    * The hot-bucket cap is evaluated per probe rank against exactly the
    * members the index held at that probe (the staleCounts=true exact
    * pass's contract: pair-identical to the inline operator on the
    * as-of corpora). */
  private val growingCrossCorpusOracleSql: String =
    s"""WITH $ShinglesCte, $MinhashCte,
       ranked AS (
         SELECT doc_id,
                CASE WHEN doc_id % 10 < 8 THEN -1
                     ELSE (doc_id % 30) // 10 END AS rk
         FROM documents),
       banded AS (
         SELECT doc_id, (seed // 4) AS band,
                md5(array_to_string(
                  list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
         FROM sig GROUP BY doc_id, band),
       hotb AS (
         SELECT pr.rk AS prk, m.band, m.band_hash
         FROM (SELECT DISTINCT rk FROM ranked WHERE rk >= 0) pr
         CROSS JOIN banded m
         JOIN ranked rm ON rm.doc_id = m.doc_id AND rm.rk < pr.rk
         GROUP BY pr.rk, m.band, m.band_hash
         HAVING count(*) > $CrossMaxBucket),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_base
         FROM banded a
         JOIN ranked ra ON ra.doc_id = a.doc_id AND ra.rk >= 0
         JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
         JOIN ranked rb ON rb.doc_id = b.doc_id AND rb.rk < ra.rk
         WHERE NOT EXISTS (SELECT 1 FROM hotb h
           WHERE h.prk = ra.rk AND h.band = a.band
             AND h.band_hash = a.band_hash))
       SELECT p.id_new, p.id_base,
              sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::double
                / $MinhashK AS est_jaccard
       FROM pairs p
       JOIN sig sa ON sa.doc_id = p.id_new
       JOIN sig sb ON sb.doc_id = p.id_base AND sb.seed = sa.seed
       GROUP BY p.id_new, p.id_base
       ORDER BY id_new, id_base"""

  /** DuckDB CTE chain twinning [[graft.operators.Dedup.repeatedSpans]]
    * (gram width [[SpanGramChars]], minDocs = 2), ending in
    * `spans(doc_id, span_start, span_end)`: per-position 60-bit md5 gram
    * digests (first 15 hex chars = GramDigests' top 60 bits over the
    * same UTF-8 bytes), the >=2-distinct-doc filter as
    * min(doc_id) <> max(doc_id), and the gaps-and-islands merge with an
    * EXCLUSIVE running prev-end (max(pos + L) over preceding rows, so
    * pos > prevEnd breaks and pos == prevEnd touches-and-merges). All
    * positions are 1-based CHARACTER offsets — `length()`/`substr()`
    * count characters exactly like Spark's; never `strlen` (bytes). */
  private[queries] val SpansCtes =
    s"""grams AS (
         SELECT doc_id,
                unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                text
         FROM documents
         WHERE text IS NOT NULL AND length(text) >= $SpanGramChars),
       gd AS (
         SELECT doc_id, pos,
                ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
         FROM grams),
       rep AS (SELECT h FROM gd GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       pts AS (SELECT doc_id, pos FROM gd WHERE h IN (SELECT h FROM rep)),
       isl AS (
         SELECT doc_id, pos,
                CASE WHEN pos > coalesce(max(pos + $SpanGramChars) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS brk
         FROM pts),
       grp AS (
         SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM isl),
       spans AS (
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + ${SpanGramChars - 1} AS span_end
         FROM grp GROUP BY doc_id, island)"""

  /** [[SpansCtes]] extended with the keep-first chain twinning
    * [[graft.operators.Dedup.repeatedSpansKeepFirst]], ending in
    * `fspans(doc_id, span_start, span_end)`: the repeated-digest
    * aggregate additionally names the OWNER (min doc_id), the position
    * join keeps only non-owner occurrences, and the same exclusive
    * prev-end islands merge follows. */
  private[queries] val KeepFirstSpanCtes =
    s"""$SpansCtes,
       repf AS (
         SELECT h, min(doc_id) AS lo FROM gd
         GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       fpts AS (
         SELECT gd.doc_id, gd.pos FROM gd JOIN repf ON gd.h = repf.h
         WHERE gd.doc_id <> repf.lo),
       fisl AS (
         SELECT doc_id, pos,
                CASE WHEN pos > coalesce(max(pos + $SpanGramChars) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS brk
         FROM fpts),
       fgrp AS (
         SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM fisl),
       fspans AS (
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + ${SpanGramChars - 1} AS span_end
         FROM fgrp GROUP BY doc_id, island)"""

  /** DuckDB CTE chain twinning [[graft.operators.Dedup.repeatedTokenSpans]]
    * (gram width [[SpanGramTokens]] TOKENS, minDocs = 2), ending in
    * `tspans(doc_id, span_start, span_end)`. Token k's 1-based char start
    * is 1 + Σ(length + 1) over preceding tokens (each separator is exactly
    * one space — `string_split(text, ' ')` keeps empty tokens, so the
    * arithmetic stays exact through consecutive spaces); a gram's char end
    * is the (gramTokens−1)-ahead token's end via `lead`. The digest is the
    * same 60-bit md5 over the covered substring — separators included —
    * and the islands merge is the variable-length form: EXCLUSIVE running
    * prev-end as max(e + 1) over preceding rows ordered by (s, e). */
  private[queries] val TokenSpansCtes =
    s"""ttoks AS (
         SELECT doc_id, text,
                unnest(string_split(text, ' ')) AS tok,
                generate_subscripts(string_split(text, ' '), 1) AS ti
         FROM documents WHERE text IS NOT NULL),
       toffs AS (
         SELECT doc_id, text, tok, ti,
                (1 + coalesce(sum(length(tok) + 1) OVER (
                   PARTITION BY doc_id ORDER BY ti
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::int AS s
         FROM ttoks),
       tg AS (
         SELECT doc_id, text, ti, s,
                lead(s + length(tok) - 1, ${SpanGramTokens - 1}) OVER (
                  PARTITION BY doc_id ORDER BY ti) AS e
         FROM toffs),
       tgd AS (
         SELECT doc_id, s, e,
                ('0x' || substr(md5(substr(text, s, e - s + 1)), 1, 15))::bigint AS h
         FROM tg WHERE e IS NOT NULL),
       trep AS (SELECT h FROM tgd GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       tpts AS (SELECT doc_id, s, e FROM tgd WHERE h IN (SELECT h FROM trep)),
       tisl AS (
         SELECT doc_id, s, e,
                CASE WHEN s > coalesce(max(e + 1) OVER (
                       PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS brk
         FROM tpts),
       tgrp AS (
         SELECT doc_id, s, e,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS island
         FROM tisl),
       tspans AS (
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end
         FROM tgrp GROUP BY doc_id, island)"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: digest hash-shuffle, canonical = min id per group.
    "dedup_exact" -> q { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // Incremental dedup: the new batch (doc_id % 10 >= 8) classified
    // against the existing corpus (doc_id % 10 < 8) — corpus reduced to
    // distinct digests, batch-internal twins resolved by min-id.
    "dedup_incremental" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.incremental(
          corpus = docs.filter(col("doc_id") % 10 < 8),
          batch = docs.filter(col("doc_id") % 10 >= 8),
          "text", "doc_id")
        .orderBy("doc_id")
    },

    // MinHash signatures: (doc, seed) → min digest; one key-shuffle with
    // map-side partial min. Raw (non-distinct) shingles: min is
    // duplicate-insensitive, so the distinct's shuffle is skipped.
    "dedup_minhash_sig" -> q { (s, dir) =>
      val sh = Dedup.rawShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", ShingleN)
      Dedup.minhash(sh, "doc_id", MinhashK).orderBy("doc_id", "seed")
    },

    // Full MinHash→LSH chain: banded signatures → bucket join → candidate
    // pairs. Joins only within buckets — never all-pairs.
    "dedup_lsh_pairs" -> q { (s, dir) =>
      val sh = Dedup.rawShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", ShingleN)
      val banded = Dedup.minhashBands(sh, "doc_id", MinhashK, LshBands)
      Dedup.lshCandidates(banded, "doc_id").orderBy("id_a", "id_b")
    },

    // MinHash-ESTIMATED Jaccard for the LSH candidates: similarity from
    // the signatures alone (matching seeds / k) — the verification mode
    // that never re-touches the corpus at 100 TB. One shingle scan, one
    // signature aggregation reused for bands AND estimates.
    "dedup_minhash_est" -> q { (s, dir) =>
      val sh = Dedup.rawShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", ShingleN)
      Dedup.lshEstimatedPairs(sh, "doc_id", MinhashK, LshBands)
        .orderBy("id_a", "id_b")
    },

    // Exact n-gram Jaccard over the inverted index, stop-shingle guarded.
    // The index is digested to 8-byte keys first: distinct, doc-frequency
    // and the self-join all shuffle longs, not shingle strings.
    "dedup_jaccard" -> q { (s, dir) =>
      val sh = Dedup.digestShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", ShingleN)
      Dedup.ngramJaccardPairs(sh, "doc_id", threshold = 0.1, maxDocFreq = 1000L)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    },

    // Asymmetric CONTAINMENT pairs (|A∩B|/|A|) over the same inverted
    // index — the quote/partial-copy modality: a passage embedded in a
    // much larger doc scores near-zero Jaccard but ~1.0 containment in
    // the smaller side. Same caps and shuffle budget as dedup_jaccard.
    "dedup_containment" -> q { (s, dir) =>
      val sh = Dedup.digestShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", ShingleN)
      Dedup.containmentPairs(sh, "doc_id", threshold = 0.5, maxDocFreq = 1000L)
        .withColumn("cont_a", round(col("cont_a"), 6))
        .withColumn("cont_b", round(col("cont_b"), 6))
        .orderBy("id_a", "id_b")
    },

    // Duplicate clusters: connected components over the LSH candidate
    // graph, every doc labeled with its canonical (min-id) representative.
    "dedup_clusters" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val sh = Dedup.rawShingles(docs, "text", "doc_id", ShingleN)
      val banded = Dedup.minhashBands(sh, "doc_id", MinhashK, LshBands)
      val pairs = Dedup.lshCandidates(banded, "doc_id")
      Dedup.clusters(docs, pairs, "doc_id").orderBy("doc_id")
    },

    // SimHash near-dup pairs: 60-bit signatures, pigeonhole multi-block
    // banding (4 blocks for threshold 3 ⇒ recall 1.0 by construction).
    // The oracle is deliberately BRUTE-FORCE all-pairs — equality proves
    // the banded plan loses no pair, not merely that both sides share a
    // bucketing heuristic.
    "dedup_simhash" -> q { (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3).orderBy("id_a", "id_b")
    },

    // Embedding near-dup pairs within sign-LSH buckets.
    "dedup_embedding" -> q { (s, dir) =>
      Dedup.embeddingDupPairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.3, signBits = 8)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    },

    // The SemDeDup cluster step: connected components over the
    // embedding near-dup pair graph, each vector labeled with its
    // cluster's canonical (minimum) id — "semantically duplicate groups,
    // keep one per group" as the published semantic-dedup recipe runs
    // it. Composes the two already-verified pieces (sign-LSH bucketed
    // cosine pairs; iterative min-label propagation with localCheckpoint
    // rounds), so the quadratic term stays inside the capped buckets and
    // each CC round is one join + one min-aggregate.
    "dedup_embedding_clusters" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
        threshold = 0.3, signBits = 8)
      Dedup.clusters(emb, pairs, "vec_id")
        .withColumn("is_canonical", col("vec_id") === col("cluster"))
        .orderBy("vec_id")
    },

    // SemDeDup proper — the published cluster-scoped recipe: k-means
    // partition (deterministic centroid subset, the sim_topk_ivf
    // precedent), pairwise cosine screen confined WITHIN each cluster,
    // keep the copy LEAST similar to its centroid. Pairwise dominance,
    // deterministic, replayed exactly by the oracle.
    "dedup_semdedup" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      Dedup.semDedup(emb, centroids, "vec_id", "embedding", threshold = 0.3)
        .orderBy("vec_id")
    },

    // ... the CAPPED twin — the 100 TB shape: a monster embedding
    // clique (boilerplate corpus) makes one cluster quadratic; the
    // maxCluster dial anti-joins oversize clusters out BEFORE the
    // self-join, with the drop VISIBLE (their rows leave the output
    // entirely, like the LSH maxBucket caps — never a silent sample).
    // At sf0.01 the cap of 100 drops two of the five clusters (118 and
    // 115 rows), so the oracle proves both the screen and the drop.
    "dedup_semdedup_capped" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      Dedup.semDedup(emb, centroids, "vec_id", "embedding",
          threshold = 0.3, maxCluster = 100)
        .orderBy("vec_id")
    },

    // ... and with ACTUAL k-means centroids — the paper's own recipe
    // end to end: one Lloyd refinement from the deterministic init
    // (the sim_ivf_trained machinery, oracle-replayed exactly), then
    // the same within-cluster dominance screen over the trained
    // partition.
    "dedup_semdedup_trained" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val init = emb.filter(col("vec_id") % 100 === 0)
      val trained = Similarity.lloydCentroids(emb, init, "vec_id", "embedding", iters = 1)
      Dedup.semDedup(emb, trained, "vec_id", "embedding", threshold = 0.3)
        .orderBy("vec_id")
    },

    // SSL-prototype pruning (Sorscher et al. 2022) — D4's second half:
    // within each cluster drop the floor(30%) MOST prototypical examples
    // (highest centroid cosine), keeping the atypical ones. All-integer
    // drop threshold, so the oracle replays the keep bit exactly.
    "curation_prototype_prune" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      Curation.prototypePrune(emb, centroids, "vec_id", "embedding",
          dropNum = 3, dropDen = 10)
        .orderBy("vec_id")
    },

    // ... and the published D4 pipeline end to end (Tirumala et al.
    // 2023): SemDeDup's survivors feed the prototype prune DIRECTLY —
    // they already carry (cluster, centroid_sim), so stage 2 adds one
    // rank window and nothing else (no re-assignment, no vector
    // re-join). Ranks are computed AMONG SURVIVORS, the paper's order
    // of operations.
    "curation_d4_pipeline" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val survivors = Dedup.semDedup(emb, centroids, "vec_id", "embedding",
          threshold = 0.3)
        .filter(col("keep"))
        .select(col("vec_id"), col("cluster"), col("centroid_sim"))
      Curation.prototypePruneAssigned(survivors, "vec_id",
          dropNum = 3, dropDen = 10)
        .orderBy("vec_id")
    },

    // Brute-force exact cosine top-k — the ANN correctness baseline.
    "sim_topk_brute" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Sign-LSH bucketed ANN — the scale path (each query scans one bucket).
    "sim_topk_lsh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.signLshTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, bits = 4)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // IVF-style ANN: deterministic centroid subset, corpus bucketed by
    // nearest centroid, each query searches only its cluster.
    "sim_topk_ivf" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, centroids,
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Multi-probe IVF: each query searches its 2 nearest clusters — the
    // recall dial; probe rank 1 is single-probe's cluster, so the
    // candidate set strictly widens.
    "sim_topk_ivf_probed" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfTopKProbed(emb.filter(col("vec_id") < 10), emb, centroids,
          "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // IVF with TRAINED centroids: two Lloyd refinement steps from the
    // deterministic init, then the same cluster-restricted search. The
    // oracle replays both iterations exactly (rounded float means).
    "sim_ivf_trained" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val init = emb.filter(col("vec_id") % 100 === 0)
      val trained = Similarity.lloydCentroids(emb, init, "vec_id", "embedding", iters = 2)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, trained,
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Scalar-quantized int8 ANN: per-vector max-abs codes, exact integer
    // dot-product ranking — the 4×-smaller-corpus memory-bandwidth path.
    "sim_topk_sq8" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.sq8TopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Two-stage SQ8 retrieval: int8 coarse scan over-fetches k×refine
    // candidates, exact float cosine re-ranks the survivors — the
    // FAISS-style refine pattern (4× cheaper corpus reads, exact final
    // ordering among candidates).
    "sim_topk_sq8_rerank" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.sq8RerankTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, refine = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Product-quantized ANN (PQ4×16 over d=64): corpus encoded to 4 dense
    // codes per vector against a sampled per-subspace codebook, queries
    // scored by ADC lookup table (native tight loop) — the d/m
    // bandwidth path: the scan reads 4 ints per candidate, not 64 floats.
    "sim_topk_pq" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
          emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // IVF-PQ: cluster pruning × code compression composed (the FAISS
    // IVFx,PQm architecture, global-codebook flavor) — each query probes
    // its 2 nearest clusters and ADC-scores only those clusters' 4-int
    // code rows. Centroids and codewords share the sampled subset.
    "sim_topk_ivfpq" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, sample, sample,
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Two-stage PQ retrieval: ADC coarse scan over-fetches k×refine
    // candidates from the code rows alone, exact float cosine re-ranks
    // the survivors — the refine pattern that recovers quantization
    // recall without giving back the d/m bandwidth win.
    "sim_topk_pq_rerank" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.pqRerankTopK(emb.filter(col("vec_id") < 10), emb,
          emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, refine = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // PQ with TRAINED codebooks: one per-subspace Lloyd refinement from
    // the sampled init (keep-alive empty clusters, decimal means — the
    // lloydCentroids determinism contract per subspace), then the same
    // flat ADC search. The oracle replays the training round exactly.
    "sim_topk_pq_trained" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqTrainCodebooks(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", m = 4, dsub = 16, iters = 1)
      Similarity.pqTopKWithCodebook(emb.filter(col("vec_id") < 10), emb, cb,
          "vec_id", "embedding", k = 5, m = 4, dsub = 16)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Feature-hashing text embedding (the hashing trick): every doc →
    // 64-dim signed term-frequency vector via the shared 60-bit digest —
    // the model-free bridge from text to the vector stack. Components
    // are exact ±1 sums; the vector is serialized to a comma-joined
    // string because the harness canonicalizer sorts/hashes scalar
    // columns only (an array column is pandas-unhashable).
    "text_hash_embed" -> q { (s, dir) =>
      TextAnalysis.hashEmbed(Tables.load(s, dir, "documents"), "doc_id", "text", 64)
        .select(col("doc_id"),
          array_join(expr("transform(embedding, x -> cast(x as int))"), ",").as("tf_signs"))
        .orderBy("doc_id")
    },

    // Document chunking: fixed 64-token windows advancing 48 tokens
    // (16-token overlap) — the step that turns raw documents into
    // training-length sequences. One projection + explode over the scan,
    // zero shuffles; every token covered by a full-or-final window.
    "text_chunk" -> q { (s, dir) =>
      TextAnalysis.chunk(Tables.load(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_id")
    },

    // PII redaction + canonical normalization — the scrub pass every
    // training corpus runs first. The synthetic corpus carries no PII,
    // so the query INJECTS a deterministic email/phone/IP per document
    // (derived from doc_id) and proves the redactor strips exactly
    // those, leaving placeholders the tokenizer can treat as vocabulary.
    "text_redact_pii" -> q { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(TextAnalysis.normalizeText(concat(
          col("text"),
          lit(" reach user"), col("doc_id"), lit("@mail.example.org"),
          lit(" or 555-867-5309 from 10.1.2.3"))))
          .as("clean"))
        .orderBy("doc_id")
    },

    // Incremental PQ index maintenance: half the corpus is encoded as
    // the standing index, then ONE append pass encodes only the missing
    // half (anti-join + kernel projection — the daily-delta shape).
    // Searching the appended index must equal searching a from-scratch
    // index, which is exactly what the oracle computes.
    "sim_pq_index_append" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", m = 4, dsub = 16)
      val empty = emb.select(col("vec_id").as("id"),
        expr("cast(array() as array<int>)").as("codes")).limit(0)
      val index0 = Similarity.pqIndexAppend(empty, emb.filter(col("vec_id") % 2 === 0),
        cb, "vec_id", "embedding", m = 4, dsub = 16)
      val index1 = Similarity.pqIndexAppend(index0, emb,
        cb, "vec_id", "embedding", m = 4, dsub = 16)
      Similarity.pqSearchEncoded(emb.filter(col("vec_id") < 10), index1, cb,
          "vec_id", "embedding", k = 5, m = 4, dsub = 16)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The PQ lifecycle PERSISTED under the manifest protocol: half the
    // corpus built as the standing index (codes + codebook committed
    // together), the full corpus appended (anti-join finds the missing
    // half, encoded with the STORED codebook), then the search served
    // from one resolved snapshot. Search-over-served must equal search
    // over a from-scratch index — the append oracle replayed.
    "sim_pq_index_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", m = 4, dsub = 16)
      val root = freshIndexRoot("pqidx", dir)
      Similarity.buildPqIndexM(emb.filter(col("vec_id") % 2 === 0), cb,
        "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.appendPqIndexM(emb, "vec_id", "embedding", 4, 16, root)
      Similarity.pqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The steady-state PQ SERVE path — build-if-stale like the IVF and
    // BM25 serves, so the bench's timed reps measure the probe: one
    // snapshot resolves codes + codebook, broadcast LUTs scan the slim
    // code rows, bounded-heap top-k out.
    "sim_pq_probe_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val root = serveIndexRoot("pqidx_srv", dir)
      val src = new java.io.File(dir, "embeddings.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", m = 4, dsub = 16)
        Similarity.buildPqIndexM(emb, cb, "vec_id", "embedding", 4, 16, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Similarity.pqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Release-pinned PQ time travel: v1 holds only the even half's
    // codes (with the codebook they were encoded under); HEAD appends
    // the rest; the probe pinned at v1 must rank against the even
    // half's codes alone.
    "sim_pq_pinned" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", m = 4, dsub = 16)
      val root = freshIndexRoot("pqpin", dir)
      val v1 = Similarity.buildPqIndexM(emb.filter(col("vec_id") % 2 === 0), cb,
        "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.appendPqIndexM(emb, "vec_id", "embedding", 4, 16, root)
      Similarity.pqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, root, at = Some(v1))
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // PQ index REFRESH — maintenance under corpus UPDATES, not just
    // arrivals: yesterday's index carries stale codes for re-embedded
    // vectors (ids ≡ 0 mod 5, reversed embedding), is missing the new
    // arrivals (ids ≡ 1 mod 7), and still holds retired rows (shifted
    // ids); one refresh brings it to today's corpus at the cost of the
    // changed/added rows only, and the search over it must equal a
    // search over a from-scratch index — the append oracle replayed.
    "sim_pq_index_refresh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", m = 4, dsub = 16)
      val stale = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val retired = emb.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val old = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(stale).unionByName(retired)
      val index0 = Similarity.pqIndexDigested(old, cb, "vec_id", "embedding", 4, 16)
      val refreshed = Similarity.pqIndexRefresh(index0, emb, cb,
        "vec_id", "embedding", 4, 16)
      Similarity.pqSearchEncoded(emb.filter(col("vec_id") < 10), refreshed, cb,
          "vec_id", "embedding", k = 5, m = 4, dsub = 16)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The IVF lifecycle PERSISTED under the manifest protocol: the even
    // half built as the standing inverted file (centroids + cluster-keyed
    // assignment committed together, segments sorted by cluster for
    // row-group pruning), the full corpus appended (anti-join finds the
    // missing half, assigned with the STORED centroids), the scattered
    // append segments compacted, then the multi-probe search served from
    // one resolved snapshot — reading ONLY the probed clusters. Must
    // equal the inline ivfTopKProbed over the full corpus, which is
    // exactly what the probed oracle computes.
    "sim_ivf_index_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val root = freshIndexRoot("ivfidx", dir)
      Similarity.buildIvfIndexM(emb.filter(col("vec_id") % 2 === 0), centroids,
        "vec_id", "embedding", root)
      Similarity.appendIvfIndexM(emb, "vec_id", "embedding", root)
      Similarity.compactIvfIndexM(s, root)
      Similarity.ivfProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Release-pinned IVF TIME TRAVEL: the index is built on the even
    // half (v1), then grown to the full corpus — and the probe pins v1,
    // so it must see ONLY the even half's assignment even though HEAD
    // has moved on. The reproducibility contract a training release
    // needs: the exact ANN neighbors that fed a dataset can be replayed
    // after arbitrary later maintenance (until vacuum reclaims v1).
    "sim_ivf_pinned" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val root = freshIndexRoot("ivfpin", dir)
      val v1 = Similarity.buildIvfIndexM(emb.filter(col("vec_id") % 2 === 0),
        centroids, "vec_id", "embedding", root)
      Similarity.appendIvfIndexM(emb, "vec_id", "embedding", root)
      Similarity.ivfProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, root, at = Some(v1))
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The steady-state IVF SERVE path — what a deployment pays per query
    // batch once the inverted file stands: build-if-stale against the
    // source mtime (the dedup_cross_corpus_served pattern; on the bench
    // the build lands in the warm-up phase, so the timed reps measure
    // the probe), then the multi-probe search reads ONLY the probed
    // clusters out of the committed cluster-sorted segments.
    "sim_ivf_probe_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val root = serveIndexRoot("ivfidx_srv", dir)
      val src = new java.io.File(dir, "embeddings.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Similarity.buildIvfIndexM(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Similarity.ivfProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The IVF-PQ lifecycle PERSISTED under the manifest: FAISS's
    // production IVFx,PQm layout — cluster pruning over 16x-slimmer
    // code rows, with centroids, codebook, and codes committed together
    // (a probe can never pair new codes with an old codebook or foreign
    // centroids). Build on the even half, append the rest with the
    // STORED centroids+codebook, compact, probe — must equal the inline
    // ivfPqTopK over the full corpus (same oracle).
    "sim_ivfpq_index_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 100 === 0)
      val cb = Similarity.pqCodebook(sample, "vec_id", "embedding", m = 4, dsub = 16)
      val root = freshIndexRoot("ivfpqidx", dir)
      Similarity.buildIvfPqIndexM(emb.filter(col("vec_id") % 2 === 0), sample, cb,
        "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.appendIvfPqIndexM(emb, "vec_id", "embedding", 4, 16, root)
      Similarity.compactIvfPqIndexM(s, root)
      Similarity.ivfPqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The full production serving path: coarse IVF-PQ ADC over the
    // committed code rows over-fetches k*refine candidates per query,
    // then only those candidates' float vectors are fetched from the
    // primary table and re-ranked by exact cosine — the refine join
    // that restores exact order without reading the corpus.
    "sim_ivfpq_rerank_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 100 === 0)
      val cb = Similarity.pqCodebook(sample, "vec_id", "embedding", m = 4, dsub = 16)
      val root = freshIndexRoot("ivfpqrr", dir)
      Similarity.buildIvfPqIndexM(emb, sample, cb,
        "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.ivfPqRerankM(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2, root,
          refine = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Release-pinned IVF-PQ time travel: v1 holds only the even half's
    // codes; HEAD grows to the full corpus; the probe pinned at v1 must
    // rank against the even half alone — centroids, codebook, and codes
    // all resolving from the pinned commit.
    "sim_ivfpq_pinned" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 100 === 0)
      val cb = Similarity.pqCodebook(sample, "vec_id", "embedding", m = 4, dsub = 16)
      val root = freshIndexRoot("ivfpqpin", dir)
      val v1 = Similarity.buildIvfPqIndexM(emb.filter(col("vec_id") % 2 === 0),
        sample, cb, "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.appendIvfPqIndexM(emb, "vec_id", "embedding", 4, 16, root)
      Similarity.ivfPqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2, root,
          at = Some(v1))
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // IVF-PQ REFRESH: stale codes for re-embedded vectors, missing
    // arrivals, retired rows — one refresh converges the code index to
    // today's corpus (unchanged fingerprints keep cell AND codes with
    // no vector read), probe ≡ inline on the true corpus.
    "sim_ivfpq_index_refresh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 100 === 0)
      val cb = Similarity.pqCodebook(sample, "vec_id", "embedding", m = 4, dsub = 16)
      val stale = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val retired = emb.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val old = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(stale).unionByName(retired)
      val root = freshIndexRoot("ivfpqref", dir)
      Similarity.buildIvfPqIndexM(old, sample, cb,
        "vec_id", "embedding", m = 4, dsub = 16, root)
      Similarity.refreshIvfPqIndexM(emb, "vec_id", "embedding", 4, 16, root)
      Similarity.ivfPqProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // IVF index REFRESH — corpus UPDATES, not just arrivals: stale
    // assignments for re-embedded vectors (reversed embeddings land in
    // different cells), missing arrivals, retired rows — one refresh
    // brings the inverted file to today's corpus at the cost of the
    // changed/added rows only (unchanged fingerprints keep their stored
    // cell without a kernel pass), and the probe over it must equal the
    // inline search over the true corpus.
    "sim_ivf_index_refresh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val stale = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val retired = emb.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val old = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(stale).unionByName(retired)
      val root = freshIndexRoot("ivfref", dir)
      Similarity.buildIvfIndexM(old, centroids, "vec_id", "embedding", root)
      Similarity.refreshIvfIndexM(emb, "vec_id", "embedding", root)
      Similarity.ivfProbeM(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Cross-corpus dedup — the daily-ingest shape: the even-id half plays
    // the arriving delta, the odd-id half the standing lake; only CROSS
    // pairs are surfaced (intra-side dups are the self-join family's job),
    // scored by the MinHash-estimated Jaccard. The bucket cap (far above
    // any bucket at this scale — drops nothing) bounds the candidate set,
    // which is what licenses the broadcast-everywhere plan shape
    // PlanSpec locks.
    "dedup_cross_corpus" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      Dedup.crossCorpusLshPairs(
          sh(docs.filter(col("doc_id") % 2 === 0)),
          sh(docs.filter(col("doc_id") % 2 =!= 0)),
          "doc_id", MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // The same delta-vs-lake probe served from the PERSISTED LSH index:
    // the lake is shingled and signature-shuffled ONCE at index build;
    // every probe streams the band and signature tables through broadcast
    // joins, with the hot-bucket skew cap pre-materialized as a stored
    // bucket_n column the parquet scan prunes on. Pair-identical to
    // dedup_cross_corpus by construction (same oracle SQL).
    "dedup_cross_corpus_indexed" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      val root = freshIndexRoot("lshidx", dir)
      Dedup.buildLshIndexM(sh(docs.filter(col("doc_id") % 2 =!= 0)),
        "doc_id", MinhashK, LshBands, root)
      val (bands, sigs) = Dedup.readLshIndexM(s, root)
      Dedup.indexedCrossCorpusPairs(bands, sigs,
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // LSH index REFRESH — the near-dup index maintained under lake
    // UPDATES: yesterday's index holds stale signatures for re-crawled
    // docs (ids ≡ 0 mod 3, prefixed text), is missing later arrivals
    // (ids ≡ 1 mod 5), and still carries retired rows; one refresh
    // re-signs only the changed/added docs (unchanged docs keep stored
    // sigs — no re-shingling), rebuilds exact band counts, and the probe
    // over it must be pair-identical to the inline cross-corpus oracle.
    "dedup_cross_corpus_refreshed" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      val lake = docs.filter(col("doc_id") % 2 =!= 0)
      val oldLake = lake.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 =!= 1)
        .unionByName(lake.filter(col("doc_id") % 3 === 0)
          .withColumn("text", concat(lit("stale "), col("text"))))
        .unionByName(lake.filter(col("doc_id") % 9 === 5)
          .withColumn("doc_id", col("doc_id") + 1000000))
      // refresh is an in-place atomic pointer swap under the manifest —
      // no old-path/new-path dance, and a probe racing it resolves one
      // consistent (sigs, bands) pair
      val root = freshIndexRoot("lshref", dir)
      Dedup.buildLshIndexDigestedM(oldLake, "text", "doc_id",
        ShingleN, MinhashK, LshBands, root)
      Dedup.refreshLshIndexM(lake, "text", "doc_id",
        ShingleN, MinhashK, LshBands, root)
      val (bands, sigs) = Dedup.readLshIndexM(s, root)
      Dedup.indexedCrossCorpusPairs(bands, sigs,
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // Steady-state LSH probe: index built only when missing or stale
    // (vs the source parquet's mtime), so a repeated run times the
    // per-delta probe — broadcast delta bands, pushed bucket_n cap,
    // streaming index scans — not the lake's one-off signature shuffle.
    "dedup_cross_corpus_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      val root = serveIndexRoot("lshidx_srv", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Dedup.buildLshIndexM(sh(docs.filter(col("doc_id") % 2 =!= 0)),
          "doc_id", MinhashK, LshBands, root)
        // rebuilds supersede all prior versions; reclaim their segments
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      val (bands, sigs) = Dedup.readLshIndexM(s, root)
      Dedup.indexedCrossCorpusPairs(bands, sigs,
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // The append half of the persisted LSH loop: the lake index built
    // from one odd half (doc_id % 4 == 1), the other odd half appended
    // (% 4 == 3), evens probed with staleCounts=true — band rows of
    // grown buckets carry as-of-append totals, and the probe's hot-set
    // pass keeps the cap exact anyway. The accumulated lake is exactly
    // dedup_cross_corpus's odd-id lake, so the probe must reproduce its
    // pairs bit-for-bit (same oracle SQL).
    "dedup_cross_corpus_appended" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      val root = freshIndexRoot("lshappidx", dir)
      Dedup.buildLshIndexM(sh(docs.filter(col("doc_id") % 4 === 1)),
        "doc_id", MinhashK, LshBands, root)
      Dedup.appendLshIndexM(sh(docs.filter(col("doc_id") % 4 === 3)),
        "doc_id", MinhashK, LshBands, root)
      val (bands, sigs) = Dedup.readLshIndexM(s, root)
      Dedup.indexedCrossCorpusPairs(bands, sigs,
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket, staleCounts = true)
        .orderBy("id_new", "id_base")
    },

    // Compaction closes the loop: the appended log rewritten with
    // uniformly fresh bucket counts (one count aggregate + one keyed
    // join over slim band rows — no re-shingling, no signature work),
    // after which the plain single-exchange probe serves again. Same
    // accumulated lake, same oracle.
    "dedup_cross_corpus_compacted" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      // compaction is in-place under the manifest: one commit swaps both
      // tables to single fresh segments, no caller-side path dance
      val root = freshIndexRoot("lshcidx", dir)
      Dedup.buildLshIndexM(sh(docs.filter(col("doc_id") % 4 === 1)),
        "doc_id", MinhashK, LshBands, root)
      Dedup.appendLshIndexM(sh(docs.filter(col("doc_id") % 4 === 3)),
        "doc_id", MinhashK, LshBands, root)
      Dedup.compactLshIndexM(s, root)
      val (bands, sigs) = Dedup.readLshIndexM(s, root)
      Dedup.indexedCrossCorpusPairs(bands, sigs,
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // TIME TRAVEL over the manifest: the probe pinned to the version a
    // release was cut against. The lake index is built from the %4==1
    // half (v1) and then grows by the %4==3 half (v2) — but the pinned
    // probe resolves v1's manifest and must reproduce, bit for bit, the
    // inline operator against ONLY the v1 lake: a training-data release
    // can re-run its dedup against the exact index state it shipped
    // with, regardless of how ingest has grown the index since. Old
    // segments stay on disk until vacuum, which is what makes the pin
    // valid.
    "dedup_cross_corpus_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def sh(f: org.apache.spark.sql.DataFrame) =
        Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      val root = freshIndexRoot("lshpin", dir)
      val v1 = Dedup.buildLshIndexM(sh(docs.filter(col("doc_id") % 4 === 1)),
        "doc_id", MinhashK, LshBands, root)
      Dedup.appendLshIndexM(sh(docs.filter(col("doc_id") % 4 === 3)),
        "doc_id", MinhashK, LshBands, root)
      val pinned = graft.index.IndexManifest.snapshotAt(s, root, v1)
      Dedup.indexedCrossCorpusPairs(
          graft.index.IndexManifest.readAt(s, root, pinned, "bands"),
          graft.index.IndexManifest.readAt(s, root, pinned, "sigs"),
          sh(docs.filter(col("doc_id") % 2 === 0)), "doc_id",
          MinhashK, LshBands, maxBucket = CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // Fuzzy dedup: Levenshtein distance over 40-char near-keys within
    // 8-char prefix blocks — the record-linkage modality that catches
    // small in-place edits exact/shingle hashing miss. Blocked, never
    // all-pairs; distance computed on the bounded key, not the document.
    "dedup_edit_distance" -> q { (s, dir) =>
      Dedup.editDistancePairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          keyChars = 40, blockChars = 8, maxDist = 10)
        .orderBy("id_a", "id_b")
    },

    // Exact-substring dedup (the suffix-array modality, Spark-shaped):
    // maximal per-doc character spans covered by 30-char grams occurring
    // in >= 2 distinct documents — the strip-the-boilerplate artifact.
    "dedup_repeated_spans" -> q { (s, dir) =>
      Dedup.repeatedSpans(Tables.load(s, dir, "documents"), "doc_id", "text",
          gramChars = SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // The strip step those spans exist for: every document rebuilt with
    // its repeated ranges removed, with the covered/total accounting a
    // drop-or-strip policy reads. Pure integer offsets + substring
    // reassembly — the cleaned text hash-matches byte-for-byte.
    "dedup_span_strip" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.stripSpans(docs,
          Dedup.repeatedSpans(docs, "doc_id", "text", gramChars = SpanGramChars),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // Keep-first spans: the one-copy-survives policy of the published
    // suffix-array dedup — per repeated gram the lowest doc id keeps its
    // copy, so spans mark only the occurrences to REMOVE; stripping
    // these leaves exactly one surviving copy of each duplicated
    // passage in the corpus.
    "dedup_spans_keep_first" -> q { (s, dir) =>
      Dedup.repeatedSpansKeepFirst(Tables.load(s, dir, "documents"), "doc_id", "text",
          gramChars = SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // The composed artifact: the corpus after one-copy dedup — every
    // document rebuilt with its non-owner repeated ranges removed.
    // Owners (and spanless docs) pass through byte-identical.
    "dedup_strip_keep_first" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.stripSpans(docs,
          Dedup.repeatedSpansKeepFirst(docs, "doc_id", "text", gramChars = SpanGramChars),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // Token-granular span discovery: grams counted in TOKENS (the unit
    // the published suffix-array dedup uses), spans still char-ranged so
    // the strip step composes unchanged. Same kernel-explode shape, same
    // three keyed shuffles as the char version.
    "dedup_repeated_token_spans" -> q { (s, dir) =>
      Dedup.repeatedTokenSpans(Tables.load(s, dir, "documents"), "doc_id", "text",
          gramTokens = SpanGramTokens)
        .orderBy("doc_id", "span_start")
    },

    // Incremental span discovery: the delta batch (doc_id % 10 >= 8)
    // probed against the lake's PERSISTED gram-digest index, built once
    // from the standing corpus (doc_id % 10 < 8) — the 100 TB path for
    // exact-substring dedup: the lake's text is digested once ever; each
    // arriving delta shuffles only itself, and the index side streams
    // through a broadcast semi-join without shuffling. Result ≡
    // whole-corpus repeatedSpans restricted to delta docs (spec-pinned).
    "dedup_spans_incremental" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("gramidx", dir)
      Dedup.buildGramIndexM(docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", SpanGramChars, root)
      Dedup.incrementalSpans(Dedup.readGramIndexM(s, root),
          docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // Release-pinned gram-log time travel: v1's lake is the %10<4 docs;
    // HEAD appends up to %10<8; the delta probe pinned at v1 must see
    // repeats against the v1 lake only — the span set a release
    // computed replays after later appends.
    "dedup_spans_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("grampin", dir)
      val v1 = Dedup.buildGramIndexM(docs.filter(col("doc_id") % 10 < 4),
        "doc_id", "text", SpanGramChars, root)
      Dedup.appendGramIndexM(
        docs.filter(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8),
        "doc_id", "text", SpanGramChars, root)
      val pinned = graft.index.IndexManifest.snapshotAt(s, root, v1)
      Dedup.incrementalSpans(
          graft.index.IndexManifest.readAt(s, root, pinned, "grams"),
          docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // The big-delta regime: the index BUCKETED by digest (shuffle
    // pre-paid at build), probed by a plain join — no broadcast
    // anywhere, so the path holds when the delta's digest set outgrows
    // an executor broadcast. Result-identical to dedup_spans_incremental.
    "dedup_spans_incremental_bucketed" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.writeGramIndexBucketed(docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", SpanGramChars, "graft_gramidx_bucketed",
        buckets = s.conf.get("spark.sql.shuffle.partitions").toInt)
      Dedup.incrementalSpansBucketed(
          graft.operators.Bucketing.readBucketed(s, "graft_gramidx_bucketed"),
          docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // The SERVE half measured honestly: dedup_spans_incremental replays
    // the lake index build every run (the right correctness artifact, but
    // its wall-time is the build); this variant builds only when the
    // persisted index is missing or older than the source parquet, so a
    // steady-state run times what a 100 TB deployment actually pays per
    // delta — the probe. Result-identical (same oracle).
    "dedup_spans_incremental_serve" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("gramidx_srv", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Dedup.buildGramIndexM(docs.filter(col("doc_id") % 10 < 8),
          "doc_id", "text", SpanGramChars, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Dedup.incrementalSpans(Dedup.readGramIndexM(s, root),
          docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // Keep-first incremental spans: the published one-copy-survives
    // policy against the persisted index — the index's stored owner
    // column supplies the lake side of the ownership decision, so the
    // delta marks only the copies to strip without re-reading lake text.
    "dedup_spans_incremental_keep_first" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("gramidx_kf", dir)
      Dedup.buildGramIndexM(docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", SpanGramChars, root)
      Dedup.incrementalSpansKeepFirst(Dedup.readGramIndexM(s, root),
          docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", SpanGramChars)
        .orderBy("doc_id", "span_start")
    },

    // The append half of the incremental loop: after a delta is probed,
    // its NOVEL gram digests (plus owner-lowering rows where a delta id
    // undercuts a stored owner) fold into the standing index as new
    // parquet files — the index is an append-only digest log (scanned,
    // never shuffled or rewritten), so the next delta probes lake+delta
    // grams at the cost of one small write. Emits the grown index itself.
    "dedup_spans_index_append" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("gramappidx", dir)
      val lake = docs.filter(col("doc_id") % 10 < 8)
      val delta = docs.filter(col("doc_id") % 10 >= 8)
      Dedup.buildGramIndexM(lake, "doc_id", "text", SpanGramChars, root)
      Dedup.appendGramIndexM(delta, "doc_id", "text", SpanGramChars, root)
      Dedup.readGramIndexM(s, root).orderBy("h", "owner")
    },

    // Log compaction: the append-only digest log (lake build + one
    // appended delta, incl. any owner-lowering rows) rewritten to one
    // min-owner row per digest — one keyed shuffle over 16-byte rows,
    // never touching corpus text. Converges to exactly the from-scratch
    // index over the whole accumulated corpus, which is what the oracle
    // computes from the raw documents.
    "dedup_spans_index_compact" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("gramcidx", dir)
      val lake = docs.filter(col("doc_id") % 10 < 8)
      val delta = docs.filter(col("doc_id") % 10 >= 8)
      Dedup.buildGramIndexM(lake, "doc_id", "text", SpanGramChars, root)
      Dedup.appendGramIndexM(delta, "doc_id", "text", SpanGramChars, root)
      // in-place atomic pointer swap — no out-path dance, readers racing
      // the compaction resolve the pre- or post-compact log wholesale
      Dedup.compactGramIndexM(s, root)
      Dedup.readGramIndexM(s, root).orderBy("h")
    },

    // Perplexity-proxy quality scoring: a bigram LM estimated from the
    // corpus itself, each doc scored by the mean conditional probability
    // of its own bigrams — the model-free LM-quality filter. Counts +
    // exact divisions + 6 dp pre-rounding only, no transcendentals.
    "text_bigram_lm" -> q { (s, dir) =>
      TextAnalysis.bigramFluency(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Vocabulary OOV rate against the deterministic top-16 corpus
    // vocabulary (frequency desc, token asc) — the tokenizer-fit dial.
    "text_vocab_coverage" -> q { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents"), "doc_id", "text",
          vocabSize = 16)
        .orderBy("doc_id")
    },

    // Semantic near-dup pairs over the hashed embeddings: text →
    // hashing-trick embedding → sign-LSH-bucketed cosine pairs — the
    // "semantic dedup" composition, no model anywhere.
    "dedup_semantic" -> q { (s, dir) =>
      val emb = TextAnalysis.hashEmbed(Tables.load(s, dir, "documents"),
        "doc_id", "text", 64)
      Dedup.embeddingDupPairs(emb, "doc_id", "embedding",
          threshold = 0.9, signBits = 8)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    },

    // Semantic (bag-of-words) top-k over the hashed embeddings: the full
    // text → embedding → ANN composition with no model anywhere.
    "sim_topk_hash_embed" -> q { (s, dir) =>
      val emb = TextAnalysis.hashEmbed(Tables.load(s, dir, "documents"),
        "doc_id", "text", 64)
      Similarity.bruteForceTopK(emb.filter(col("doc_id") < 10), emb,
          "doc_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Johnson–Lindenstrauss projection ANN: rank by exact cosine in a
    // 16-dim ±1-projected space (deterministic sign matrix from the
    // shared digest — no trained state, nothing collected; Achlioptas
    // 2001). Each pair costs m doubles instead of d floats.
    "sim_topk_jl" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.jlTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, m = 16, d = 64)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The production JL shape: coarse top-20 in the projected space,
    // exact float rerank of only those candidates (the sq8_rerank
    // pattern with a projection instead of a codebook).
    "sim_topk_jl_rerank" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.jlRerankTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, m = 16, d = 64, refine = 4)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The MANIFEST-SERVED JL index: the stored table IS the m-double
    // projection (no codebook — the sign matrix regenerates from the
    // manifest's (m, d) meta); build the even half, append the rest,
    // compact the scattered segments (probe-preserving re-layout),
    // probe at HEAD — converges to the inline two-stage search over the
    // full corpus, so it replays the jl_rerank oracle bit-for-bit.
    "sim_jl_index_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val root = freshIndexRoot("jlidx", dir)
      Similarity.buildJlIndexM(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", m = 16, d = 64, root)
      Similarity.appendJlIndexM(emb, "vec_id", "embedding", root)
      Similarity.compactJlIndexM(s, root)
      Similarity.jlProbeM(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, refine = 4, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The steady-state JL SERVE path — build-if-stale like the other
    // serves, so the bench's timed reps measure the probe: one snapshot
    // resolves the projected table + (m, d), coarse m-double scan,
    // exact rerank against the lake's raw vectors.
    "sim_jl_probe_served" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val root = serveIndexRoot("jlidx_srv", dir)
      val src = new java.io.File(dir, "embeddings.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Similarity.buildJlIndexM(emb, "vec_id", "embedding", 16, 64, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Similarity.jlProbeM(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, refine = 4, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Release-pinned JL time travel: v1 holds only the even half's
    // projections; HEAD appends the rest; the probe pinned at v1 must
    // shortlist — and therefore rank — against the even half alone.
    "sim_jl_pinned" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val root = freshIndexRoot("jlpin", dir)
      val v1 = Similarity.buildJlIndexM(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", m = 16, d = 64, root)
      Similarity.appendJlIndexM(emb, "vec_id", "embedding", root)
      Similarity.jlProbeM(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, refine = 4, root, at = Some(v1))
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // JL index REFRESH — maintenance under corpus UPDATES: yesterday's
    // index carries stale projections for re-embedded vectors (ids ≡ 0
    // mod 5, reversed), is missing new arrivals (ids ≡ 1 mod 7 except
    // those already in the stale leg, i.e. id % 5 != 0), and
    // still holds retired rows (shifted ids). Refresh keeps unchanged
    // (id, vdig) rows' STORED projections — the fingerprint's purpose:
    // zero re-projection for the unchanged bulk — re-projects the rest
    // with the manifest's own (m, d), drops the retired, and swaps the
    // table atomically; the probe then converges to the inline search
    // over today's corpus (the jl_rerank oracle).
    "sim_jl_index_refresh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val stale = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val retired = emb.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val old = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(stale).unionByName(retired)
      val root = freshIndexRoot("jlref", dir)
      Similarity.buildJlIndexM(old, "vec_id", "embedding", m = 16, d = 64, root)
      Similarity.refreshJlIndexM(emb, "vec_id", "embedding", root)
      Similarity.jlProbeM(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, refine = 4, root)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // MMR-diversified top-5 (Carbonell & Goldstein): greedy selection
    // from the relevance top-20 pool, each step trading relevance
    // against max similarity to the already-selected set at λ=0.7 —
    // exact-decimal objective, k unrolled declarative steps.
    "sim_topk_mmr" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.mmrTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, poolSize = 20,
          lambdaNum = 7, lambdaDen = 10)
        .orderBy("query_id", "mmr_rank")
    },

    // Intra-list-similarity diversity audit: mean pairwise cosine of
    // the brute top-5 vs the MMR selection, per query — the measurement
    // that the diversification measurably trades redundancy for
    // relevance (gain = ils_rel − ils_mmr).
    "sim_mmr_diversity" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val mmr = Similarity.mmrTopK(queries, emb, "vec_id", "embedding",
        k = 5, poolSize = 20, lambdaNum = 7, lambdaDen = 10)
      val ilsB = Similarity.intraListSimilarity(brute, emb, "vec_id", "embedding")
        .withColumnRenamed("ils", "ils_rel")
      val ilsM = Similarity.intraListSimilarity(mmr, emb, "vec_id", "embedding")
        .withColumnRenamed("ils", "ils_mmr")
      ilsB.join(ilsM, Seq("query_id"))
        .withColumn("diversity_gain", round(col("ils_rel") - col("ils_mmr"), 6))
        .orderBy("query_id")
    },

    // Recall@5 of the two-stage JL search — what the refine=4 shortlist
    // recovers over the raw projected scan (a true top-5 doc is found
    // iff it survives into the JL top-20).
    "ann_recall_jl_rerank" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.jlRerankTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 16, d = 64, refine = 4)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Recall@5 of the 16-dim JL scan against exact brute force — what
    // the 4x-fewer-dimensions bandwidth saving costs on this corpus.
    // Uniform-random vectors are JL's adversarial case (every true
    // cosine clusters near 0, so m=16 distortion reorders near-ties
    // freely — recall lands low here by construction); the tracked
    // number is the honest floor, and the rerank row above is the
    // production answer to it.
    "ann_recall_jl" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.jlTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 16, d = 64)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // ANN recall evaluation: recall@5 of single-probe IVF against the
    // exact brute-force baseline, per query — the tuning loop every
    // quantized index runs (raise nProbe/signBits until recall clears
    // target). Result-sized data only; oracle recomputes both sides.
    "ann_recall_ivf" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.ivfTopK(queries, emb, centroids, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Residual IVF-PQ (FAISS by_residual=true, its default): corpus
    // PQ-encoded as residuals from the assigned centroid, one LUT per
    // (query, probed cluster) from q − c, L2 ADC closed with the
    // query-independent codeword self-dot table. Centroids and
    // codewords are DISJOINT samples — a centroid's own residual is the
    // zero vector, useless as a codeword.
    "sim_topk_ivfpq_residual" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 10), emb,
          emb.filter(col("vec_id") % 100 === 0), emb.filter(col("vec_id") % 100 === 50),
          "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // Recall@5 of sign-LSH bucketed search — completes the oracle-tracked
    // recall family across the whole ANN ladder (bucket pruning loses
    // exactly the neighbors across a hyperplane; widen bits to trade).
    "ann_recall_lsh" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.signLshTopK(queries, emb, "vec_id", "embedding",
        k = 5, bits = 4)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Recall@5 of the int8 scalar-quantized scan — SQ8 reorders only
    // near-ties, so this row tracks how much the 4x bandwidth saving
    // actually costs on this corpus.
    "ann_recall_sq8" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.sq8TopK(queries, emb, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Recall@5 of the flat PQ index against exact brute force — the
    // oracle-tracked recall-vs-bandwidth dial of the m-int code scan.
    "ann_recall_pq" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.pqTopK(queries, emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, m = 4, dsub = 16)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Recall@5 of global-codebook IVF-PQ — same centroid set, codeword
    // budget, m/dsub/nProbe as the residual row below, so the two rows
    // measure exactly the by_residual trade on this corpus.
    "ann_recall_ivfpq" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.ivfPqTopK(queries, emb,
        emb.filter(col("vec_id") % 100 === 0), emb.filter(col("vec_id") % 100 === 50),
        "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // Recall@5 of residual IVF-PQ at identical parameters. On the
    // driver's uniform-random unit vectors this lands BELOW the global
    // flavor (residuals of near-orthogonal vectors are √2 larger than
    // the vectors; see ivfPqResidualTopK's scaladoc) — the pair of rows
    // is the measurement that tells a user which flavor their corpus
    // wants.
    "ann_recall_ivfpq_residual" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      val approx = Similarity.ivfPqResidualTopK(queries, emb,
        emb.filter(col("vec_id") % 100 === 0), emb.filter(col("vec_id") % 100 === 50),
        "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // The recall/cost FRONTIER — the tuning artifact a user reads first:
    // one row per index flavor at equal k, mean recall@5 against the
    // shared brute-force baseline next to the mean per-query candidate
    // count that recall cost (sq8/pq scan the whole corpus; lsh its sign
    // bucket; ivf its nearest cluster; both ivfpq flavors their nProbe=2
    // probed clusters). Mean recall sums in decimal before one double
    // division (partition-order-proof, the lloydCentroids precedent).
    "ann_recall_frontier" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val centroids = emb.filter(col("vec_id") % 100 === 0)
      val codewords = emb.filter(col("vec_id") % 100 === 50)
      // one exact baseline + one corpus assignment shared by every row
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .localCheckpoint()
      val assigned = Similarity.assignClusters(emb, centroids, "vec_id", "embedding")
        .select(col("vec_id"), col("cluster")).localCheckpoint()
      def meanCand(perQuery: org.apache.spark.sql.DataFrame) = perQuery.agg(
        round(sum(col("cand")).cast("double") / count(lit(1)), 6).as("mean_candidates"))
      def fRow(method: String, approx: org.apache.spark.sql.DataFrame,
          mc: org.apache.spark.sql.DataFrame) =
        Similarity.recallAtK(approx, exact)
          .agg(round(sum(col("recall").cast("decimal(38,10)")).cast("double") /
            count(lit(1)), 6).as("mean_recall"))
          .crossJoin(broadcast(mc))
          .select(lit(method).as("method"), col("mean_recall"), col("mean_candidates"))
      val bkt = emb.select(col("vec_id"),
        Similarity.signBucket(col("embedding"), 4).as("bucket")).localCheckpoint()
      val lshCand = bkt.filter(col("vec_id") < 10).as("q")
        .join(bkt.as("c"), col("q.bucket") === col("c.bucket") &&
          col("q.vec_id") =!= col("c.vec_id"), "left")
        .groupBy(col("q.vec_id")).agg(count(col("c.vec_id")).as("cand"))
      val ivfCand = assigned.filter(col("vec_id") < 10).as("q")
        .join(assigned.as("c"), col("q.cluster") === col("c.cluster") &&
          col("q.vec_id") =!= col("c.vec_id"), "left")
        .groupBy(col("q.vec_id")).agg(count(col("c.vec_id")).as("cand"))
      val ivfpqCand = Similarity
        .probeClusters(queries, centroids, "vec_id", "embedding", nProbe = 2)
        .select(col("query_id"), col("cluster")).as("q")
        .join(assigned.as("c"), col("q.cluster") === col("c.cluster") &&
          col("q.query_id") =!= col("c.vec_id"), "left")
        .groupBy(col("q.query_id")).agg(count(col("c.vec_id")).as("cand"))
      def fullScanMc = emb.agg(
        round((count(lit(1)) - 1).cast("double"), 6).as("mean_candidates"))
      Seq(
        fRow("ivf",
          Similarity.ivfTopK(queries, emb, centroids, "vec_id", "embedding", k = 5),
          meanCand(ivfCand)),
        fRow("ivfpq",
          Similarity.ivfPqTopK(queries, emb, centroids, codewords,
            "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2),
          meanCand(ivfpqCand)),
        fRow("ivfpq_residual",
          Similarity.ivfPqResidualTopK(queries, emb, centroids, codewords,
            "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2),
          meanCand(ivfpqCand)),
        fRow("lsh",
          Similarity.signLshTopK(queries, emb, "vec_id", "embedding", k = 5, bits = 4),
          meanCand(lshCand)),
        fRow("pq",
          Similarity.pqTopK(queries, emb, centroids, "vec_id", "embedding",
            k = 5, m = 4, dsub = 16),
          fullScanMc),
        fRow("sq8",
          Similarity.sq8TopK(queries, emb, "vec_id", "embedding", k = 5),
          fullScanMc),
        // full corpus scan like pq/sq8 — the saving is per-candidate
        // (m doubles instead of d floats), not candidate-count pruning
        fRow("jl",
          Similarity.jlTopK(queries, emb, "vec_id", "embedding",
            k = 5, m = 16, d = 64),
          fullScanMc)
      ).reduce(_ unionByName _).orderBy("method")
    },

    // EXACT length-decile binning per language — the small-data
    // cross-check twin of quantile_bin_sketch below: ntile over a TOTAL
    // order (ties broken by doc_id) so bin edges reproduce exactly across
    // engines. Exact rank-based deciles are inherently a per-stratum sort
    // (each language's whole slice on one task); production-scale binning
    // is the sketch-edge operator.
    "quantile_bin" -> q { (s, dir) =>
      Binning.ntileBins(Tables.load(s, dir, "documents"),
          "n_chars", "lang", 10, col("doc_id"), binCol = "decile")
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy("lang", "decile")
    },

    // PRODUCTION decile binning: one mergeable approx_percentile sketch
    // pass per language, edges broadcast back, stateless codegen'd bin
    // assignment — no window, no per-stratum sort (see Binning scaladoc
    // for the determinism contract the oracle reproduces: below the
    // sketch accuracy the edge IS the value at rank ceil(p*n)).
    "quantile_bin_sketch" -> q { (s, dir) =>
      Binning.quantileBins(Tables.load(s, dir, "documents"),
          "n_chars", "lang", 10)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy("lang", "bin")
    },

    // Per-document text statistics.
    "text_stats" -> q { (s, dir) =>
      val t = col("text")
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.bpeTokenCount(t).cast("long").as("n_bpe_tokens"),
        TextAnalysis.punctCount(t).cast("long").as("n_punct"),
        TextAnalysis.stopwordCount(t).as("n_stopwords"),
        round(TextAnalysis.avgTokenLen(t), 6).as("avg_token_len"))
        .orderBy("doc_id")
    },

    // Quality scoring + language-ID + fingerprint.
    "text_quality" -> q { (s, dir) =>
      val t = col("text")
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        round(TextAnalysis.qualityScore(t), 6).as("quality"),
        TextAnalysis.langId(t).as("lang_pred"),
        TextAnalysis.fingerprint(t).as("fingerprint"))
        .orderBy("doc_id")
    },

    // Corpus-wide frequent-n-gram report, per source: the corpus-analysis
    // tool behind boilerplate policy decisions ("which passages repeat
    // enough to matter?") and contamination triage. Classic wordcount
    // shape — one keyed count aggregate with map-side combine (heavy
    // hitters partial-reduce before the exchange) — then the native
    // bounded-heap TopKPerKey node ships only sources×k rows; no global
    // or per-source sort of the tail ever exists.
    "text_top_ngrams" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val counts = Dedup.rawShingles(docs, "text", "source", 3)
        .groupBy(col("source"), col("shingle")).agg(count(lit(1)).as("n"))
      val order = Seq(col("n").desc, col("shingle").asc)
      graft.operators.TopK.perKey(counts, Seq("source"), order, 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(order: _*)))
        .orderBy("source", "rank")
    },

    // PMI collocation mining — association-ranked bigrams (Church &
    // Hanks): where top_ngrams surfaces COMMONNESS, PMI surfaces
    // BINDING (pairs that co-occur far above chance) — the
    // vocabulary/tokenizer-design statistic. One tokenize pass, bigram
    // wordcount, marginals re-derived from the cached aggregate, global
    // TakeOrdered of k rows.
    "text_collocations" -> q { (s, dir) =>
      TextAnalysis.collocations(Tables.load(s, dir, "documents"),
        "text", minCount = 5L, k = 20)
    },

    // BPE merge learning (Sennrich 2016) — the tokenizer-training
    // primitive: ONE corpus wordcount (capped top-1000 words by
    // frequency through the bounded heap), then every merge learned
    // DRIVER-SIDE over the collected contract-small table with
    // incremental pair-count maintenance (pair counts weighted by word
    // frequency, argmax pair per step, ties → smaller pair by
    // codepoint) — a production tokenizer's tens of thousands of
    // merges cost seconds and zero further Spark jobs. The oracle
    // unrolls the 8 steps as CTEs (the MMR greedy precedent) over the
    // delimiter-wrapped replace the distributed audit twin also runs.
    "text_bpe_merges" -> q { (s, dir) =>
      graft.operators.Bpe.learnMerges(Tables.load(s, dir, "documents"),
          "text", nMerges = BpeMerges, maxWords = BpeMaxWords)
        .orderBy("step")
    },

    // ... the DISTRIBUTED audit twin of the driver-local learner: one
    // pair-aggregate Spark job + a one-row collect per merge step over
    // the capped vocabulary frame. It is the honest path only when
    // maxWords exceeds what a driver can collect; here it is
    // oracle-graded against the SAME merge oracle the production
    // learner replays, sealing driver ≡ distributed ≡ DuckDB.
    "text_bpe_merges_audit" -> q { (s, dir) =>
      val spark = s
      import spark.implicits._
      graft.operators.Bpe.learnedMergesDistributed(
          Tables.load(s, dir, "documents"),
          "text", nMerges = BpeMerges, maxWords = BpeMaxWords)
        .toDF("step", "lhs", "rhs", "pair_count")
        .orderBy("step")
    },

    // ... and the APPLY half: the learned merges run over every
    // document's tokens through the rank-priority kernel (scan-speed
    // pure map whose cost tracks the merges that FIRE per word, not N —
    // the per-epoch tokenization pass of a training pipeline), yielding
    // the per-doc token accounting a packing/budgeting stage consumes.
    // The oracle replays train AND apply as the literal replace chain
    // (kernel ≡ chain, spec-pinned).
    "text_bpe_tokenize" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.operators.Bpe
        .learnedMerges(docs, "text", BpeMerges, BpeMaxWords)
        .map(m => (m._2, m._3))
      graft.operators.Bpe.tokenizeWithMerges(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    // ... the learned tokenizer's VOCABULARY census — base chars +
    // merged symbols with frequency-weighted occurrence counts over the
    // capped training table (what fertility/coverage analyses consume).
    "text_bpe_vocab" -> q { (s, dir) =>
      graft.operators.Bpe.vocab(Tables.load(s, dir, "documents"),
          "text", nMerges = BpeMerges, maxWords = BpeMaxWords)
        .orderBy(col("n_occ").desc, col("symbol"))
    },

    // ... the VERSIONED-tokenizer SERVE path: the merge table persists
    // under the manifest protocol (a tokenizer IS its merge list — the
    // dataset a run packed must replay with the exact merges it was
    // tokenized with), retrain = one atomic expect-guarded swap.
    // Build-if-stale; stored merges ≡ learned merges → inline oracle.
    "text_bpe_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bpemodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Bpe.buildBpeModelM(
          docs, "text", BpeMerges, BpeMaxWords, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      graft.operators.Bpe.tokenizeM(s, root, docs, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Release-pinned tokenizer time travel: v1 trains on the even half
    // of the corpus, HEAD retrains on the full corpus; tokenization
    // pinned at v1 must apply v1's merge list — the packed dataset a
    // release shipped replays byte-for-byte until vacuum reclaims it.
    "text_bpe_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bpepin", dir)
      val v1 = graft.operators.Bpe.buildBpeModelM(
        docs.filter(col("doc_id") % 2 === 0), "text",
        BpeMerges, BpeMaxWords, root)
      graft.operators.Bpe.buildBpeModelM(
        docs, "text", BpeMerges, BpeMaxWords, root)
      graft.operators.Bpe.tokenizeM(s, root, docs, "doc_id", "text",
          at = Some(v1))
        .orderBy("doc_id")
    },

    // ... and tokenization AT INGEST: merges learned once at plan time
    // (an N-pair driver scalar embedded in the kernel ref), each
    // arriving micro-batch runs the rank-priority apply kernel inside
    // foreachBatch. Per-doc independence ⇒ batch union ≡ one-shot
    // (shared oracle).
    "stream_bpe_tokenize" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingBpeTokenize(s, dir, BpeMerges, BpeMaxWords)
        .orderBy("doc_id")
    },

    // BYTE-LEVEL BPE — the GPT-2-style production norm: words
    // byte-encode through the public 256-entry byte→codepoint table
    // (graft_byte_encode, a zero-shuffle kernel) and the SAME trainer /
    // rank-priority apply machinery runs over the encoded strings, so
    // any string is representable over a 256-symbol base alphabet and
    // the unicode-normalization failure class vanishes. Train + apply
    // replay in the oracle through the interpolated byte table — the
    // two engines share the encoding by construction. On printable-
    // ASCII corpora the encoding is the identity and the merges equal
    // the codepoint trainer's (BpeBytesSpec differential).
    "text_bpe_bytes" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.operators.Bpe
        .learnedMergesBytes(docs, "text", BpeMerges, BpeMaxWords)
        .map(m => (m._2, m._3))
      graft.operators.Bpe
        .tokenizeWithMergesBytes(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    // ... and its AT-INGEST leg: byte-level merges learned once at plan
    // time, each arriving micro-batch runs byte-encode → rank-priority
    // count as one kernel projection. Per-doc independence ⇒ batch
    // union ≡ one-shot (shared oracle).
    "stream_bpe_bytes" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingBpeBytesTokenize(s, dir, BpeMerges, BpeMaxWords)
        .orderBy("doc_id")
    },

    // ... the byte-level VERSIONED-tokenizer SERVE path (same manifest
    // protocol, distinct family tag so the two flavors' stores can
    // never be confused). Build-if-stale; stored ≡ learned → inline
    // oracle.
    "text_bpe_bytes_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bpebmodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Bpe.buildBpeBytesModelM(
          docs, "text", BpeMerges, BpeMaxWords, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      graft.operators.Bpe.tokenizeBytesM(s, root, docs, "doc_id", "text")
        .orderBy("doc_id")
    },

    // ... and its release pin: v1 trains on the even half, HEAD
    // retrains full; tokenization pinned at v1 replays v1's byte-level
    // merge list until vacuum reclaims it.
    "text_bpe_bytes_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bpebpin", dir)
      val v1 = graft.operators.Bpe.buildBpeBytesModelM(
        docs.filter(col("doc_id") % 2 === 0), "text",
        BpeMerges, BpeMaxWords, root)
      graft.operators.Bpe.buildBpeBytesModelM(
        docs, "text", BpeMerges, BpeMaxWords, root)
      graft.operators.Bpe.tokenizeBytesM(s, root, docs, "doc_id", "text",
          at = Some(v1))
        .orderBy("doc_id")
    },

    // The COMPOSED budget unit (r17 verdict ask #4): packed-sequence
    // construction by the SERVED tokenizer's BPE counts — the token
    // accounting a pretraining pipeline actually packs with (a
    // whitespace count under-budgets the sequences the model sees as
    // BPE tokens). tokenizeM resolves the committed merge-table
    // version, so the packing replays exactly under the tokenizer pin —
    // the versioning contract made load-bearing inside a composed
    // query. Same packing mechanics as curation_packing (pmod shard,
    // running-sum bins); only the token column changes.
    "curation_packing_bpe" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bpemodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Bpe.buildBpeModelM(
          docs, "text", BpeMerges, BpeMaxWords, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      val toks = graft.operators.Bpe
        .tokenizeM(s, root, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_bpe_tokens").as("ntok"))
      graft.operators.Curation.packSequences(
          toks, "doc_id", "ntok", budget = 2048, shards = 8)
        .join(toks, "doc_id")
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("bigint").as("tokens"))
        .orderBy("shard", "bin")
    },

    // Unigram-LM tokenizer training (Kudo 2018, sentencepiece's model)
    // — the SECOND tokenizer modality an LLM pipeline chooses between:
    // an over-complete substring seed (all singles + top-40 multis,
    // freq-weighted), hard EM (Viterbi counts, add-one smoothing,
    // micro-log integer probabilities) for 2 fixed iterations, pruned
    // to singles + top-24 multis. One corpus wordcount; the EM runs
    // driver-side on the capped table. The oracle unrolls the EM and
    // replays every Viterbi as a recursive-CTE DP.
    "text_unigram_pieces" -> q { (s, dir) =>
      val m = graft.operators.Unigram.learn(
        Tables.load(s, dir, "documents"), "text", UniMaxWords,
        maxPieceLen = 3, UniSeedMulti, UniVocabMulti, UniEmIters)
      graft.operators.Unigram.piecesFrame(s, m).orderBy("piece")
    },

    // ... the APPLY half: every corpus word Viterbi-segments under the
    // learned pieces through the tokenize kernel (O(len·maxPieceLen)
    // per word regardless of vocabulary size; unseen codepoints cost
    // the fixed UNK penalty as their own piece), yielding the per-doc
    // token accounting. Oracle replays train AND apply.
    "text_unigram_tokenize" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val m = graft.operators.Unigram.learn(docs, "text", UniMaxWords,
        maxPieceLen = 3, UniSeedMulti, UniVocabMulti, UniEmIters)
      graft.operators.Unigram.tokenize(docs, "doc_id", "text", m)
        .orderBy("doc_id")
    },

    // ... the VERSIONED-tokenizer SERVE path (the bpemodel pattern):
    // the piece table persists under the manifest protocol, retrain =
    // one atomic expect-guarded swap. Build-if-stale; stored pieces ≡
    // learned pieces → inline oracle.
    "text_unigram_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("unigrammodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Unigram.buildUnigramModelM(docs, "text",
          UniMaxWords, 3, UniSeedMulti, UniVocabMulti, UniEmIters, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      graft.operators.Unigram.tokenizeM(s, root, docs, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Release-pinned unigram time travel: v1 trains on the even half,
    // HEAD retrains on the full corpus; tokenization pinned at v1 must
    // apply v1's piece table.
    "text_unigram_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("unipin", dir)
      val v1 = graft.operators.Unigram.buildUnigramModelM(
        docs.filter(col("doc_id") % 2 === 0), "text",
        UniMaxWords, 3, UniSeedMulti, UniVocabMulti, UniEmIters, root)
      graft.operators.Unigram.buildUnigramModelM(docs, "text",
        UniMaxWords, 3, UniSeedMulti, UniVocabMulti, UniEmIters, root)
      graft.operators.Unigram.tokenizeM(s, root, docs, "doc_id", "text",
          at = Some(v1))
        .orderBy("doc_id")
    },

    // ... and tokenization AT INGEST: the model learned once at plan
    // time (a vocab-sized driver scalar), each arriving micro-batch
    // runs the Viterbi kernel inside foreachBatch. Per-doc independence
    // ⇒ batch union ≡ one-shot (shared oracle).
    "stream_unigram_tokenize" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingUnigramTokenize(s, dir, UniMaxWords, 3,
          UniSeedMulti, UniVocabMulti, UniEmIters)
        .orderBy("doc_id")
    },

    // ... and the packing composition for the second modality: packed
    // sequences budgeted by the SERVED unigram tokenizer's counts —
    // with curation_packing_bpe, the pipeline can pack under either
    // tokenizer choice and replay both under version pins.
    "curation_packing_unigram" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("unigrammodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Unigram.buildUnigramModelM(docs, "text",
          UniMaxWords, 3, UniSeedMulti, UniVocabMulti, UniEmIters, root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      val toks = graft.operators.Unigram
        .tokenizeM(s, root, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_unigram_tokens").as("ntok"))
      graft.operators.Curation.packSequences(
          toks, "doc_id", "ntok", budget = 2048, shards = 8)
        .join(toks, "doc_id")
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("bigint").as("tokens"))
        .orderBy("shard", "bin")
    },

    // Tokenizer FERTILITY comparison — the report an LLM team reads to
    // CHOOSE between the two modalities: per-doc tokens-per-word under
    // the BPE merges and the unigram pieces, both trained on the same
    // corpus. Two kernel projections over one exploded word stream;
    // fertility = tokens/words rounded to the 1e-6 grid in both
    // engines. The oracle joins the two proven train+apply chains as
    // independently-scoped subqueries.
    "text_tokenizer_fertility" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val bpe = graft.operators.Bpe.tokenizeWithMerges(docs, "doc_id",
        "text", graft.operators.Bpe
          .learn(docs, "text", BpeMerges, BpeMaxWords).mergePairs)
      val uni = graft.operators.Unigram.tokenize(docs, "doc_id", "text",
        graft.operators.Unigram.learn(docs, "text", UniMaxWords, 3,
          UniSeedMulti, UniVocabMulti, UniEmIters))
      bpe.join(uni.drop("n_words"), "doc_id")
        .select(col("doc_id"), col("n_words"),
          round(col("n_bpe_tokens").cast("double") /
            col("n_words").cast("double"), 6).as("bpe_fertility"),
          round(col("n_unigram_tokens").cast("double") /
            col("n_words").cast("double"), 6).as("unigram_fertility"))
        .orderBy("doc_id")
    },

    // TRAINED language identification (Cavnar–Trenkle 1994): each
    // language's profile = its top-100 character trigrams by frequency
    // over the labeled 4/5 seed; every held-out doc ranks its own
    // top-20 trigrams and classifies to the language minimizing the
    // out-of-place rank distance (absent gram = max penalty). The
    // third language-ID modality — marker heuristic (inside
    // text_stats), NB word classifier, and this rank-profile method.
    "text_langid_rank" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.langIdRank(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // ... the margin made LOAD-BEARING (r18 verdict ask #8's purpose):
    // a curation gate keeps only docs the rank profiles identify with
    // margin ≥ 100 — Cavnar–Trenkle's rejection dial applied as the
    // mix's language filter (a dead tie or a narrow gap is exactly the
    // doc a multilingual mix must NOT route on a guess).
    "curation_langid_gate" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.langIdRank(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "lang")
        .filter(col("margin").isNotNull && col("margin") >= 100)
        .orderBy("doc_id")
    },

    // Document fingerprinting by winnowing (the MOSS scheme): rolling
    // character k-grams → 60-bit hashes → min per sliding window of w →
    // distinct fingerprints. Robust to insertions/reordering beyond a
    // window; the fingerprint set is what a plagiarism/near-dup index
    // stores at scale (|fps| ≈ 2n/(w+1) per doc, bounded).
    "text_winnow" -> q { (s, dir) =>
      val k = 8; val w = 4
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")).as("norm"))
      val grams = docs
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(1, greatest(length(norm) - ${k - 1}, 0)),
              i -> cast(conv(substring(md5(substring(norm, i, $k)), 1, 15), 16, 10) as bigint))"""))
          .as(Seq("pos", "h")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
      grams
        .withColumn("n_grams", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
        .withColumn("fp", min(col("h")).over(win))
        // posexplode's pos is 0-based: full w-row windows start at
        // 0 .. n_grams - w (the oracle's 1-based form is 1 .. n_grams-w+1)
        .filter(col("pos") <= col("n_grams") - lit(w))
        .select(col("doc_id"), col("fp")).distinct()
        .orderBy("doc_id", "fp")
    },

    // TF-IDF: top-3 terms per document — explode → tf per (doc, term),
    // df per term (broadcast-joined), idf = ln(N/df), ranked per doc.
    "text_tfidf" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val n = docs.count() // corpus size: one tiny job, then a literal
      val terms = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df_), Seq("term"))
        .withColumn("score",
          round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
        .filter(col("doc_id") < 50)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rnk"))
        .orderBy("doc_id", "rnk")
    },

    // BM25 ranked retrieval, inline: the corpus-search / contamination-
    // forensics / hard-negative-mining primitive. Postings are one
    // wordcount aggregate; query terms broadcast with a pushed IN filter,
    // so only candidate postings reach the scoring aggregate; the final
    // ranking is the native bounded-heap top-k (queries×k rows through
    // the last exchange). Scoring is the repo's bit-stable float pattern:
    // per-term contributions rounded to 1e-6, summed in DECIMAL(38,10).
    "text_bm25_topk" -> q { (s, dir) =>
      Retrieval.bm25TopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // The same ranking served from a PERSISTED inverted index: postings
    // term-clustered parquet + mergeable df/corpus segment stats. The
    // probe never scans the corpus — the oracle is the inline twin's,
    // so index-build + probe must reproduce inline retrieval exactly.
    "text_bm25_indexed" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bm25idx", dir)
      Retrieval.buildIndexM(docs, "doc_id", "text", root)
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // The steady-state BM25 SERVE path — the per-query-batch cost once
    // the inverted index stands (build-if-stale; on the bench the build
    // lands in the warm-up phase, so the timed reps measure the probe:
    // pushed term-IN postings scan, broadcast-summed segment stats,
    // bounded-heap top-k). Shares the inline oracle.
    "text_bm25_probe_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bm25idx_srv", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // Dirichlet-smoothed QUERY-LIKELIHOOD retrieval — the standard LM
    // complement to BM25 (Zhai & Lafferty 2001): docs rank by
    // Σ_t ln((tf·|C| + μ·cf) / ((dl + μ)·|C|)), absent query terms
    // contributing their dl-dependent background probability. The
    // background/correction decomposition keeps the work candidate-
    // sized (candidates × |q| broadcast rows + matched postings), all
    // terms exact rationals → one ln → round-6 → DECIMAL, so the
    // two-leg union replays under DuckDB's unordered sum.
    "retrieval_qld" -> q { (s, dir) =>
      Retrieval.qldTopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // ... SERVED from the same committed inverted index the BM25 probe
    // uses — no new stored table: collection frequency is a per-term sum
    // over exactly the candidate postings the probe already reads, |C|
    // from the corpus segments. Build-if-stale; shares the inline
    // oracle (stored postings ≡ counted postings).
    "retrieval_qld_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bm25idx_srv", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.qldProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // LEXICAL-ENSEMBLE RRF: BM25 and Dirichlet-QLD rank the same query
    // batch (two scoring families over one postings lineage — tf-idf
    // saturation vs smoothed likelihood disagree exactly on the docs
    // where ensemble rank fusion pays), fused by reciprocal rank — the
    // rank-only combiner that needs no score normalization. Both legs
    // are queries×k, so the fusion is result-sized.
    "retrieval_lexical_rrf" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Retrieval.rrfFuse(
          Retrieval.bm25TopK(docs, "doc_id", "text", Bm25Queries, Bm25K),
          Retrieval.qldTopK(docs, "doc_id", "text", Bm25Queries, Bm25K),
          Bm25K)
        .orderBy("query_id", "rank")
    },

    // Release-pinned QLD time travel (completing the postings/served/
    // pinned lifecycle): v1 indexes only the even docs; HEAD appends
    // the odd half; the probe pinned at v1 must smooth with v1's
    // collection statistics — cf from the pinned postings, |C| from the
    // pinned corpus segments — so the likelihood a release ranked with
    // replays exactly until vacuum reclaims it.
    "retrieval_qld_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("qldpin", dir)
      val v1 = Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.qldProbeM(s, root, Bm25Queries, Bm25K, at = Some(v1))
        .orderBy("query_id", "rank")
    },

    // HYBRID retrieval with reciprocal-rank fusion — the serving shape a
    // real LLM-data pipeline runs: the SAME query batch goes down the
    // lexical leg (BM25 over the persisted inverted index) AND the
    // vector leg (hash-embed cosine over the persisted semantic index),
    // each leg pinned at the manifest version its build committed, and
    // the two ranked lists fuse by RRF (rank-only, so the incomparable
    // BM25/cosine scales never need normalizing). Both legs are
    // queries×k, so the fusion is result-sized — the corpus is touched
    // only through the two indexes' own pruned serve paths.
    "retrieval_hybrid_rrf" -> q { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val bmRoot = freshIndexRoot("bm25rrf", dir)
      val bmV = Retrieval.buildIndexM(docs, "doc_id", "text", bmRoot)
      val lex = Retrieval.bm25ProbeM(s, bmRoot, Bm25Queries, Bm25K, at = Some(bmV))
      val semRoot = freshIndexRoot("semrrf", dir)
      val semV = graft.streaming.StreamPipeline.buildSemanticIndexM(s, dir, semRoot)
      val corpus = graft.streaming.StreamPipeline
        .readSemanticIndexAtM(s, semRoot, semV)
        .select(col("corpus_id").as("doc_id"), col("__cv"))
      val qEmb = TextAnalysis.hashEmbed(
        Bm25Queries.toDF("query_id", "qtext"), "query_id", "qtext",
        graft.streaming.StreamPipeline.SemanticDim)
      val scored = corpus
        .crossJoin(broadcast(qEmb
          .select(col("query_id"), col("embedding").as("__qv"))))
        .select(col("query_id"), col("doc_id"),
          round(Similarity.cosineNative(col("__qv"), col("__cv")), 6)
            .as("score"))
      val vec = Retrieval.rankTopK(scored, Bm25K)
      Retrieval.rrfFuse(lex, vec, Bm25K).orderBy("query_id", "rank")
    },

    // RM3 pseudo-relevance feedback — BM25 top-fbDocs per query feed a
    // relevance model (tf/dl × doc score), top-fbTerms feedback terms
    // interpolate with the original query at alpha=0.5, and the corpus
    // re-ranks under the expanded weighted query. The whole two-stage
    // ranking replays in the oracle (round-6 products, decimal sums,
    // pre-rounded driver-side original-term weights).
    // MMR-diversified BM25 retrieval — the original MMR setting:
    // lexical relevance (normalized per query over the top-20 pool) vs
    // hashing-trick content similarity, five greedy exact-decimal
    // steps. The serve-time complement to corpus-level near-dup removal.
    "retrieval_mmr" -> q { (s, dir) =>
      Retrieval.mmrDiversifiedTopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, k = 5, poolSize = 20,
          dim = 64, lambdaNum = 7, lambdaDen = 10)
        .orderBy("query_id", "mmr_rank")
    },

    // ... MMR's SERVE path: the relevance pool probes the committed
    // inverted index (exact BM25 — stored df ≡ counted df) and only the
    // pool members' text leaves the lake for the redundancy embeddings;
    // build-if-stale, so the timed cost is the probe + 5 greedy steps.
    // Shares the inline oracle bit-for-bit.
    "retrieval_mmr_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bm25idx_mmr", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.mmrDiversifiedProbeM(s, root, docs, "doc_id", "text",
          Bm25Queries, k = 5, poolSize = 20,
          dim = 64, lambdaNum = 7, lambdaDen = 10)
        .orderBy("query_id", "mmr_rank")
    },

    // ... and MMR's release-pinned time travel: v1 indexes the even
    // docs, HEAD appends the odd half; the diversified page pinned at
    // v1 must pool — and therefore select — against v1's postings and
    // v1's idf/avgdl. The oracle replays the whole chain (BM25 pool,
    // normalization, hash-embed redundancy, greedy steps) over the
    // even-doc corpus.
    "retrieval_mmr_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("mmrpin", dir)
      val v1 = Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.mmrDiversifiedProbeM(s, root, docs, "doc_id", "text",
          Bm25Queries, k = 5, poolSize = 20,
          dim = 64, lambdaNum = 7, lambdaDen = 10, at = Some(v1))
        .orderBy("query_id", "mmr_rank")
    },

    "retrieval_rm3" -> q { (s, dir) =>
      Retrieval.rm3TopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // Positional phrase search — the inverted index's (term, doc, tf)
    // rows are blind to word ORDER; phrase matching ("window agg" as a
    // unit) is the first retrieval primitive that needs positions.
    // Relational phrase assembly: positional postings of the phrase
    // terms only (pushed term IN), each match votes for the start it
    // implies, a start with all offsets present is an occurrence,
    // integer-rank top-k by phrase frequency. The repeated-term phrase
    // exercises the COUNT(DISTINCT off) completeness check.
    "retrieval_phrase" -> q { (s, dir) =>
      Retrieval.phraseTopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", PhraseQueries, PhraseK)
        .orderBy("query_id", "rank")
    },

    // Phrase SCREEN — the policy/decontamination shape: every matching
    // (query_id, doc_id, n_occ) row, unranked and unbounded (a screen
    // wants ALL hits). Shares the occurrence core with the ranked probe.
    "retrieval_phrase_screen" -> q { (s, dir) =>
      Retrieval.phraseScreen(Tables.load(s, dir, "documents"),
          "doc_id", "text", PhraseQueries)
        .orderBy("query_id", "doc_id")
    },

    // ... and the screen AT INGEST: every arriving doc checked against
    // the fixed banned/benchmark phrase list inside foreachBatch
    // (positions are a property of the doc's own text — stateless per
    // doc), hit rows sink batchId-idempotently. Per-doc independence ⇒
    // batch union ≡ one-shot — shares the batch oracle.
    "stream_phrase_screen" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingPhraseScreen(s, dir, PhraseQueries)
        .orderBy("query_id", "doc_id")
    },

    // ... and the steady-state SERVE path: the probe reads the committed
    // positional index's term-clustered `pos` table (pushed term IN —
    // never lake text); build-if-stale so the timed cost is the phrase
    // probe a deployment pays. Shares the inline oracle: stored
    // positions ≡ recomputed positions.
    "retrieval_phrase_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("posidx", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildPosIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.phraseProbeM(s, root, PhraseQueries, PhraseK)
        .orderBy("query_id", "rank")
    },

    // Compaction closes the positional lifecycle: per-append pos
    // segments re-cluster by term (restoring row-group pruning), corpus
    // segments fold to one row, swapped atomically. The accumulated
    // corpus is the full table, so probe-after-compact shares the
    // inline oracle bit-for-bit (≡ probe-before, spec-pinned).
    "retrieval_phrase_compacted" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("poscomp", dir)
      Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.compactPosIndexM(s, root)
      Retrieval.phraseProbeM(s, root, PhraseQueries, PhraseK)
        .orderBy("query_id", "rank")
    },

    // Release-pinned phrase time travel: v1 indexes the even docs, HEAD
    // appends the odd half; the probe pinned at v1 must assemble
    // occurrences from the pinned positions only — the phrase hits a
    // release shipped with replay exactly. (The appended index equals
    // the full corpus's, so the UNPINNED probe over the same root is
    // lifecycle-tested by the spec; the registry row grades the pin.)
    "retrieval_phrase_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("pospin", dir)
      val v1 = Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.phraseProbeM(s, root, PhraseQueries, PhraseK, at = Some(v1))
        .orderBy("query_id", "rank")
    },

    // Trained classifier filter (the CCNet/DCLM/FineWeb stage):
    // multinomial NB trained on the labeled 80% (source as label),
    // classifying the held-out 20%. Training is two wordcount
    // aggregates; scoring joins the broadcast vocab×labels parameter
    // table and argmaxes a round-6/decimal-summed log-score — the
    // whole train+predict path replays bit-for-bit in the oracle.
    "text_nb_classify" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = graft.operators.Classify.nbTrain(
        docs.filter(col("doc_id") % 5 =!= 0), "source", "text")
      graft.operators.Classify.nbClassify(
          model, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ... the TOP-V-CAPPED trainer (the fastText vocab-prune shape):
    // vocabulary truncated to the 20 highest-total-count terms (ties →
    // smaller term), every other term dropped from the model VISIBLY —
    // the dedup_semdedup_capped discipline, here bounding the broadcast
    // parameter table on a seed whose vocabulary is unbounded. Smoothing
    // runs over the KEPT vocab: exactly multinomial NB on the reduced
    // feature set, replayed term-for-term in the oracle's QUALIFY top-V.
    "text_nb_capped" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = graft.operators.Classify.nbTrainCapped(
        docs.filter(col("doc_id") % 5 =!= 0), "source", "text", vocabCap = 20)
      graft.operators.Classify.nbClassify(
          model, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ... and the model-store SERVE path: the trained parameter table
    // persists under the manifest protocol (retrain = one atomic
    // expect-guarded swap; `at` pins the version a release shipped
    // with), so every scoring job reads the same frozen parameters.
    // Build-if-stale: the timed cost is the classify a deployment pays.
    // Shares the inline oracle: stored ≡ recomputed parameters.
    "text_nb_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("nbmodel", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        graft.operators.Classify.buildNbModelM(
          docs.filter(col("doc_id") % 5 =!= 0), "source", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      graft.operators.Classify.nbClassifyM(
          s, root, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Release-pinned model time travel: v1 trains on the even half of
    // the labeled seed, HEAD retrains on the full seed; classification
    // pinned at v1 must score with v1's parameters — the exact model a
    // release shipped with replays until vacuum reclaims it.
    "text_nb_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("nbpin", dir)
      val seed = docs.filter(col("doc_id") % 5 =!= 0)
      val v1 = graft.operators.Classify.buildNbModelM(
        seed.filter(col("doc_id") % 2 === 0), "source", "text", root)
      graft.operators.Classify.buildNbModelM(seed, "source", "text", root)
      graft.operators.Classify.nbClassifyM(
          s, root, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          at = Some(v1))
        .orderBy("doc_id")
    },

    // ... and the classifier AT INGEST: the model trains once on the
    // labeled seed (frozen at plan time), each arriving micro-batch
    // classifies statelessly inside foreachBatch. Per-doc independence
    // ⇒ batch union ≡ one-shot — shares the inline oracle.
    "stream_nb_classify" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingNbClassify(s, dir)
        .orderBy("doc_id")
    },

    // Offline ranking evaluation — recall@10 / MRR@10 / nDCG@10 of the
    // vector ranker (hash-embed cosine) against graded lexical
    // judgments (BM25 top-10, rel = 11 − rank) — the weak-supervision
    // eval a retrieval stack runs on every change. Everything past the
    // two rankings is result-sized; per-position DCG terms round-6 into
    // decimal sums, each metric rounds once.
    "retrieval_eval_metrics" -> q { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val emb = TextAnalysis.hashEmbed(docs, "doc_id", "text", 64)
        .select(col("doc_id"), col("embedding").as("__cv"))
      val qEmb = TextAnalysis.hashEmbed(
        Bm25Queries.toDF("query_id", "qtext"), "query_id", "qtext", 64)
      val scored = emb
        .crossJoin(broadcast(
          qEmb.select(col("query_id"), col("embedding").as("__qv"))))
        .select(col("query_id"), col("doc_id"),
          round(Similarity.cosineNative(col("__qv"), col("__cv")), 6)
            .as("score"))
      val cand = Retrieval.rankTopK(scored, Bm25K)
      val judg = Retrieval.bm25TopK(docs, "doc_id", "text", Bm25Queries, Bm25K)
        .select(col("query_id"), col("doc_id"),
          (lit(Bm25K + 1) - col("rank")).cast("long").as("rel"))
      Retrieval.rankingMetrics(cand, judg, Bm25K).orderBy("query_id")
    },

    // Sequential dependence (Metzler-Croft SDM, BM25 adaptation): blend
    // bag-of-words BM25 with ordered-adjacency (#1) and unordered-window
    // (#uw8) pair components at the paper's (0.85, 0.10, 0.05). One
    // positional scan of the query vocabulary feeds all three
    // components; the blend multiplies round-6 component doubles by
    // exact decimal weights and rounds once — bit-replayable.
    "retrieval_sdm" -> q { (s, dir) =>
      Retrieval.sdmTopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // ... and SDM's SERVE path over the SAME committed positional index
    // the phrase probe uses (one family, one store — positions carry
    // everything order-aware retrieval needs): stored pos rows pushed
    // `term IN`, corpus scalars summed from the snapshot's segment
    // rows, shared three-component scoring. Shares the inline oracle:
    // stored ≡ recomputed positions and stats.
    "retrieval_sdm_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("posidx", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildPosIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.sdmProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // ... and SDM's release-pinned time travel (every served family's
    // discipline, the phrase-pin fixture shape): v1 indexes the even
    // docs, HEAD appends the odd half; a probe pinned at v1 must score
    // with v1's positions AND v1's corpus scalars (n, sumdl grow
    // transactionally with the postings — a pin that read HEAD stats
    // over v1 postings would blend inconsistent idf/avgdl).
    "retrieval_sdm_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("sdmpin", dir)
      val v1 = Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.sdmProbeM(s, root, Bm25Queries, Bm25K, at = Some(v1))
        .orderBy("query_id", "rank")
    },

    // ... and the steady-state SERVE path: both RM3 stages read the
    // committed inverted-index tables from one manifest snapshot
    // (build-if-stale, so the timed cost is the two-stage probe) —
    // feedback expansion without touching lake text. Shares the inline
    // oracle: stored df ≡ counted df.
    "retrieval_rm3_served" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = serveIndexRoot("bm25idx_rm3", dir)
      val src = new java.io.File(dir, "documents.parquet")
      val fresh = graft.index.IndexManifest.lastModified(s, root)
        .exists(_ >= src.lastModified)
      if (!fresh) {
        Retrieval.buildIndexM(docs, "doc_id", "text", root)
        graft.index.IndexManifest.vacuum(s, root): Unit
      }
      Retrieval.rm3ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // ... and the STREAMING twin — the retrieval lifecycle's last
    // missing leg (every other index family already has its stream
    // probe): the query set arrives in micro-batches and each batch
    // runs the full two-stage RM3 expansion against the committed
    // index inside foreachBatch, output batchId-idempotent. The index
    // is frozen for the run, so the union over batches replays
    // bit-for-bit as one-shot RM3 — shares the inline oracle.
    "stream_retrieval_rm3" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingRm3TopK(s, dir, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // ... and the phrase family's STREAMING leg: phrase queries arrive
    // in micro-batches, each batch probes the committed positional
    // index inside foreachBatch (pushed term IN, occurrence assembly,
    // integer rank), output batchId-idempotent. Index frozen for the
    // run + per-phrase independence ⇒ the batch union replays as the
    // one-shot probe — shares the inline oracle.
    "stream_retrieval_phrase" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingPhraseTopK(s, dir, PhraseQueries, PhraseK)
        .orderBy("query_id", "rank")
    },

    // Release-pinned RM3 time travel: v1 indexes the even docs, HEAD
    // appends the odd half; the probe pinned at v1 must run BOTH RM3
    // stages — feedback selection AND the expanded re-rank — against
    // the pinned postings and the pinned corpus statistics, replaying
    // the exact expansion a release shipped with.
    "retrieval_rm3_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("rm3pin", dir)
      val v1 = Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.rm3ProbeM(s, root, Bm25Queries, Bm25K, at = Some(v1))
        .orderBy("query_id", "rank")
    },

    // Release-pinned BM25 time travel: v1 indexes only the even docs;
    // HEAD appends the odd half; the probe pinned at v1 must rank with
    // the pinned postings AND the pinned corpus statistics (idf/avgdl
    // of the even half, not HEAD's) — the ranked run that fed a
    // release replays exactly.
    "text_bm25_pinned" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bm25pin", dir)
      val v1 = Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K, at = Some(v1))
        .orderBy("query_id", "rank")
    },

    // The append half of the postings-index lifecycle: lake built from
    // even doc ids, odd ids appended as a pure parquet append (postings
    // add rows; df/corpus stats are SEGMENT rows summed at probe time —
    // nothing stored is read or rewritten at ingest). The accumulated
    // index is exactly the full corpus's, so the probe shares the inline
    // oracle bit-for-bit.
    "text_bm25_index_append" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bm25app", dir)
      Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // Compaction closes the BM25 lifecycle (the gram/LSH precedent): the
    // appended index's df segments fold to ONE row per term, the corpus
    // segments to one row, and the per-delta postings files re-cluster by
    // term — restoring probe-side row-group pruning — with the whole
    // triple swapped in by one atomic manifest commit. The accumulated
    // corpus is the full table, so probe-after-compact shares the inline
    // oracle bit-for-bit (≡ probe-before, spec-pinned).
    "text_bm25_compacted" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val root = freshIndexRoot("bm25cidx", dir)
      Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
      Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", root)
      Retrieval.compactIndexM(s, root)
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // BM25 index REFRESH — maintenance under corpus UPDATES and
    // REMOVALS, which append-only segments cannot express: yesterday's
    // index holds postings for re-crawled docs (ids ≡ 0 mod 5, stale
    // prefix), is missing later arrivals (ids ≡ 1 mod 7), and still
    // carries retired rows; one refresh diffs the stored per-doc digests
    // against today's corpus, keeps unchanged docs' postings VERBATIM
    // (no re-tokenize), re-posts only the changed/added docs, drops the
    // retired ids, and swaps the whole quadruple atomically. The
    // refreshed index ≡ a from-scratch build of today's corpus, so the
    // probe shares the inline oracle bit-for-bit.
    "text_bm25_refreshed" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val stale = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(lit("stale "), col("text")))
      val retired = docs.filter(col("doc_id") % 9 === 3)
        .withColumn("doc_id", col("doc_id") + 1000000)
      val old = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 1)
        .unionByName(stale).unionByName(retired)
      val root = freshIndexRoot("bm25ref", dir)
      Retrieval.buildIndexM(old, "doc_id", "text", root)
      Retrieval.refreshIndexM(docs, "doc_id", "text", root)
      Retrieval.bm25ProbeM(s, root, Bm25Queries, Bm25K)
        .orderBy("query_id", "rank")
    },

    // Hard-negative mining for contrastive training pairs: anchor docs
    // (fixed ids, present at every SF) become queries over their own
    // distinct terms; the corpus is BM25-ranked and the anchor excluded —
    // top-k "lexically close but not the positive" rows per anchor. The
    // anchors and their term set are broadcast; cost is the anchors'
    // posting lists, never a corpus cross-product.
    "text_bm25_negatives" -> q { (s, dir) =>
      Retrieval.hardNegatives(Tables.load(s, dir, "documents"),
          "doc_id", "text", Bm25Anchors, Bm25K)
        .orderBy("query_id", "rank")
    },

    // Near-dup screening at ingest with the real MinHash-LSH modality:
    // the lake summarized once into the committed LSH index, every
    // micro-batch running the full indexed cross-corpus probe over just
    // its arrivals in foreachBatch. Cross pairs are per-arrival
    // independent, so the per-batch union is the whole delta's pair set
    // — the inline operator's oracle replays bit-for-bit.
    "stream_crosscorpus_dedup" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingCrossCorpusDedup(s, dir,
          ShingleN, MinhashK, LshBands, CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // The GROWING-index edition: the lake (doc_id%10 < 8) is indexed
    // once, the arrivals stream in as 3 deterministic micro-batches
    // (batch b = (doc_id%30)//10), and each batch both probes the index
    // as of the PREVIOUS batch and appends its own signatures through an
    // exactly-once manifest commit — so near-dup pairs WITHIN the
    // arrival stream are caught at ingest (id_new in batch b pairs with
    // the lake or any batch < b, never its own batch), which the frozen
    // snapshot of stream_crosscorpus_dedup structurally cannot do.
    "stream_crosscorpus_dedup_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingLshDedupGrowing(s, dir,
          ShingleN, MinhashK, LshBands, CrossMaxBucket)
        .orderBy("id_new", "id_base")
    },

    // The GROWING positional-index edition — the ninth family on the
    // shared exactly-once protocol, and the phrase/SDM store's
    // production ingest loop: each micro-batch screens the ACCUMULATED
    // corpus (stored index as of the previous batch ∪ the arrivals in
    // hand) for the banned phrases — hits against yesterday's arrivals
    // surface with no nightly rebuild — then appends its positional
    // postings through the batchId-stamped atomic commit. `as_of_batch`
    // records each screen's cut; the oracle replays batch b as the
    // screen over lake ∪ arrival batches ≤ b.
    "stream_phrase_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingPhraseScreenGrowing(s, dir, PhraseQueries)
        .orderBy("as_of_batch", "query_id", "doc_id")
    },

    // ANN at ingest: arriving query vectors ranked against the committed
    // PQ code table — the embedding leg of the streaming probe family.
    // LUT build is a stateless in-stream kernel projection; each
    // micro-batch reduces its own queries to exact top-k via the
    // bounded-heap node inside foreachBatch (a query is one stream row,
    // so per-batch top-k is global); only queries×k winners leave a
    // batch. Shares the flat-PQ search oracle.
    "stream_ann_pq_probe" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingPqProbe(s, dir, k = 5, m = 4, dsub = 16)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The training-free streaming leg: arriving query vectors run the
    // two-stage JL search per micro-batch — no index built, committed,
    // or snapshotted anywhere, because the sign matrix is a pure
    // function of (m, d) every batch and replay regenerates
    // identically. Shares the inline jl_rerank oracle.
    "stream_sim_jl_probe" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingJlProbe(s, dir, k = 5, m = 16, d = 64, refine = 4)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The GROWING-index edition — the vector-database ingestion loop:
    // the lake (vec_id%10 < 8) is encoded once, arrivals stream in as 3
    // deterministic micro-batches, and each batch both retrieves its
    // top-k nearest EARLIER vectors (lake + batches before it, ADC over
    // one committed snapshot) and appends its own codes through an
    // exactly-once manifest commit. An arrival's nearest neighbor
    // landing two batches earlier is caught; the frozen probe twin
    // structurally cannot relate two arrivals at all.
    "stream_ann_pq_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingAnnPqGrowing(s, dir, k = 5, m = 4, dsub = 16)
        .orderBy("query_id", "rnk")
    },

    // The GROWING inverted-file edition: arrivals probe the assignment
    // as of the previous batch (probe list from the build-frozen stored
    // centroids — exactly why append-with-stored-centroids keeps every
    // segment's cell geometry compatible) and then join the index
    // through an exactly-once manifest commit, so an arrival's nearest
    // neighbor landing two batches earlier is retrieved from the pruned
    // cluster scan — uncompressed sibling of stream_ann_pq_growing.
    "stream_ann_ivf_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingAnnIvfGrowing(s, dir, k = 5, nProbe = 2)
        .orderBy("query_id", "rnk")
    },

    // The GROWING coarse-quantized edition — completing the growing ANN
    // set with the compressed flavor a 100 TB corpus actually grows
    // (FAISS IVFx,PQm): arrivals ADC-probe the code rows as of the
    // previous batch (probe list from the stored centroids, LUT from
    // the stored codebook — both build-frozen), then assign + encode +
    // append through the exactly-once batchId-stamped commit. An
    // arrival's nearest neighbor landing two batches earlier surfaces
    // from the cluster-pruned code scan at d/m the bytes of the IVF
    // sibling.
    "stream_ann_ivfpq_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingAnnIvfPqGrowing(s, dir, k = 5, m = 4, dsub = 16, nProbe = 2)
        .orderBy("query_id", "rnk")
    },

    // ANN at ingest over the persisted inverted file — the IVF leg of
    // the streaming probe family: each micro-batch runs the served
    // multi-probe search over just its arrivals (probe list from the
    // stored centroids, pushed cluster-IN scan of one committed
    // snapshot, bounded-heap top-k). A query is one stream row, so the
    // per-batch union is the whole answer; shares the inline
    // multi-probe oracle.
    "stream_ann_ivf_probe" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingIvfProbe(s, dir, k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The coarse-quantized ANN ingest probe: the served IVF-PQ ADC
    // search per micro-batch — probe list + LUT in-batch kernel
    // projections, cluster-pruned committed code scan, bounded-heap
    // top-k. Shares the inline ivfPqTopK oracle.
    "stream_ann_ivfpq_probe" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingIvfPqProbe(s, dir, k = 5, m = 4, dsub = 16, nProbe = 2)
        .withColumnRenamed("rank", "rnk").orderBy("query_id", "rnk")
    },

    // The streaming leg of hard-negative mining: arriving anchors get
    // their negatives from the persisted inverted index the moment they
    // land — stateless in-stream query-term explode, stream-static
    // probe of one manifest snapshot, bounded per-pair fold state, and
    // the self-excluded ranking on the result-sized frame after the
    // stream drains. Shares the batch operator's oracle bit-for-bit.
    "stream_bm25_negatives" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingBm25Negatives(s, dir, Bm25Anchors, Bm25K)
        .orderBy("query_id", "rank")
    },

    // The GROWING retrieval edition — the richest growth case: not just
    // the postings but the SCORING PARAMETERS grow with the stream.
    // Every arriving anchor mines negatives against the lake plus all
    // earlier batches, with idf/avgdl computed over exactly that corpus
    // (postings, df, and the (N, avgdl) scalars resolve from ONE
    // snapshot), then appends itself — postings and stats move in one
    // atomic batchId-stamped commit, so a crash can never leave df
    // counting a document whose postings aren't searchable or vice
    // versa. A frozen index (stream_bm25_negatives) can never surface
    // another arrival as a negative; this one does.
    "stream_bm25_negatives_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingBm25NegativesGrowing(s, dir, Bm25K)
        .orderBy("query_id", "rank")
    },

    // The GROWING training-free ANN ingest — the eighth growing family,
    // with NO build-frozen state at all: (m, d) in the manifest meta
    // regenerate the sign matrix identically for every batch, replay,
    // and probe. Arrivals rank (coarse projected scan + exact rerank)
    // against the lake + earlier batches only, then append their own
    // projections through the batchId-stamped atomic commit.
    "stream_ann_jl_growing" -> q { (s, dir) =>
      graft.streaming.StreamPipeline
        .streamingAnnJlGrowing(s, dir, k = 5, m = 16, d = 64, refine = 4)
        .orderBy("query_id", "rnk")
    },

    // Multimodal metadata scan: binary payload + typed metadata, no decode.
    // Repetition signals (the Gopher/RefinedWeb-class quality filter):
    // duplicate-token ratio and the most-frequent-bigram fraction. Pure
    // per-doc computation — the bigram count distributes on (doc, bigram)
    // with map-side partials, no cross-doc state.
    "text_repetition" -> q { (s, dir) =>
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("ntok"),
          size(array_distinct(col("toks"))).as("ndist"), col("toks"))
        .filter(col("ntok") >= 2)
      base
        .select(col("doc_id"), col("ntok"), col("ndist"),
          explode(expr("""transform(sequence(1, size(toks) - 1),
            i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""))
            .as("bigram"))
        .groupBy(col("doc_id"), col("ntok"), col("ndist"), col("bigram")).count()
        .groupBy(col("doc_id"), col("ntok"), col("ndist"))
        .agg(max(col("count")).as("top_bg"))
        .select(col("doc_id"),
          round(lit(1.0) - col("ndist").cast("double") / col("ntok"), 4)
            .as("dup_tok_ratio"),
          round(col("top_bg").cast("double") / (col("ntok") - 1), 4)
            .as("top_bigram_frac"))
        .withColumn("flagged",
          col("dup_tok_ratio") > 0.3 || col("top_bigram_frac") > 0.18)
        .orderBy("doc_id")
    },

    "multimodal_meta" -> q { (s, dir) =>
      Multimodal.attachPayload(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"),
          col("meta.byte_len").as("n_bytes"),
          col("meta.sha256").as("sha256"),
          col("meta.magic").as("magic"),
          (conv(substring(col("meta.sha256"), 1, 4), 16, 10).cast("int") % 1920).as("fake_width"))
        .orderBy("doc_id")
    },

    // Multimodal frame sampling: deterministic generator, no driver loop.
    "multimodal_frames" -> q { (s, dir) =>
      val withPayload = Multimodal.attachPayload(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 20), "text", "doc_id")
      Multimodal.sampleFrames(withPayload, "doc_id", frameStride = 100)
        .orderBy("doc_id", "frame_no")
    },

    // REAL container-header parsing (PNG IHDR / JPEG SOF marker walk /
    // GIF screen descriptor), not the decode stub: payloads are
    // synthesized as genuine image byte streams with id-derived
    // dimensions (every 7th doc gets non-image garbage), and the
    // codegen'd kernel must read the dimensions back out of the actual
    // bytes — the oracle knows only the id arithmetic, so any parse
    // slip (endianness, offset, marker walk) breaks the match.
    "multimodal_headers" -> q { (s, dir) =>
      Multimodal.headerMeta(
        Multimodal.synthesizeImagePayloads(
          Tables.load(s, dir, "documents"), "doc_id"), "doc_id")
        .select(col("doc_id"),
          col("hdr.format").as("format"),
          col("hdr.width").as("width"),
          col("hdr.height").as("height"))
        .orderBy("doc_id")
    },

    // The header parse AT INGEST: the same codegen'd kernel applied to a
    // streaming frame — stateless per-row Column algebra, so metadata
    // extraction rides the ingest batch and the decode stays downstream.
    // Shares the batch twin's id-arithmetic oracle.
    "stream_multimodal_headers" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingMediaHeaders(s, dir)
    },

    // The audio/video sibling: WAV chunk walk, MP3 ID3-skip + Xing
    // frame count, FLAC STREAMINFO bitfield, MP4 box walk — payloads
    // synthesized as genuine container byte streams with id-derived
    // rate/channel/duration fields (every 11th doc gets non-media
    // garbage), parsed back inside WholeStageCodegen. The oracle knows
    // only the id arithmetic, so any slip in the chunk walk, syncsafe
    // length, bit unpack, or box traversal breaks the hash.
    "multimodal_av_headers" -> q { (s, dir) =>
      Multimodal.avHeaderMeta(
        Multimodal.synthesizeAvPayloads(
          Tables.load(s, dir, "documents"), "doc_id"), "doc_id")
        .select(col("doc_id"),
          col("av.format").as("format"),
          col("av.channels").as("channels"),
          col("av.sample_rate").as("sample_rate"),
          col("av.duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    },

    // ... and AT INGEST: the same stateless kernel riding a streaming
    // frame, sharing the batch twin's id-arithmetic oracle.
    "stream_multimodal_av_headers" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingAvHeaders(s, dir)
    },

    // REAL pixel extraction — uncompressed 24-bpp BMP, the one image
    // format recoverable with pure byte arithmetic: deterministic BMP
    // payloads (id-derived dimensions and RGB formula; encodings vary
    // adversarially — bottom-up AND top-down row order, gap bytes
    // before the pixel array, garbage every 13th doc) parsed back to
    // the 8×8 box-filtered luminance tile inside WholeStageCodegen.
    // The oracle knows only the pixel FORMULA, never the file bytes:
    // a parser that ignores the row-order sign, the declared pixel
    // offset, the 4-byte row padding, or BGR order breaks the rows the
    // corresponding encoding variant lands on.
    "multimodal_bmp_pixels" -> q { (s, dir) =>
      Multimodal.bmpLumaTiles(
          Multimodal.synthesizeBmpPayloads(
            Tables.load(s, dir, "documents").select("doc_id"), "doc_id"),
          "doc_id")
        .filter(col("tile").isNotNull)
        .select(col("doc_id"), posexplode(col("tile")).as(Seq("k", "lum")))
        .orderBy("doc_id", "k")
    },

    // ... and pHash over those DECODED pixels — for this format the
    // published pipeline is real end to end: decode → luminance tile →
    // integer DCT → 63 AC sign bits, one codegen projection. The
    // stride-sampling stand-in remains the path for opaque payloads.
    "multimodal_phash_bmp" -> q { (s, dir) =>
      Multimodal.synthesizeBmpPayloads(
          Tables.load(s, dir, "documents").select("doc_id"), "doc_id")
        .select(col("doc_id"),
          GraftFunctions.phashBmp(col("payload")).as("phash"))
        .filter(col("phash").isNotNull)
        .orderBy("doc_id")
    },

    // Integer-DCT perceptual hash per payload — the published pHash
    // recipe (8×8 tile → 2-D DCT → sign-of-AC-vs-mean bits) in all-Long
    // arithmetic, as one codegen projection over the payload scan. The
    // oracle recomputes the full DCT from the payload bytes through the
    // interpolated integer basis table, so any slip in the sampling
    // stride, basis rounding, or threshold algebra breaks all 63 bits.
    "multimodal_phash" -> q { (s, dir) =>
      graft.operators.Dedup.phashSigs(
          Multimodal.attachPayload(
            Tables.load(s, dir, "documents"), "text", "doc_id"),
          "payload", "doc_id")
        .orderBy("doc_id")
    },

    // IMAGE near-dup pairs by perceptual hash: pigeonhole banding over
    // the 64-bit pHash (4×16-bit blocks at threshold 3 ⇒ recall 1.0 —
    // the banded join returns EXACTLY every pair at hamming ≤ 3), so
    // the oracle can be the INDEPENDENT O(n²) scan and equivalence is
    // an algorithmic theorem, not a shared shortcut (the ASOF-join
    // precedent). Planted exact-dup texts guarantee hamming-0 pairs.
    "dedup_phash" -> q { (s, dir) =>
      graft.operators.Dedup.phashPairs(
          Multimodal.attachPayload(
            Tables.load(s, dir, "documents"), "text", "doc_id"),
          "payload", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // ... and the fingerprint AT INGEST: every arriving payload carries
    // its 64-bit pHash into the lake (stateless kernel projection on
    // the stream); the banded pair join stays a batch job over the
    // accumulated hashes. Shares the batch oracle.
    "stream_multimodal_phash" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingPhash(s, dir)
    },

    // Image dedup's DAILY-INGEST shape: the lake's banded pHash rows
    // persist under the manifest protocol; an arriving delta banded-
    // broadcast-joins them for every CROSS (delta, lake) pair at
    // hamming ≤ 3 — exactly (pigeonhole both sides), with the lake
    // never shuffling (ingest cost tracks the delta). Oracle = the
    // independent delta × lake hamming scan.
    "dedup_phash_indexed" -> q { (s, dir) =>
      val pay = Multimodal.attachPayload(
        Tables.load(s, dir, "documents"), "text", "doc_id")
      val root = freshIndexRoot("phashidx", dir)
      graft.operators.Dedup.buildPhashIndexM(
        pay.filter(col("doc_id") % 5 =!= 0), "payload", "doc_id", 3, root)
      graft.operators.Dedup.indexedPhashPairsM(s, root,
          pay.filter(col("doc_id") % 5 === 0), "payload", "doc_id")
        .orderBy("delta_id", "lake_id")
    },

    // ... and the GROW leg: half the lake lands at build, the other
    // half by atomic append; the probe over the grown index must equal
    // the one-shot build's (shared oracle) — nothing stored is ever
    // rewritten, so ingest cost is the delta's hash pass alone.
    "dedup_phash_index_append" -> q { (s, dir) =>
      val pay = Multimodal.attachPayload(
        Tables.load(s, dir, "documents"), "text", "doc_id")
      val lake = pay.filter(col("doc_id") % 5 =!= 0)
      val root = freshIndexRoot("phashgrow", dir)
      graft.operators.Dedup.buildPhashIndexM(
        lake.filter(col("doc_id") % 2 === 0), "payload", "doc_id", 3, root)
      graft.operators.Dedup.appendPhashIndexM(
        lake.filter(col("doc_id") % 2 =!= 0), "payload", "doc_id", 3, root)
      graft.operators.Dedup.indexedPhashPairsM(s, root,
          pay.filter(col("doc_id") % 5 === 0), "payload", "doc_id")
        .orderBy("delta_id", "lake_id")
    },
  )

  /** DuckDB replay of a PQ search over a from-scratch encode of the full
    * corpus (sampled codebook, k=5, m=4, dsub=16, queries vec_id < 10) —
    * the shared end-state oracle of every index-lifecycle query that must
    * converge to the current corpus: append and refresh. */
  private val PqEncodedSearchOracle: String =
    """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN codes co ON co.j = qs.j AND co.vec_id <> qs.vec_id
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code
           WHERE qs.vec_id < 10),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id)
         SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  /** The GROWING-stream ANN oracle: every vector gets an arrival rank
    * (lake = -1, arrival batch b = (vec_id%30)//10), queries are ALL
    * arrivals, and a query in batch b scores only codes of vectors that
    * arrived STRICTLY earlier — the index-as-of-previous-batch
    * semantics of the ingest loop. Same fixed codebook sample and ADC
    * grid as [[PqEncodedSearchOracle]]. */
  private val PqGrowingSearchOracle: String =
    """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         ranked AS (
           SELECT vec_id,
                  CASE WHEN vec_id % 10 < 8 THEN -1
                       ELSE (vec_id % 30) // 10 END AS rk
           FROM embeddings),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN ranked rq ON rq.vec_id = qs.vec_id AND rq.rk >= 0
           JOIN codes co ON co.j = qs.j
           JOIN ranked rc ON rc.vec_id = co.vec_id AND rc.rk < rq.rk
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id)
         SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  /** The GROWING-stream IVF oracle: every vector gets an arrival rank
    * (lake = -1, batch b = (vec_id%30)//10), queries are ALL arrivals,
    * each probing its 2 nearest centroids, and a query in batch b scores
    * only vectors that arrived STRICTLY earlier AND sit in a probed
    * cluster — the assignment-as-of-previous-batch semantics. Same
    * centroid sample and assignment grid as [[ivfProbedOracleSql]]. */
  private val IvfGrowingSearchOracle: String =
    """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         ranked AS (
           SELECT vec_id,
                  CASE WHEN vec_id % 10 < 8 THEN -1
                       ELSE (vec_id % 30) // 10 END AS rk
           FROM embeddings),
         clustered AS (
           SELECT a.vec_id, a.embedding, a.cluster, r.rk
           FROM assign a JOIN ranked r USING (vec_id) WHERE a.crn = 1),
         probes AS (
           SELECT a.vec_id AS query_id, a.embedding AS qv, a.cluster, r.rk
           FROM assign a JOIN ranked r USING (vec_id)
           WHERE r.rk >= 0 AND a.crn <= 2),
         scored AS (
           SELECT q.query_id, c.cluster AS cluster, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.qv::double[], q.qv::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM probes q JOIN clustered c
             ON q.cluster = c.cluster AND c.rk < q.rk)
         SELECT query_id, cluster, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  /** The GROWING-stream IVF-PQ oracle: the [[IvfGrowingSearchOracle]]
    * probe/arrival-rank structure with [[PqGrowingSearchOracle]]'s ADC
    * scoring — a query in batch b ADC-scores codes of vectors that
    * arrived STRICTLY earlier AND sit in one of its 2 probed clusters.
    * Same fixed centroid sample, codeword grid, and rounding as the
    * inline sim_topk_ivfpq oracle. */
  private val IvfPqGrowingSearchOracle: String =
    """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         ranked AS (
           SELECT vec_id,
                  CASE WHEN vec_id % 10 < 8 THEN -1
                       ELSE (vec_id % 30) // 10 END AS rk
           FROM embeddings),
         clustered AS (
           SELECT a.vec_id, a.cluster, r.rk
           FROM assign a JOIN ranked r USING (vec_id) WHERE a.crn = 1),
         probes AS (
           SELECT a.vec_id AS query_id, a.cluster, r.rk
           FROM assign a JOIN ranked r USING (vec_id)
           WHERE r.rk >= 0 AND a.crn <= 2),
         cand AS (
           SELECT p.query_id, c.vec_id AS neighbor_id, c.cluster
           FROM probes p JOIN clustered c
             ON c.cluster = p.cluster AND c.rk < p.rk),
         terms AS (
           SELECT cand.query_id, cand.neighbor_id, cand.cluster,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM cand
           JOIN sub qs ON qs.vec_id = cand.query_id
           JOIN codes co ON co.vec_id = cand.neighbor_id AND co.j = qs.j
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, neighbor_id, cluster, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id, cluster)
         SELECT query_id, cluster, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  /** The GROWING-stream hard-negatives oracle: every doc gets an arrival
    * rank (lake = -1, batch b = (doc_id%30)//10); each arrival's
    * distinct terms are its query, candidates are docs that arrived
    * STRICTLY earlier, and — the point — idf and avgdl normalize over
    * exactly that earlier corpus (per-batch df / N / sumdl), replaying
    * the stats-as-of-previous-batch semantics of the transactional
    * postings+stats commit. */
  private def growingBm25NegativesOracleSql: String =
    s"""WITH ranked AS (
           SELECT doc_id, text,
                  CASE WHEN doc_id % 10 < 8 THEN -1
                       ELSE (doc_id % 30) // 10 END AS rk
           FROM documents),
         q AS (
           SELECT DISTINCT rk, query_id, term FROM (
             SELECT rk, doc_id AS query_id,
                    unnest(string_split(text, ' ')) AS term
             FROM ranked WHERE rk >= 0)
           WHERE term <> ''),
         toks AS (
           SELECT rk, doc_id, len(string_split(text, ' ')) AS dl,
                  unnest(string_split(text, ' ')) AS term
           FROM ranked),
         tf AS (
           SELECT rk, term, doc_id, any_value(dl) AS dl, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2, 3),
         bs AS (SELECT unnest(range(3)) AS b),
         df AS (
           SELECT bs.b, tf.term, count(*) AS df
           FROM bs JOIN tf ON tf.rk < bs.b GROUP BY 1, 2),
         c AS (
           SELECT bs.b, count(*)::bigint AS n,
                  sum(len(string_split(r.text, ' ')))::bigint AS sumdl
           FROM bs JOIN ranked r ON r.rk < bs.b GROUP BY 1),
         contrib AS (
           SELECT q.query_id, tf.doc_id,
             round(
               ln(1.0 + (c.n::double - df.df + 0.5) / (df.df + 0.5)) *
               ((tf.tf * ${Retrieval.K1 + 1.0}) /
                (tf.tf + ${Retrieval.K1} *
                  (${1.0 - Retrieval.B} + ${Retrieval.B} *
                    (tf.dl / (c.sumdl::double / c.n))))),
               6)::DECIMAL(38,10) AS w
           FROM q
           JOIN tf ON tf.term = q.term AND tf.rk < q.rk
           JOIN df ON df.term = q.term AND df.b = q.rk
           JOIN c ON c.b = q.rk),
         scored AS (
           SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
           FROM contrib GROUP BY 1, 2)
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
         FROM scored QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""

  /** DuckDB replay of the inline multi-probe IVF search, parametrized by
    * the CORPUS membership predicate — "true" replays the full-corpus
    * search (the served / appended / refreshed end state); a narrower
    * predicate replays a PINNED historical version whose assignment
    * covered only that slice. Centroids and queries always come from the
    * full table (the centroid sample is fixed at build time; queries are
    * the caller's). */
  /** Shared JL CTE pair: regenerate the ±1 sign matrix from the digest60
    * twin over the exact `'jl:'||i||':'||j` strings
    * [[graft.functions.JlSignsRef.generate]] hashes, then project every
    * embedding — `list_dot_product` folds left-to-right like the kernel
    * loop, so `pv` is bit-identical to the Spark side's projection. */
  private val JlProjCte: String =
    """signs AS (
         SELECT i, list(CASE WHEN ((('0x'||substr(md5('jl:'||i||':'||j),1,15))::bigint) % 2)=0
                             THEN 1.0 ELSE -1.0 END ORDER BY j) AS sv
         FROM range(0,16) t1(i), range(0,64) t2(j) GROUP BY i),
       proj AS (
         SELECT e.vec_id, list(list_dot_product(e.embedding::double[], s.sv) ORDER BY s.i) AS pv
         FROM embeddings e, signs s GROUP BY e.vec_id)"""

  /** The GROWING-stream JL oracle: arrival ranks (lake −1, batch b =
    * (vec_id%30)//10), queries are ALL arrivals, coarse top-k·refine in
    * the projected space among STRICTLY-earlier rows only (same-batch
    * rows share a rank, so self-exclusion is implied), exact rerank of
    * the shortlist. Same sign matrix (a pure function of (m, d)) and
    * rounding grid as the inline jl_rerank oracle. */
  private val JlGrowingSearchOracle: String =
    s"""WITH $JlProjCte,
       ranked AS (
         SELECT vec_id,
                CASE WHEN vec_id % 10 < 8 THEN -1
                     ELSE (vec_id % 30) // 10 END AS rk
         FROM embeddings),
       cscored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(pq.pv, pc.pv) /
             (sqrt(list_dot_product(pq.pv, pq.pv)) *
              sqrt(list_dot_product(pc.pv, pc.pv))), 6) AS jlc
         FROM ranked q
         JOIN ranked c ON c.rk < q.rk
         JOIN proj pq ON pq.vec_id = q.vec_id
         JOIN proj pc ON pc.vec_id = c.vec_id
         WHERE q.rk >= 0),
       coarse AS (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY jlc DESC, neighbor_id) AS crn
         FROM cscored QUALIFY crn <= 20),
       rer AS (
         SELECT c.query_id, c.neighbor_id,
           round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
             (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
              sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
             6) AS cosine
         FROM coarse c
         JOIN embeddings q ON q.vec_id = c.query_id
         JOIN embeddings e ON e.vec_id = c.neighbor_id)
       SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
       FROM rer
       QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  /** Unrolled greedy-MMR oracle: sel1 is the pure-relevance argmax, each
    * pickT joins the not-yet-selected pool against sel(T−1) for the
    * max-sim term and ranks the exact scaled-decimal objective
    * `7·rel − 3·maxsim` (λ = 7/10 ×10) — the same k plan-construction
    * steps [[graft.operators.Similarity.mmrTopK]] unrolls. */
  /** The unrolled greedy-step CTE chain shared by both MMR oracles:
    * pickT joins the not-yet-selected pool against sel(T−1) for the
    * max-sim term and ranks the exact scaled-decimal objective
    * `λnum·rel − (λden−λnum)·maxsim`. Requires `cand(query_id,
    * neighbor_id, $relCol, cv, …)` and `sel1` in scope. */
  /** Round-6 cosine between two `cv` list columns — the pair scorer of
    * the MMR oracle chain and the ILS diversity metric. */
  private def pairCosSql(a: String, b: String): String =
    s"""round(list_dot_product($a.cv::double[], $b.cv::double[]) /
         (sqrt(list_dot_product($a.cv::double[], $a.cv::double[])) *
          sqrt(list_dot_product($b.cv::double[], $b.cv::double[]))), 6)"""

  private def mmrStepCtes(relCol: String, lNum: Int, lRest: Int): String = {
    def pairCos(a: String, b: String) = pairCosSql(a, b)
    (2 to 5).map { t =>
      s"""pick$t AS (
           SELECT query_id, neighbor_id, $relCol, cv, $t AS mmr_rank FROM (
             SELECT c.query_id, c.neighbor_id, c.$relCol, c.cv,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 (c.$relCol::decimal(38,6) * $lNum - ms.ms::decimal(38,6) * $lRest) DESC,
                 c.neighbor_id) AS rn
             FROM cand c JOIN (
               SELECT c2.query_id, c2.neighbor_id, max(${pairCos("c2", "s")}) AS ms
               FROM cand c2 JOIN sel${t - 1} s ON s.query_id = c2.query_id
               WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
                                 WHERE x.query_id = c2.query_id
                                   AND x.neighbor_id = c2.neighbor_id)
               GROUP BY c2.query_id, c2.neighbor_id) ms
             ON ms.query_id = c.query_id AND ms.neighbor_id = c.neighbor_id)
           WHERE rn = 1),
         sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pick$t)"""
    }.mkString(",\n")
  }

  /** The WITH-body through sel5 of the embedding-MMR selection — shared
    * by the ranked-output oracle and the ILS diversity oracle (which
    * also reuses `cand rnk <= 5` as the brute top-5). */
  private def mmrSelectionCtes: String = {
    val steps = mmrStepCtes("cosine", 7, 3)
    s"""scored0 AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
             (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
              sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
             6) AS cosine,
           c.embedding AS cv
         FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         WHERE q.vec_id < 10),
       cand AS (
         SELECT query_id, neighbor_id, cosine, cv,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored0 QUALIFY rnk <= 20),
       sel1 AS (SELECT query_id, neighbor_id, cosine, cv, 1 AS mmr_rank
                FROM cand WHERE rnk = 1),
       $steps"""
  }

  private def mmrOracleSql: String =
    s"""WITH $mmrSelectionCtes
       SELECT query_id, neighbor_id, cosine, mmr_rank
       FROM sel5 ORDER BY query_id, mmr_rank"""

  /** sim_mmr_diversity: mean pairwise round-6 cosine (intra-list
    * similarity) of the brute top-5 (cand rnk ≤ 5) vs the MMR
    * selection (sel5), per query — sums in DECIMAL(38,10) before one
    * double division like every mean under the hash gate. */
  private def mmrDiversityOracleSql: String =
    s"""WITH $mmrSelectionCtes,
       bsel AS (SELECT query_id, neighbor_id, cv FROM cand WHERE rnk <= 5),
       bp AS (
         SELECT a.query_id, ${pairCosSql("a", "b")} AS c
         FROM bsel a JOIN bsel b
           ON b.query_id = a.query_id AND a.neighbor_id < b.neighbor_id),
       mp AS (
         SELECT a.query_id, ${pairCosSql("a", "b")} AS c
         FROM sel5 a JOIN sel5 b
           ON b.query_id = a.query_id AND a.neighbor_id < b.neighbor_id),
       ib AS (SELECT query_id,
                round((sum(c::DECIMAL(38,10)))::double / count(*), 6) AS ils_rel
              FROM bp GROUP BY 1),
       im AS (SELECT query_id,
                round((sum(c::DECIMAL(38,10)))::double / count(*), 6) AS ils_mmr
              FROM mp GROUP BY 1)
       SELECT ib.query_id, ils_rel, ils_mmr,
              round(ils_rel - ils_mmr, 6) AS diversity_gain
       FROM ib JOIN im ON im.query_id = ib.query_id
       ORDER BY ib.query_id"""

  /** retrieval_mmr: the text_bm25_topk scoring chain (pool of 20), the
    * sim_topk_hash_embed embedding chain (renamed CTEs), per-query
    * score/max(score) relevance normalization, then the shared unrolled
    * greedy steps over `rel`. */
  private def retrievalMmrOracleSql: String =
    retrievalMmrOracleSql("SELECT * FROM documents")

  /** The same chain over a parameterized corpus — the pinned twin
    * replays pool, idf/avgdl, embeddings, and greedy selection over
    * v1's even-doc half. */
  private def retrievalMmrOracleSql(corpusSql: String): String = {
    val qvals = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
      }
      .mkString(", ")
    val steps = mmrStepCtes("rel", 7, 3)
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       btoks AS (
         SELECT doc_id, len(string_split(text, ' ')) AS dl,
                unnest(string_split(text, ' ')) AS term
         FROM ($corpusSql)),
       tf AS (
         SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
         FROM btoks WHERE term <> '' GROUP BY 1, 2),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       cst AS (SELECT count(*)::bigint AS n,
                      sum(len(string_split(text, ' ')))::bigint AS sumdl
               FROM ($corpusSql)),
       contrib AS (
         SELECT q.query_id, tf.doc_id,
           round(
             ln(1.0 + (cst.n::double - df.df + 0.5) / (df.df + 0.5)) *
             ((tf.tf * ${Retrieval.K1 + 1.0}) /
              (tf.tf + ${Retrieval.K1} *
                (${1.0 - Retrieval.B} + ${Retrieval.B} *
                  (tf.dl / (cst.sumdl::double / cst.n))))),
             6)::DECIMAL(38,10) AS w
         FROM q JOIN tf USING (term) JOIN df ON tf.term = df.term, cst),
       scored AS (
         SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
         FROM contrib GROUP BY 1, 2),
       pool AS (
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rnk
         FROM scored QUALIFY rnk <= 20),
       etoks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM ($corpusSql)),
       hashed AS (
         SELECT doc_id, CAST(h % 64 AS INT) AS i,
                CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
         FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
               FROM etoks WHERE tok <> '')),
       zeros AS (
         SELECT doc_id, CAST(j AS INT) AS i, 0.0 AS v
         FROM ($corpusSql), (SELECT unnest(range(64)) AS j)),
       summed AS (
         SELECT doc_id, i, sum(v) AS s
         FROM (SELECT * FROM hashed UNION ALL SELECT * FROM zeros)
         GROUP BY doc_id, i),
       emb AS (
         SELECT doc_id, list(CAST(s AS FLOAT) ORDER BY i) AS embedding
         FROM summed GROUP BY doc_id),
       relp AS (
         SELECT query_id, doc_id,
           round(score / max(score) OVER (PARTITION BY query_id), 6) AS rel,
           rnk
         FROM pool),
       cand AS (
         SELECT r.query_id, r.doc_id AS neighbor_id, r.rel, r.rnk,
                e.embedding AS cv
         FROM relp r JOIN emb e ON e.doc_id = r.doc_id),
       sel1 AS (SELECT query_id, neighbor_id, rel, cv, 1 AS mmr_rank
                FROM cand WHERE rnk = 1),
       $steps
       SELECT query_id, neighbor_id AS doc_id, rel, mmr_rank
       FROM sel5 ORDER BY query_id, mmr_rank"""
  }

  private def ivfProbedOracleSql(corpusPred: String): String =
    s"""WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         clustered AS (
           SELECT vec_id, embedding, cluster FROM assign
           WHERE crn = 1 AND ($corpusPred)),
         probes AS (
           SELECT vec_id AS query_id, embedding AS qv, cluster
           FROM assign WHERE vec_id < 10 AND crn <= 2),
         scored AS (
           SELECT q.query_id, c.cluster AS cluster, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.qv::double[], q.qv::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM probes q JOIN clustered c
             ON q.cluster = c.cluster AND c.vec_id <> q.query_id)
         SELECT query_id, cluster, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""

  private val baseOracles: Map[String, String] = Map(
    // null text stands alone (no null-clique): mirrored in Dedup.exact
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
           (text IS NULL OR
            doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_canonical,
           CASE WHEN text IS NULL THEN 1
                ELSE count(*) OVER (PARTITION BY md5(text)) END AS dup_count
         FROM documents ORDER BY doc_id""",

    "dedup_incremental" ->
      """WITH corpus AS (
           SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
         b AS (
           SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 >= 8),
         m AS (SELECT h, min(doc_id) AS keeper FROM b GROUP BY h)
         SELECT b.doc_id,
           CASE WHEN b.h IS NULL THEN 'null_text'
                WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> m.keeper THEN 'dup_in_batch'
                ELSE 'kept' END AS status
         FROM b LEFT JOIN corpus c ON b.h = c.h LEFT JOIN m ON b.h = m.h
         ORDER BY doc_id""",

    "dedup_minhash_sig" ->
      s"""WITH $ShinglesCte, $MinhashCte
         SELECT doc_id, seed::int AS seed, minhash FROM sig
         ORDER BY doc_id, seed""",

    "dedup_lsh_pairs" ->
      s"""WITH $ShinglesCte, $MinhashCte,
         banded AS (
           SELECT doc_id, (seed // 4) AS band,
                  md5(array_to_string(
                    list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
           FROM sig GROUP BY doc_id, band)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.band_hash = b.band_hash
          AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",

    // The estimator divides an integer match count by k, so the double is
    // exact in both engines; banding CTE identical to dedup_lsh_pairs.
    "dedup_minhash_est" ->
      s"""WITH $ShinglesCte, $MinhashCte,
         banded AS (
           SELECT doc_id, (seed // 4) AS band,
                  md5(array_to_string(
                    list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
           FROM sig GROUP BY doc_id, band),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id)
         SELECT p.id_a, p.id_b,
                sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::double
                  / 16 AS est_jaccard
         FROM pairs p
         JOIN sig sa ON sa.doc_id = p.id_a
         JOIN sig sb ON sb.doc_id = p.id_b AND sb.seed = sa.seed
         GROUP BY p.id_a, p.id_b
         ORDER BY id_a, id_b""",

    // signatures are per-doc, so computing them over the whole table and
    // splitting by parity replays the two-sided Spark pipeline exactly
    "dedup_cross_corpus" -> crossCorpusOracleSql(c => s"$c % 2 <> 0"),

    // the pinned probe sees exactly the v1 lake (%4==1): same oracle
    // shape, lake predicate narrowed to the pinned commit's corpus
    "dedup_cross_corpus_pinned" -> crossCorpusOracleSql(c => s"$c % 4 = 1"),

    "dedup_jaccard" ->
      s"""WITH $ShinglesCte,
         dig AS (
           SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
           FROM shingled),
         sizes AS (SELECT doc_id, count(*) AS sz FROM dig GROUP BY doc_id),
         keep AS (
           SELECT sh FROM dig GROUP BY sh
           HAVING count(*) <= 1000),
         f AS (SELECT d.doc_id, d.sh FROM dig d JOIN keep k USING (sh)),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(i::double / (sa.sz + sb.sz - i), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE i::double / (sa.sz + sb.sz - i) >= 0.1
         ORDER BY id_a, id_b""",

    // containment: same dig/sizes/keep/inter chain, asymmetric formula,
    // a pair survives when EITHER direction reaches the threshold
    "dedup_containment" ->
      s"""WITH $ShinglesCte,
         dig AS (
           SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
           FROM shingled),
         sizes AS (SELECT doc_id, count(*) AS sz FROM dig GROUP BY doc_id),
         keep AS (
           SELECT sh FROM dig GROUP BY sh
           HAVING count(*) <= 1000),
         f AS (SELECT d.doc_id, d.sh FROM dig d JOIN keep k USING (sh)),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(i::double / sa.sz, 6) AS cont_a,
           round(i::double / sb.sz, 6) AS cont_b
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE greatest(i::double / sa.sz, i::double / sb.sz) >= 0.5
         ORDER BY id_a, id_b""",

    "dedup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte, $MinhashCte,
         banded AS (
           SELECT doc_id, (seed // 4) AS band,
                  md5(array_to_string(
                    list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
           FROM sig GROUP BY doc_id, band),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
           UNION SELECT doc_id, doc_id FROM documents),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS doc_id, min(dst) AS cluster
         FROM reach GROUP BY src ORDER BY doc_id""",

    "dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         hashes AS (
           SELECT doc_id,
                  ('0x' || substr(md5(tok), 1, 15))::bigint AS h
           FROM toks),
         votes AS (
           SELECT doc_id, j,
                  sum(CASE WHEN (h // cast(pow(2, j) AS bigint)) % 2 = 1
                           THEN 1 ELSE -1 END) AS v
           FROM hashes, (SELECT unnest(generate_series(0, 59)) AS j)
           GROUP BY doc_id, j),
         sigs AS (
           SELECT doc_id,
                  sum(CASE WHEN v > 0 THEN cast(pow(2, j) AS bigint)
                           ELSE 0 END)::bigint AS sig
           FROM votes GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.sig, b.sig))::int AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY id_a, id_b""",

    "dedup_embedding" ->
      """WITH b AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(list_slice(embedding, 1, 8),
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             list_dot_product(a.embedding::double[], b2.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b2.embedding::double[], b2.embedding::double[]))) AS c
           FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         SELECT id_a, id_b, round(c, 6) AS cosine FROM pairs
         WHERE c >= 0.3 ORDER BY id_a, id_b""",

    // embedding pairs CTE is dedup_embedding's verbatim; CC by the same
    // recursive-reach pattern as dedup_clusters
    "dedup_embedding_clusters" ->
      """WITH RECURSIVE b AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(list_slice(embedding, 1, 8),
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b2.vec_id AS id_b
           FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
           WHERE list_dot_product(a.embedding::double[], b2.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b2.embedding::double[], b2.embedding::double[])))
             >= 0.3),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
           UNION SELECT vec_id, vec_id FROM embeddings),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS vec_id, min(dst) AS cluster,
                src = min(dst) AS is_canonical
         FROM reach GROUP BY src ORDER BY vec_id""",

    // assignment CTE is sim_topk_ivf's verbatim; dominance = some
    // same-cluster row with round-6 pair cosine >= threshold and
    // strictly higher keep-priority (centroid cosine ASC, id ASC)
    "dedup_semdedup" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         c AS (
           SELECT a.vec_id, a.embedding, a.cluster,
             round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
           FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
           JOIN cen cn ON a.cluster = cn.centroid_id),
         dominated AS (
           SELECT DISTINCT a.vec_id FROM c a JOIN c b
             ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
            AND round(list_dot_product(a.embedding::double[], b.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b.embedding::double[], b.embedding::double[]))), 6) >= 0.3
            AND (b.centroid_sim < a.centroid_sim OR
                 (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
         SELECT c.vec_id, c.cluster, c.centroid_sim,
                (d.vec_id IS NULL) AS keep
         FROM c LEFT JOIN dominated d ON c.vec_id = d.vec_id
         ORDER BY c.vec_id""",

    // capped twin: dedup_semdedup's CTE chain with oversize clusters
    // (count > 100) removed before the dominance screen — visible-drop
    // semantics, the dropped clusters' rows leave the output entirely
    "dedup_semdedup_capped" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         c0 AS (
           SELECT a.vec_id, a.embedding, a.cluster,
             round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
           FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
           JOIN cen cn ON a.cluster = cn.centroid_id),
         c AS (
           SELECT * FROM c0 WHERE cluster IN (
             SELECT cluster FROM c0 GROUP BY cluster HAVING count(*) <= 100)),
         dominated AS (
           SELECT DISTINCT a.vec_id FROM c a JOIN c b
             ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
            AND round(list_dot_product(a.embedding::double[], b.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b.embedding::double[], b.embedding::double[]))), 6) >= 0.3
            AND (b.centroid_sim < a.centroid_sim OR
                 (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
         SELECT c.vec_id, c.cluster, c.centroid_sim,
                (d.vec_id IS NULL) AS keep
         FROM c LEFT JOIN dominated d ON c.vec_id = d.vec_id
         ORDER BY c.vec_id""",

    // trained twin: one Lloyd round (sim_ivf_trained's cen0→cen1 chain
    // verbatim) supplies the centroid set; the dominance tail is
    // dedup_semdedup's, re-run over the trained partition
    "dedup_semdedup_trained" ->
      """WITH cen0 AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign0 AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen0),
         pos0 AS (
           SELECT cluster, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS pos
           FROM assign0 WHERE crn = 1),
         cen AS (
           SELECT cluster AS centroid_id, list(m ORDER BY pos) AS cemb
           FROM (SELECT cluster, pos,
                        round(sum(v::decimal(38,10))::double / count(*), 6)::float AS m
                 FROM pos0 GROUP BY cluster, pos)
           GROUP BY cluster),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         c AS (
           SELECT a.vec_id, a.embedding, a.cluster,
             round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
           FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
           JOIN cen cn ON a.cluster = cn.centroid_id),
         dominated AS (
           SELECT DISTINCT a.vec_id FROM c a JOIN c b
             ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
            AND round(list_dot_product(a.embedding::double[], b.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b.embedding::double[], b.embedding::double[]))), 6) >= 0.3
            AND (b.centroid_sim < a.centroid_sim OR
                 (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
         SELECT c.vec_id, c.cluster, c.centroid_sim,
                (d.vec_id IS NULL) AS keep
         FROM c LEFT JOIN dominated d ON c.vec_id = d.vec_id
         ORDER BY c.vec_id""",

    // assignment + centroid_sim CTEs are dedup_semdedup's verbatim;
    // prototypicality rank = (centroid_sim DESC, id ASC) within the
    // cluster; keep iff rank*den > n*num — the all-integer floor(30%)
    // drop threshold
    "curation_prototype_prune" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         c AS (
           SELECT a.vec_id, a.cluster,
             round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
           FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
           JOIN cen cn ON a.cluster = cn.centroid_id),
         n AS (SELECT cluster, count(*) AS n FROM c GROUP BY cluster),
         r AS (
           SELECT vec_id, cluster, centroid_sim,
             row_number() OVER (PARTITION BY cluster
               ORDER BY centroid_sim DESC, vec_id) AS proto_rank
           FROM c)
         SELECT r.vec_id, r.cluster, r.centroid_sim, r.proto_rank,
                (r.proto_rank * 10 > n.n * 3) AS keep
         FROM r JOIN n ON r.cluster = n.cluster
         ORDER BY r.vec_id""",

    // the D4 chain: dedup_semdedup's CTEs produce the survivors, then
    // curation_prototype_prune's rank/threshold tail runs AMONG the
    // survivors
    "curation_d4_pipeline" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         c AS (
           SELECT a.vec_id, a.embedding, a.cluster,
             round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
           FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
           JOIN cen cn ON a.cluster = cn.centroid_id),
         dominated AS (
           SELECT DISTINCT a.vec_id FROM c a JOIN c b
             ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
            AND round(list_dot_product(a.embedding::double[], b.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b.embedding::double[], b.embedding::double[]))), 6) >= 0.3
            AND (b.centroid_sim < a.centroid_sim OR
                 (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id))),
         kept AS (
           SELECT c.vec_id, c.cluster, c.centroid_sim
           FROM c LEFT JOIN dominated d ON c.vec_id = d.vec_id
           WHERE d.vec_id IS NULL),
         n AS (SELECT cluster, count(*) AS n FROM kept GROUP BY cluster),
         r AS (
           SELECT vec_id, cluster, centroid_sim,
             row_number() OVER (PARTITION BY cluster
               ORDER BY centroid_sim DESC, vec_id) AS proto_rank
           FROM kept)
         SELECT r.vec_id, r.cluster, r.centroid_sim, r.proto_rank,
                (r.proto_rank * 10 > n.n * 3) AS keep
         FROM r JOIN n ON r.cluster = n.cluster
         ORDER BY r.vec_id""",

    "sim_topk_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(qv::double[], qv::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM q JOIN embeddings e ON e.vec_id <> query_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_lsh" ->
      """WITH b AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(list_slice(embedding, 1, 4),
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, q.bucket AS bucket,
             c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, bucket, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 3 ORDER BY query_id, rnk""",

    "sim_topk_ivf" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         clustered AS (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1),
         scored AS (
           SELECT q.vec_id AS query_id, q.cluster AS cluster,
             c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM clustered q JOIN clustered c
             ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, cluster, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_ivf_probed" -> ivfProbedOracleSql("true"),

    "sim_ivf_trained" ->
      """WITH cen0 AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign0 AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen0),
         pos0 AS (
           SELECT cluster, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS pos
           FROM assign0 WHERE crn = 1),
         cen1 AS (
           SELECT cluster AS centroid_id,
                  list(m ORDER BY pos) AS cemb
           FROM (SELECT cluster, pos,
                        round(sum(v::decimal(38,10))::double / count(*), 6)::float AS m
                 FROM pos0 GROUP BY cluster, pos)
           GROUP BY cluster),
         assign1 AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen1),
         pos1 AS (
           SELECT cluster, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS pos
           FROM assign1 WHERE crn = 1),
         cen2 AS (
           SELECT cluster AS centroid_id,
                  list(m ORDER BY pos) AS cemb
           FROM (SELECT cluster, pos,
                        round(sum(v::decimal(38,10))::double / count(*), 6)::float AS m
                 FROM pos1 GROUP BY cluster, pos)
           GROUP BY cluster),
         assign2 AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen2),
         clustered AS (SELECT vec_id, embedding, cluster FROM assign2 WHERE crn = 1),
         scored AS (
           SELECT q.vec_id AS query_id, q.cluster AS cluster,
             c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM clustered q JOIN clustered c
             ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, cluster, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_sq8" ->
      """WITH qz AS (
           SELECT vec_id,
             CASE WHEN s IS NULL OR s = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::double * 127.0 / s + 0.5) AS INT)) END AS qv
           FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x::double))) AS s
                 FROM embeddings)),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qv::double[], c.qv::double[]) AS BIGINT) AS score
           FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_sq8_rerank" ->
      """WITH qz AS (
           SELECT vec_id,
             CASE WHEN s IS NULL OR s = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::double * 127.0 / s + 0.5) AS INT)) END AS qv
           FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x::double))) AS s
                 FROM embeddings)),
         coarse AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_dot_product(q.qv::double[], c.qv::double[]) AS BIGINT) DESC,
               c.vec_id) AS crn
           FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10
           QUALIFY crn <= 10),
         rerank AS (
           SELECT query_id, neighbor_id,
             round(list_dot_product(eq.embedding::double[], ec.embedding::double[]) /
               (sqrt(list_dot_product(eq.embedding::double[], eq.embedding::double[])) *
                sqrt(list_dot_product(ec.embedding::double[], ec.embedding::double[]))),
               6) AS cosine
           FROM coarse
           JOIN embeddings eq ON eq.vec_id = query_id
           JOIN embeddings ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM rerank
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_pq" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN codes co ON co.j = qs.j AND co.vec_id <> qs.vec_id
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code
           WHERE qs.vec_id < 10),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id)
         SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_ivfpq" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         clustered AS (SELECT vec_id, cluster FROM assign WHERE crn = 1),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         probes AS (
           SELECT vec_id AS query_id, cluster FROM assign
           WHERE vec_id < 10 AND crn <= 2),
         cand AS (
           SELECT p.query_id, c.vec_id AS neighbor_id, c.cluster
           FROM probes p JOIN clustered c
             ON c.cluster = p.cluster AND c.vec_id <> p.query_id),
         terms AS (
           SELECT cand.query_id, cand.neighbor_id, cand.cluster,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM cand
           JOIN sub qs ON qs.vec_id = cand.query_id
           JOIN codes co ON co.vec_id = cand.neighbor_id AND co.j = qs.j
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, neighbor_id, cluster, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id, cluster)
         SELECT query_id, cluster, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "ann_recall_ivf" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         clustered AS (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1),
         ivfscored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM clustered q JOIN clustered c
             ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         ivf AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM ivfscored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b LEFT JOIN ivf i
           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id""",

    "sim_topk_ivfpq_residual" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         respos AS (
           SELECT a.vec_id, a.cluster, unnest(a.embedding) AS v,
                  generate_subscripts(a.embedding, 1) AS pos
           FROM assign a WHERE a.crn = 1),
         res AS (
           SELECT r.vec_id, r.cluster,
                  list((r.v::double - cen.cemb[r.pos]::double)::real ORDER BY r.pos) AS remb
           FROM respos r JOIN cen ON cen.centroid_id = r.cluster
           GROUP BY r.vec_id, r.cluster),
         sub AS (
           SELECT vec_id, cluster, j, list_slice(remb, j*16 + 1, j*16 + 16) AS sv
           FROM res, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 50),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         qrespos AS (
           SELECT p.query_id, p.cluster, unnest(e.embedding) AS v,
                  generate_subscripts(e.embedding, 1) AS pos
           FROM (SELECT vec_id AS query_id, cluster FROM assign
                 WHERE vec_id < 10 AND crn <= 2) p
           JOIN embeddings e ON e.vec_id = p.query_id),
         qres AS (
           SELECT r.query_id, r.cluster,
                  list((r.v::double - cen.cemb[r.pos]::double)::real ORDER BY r.pos) AS qr
           FROM qrespos r JOIN cen ON cen.centroid_id = r.cluster
           GROUP BY r.query_id, r.cluster),
         qsub AS (
           SELECT query_id, cluster, j, list_slice(qr, j*16 + 1, j*16 + 16) AS sv,
                  round(list_dot_product(qr::double[], qr::double[]), 6) AS q2
           FROM qres, js),
         cand AS (
           SELECT q.query_id, q.cluster, c.vec_id AS neighbor_id
           FROM qres q JOIN res c ON c.cluster = q.cluster AND c.vec_id <> q.query_id),
         terms AS (
           SELECT cand.query_id, cand.cluster, cand.neighbor_id, qs.q2,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS t1,
                  round(list_dot_product(cb.cw::double[], cb.cw::double[]), 6) AS t2
           FROM cand
           JOIN qsub qs ON qs.query_id = cand.query_id AND qs.cluster = cand.cluster
           JOIN codes co ON co.vec_id = cand.neighbor_id AND co.j = qs.j
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, cluster, neighbor_id,
                  round(any_value(q2) - 2*sum(t1) + sum(t2), 6) AS dist
           FROM terms GROUP BY query_id, cluster, neighbor_id)
         SELECT query_id, cluster, neighbor_id, dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist ASC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_mmr" -> mmrOracleSql,

    "sim_mmr_diversity" -> mmrDiversityOracleSql,

    "retrieval_mmr" -> retrievalMmrOracleSql,
    // served pool probes the committed index: stored df == counted df
    "retrieval_mmr_served" -> retrievalMmrOracleSql,
    // the pin replays the whole chain over v1's even-doc half
    "retrieval_mmr_pinned" ->
      retrievalMmrOracleSql("SELECT * FROM documents WHERE doc_id % 2 = 0"),

    "ann_recall_jl_rerank" ->
      s"""WITH $JlProjCte,
         cscored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.pv, c.pv) /
               (sqrt(list_dot_product(q.pv, q.pv)) *
                sqrt(list_dot_product(c.pv, c.pv))), 6) AS jlc
           FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         coarse AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jlc DESC, neighbor_id) AS crn
           FROM cscored QUALIFY crn <= 20),
         rer AS (
           SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM coarse c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings e ON e.vec_id = c.neighbor_id),
         jlr AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM rer QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b2.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b2 LEFT JOIN jlr i
           ON i.query_id = b2.query_id AND i.neighbor_id = b2.neighbor_id
         GROUP BY b2.query_id ORDER BY b2.query_id""",

    "sim_topk_jl" ->
      s"""WITH $JlProjCte,
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.pv, c.pv) /
               (sqrt(list_dot_product(q.pv, q.pv)) *
                sqrt(list_dot_product(c.pv, c.pv))), 6) AS jl_cosine
           FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, jl_cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY jl_cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_jl_rerank" ->
      s"""WITH $JlProjCte,
         cscored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.pv, c.pv) /
               (sqrt(list_dot_product(q.pv, q.pv)) *
                sqrt(list_dot_product(c.pv, c.pv))), 6) AS jlc
           FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         coarse AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jlc DESC, neighbor_id) AS crn
           FROM cscored QUALIFY crn <= 20),
         rer AS (
           SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM coarse c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings e ON e.vec_id = c.neighbor_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM rer
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "ann_recall_jl" ->
      s"""WITH $JlProjCte,
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.pv, c.pv) /
               (sqrt(list_dot_product(q.pv, q.pv)) *
                sqrt(list_dot_product(c.pv, c.pv))), 6) AS jlc
           FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         jl AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jlc DESC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b2.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b2 LEFT JOIN jl i
           ON i.query_id = b2.query_id AND i.neighbor_id = b2.neighbor_id
         GROUP BY b2.query_id ORDER BY b2.query_id""",

    "ann_recall_lsh" ->
      """WITH b AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(list_slice(embedding, 1, 4),
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], c.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(c.embedding::double[], c.embedding::double[]))),
               6) AS cosine
           FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         lsh AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b2.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b2 LEFT JOIN lsh i
           ON i.query_id = b2.query_id AND i.neighbor_id = b2.neighbor_id
         GROUP BY b2.query_id ORDER BY b2.query_id""",

    "ann_recall_sq8" ->
      """WITH qz AS (
           SELECT vec_id,
             CASE WHEN s IS NULL OR s = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::double * 127.0 / s + 0.5) AS INT)) END AS qv
           FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x::double))) AS s
                 FROM embeddings)),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qv::double[], c.qv::double[]) AS BIGINT) AS score
           FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         sq8 AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b LEFT JOIN sq8 i
           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id""",

    "ann_recall_pq" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN codes co ON co.j = qs.j AND co.vec_id <> qs.vec_id
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code
           WHERE qs.vec_id < 10),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id),
         pq AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b LEFT JOIN pq i
           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id""",

    "ann_recall_ivfpq" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 50),
         cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         clustered AS (SELECT vec_id, cluster FROM assign WHERE crn = 1),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         probes AS (
           SELECT vec_id AS query_id, cluster FROM assign
           WHERE vec_id < 10 AND crn <= 2),
         cand AS (
           SELECT p.query_id, c.vec_id AS neighbor_id
           FROM probes p JOIN clustered c
             ON c.cluster = p.cluster AND c.vec_id <> p.query_id),
         terms AS (
           SELECT cand.query_id, cand.neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM cand
           JOIN sub qs ON qs.vec_id = cand.query_id
           JOIN codes co ON co.vec_id = cand.neighbor_id AND co.j = qs.j
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id),
         ivfpq AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b LEFT JOIN ivfpq i
           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id""",

    "ann_recall_ivfpq_residual" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, e.embedding, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen),
         respos AS (
           SELECT a.vec_id, a.cluster, unnest(a.embedding) AS v,
                  generate_subscripts(a.embedding, 1) AS pos
           FROM assign a WHERE a.crn = 1),
         res AS (
           SELECT r.vec_id, r.cluster,
                  list((r.v::double - cen.cemb[r.pos]::double)::real ORDER BY r.pos) AS remb
           FROM respos r JOIN cen ON cen.centroid_id = r.cluster
           GROUP BY r.vec_id, r.cluster),
         sub AS (
           SELECT vec_id, cluster, j, list_slice(remb, j*16 + 1, j*16 + 16) AS sv
           FROM res, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 50),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         qrespos AS (
           SELECT p.query_id, p.cluster, unnest(e.embedding) AS v,
                  generate_subscripts(e.embedding, 1) AS pos
           FROM (SELECT vec_id AS query_id, cluster FROM assign
                 WHERE vec_id < 10 AND crn <= 2) p
           JOIN embeddings e ON e.vec_id = p.query_id),
         qres AS (
           SELECT r.query_id, r.cluster,
                  list((r.v::double - cen.cemb[r.pos]::double)::real ORDER BY r.pos) AS qr
           FROM qrespos r JOIN cen ON cen.centroid_id = r.cluster
           GROUP BY r.query_id, r.cluster),
         qsub AS (
           SELECT query_id, cluster, j, list_slice(qr, j*16 + 1, j*16 + 16) AS sv,
                  round(list_dot_product(qr::double[], qr::double[]), 6) AS q2
           FROM qres, js),
         cand AS (
           SELECT q.query_id, q.cluster, c.vec_id AS neighbor_id
           FROM qres q JOIN res c ON c.cluster = q.cluster AND c.vec_id <> q.query_id),
         terms AS (
           SELECT cand.query_id, cand.cluster, cand.neighbor_id, qs.q2,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS t1,
                  round(list_dot_product(cb.cw::double[], cb.cw::double[]), 6) AS t2
           FROM cand
           JOIN qsub qs ON qs.query_id = cand.query_id AND qs.cluster = cand.cluster
           JOIN codes co ON co.vec_id = cand.neighbor_id AND co.j = qs.j
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code),
         scored AS (
           SELECT query_id, neighbor_id,
                  round(any_value(q2) - 2*sum(t1) + sum(t2), 6) AS dist
           FROM terms GROUP BY query_id, cluster, neighbor_id),
         resid AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, neighbor_id) AS rnk
           FROM scored QUALIFY rnk <= 5),
         bscored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(q.embedding::double[], q.embedding::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         brute AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM bscored QUALIFY rnk <= 5)
         SELECT b.query_id,
           round(count(i.neighbor_id)::double / count(*), 6) AS recall
         FROM brute b LEFT JOIN resid i
           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id""",

    "text_chunk" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  CAST(((greatest(len(string_split(text, ' ')) - 64, 0) + 47) // 48) + 1
                       AS INT) AS nchunks
           FROM documents),
         c AS (
           SELECT doc_id, toks, CAST(unnest(range(nchunks)) AS INT) AS chunk_id FROM t)
         SELECT doc_id, chunk_id,
           array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) AS INT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",

    "text_redact_pii" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 trim(regexp_replace(lower(
                   text || ' reach user' || doc_id || '@mail.example.org'
                        || ' or 555-867-5309 from 10.1.2.3'),
                   '\s+', ' ', 'g')),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
         FROM documents ORDER BY doc_id""",

    // append converges to the from-scratch index, so the oracle is the
    // flat-PQ search replay over the full corpus (same k/m/codewords)
    "sim_pq_index_append" -> PqEncodedSearchOracle,

    // refresh converges the index to today's corpus, so the search over
    // it replays the same from-scratch oracle as the append path
    "sim_pq_index_refresh" -> PqEncodedSearchOracle,

    "dedup_edit_distance" ->
      """WITH k AS (
           SELECT doc_id, substr(text, 1, 40) AS key, substr(text, 1, 8) AS blk
           FROM documents WHERE text IS NOT NULL)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                levenshtein(a.key, b.key) AS dist
         FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE levenshtein(a.key, b.key) <= 10
         ORDER BY id_a, id_b""",

    "dedup_repeated_spans" ->
      s"""WITH $SpansCtes
         SELECT doc_id, span_start, span_end FROM spans
         ORDER BY doc_id, span_start""",

    // The strip step: per-position complement of the (disjoint) spans,
    // reassembled in position order — mechanically different from the
    // Spark fold over the span array, but byte-identical by construction.
    "dedup_span_strip" ->
      s"""WITH $SpansCtes,
         cov AS (
           SELECT doc_id, sum(span_end - span_start + 1)::bigint AS covered
           FROM spans GROUP BY doc_id),
         chars AS (
           SELECT doc_id, unnest(generate_series(1, length(text)))::int AS pos, text
           FROM documents
           WHERE text IS NOT NULL AND doc_id IN (SELECT doc_id FROM spans)),
         kept AS (
           SELECT c.doc_id, c.pos, substr(c.text, c.pos, 1) AS ch
           FROM chars c
           WHERE NOT EXISTS (SELECT 1 FROM spans s
             WHERE s.doc_id = c.doc_id
               AND c.pos BETWEEN s.span_start AND s.span_end)),
         clean AS (
           SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS ct
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(cov.covered, 0) AS covered_chars,
                length(d.text) AS total_chars,
                CASE WHEN clean.ct IS NOT NULL THEN clean.ct
                     WHEN cov.covered IS NOT NULL THEN ''
                     ELSE d.text END AS clean_text
         FROM documents d
         LEFT JOIN cov ON cov.doc_id = d.doc_id
         LEFT JOIN clean ON clean.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    "dedup_repeated_token_spans" ->
      s"""WITH $TokenSpansCtes
         SELECT doc_id, span_start, span_end FROM tspans
         ORDER BY doc_id, span_start""",

    // Incremental spans: delta grams are repeated iff their digest exists
    // among the lake's distinct digests (disjoint ids: one lake occurrence
    // already makes two docs) OR in >= 2 distinct delta docs; the islands
    // merge is the standard exclusive-prev-end chain over delta positions.
    "dedup_spans_incremental" ->
      s"""WITH dgrams AS (
           SELECT doc_id,
                  unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                  text
           FROM documents
           WHERE doc_id % 10 >= 8 AND text IS NOT NULL
             AND length(text) >= $SpanGramChars),
         dgd AS (
           SELECT doc_id, pos,
                  ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
           FROM dgrams),
         lakegd AS (
           SELECT DISTINCT
                  ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
           FROM (
             SELECT unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                    text
             FROM documents
             WHERE doc_id % 10 < 8 AND text IS NOT NULL
               AND length(text) >= $SpanGramChars)),
         irep AS (
           SELECT h FROM dgd GROUP BY h HAVING min(doc_id) <> max(doc_id)
           UNION
           SELECT h FROM lakegd WHERE h IN (SELECT h FROM dgd)),
         ipts AS (SELECT doc_id, pos FROM dgd WHERE h IN (SELECT h FROM irep)),
         iisl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos + $SpanGramChars) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
           FROM ipts),
         igrp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM iisl),
         ispans AS (
           SELECT doc_id, min(pos) AS span_start,
                  max(pos) + ${SpanGramChars - 1} AS span_end
           FROM igrp GROUP BY doc_id, island)
         SELECT doc_id, span_start, span_end FROM ispans
         ORDER BY doc_id, span_start""",

    // Keep-first: per repeated digest the owner (least of the index's
    // stored owner and the delta minimum) keeps its copy; only non-owner
    // delta occurrences feed the islands merge.
    "dedup_spans_incremental_keep_first" ->
      s"""WITH dgrams AS (
           SELECT doc_id,
                  unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                  text
           FROM documents
           WHERE doc_id % 10 >= 8 AND text IS NOT NULL
             AND length(text) >= $SpanGramChars),
         dgd AS (
           SELECT doc_id, pos,
                  ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
           FROM dgrams),
         lidx AS (
           SELECT ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h,
                  min(doc_id) AS owner
           FROM (
             SELECT doc_id,
                    unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                    text
             FROM documents
             WHERE doc_id % 10 < 8 AND text IS NOT NULL
               AND length(text) >= $SpanGramChars)
           GROUP BY 1),
         irep AS (
           SELECT d.h,
                  CASE WHEN l.owner IS NOT NULL THEN least(l.owner, d.lo)
                       ELSE d.lo END AS owner
           FROM (SELECT h, min(doc_id) AS lo, max(doc_id) AS hi
                 FROM dgd GROUP BY h) d
           LEFT JOIN lidx l ON l.h = d.h
           WHERE l.owner IS NOT NULL OR d.lo <> d.hi),
         ipts AS (
           SELECT g.doc_id, g.pos FROM dgd g JOIN irep r ON g.h = r.h
           WHERE g.doc_id <> r.owner),
         iisl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos + $SpanGramChars) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
           FROM ipts),
         igrp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM iisl),
         ispans AS (
           SELECT doc_id, min(pos) AS span_start,
                  max(pos) + ${SpanGramChars - 1} AS span_end
           FROM igrp GROUP BY doc_id, island)
         SELECT doc_id, span_start, span_end FROM ispans
         ORDER BY doc_id, span_start""",

    // Grown index = lake rows untouched (owner = min LAKE id) + novel
    // delta digests (owner = min DELTA id) + owner-LOWERING rows for
    // shared digests where the delta id undercuts the stored owner
    // (readers reduce min per digest) — the append-only contract.
    "dedup_spans_index_append" ->
      s"""WITH lgd AS (
           SELECT doc_id,
                  ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
           FROM (
             SELECT doc_id,
                    unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                    text
             FROM documents
             WHERE doc_id % 10 < 8 AND text IS NOT NULL
               AND length(text) >= $SpanGramChars)),
         dgd AS (
           SELECT doc_id,
                  ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h
           FROM (
             SELECT doc_id,
                    unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                    text
             FROM documents
             WHERE doc_id % 10 >= 8 AND text IS NOT NULL
               AND length(text) >= $SpanGramChars)),
         lidx AS (SELECT h, min(doc_id) AS owner FROM lgd GROUP BY h),
         didx AS (SELECT h, min(doc_id) AS owner FROM dgd GROUP BY h)
         SELECT h, owner FROM lidx
         UNION ALL
         SELECT h, owner FROM didx WHERE h NOT IN (SELECT h FROM lidx)
         UNION ALL
         SELECT d.h, d.owner FROM didx d
         JOIN lidx l ON l.h = d.h AND d.owner < l.owner
         ORDER BY h, owner""",

    // Compacted log ≡ the from-scratch index over the WHOLE corpus:
    // min doc id per gram digest, straight from the raw documents.
    "dedup_spans_index_compact" ->
      s"""SELECT ('0x' || substr(md5(substr(text, pos, $SpanGramChars)), 1, 15))::bigint AS h,
                min(doc_id) AS owner
         FROM (
           SELECT doc_id,
                  unnest(generate_series(1, length(text) - ${SpanGramChars - 1}))::int AS pos,
                  text
           FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL
             AND length(text) >= $SpanGramChars)
         GROUP BY 1 ORDER BY h""",

    "dedup_spans_keep_first" ->
      s"""WITH $KeepFirstSpanCtes
         SELECT doc_id, span_start, span_end FROM fspans
         ORDER BY doc_id, span_start""",

    // Same per-position complement reassembly as dedup_span_strip, over
    // the keep-first span set: owners and spanless docs fall through the
    // left joins byte-identical.
    "dedup_strip_keep_first" ->
      s"""WITH $KeepFirstSpanCtes,
         fcov AS (
           SELECT doc_id, sum(span_end - span_start + 1)::bigint AS covered
           FROM fspans GROUP BY doc_id),
         fchars AS (
           SELECT doc_id, unnest(generate_series(1, length(text)))::int AS pos, text
           FROM documents
           WHERE text IS NOT NULL AND doc_id IN (SELECT doc_id FROM fspans)),
         fkept AS (
           SELECT c.doc_id, c.pos, substr(c.text, c.pos, 1) AS ch
           FROM fchars c
           WHERE NOT EXISTS (SELECT 1 FROM fspans s
             WHERE s.doc_id = c.doc_id
               AND c.pos BETWEEN s.span_start AND s.span_end)),
         fclean AS (
           SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS ct
           FROM fkept GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(fcov.covered, 0) AS covered_chars,
                length(d.text) AS total_chars,
                CASE WHEN fclean.ct IS NOT NULL THEN fclean.ct
                     WHEN fcov.covered IS NOT NULL THEN ''
                     ELSE d.text END AS clean_text
         FROM documents d
         LEFT JOIN fcov ON fcov.doc_id = d.doc_id
         LEFT JOIN fclean ON fclean.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    "text_bigram_lm" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         bg AS (
           SELECT a.doc_id, a.tok AS w1, b.tok AS w2
           FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1)
         SELECT bg.doc_id,
           CAST(round(round(sum(round(c2.c2::double / c1.c1, 6)), 6) * 1000000, 0)
                AS BIGINT) // count(*) AS fluency_micro,
           count(*) AS n_bigrams
         FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         GROUP BY bg.doc_id ORDER BY bg.doc_id""",

    "text_vocab_coverage" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         vocab AS (
           SELECT tok FROM freq
           QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= 16)
         SELECT t.doc_id, count(*) AS n_tokens,
           round((count(*) - count(v.tok))::double / count(*), 6) AS oov_ratio
         FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""",

    "dedup_semantic" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         hashed AS (
           SELECT doc_id, CAST(h % 64 AS INT) AS i,
                  CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
           FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
                 FROM toks WHERE tok <> '')),
         zeros AS (
           SELECT doc_id, CAST(j AS INT) AS i, 0.0 AS v
           FROM documents, (SELECT unnest(range(64)) AS j)),
         summed AS (
           SELECT doc_id, i, sum(v) AS s
           FROM (SELECT * FROM hashed UNION ALL SELECT * FROM zeros)
           GROUP BY doc_id, i),
         emb AS (
           SELECT doc_id AS vec_id, list(CAST(s AS FLOAT) ORDER BY i) AS embedding
           FROM summed GROUP BY doc_id),
         b AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(list_slice(embedding, 1, 8),
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM emb),
         pairs AS (
           SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             list_dot_product(a.embedding::double[], b2.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b2.embedding::double[], b2.embedding::double[]))) AS c
           FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         SELECT id_a, id_b, round(c, 6) AS cosine FROM pairs
         WHERE c >= 0.9 ORDER BY id_a, id_b""",

    "text_hash_embed" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         hashed AS (
           SELECT doc_id, CAST(h % 64 AS INT) AS i,
                  CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
           FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
                 FROM toks WHERE tok <> '')),
         zeros AS (
           SELECT doc_id, CAST(j AS INT) AS i, 0.0 AS v
           FROM documents, (SELECT unnest(range(64)) AS j)),
         summed AS (
           SELECT doc_id, i, sum(v) AS s
           FROM (SELECT * FROM hashed UNION ALL SELECT * FROM zeros)
           GROUP BY doc_id, i)
         SELECT doc_id, array_to_string(list(CAST(s AS INT) ORDER BY i), ',') AS tf_signs
         FROM summed GROUP BY doc_id ORDER BY doc_id""",

    "sim_topk_hash_embed" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         hashed AS (
           SELECT doc_id, CAST(h % 64 AS INT) AS i,
                  CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
           FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h
                 FROM toks WHERE tok <> '')),
         zeros AS (
           SELECT doc_id, CAST(j AS INT) AS i, 0.0 AS v
           FROM documents, (SELECT unnest(range(64)) AS j)),
         summed AS (
           SELECT doc_id, i, sum(v) AS s
           FROM (SELECT * FROM hashed UNION ALL SELECT * FROM zeros)
           GROUP BY doc_id, i),
         emb AS (
           SELECT doc_id AS vec_id, list(CAST(s AS FLOAT) ORDER BY i) AS embedding
           FROM summed GROUP BY doc_id),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM emb WHERE vec_id < 10),
         scored AS (
           SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv::double[], e.embedding::double[]) /
               (sqrt(list_dot_product(qv::double[], qv::double[])) *
                sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))),
               6) AS cosine
           FROM q JOIN emb e ON e.vec_id <> query_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_pq_rerank" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN codes co ON co.j = qs.j AND co.vec_id <> qs.vec_id
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code
           WHERE qs.vec_id < 10),
         pqscored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id),
         coarse AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS crn
           FROM pqscored QUALIFY crn <= 10),
         rerank AS (
           SELECT query_id, neighbor_id,
             round(list_dot_product(eq.embedding::double[], ec.embedding::double[]) /
               (sqrt(list_dot_product(eq.embedding::double[], eq.embedding::double[])) *
                sqrt(list_dot_product(ec.embedding::double[], ec.embedding::double[]))),
               6) AS cosine
           FROM coarse
           JOIN embeddings eq ON eq.vec_id = query_id
           JOIN embeddings ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM rerank
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "sim_topk_pq_trained" ->
      """WITH js AS (SELECT unnest(range(4)) AS j),
         sub AS (
           SELECT vec_id, j, list_slice(embedding, j*16 + 1, j*16 + 16) AS sv
           FROM embeddings, js),
         cb0 AS (
           SELECT j AS subspace, vec_id AS code_id,
                  CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                  sv AS cw
           FROM sub WHERE vec_id % 100 = 0),
         asg AS (
           SELECT s.vec_id, s.j, s.sv, cb0.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb0.cw::double[])
                 + list_dot_product(cb0.cw::double[], cb0.cw::double[]), 6) ASC,
               cb0.code ASC) AS ern
           FROM sub s JOIN cb0 ON cb0.subspace = s.j),
         mean1 AS (
           SELECT j, code, pos,
                  round(sum(v::decimal(38,10))::double / count(*), 6)::float AS mu
           FROM (SELECT j, code, unnest(sv) AS v, generate_subscripts(sv, 1) AS pos
                 FROM asg WHERE ern = 1)
           GROUP BY j, code, pos),
         newcw AS (SELECT j, code, list(mu ORDER BY pos) AS cw1 FROM mean1 GROUP BY j, code),
         cb AS (
           SELECT cb0.subspace, cb0.code_id, cb0.code, coalesce(n.cw1, cb0.cw) AS cw
           FROM cb0 LEFT JOIN newcw n ON n.j = cb0.subspace AND n.code = cb0.code),
         enc AS (
           SELECT s.vec_id, s.j, cb.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               round(list_dot_product(s.sv::double[], s.sv::double[])
                 - 2*list_dot_product(s.sv::double[], cb.cw::double[])
                 + list_dot_product(cb.cw::double[], cb.cw::double[]), 6) ASC,
               cb.code ASC) AS ern
           FROM sub s JOIN cb ON cb.subspace = s.j),
         codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),
         terms AS (
           SELECT qs.vec_id AS query_id, co.vec_id AS neighbor_id,
                  round(list_dot_product(qs.sv::double[], cb.cw::double[]), 6) AS term
           FROM sub qs
           JOIN codes co ON co.j = qs.j AND co.vec_id <> qs.vec_id
           JOIN cb ON cb.subspace = co.j AND cb.code = co.code
           WHERE qs.vec_id < 10),
         scored AS (
           SELECT query_id, neighbor_id, round(sum(term), 6) AS score
           FROM terms GROUP BY query_id, neighbor_id)
         SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "quantile_bin" ->
      """WITH binned AS (
           SELECT lang, n_chars,
             ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
           FROM documents)
         SELECT lang, decile, count(*) AS n,
           min(n_chars) AS lo, max(n_chars) AS hi
         FROM binned GROUP BY lang, decile ORDER BY lang, decile""",

    // Twin of Binning.quantileBins: below the sketch accuracy the GK
    // summary never compresses, so each edge is EXACTLY the value at rank
    // ceil(p * n) (1-based, value-ordered) — computed here directly; bin
    // = 1 + count of edges strictly below the value (duplicate edge
    // values count multiply, matching the Spark array contract; the edge
    // rank formula uses the same IEEE doubles p = i/10, so ceil agrees
    // bit-for-bit across engines).
    "quantile_bin_sketch" ->
      """WITH ranked AS (
           SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
           FROM documents),
         probs AS (
           SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS p),
         edges AS (
           SELECT r.lang, p.p, r.n_chars AS edge
           FROM ranked r JOIN probs p
             ON r.rn = CAST(ceil(p.p * r.cnt) AS BIGINT)),
         binned AS (
           SELECT d.lang, d.doc_id, d.n_chars, 1 + count(e.edge) AS bin
           FROM documents d LEFT JOIN edges e
             ON e.lang = d.lang AND d.n_chars > e.edge
           GROUP BY d.lang, d.doc_id, d.n_chars)
         SELECT lang, bin, count(*) AS n,
           min(n_chars) AS lo, max(n_chars) AS hi
         FROM binned GROUP BY lang, bin ORDER BY lang, bin""",

    "text_stats" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::bigint AS n_bpe_tokens,
           len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::bigint AS n_punct,
           len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords,
           round(length(replace(text, ' ', ''))::double /
                 len(string_split(text, ' ')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "text_quality" ->
      """WITH t AS (
           SELECT doc_id, text,
             least(length(text)::double / 500.0, 1.0) AS len_score,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::double /
               length(text) * 2.0 AS punct_pen,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double /
               len(string_split(text, ' ')) AS stop_ratio,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('der','die','das','und','nicht','ist'))) AS n_de,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('the','and','is','of','to','a'))) AS n_en,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('el','la','los','que','y','es'))) AS n_es,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('le','la','les','et','est','une'))) AS n_fr,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('的','是','了','在','和','我'))) AS n_zh
           FROM documents)
         SELECT doc_id,
           round(greatest(0.0,
             len_score - punct_pen - greatest(0.0, stop_ratio - 0.4)), 6) AS quality,
           CASE WHEN greatest(n_de, n_en, n_es, n_fr, n_zh) = 0 THEN 'und'
                WHEN n_de = greatest(n_de, n_en, n_es, n_fr, n_zh) THEN 'de'
                WHEN n_en = greatest(n_de, n_en, n_es, n_fr, n_zh) THEN 'en'
                WHEN n_es = greatest(n_de, n_en, n_es, n_fr, n_zh) THEN 'es'
                WHEN n_fr = greatest(n_de, n_en, n_es, n_fr, n_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fingerprint
         FROM t ORDER BY doc_id""",

    "text_repetition" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         stats AS (
           SELECT doc_id, len(toks) AS ntok, len(list_distinct(toks)) AS ndist, toks
           FROM base WHERE len(toks) >= 2),
         bg AS (
           SELECT doc_id, ntok, ndist,
                  unnest(list_transform(generate_series(1, ntok - 1),
                                        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
           FROM stats),
         cnt AS (
           SELECT doc_id, ntok, ndist, bigram, count(*) AS c
           FROM bg GROUP BY doc_id, ntok, ndist, bigram),
         top AS (
           SELECT doc_id, ntok, ndist, max(c) AS top_bg
           FROM cnt GROUP BY doc_id, ntok, ndist)
         SELECT doc_id,
                round(1 - ndist::double / ntok, 4) AS dup_tok_ratio,
                round(top_bg::double / (ntok - 1), 4) AS top_bigram_frac,
                round(1 - ndist::double / ntok, 4) > 0.3
                  OR round(top_bg::double / (ntok - 1), 4) > 0.18 AS flagged
         FROM top ORDER BY doc_id""",

    // BPE: 8 unrolled (count → argmax → replace) step triples over the
    // chr(31)-wrapped symbol strings; the tokenize twin replays the
    // same m1..m8 as scalar-subquery replaces over every corpus token
    "text_bpe_merges" -> bpeMergesOracleSql,

    // the distributed audit twin replays the SAME unrolled training
    "text_bpe_merges_audit" -> bpeMergesOracleSql,
    // the census unnests w8's rewritten symbol strings, freq-weighted
    "text_bpe_vocab" -> s"""WITH ${bpeOracleCtes(BpeMerges, BpeMaxWords)}
       SELECT symbol, sum(n)::bigint AS n_occ FROM (
         SELECT n, unnest(string_split(trim(sym, chr(31)),
           chr(31) || chr(31))) AS symbol
         FROM w$BpeMerges)
       GROUP BY 1 ORDER BY n_occ DESC, symbol""",
    "text_bpe_tokenize" -> BpeTokenizeOracleSql,
    // served tokenization reads the committed merge table: stored
    // merges == learned merges, so it shares the inline oracle
    "text_bpe_served" -> BpeTokenizeOracleSql,
    // the pin replays v1's tokenizer: merges trained on the even half,
    // applied to the full corpus
    "text_bpe_pinned" ->
      bpeTokenizeOracleSql("SELECT * FROM documents WHERE doc_id % 2 = 0"),
    // per-doc independence: the streamed batch union replays one-shot
    "stream_bpe_tokenize" -> BpeTokenizeOracleSql,
    "text_bpe_bytes" -> BpeBytesTokenizeOracleSql,
    "stream_bpe_bytes" -> BpeBytesTokenizeOracleSql,
    // serve ≡ inline (stored byte-level merges are the learned merges)
    "text_bpe_bytes_served" -> BpeBytesTokenizeOracleSql,
    // the pin replays the v1 byte-level tokenizer (even-half training)
    "text_bpe_bytes_pinned" -> bpeBytesTokenizeOracleSql(
      "SELECT * FROM documents WHERE doc_id % 2 = 0"),

    "text_langid_rank" -> LangidRankOracleSql,

    // the margin made LOAD-BEARING: keep only confidently-identified
    // docs (margin ≥ 100 — the rejection threshold a mix applies)
    "curation_langid_gate" ->
      s"""SELECT * FROM ($LangidRankOracleSql)
         WHERE margin IS NOT NULL AND margin >= 100 ORDER BY doc_id""",

    "text_unigram_pieces" -> uniPiecesOracleSql,

    "text_unigram_tokenize" -> UniTokenizeOracleSql,

    // serve ≡ inline (stored pieces are the learned pieces)
    "text_unigram_served" -> UniTokenizeOracleSql,

    // the pin replays the v1 tokenizer (trained on the even half)
    "text_unigram_pinned" ->
      uniTokenizeOracleSql("SELECT * FROM documents WHERE doc_id % 2 = 0"),

    // batch union ≡ one-shot (per-doc independence)
    "stream_unigram_tokenize" -> UniTokenizeOracleSql,

    // packing by unigram counts: the second modality's tokenize chain
    // under the identical packing CTE
    "curation_packing_unigram" ->
      s"""WITH toks AS (
           SELECT doc_id, n_unigram_tokens AS ntok, (doc_id % 8)::int AS shard
           FROM ($UniTokenizeOracleSql)),
         packed AS (
           SELECT doc_id, ntok, shard,
                  ((sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - ntok) // 2048)::bigint AS bin
           FROM toks)
         SELECT shard, bin, count(*) AS n_docs, sum(ntok)::bigint AS tokens
         FROM packed GROUP BY shard, bin ORDER BY shard, bin""",

    // fertility: the two proven train+apply chains joined as
    // independently-scoped subqueries (each carries its own WITH — no
    // CTE-name collision between the bpe and unigram chains)
    "text_tokenizer_fertility" ->
      s"""WITH b AS (SELECT * FROM ($BpeTokenizeOracleSql)),
         u AS (SELECT * FROM ($UniTokenizeOracleSql))
         SELECT b.doc_id, b.n_words,
                round(b.n_bpe_tokens::double / b.n_words, 6) AS bpe_fertility,
                round(u.n_unigram_tokens::double / u.n_words, 6) AS unigram_fertility
         FROM b JOIN u ON b.doc_id = u.doc_id
         ORDER BY b.doc_id""",

    // packing by BPE counts: the proven tokenize chain feeds the proven
    // packing chain — shard by id mod 8, running-sum token bins of 2048
    "curation_packing_bpe" ->
      s"""WITH toks AS (
           SELECT doc_id, n_bpe_tokens AS ntok, (doc_id % 8)::int AS shard
           FROM ($BpeTokenizeOracleSql)),
         packed AS (
           SELECT doc_id, ntok, shard,
                  ((sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - ntok) // 2048)::bigint AS bin
           FROM toks)
         SELECT shard, bin, count(*) AS n_docs, sum(ntok)::bigint AS tokens
         FROM packed GROUP BY shard, bin ORDER BY shard, bin""",

    // PMI: the bg CTE is text_bigram_lm's pair construction verbatim
    // (raw adjacent tokens); marginals/total re-derive from c2; the
    // score is one ln over correctly-rounded double products, round-6
    "text_collocations" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         bg AS (
           SELECT a.tok AS w1, b.tok AS w2
           FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
         c2 AS (SELECT w1, w2, count(*)::bigint AS n FROM bg GROUP BY 1, 2),
         cl AS (SELECT w1, sum(n)::bigint AS cl FROM c2 GROUP BY 1),
         cr AS (SELECT w2, sum(n)::bigint AS cr FROM c2 GROUP BY 1),
         nn AS (SELECT sum(n)::bigint AS n FROM c2)
         SELECT c2.w1, c2.w2, c2.n,
           round(ln(c2.n::double * nn.n / (cl.cl::double * cr.cr::double)),
                 6) AS pmi
         FROM c2 JOIN cl USING (w1) JOIN cr USING (w2), nn
         WHERE c2.n >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    "text_top_ngrams" ->
      """WITH g AS (
           SELECT source, unnest(
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN list_transform(
                         generate_series(1, len(string_split(text, ' ')) - 2),
                         i -> array_to_string(
                                list_slice(string_split(text, ' '), i, i + 2), ' '))
                  ELSE [text] END) AS shingle
           FROM documents),
         c AS (
           SELECT source, shingle, count(*)::bigint AS n
           FROM g GROUP BY source, shingle),
         r AS (
           SELECT source, shingle, n,
             row_number() OVER (
               PARTITION BY source ORDER BY n DESC, shingle ASC) AS rank
           FROM c)
         SELECT source, shingle, n, rank FROM r
         WHERE rank <= 10 ORDER BY source, rank""",

    "text_winnow" ->
      """WITH norm AS (
           SELECT doc_id,
             lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS norm
           FROM documents WHERE doc_id < 50),
         grams AS (
           SELECT doc_id,
             unnest(generate_series(1, greatest(strlen(norm) - 7, 0)))::int AS pos,
             strlen(norm) AS len, norm
           FROM norm),
         hashed AS (
           SELECT doc_id, pos, len - 7 AS n_grams,
             ('0x' || substr(md5(substr(norm, pos, 8)), 1, 15))::bigint AS h
           FROM grams),
         winnowed AS (
           SELECT doc_id, pos, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM hashed)
         SELECT DISTINCT doc_id, fp FROM winnowed
         WHERE pos <= n_grams - 3
         ORDER BY doc_id, fp""",

    "text_tfidf" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         n AS (SELECT count(*)::double AS n FROM documents),
         scored AS (
           SELECT doc_id, term, tf,
             round(tf * ln(n / df), 6) AS score
           FROM tf JOIN df USING (term), n
           WHERE doc_id < 50)
         SELECT doc_id, term, tf, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rnk
         FROM scored QUALIFY rnk <= 3 ORDER BY doc_id, rnk""",

    "text_bm25_topk" -> {
      val qvals = Bm25Queries
        .flatMap { case (qid, text) =>
          text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
        }
        .mkString(", ")
      // Constants interpolated from the Scala source of truth; every
      // double op mirrors the Spark expression tree operand-for-operand,
      // per-term contributions rounded then summed in DECIMAL(38,10)
      // (order-free) before the single final double round.
      s"""WITH q(query_id, term) AS (VALUES $qvals),
         toks AS (
           SELECT doc_id, len(string_split(text, ' ')) AS dl,
                  unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (
           SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT count(*)::bigint AS n,
                      sum(len(string_split(text, ' ')))::bigint AS sumdl
               FROM documents),
         contrib AS (
           SELECT q.query_id, tf.doc_id,
             round(
               ln(1.0 + (c.n::double - df.df + 0.5) / (df.df + 0.5)) *
               ((tf.tf * ${Retrieval.K1 + 1.0}) /
                (tf.tf + ${Retrieval.K1} *
                  (${1.0 - Retrieval.B} + ${Retrieval.B} *
                    (tf.dl / (c.sumdl::double / c.n))))),
               6)::DECIMAL(38,10) AS w
           FROM q JOIN tf USING (term) JOIN df ON tf.term = df.term, c),
         scored AS (
           SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
           FROM contrib GROUP BY 1, 2)
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
         FROM scored QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
    },

    "retrieval_qld" -> QldOracleSql,
    "retrieval_qld_served" -> QldOracleSql,

    // lexical ensemble: the BM25 leg is the shared bm25LexOracleCtes
    // chain; the QLD leg derives cf/|C| from the SAME toks/tf/c CTEs;
    // fusion is integer-rank reciprocal arithmetic rounded once
    "retrieval_lexical_rrf" -> {
      val qterms = Bm25Queries
        .flatMap { case (qid, text) =>
          text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
        }
        .mkString(", ")
      val mu = Retrieval.QldMu
      s"""WITH ${bm25LexOracleCtes(qterms)},
         lex AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS lex_rank
           FROM lexscored QUALIFY lex_rank <= $Bm25K),
         lcf AS (SELECT term, sum(tf)::bigint AS cf FROM tf GROUP BY 1),
         lqcf AS (SELECT bq.query_id, bq.term, lcf.cf
                  FROM bq JOIN lcf USING (term)),
         lmt AS (SELECT bq.query_id, tf.doc_id, tf.dl, tf.term, tf.tf
                 FROM bq JOIN tf USING (term)),
         ldq AS (SELECT DISTINCT query_id, doc_id, dl FROM lmt),
         lbg AS (
           SELECT d.query_id, d.doc_id,
             round(ln(($mu * qc.cf)::double /
               ((d.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9) AS m
           FROM ldq d JOIN lqcf qc USING (query_id), c),
         lcor AS (
           SELECT m.query_id, m.doc_id,
             (round(ln((m.tf * c.sumdl + $mu * f.cf)::double /
                ((m.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9)
              - round(ln(($mu * f.cf)::double /
                ((m.dl + $mu) * c.sumdl)::double), 6)::DECIMAL(18,9)
              )::DECIMAL(18,9) AS m
           FROM lmt m JOIN lcf f USING (term), c),
         qscored AS (
           SELECT query_id, doc_id, round(sum(m)::double, 6) AS score
           FROM (SELECT * FROM lbg UNION ALL SELECT * FROM lcor)
           GROUP BY 1, 2),
         qld AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS vec_rank
           FROM qscored QUALIFY vec_rank <= $Bm25K),
         fused AS (
           SELECT query_id, doc_id, l.lex_rank, v.vec_rank,
             round(coalesce(1.0::double / (60 + l.lex_rank), 0) +
                   coalesce(1.0::double / (60 + v.vec_rank), 0), 6) AS rrf
           FROM lex l FULL OUTER JOIN qld v USING (query_id, doc_id))
         SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf DESC, doc_id) AS rank
         FROM fused QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
    },
    // the pin replays v1's collection statistics: postings, cf, and |C|
    // all from the even-half corpus
    "retrieval_qld_pinned" -> QldOracleSql.replace(
      "FROM documents)", "FROM documents WHERE doc_id % 2 = 0)"),

    // Hybrid RRF: the lexical leg replays the text_bm25_topk ranking,
    // the vector leg hash-embeds the SAME query texts and cosine-ranks
    // the corpus embeddings (sim_topk_hash_embed's arithmetic, no
    // self-exclusion — a query is not a corpus doc), and the fusion is
    // pure integer-rank reciprocal arithmetic rounded once.
    "retrieval_hybrid_rrf" -> {
      val qterms = Bm25Queries
        .flatMap { case (qid, text) =>
          text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
        }
        .mkString(", ")
      val qtexts = Bm25Queries.map { case (qid, t) => s"($qid, '$t')" }
        .mkString(", ")
      // both legs are the SHARED oracle chains (bm25LexOracleCtes /
      // hashEmbedVecOracleCtes); the fusion is pure integer-rank
      // reciprocal arithmetic rounded once
      s"""WITH ${bm25LexOracleCtes(qterms)},
         lex AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS lex_rank
           FROM lexscored QUALIFY lex_rank <= $Bm25K),
         ${hashEmbedVecOracleCtes(qtexts)},
         vec AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS vec_rank
           FROM vscored QUALIFY vec_rank <= $Bm25K),
         fused AS (
           SELECT query_id, doc_id, l.lex_rank, v.vec_rank,
             round(coalesce(1.0::double / (60 + l.lex_rank), 0) +
                   coalesce(1.0::double / (60 + v.vec_rank), 0), 6) AS rrf
           FROM lex l FULL OUTER JOIN vec v USING (query_id, doc_id))
         SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf DESC, doc_id) AS rank
         FROM fused QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
    },

    // RM3: stage-1 contrib/scored CTEs are text_bm25_topk's verbatim;
    // feedback weights sum round-6 (tf/dl)·score products in decimal;
    // the expanded-query re-rank reuses the same contrib formula scaled
    // by the interpolated term weight. Original-term weights are
    // pre-rounded literals (the Scala side computes the same values).
    // The served twin shares it: stored df ≡ counted df.
    "retrieval_rm3" -> Rm3OracleSql,
    "retrieval_rm3_served" -> Rm3OracleSql,

    // Phrase search: the zipped parallel unnests reproduce posexplode's
    // raw-split 1-based positions (empty tokens keep their slot, then
    // drop); a start with all plen DISTINCT offsets present is an
    // occurrence; ranking is pure integer arithmetic. The served twin
    // shares it (stored ≡ recomputed positions); the pinned twin replays
    // it over v1's even-doc corpus.
    // NB classifier: train CTEs are two wordcounts; the dense
    // vocab×labels table carries round-6 ln leaves (smoothed default
    // where unseen-in-class); scores sum in DECIMAL(18,9) + prior,
    // round once; argmax ties to the smaller label. The streaming twin
    // shares it: per-doc independence ⇒ batch union ≡ one-shot.
    "text_nb_classify" -> NbOracleSql,
    // the cap replays the engine's top-V selection: QUALIFY top-20 by
    // (total count DESC, term) over the train counts, model from the
    // reduced frame — visible-drop semantics, smoothing over kept vocab
    "text_nb_capped" -> nbOracleSql("doc_id % 5 <> 0", vocabCap = Some(20)),
    "text_nb_served" -> NbOracleSql,
    // the pin replays v1's model: trained on the even half of the seed
    "text_nb_pinned" -> nbOracleSql("doc_id % 5 <> 0 AND doc_id % 2 = 0"),
    "stream_nb_classify" -> NbOracleSql,

    // Eval metrics: judgments replay text_bm25_topk graded 11-rank, the
    // candidate replays the hybrid oracle's hash-embed cosine leg, the
    // metrics tail mirrors rankingMetrics operand-for-operand.
    "retrieval_eval_metrics" -> EvalMetricsOracleSql,

    // SDM: unigram/ordered/unordered components each replay the BM25
    // contrib discipline over their own tf/df; the blend is exact
    // decimal (round-6 double × 2-dp weight), rounded once.
    "retrieval_sdm" -> SdmOracleSql,
    "retrieval_sdm_served" -> SdmOracleSql,
    // the pin replays v1: SDM blended over the even-doc half only
    "retrieval_sdm_pinned" ->
      sdmOracleSql("SELECT * FROM documents WHERE doc_id % 2 = 0"),
    "retrieval_phrase" -> phraseOracleSql("SELECT * FROM documents"),
    "retrieval_phrase_screen" -> phraseScreenOracleSql,
    "stream_phrase_screen" -> phraseScreenOracleSql,
    "retrieval_phrase_served" -> phraseOracleSql("SELECT * FROM documents"),
    "retrieval_phrase_compacted" -> phraseOracleSql("SELECT * FROM documents"),
    "retrieval_phrase_pinned" ->
      phraseOracleSql("SELECT * FROM documents WHERE doc_id % 2 = 0"),
    // the streaming twin's index is frozen for the run and phrases rank
    // independently, so the batch union replays as the one-shot probe
    "stream_retrieval_phrase" -> phraseOracleSql("SELECT * FROM documents"),
    // the GROWING screen: batch b's cut = lake ∪ arrival batches ≤ b
    "stream_phrase_growing" -> phraseGrowingOracleSql,
    // the streaming twin's index is frozen for the run, so the
    // batch-union output replays as one-shot RM3 over the same queries
    "stream_retrieval_rm3" -> Rm3OracleSql,


    "text_bm25_negatives" -> {
      val ids = Bm25Anchors.mkString(", ")
      s"""WITH q AS (
           SELECT DISTINCT query_id, term FROM (
             SELECT doc_id AS query_id,
                    unnest(string_split(text, ' ')) AS term
             FROM documents WHERE doc_id IN ($ids))
           WHERE term <> ''),
         toks AS (
           SELECT doc_id, len(string_split(text, ' ')) AS dl,
                  unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (
           SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT count(*)::bigint AS n,
                      sum(len(string_split(text, ' ')))::bigint AS sumdl
               FROM documents),
         contrib AS (
           SELECT q.query_id, tf.doc_id,
             round(
               ln(1.0 + (c.n::double - df.df + 0.5) / (df.df + 0.5)) *
               ((tf.tf * ${Retrieval.K1 + 1.0}) /
                (tf.tf + ${Retrieval.K1} *
                  (${1.0 - Retrieval.B} + ${Retrieval.B} *
                    (tf.dl / (c.sumdl::double / c.n))))),
               6)::DECIMAL(38,10) AS w
           FROM q JOIN tf USING (term) JOIN df ON tf.term = df.term, c
           WHERE tf.doc_id <> q.query_id),
         scored AS (
           SELECT query_id, doc_id, round(sum(w)::double, 6) AS score
           FROM contrib GROUP BY 1, 2)
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
         FROM scored QUALIFY rank <= $Bm25K ORDER BY query_id, rank"""
    },

    "multimodal_meta" ->
      """SELECT doc_id, strlen(text)::int AS n_bytes,
           sha256(text) AS sha256,
           lower(hex(substr(text, 1, 4))) AS magic,
           (('0x' || substr(sha256(text), 1, 4))::int % 1920)::int AS fake_width
         FROM documents ORDER BY doc_id""",

    "multimodal_frames" ->
      """WITH d AS (
           SELECT doc_id, greatest(1, (strlen(text) // 100)::int) AS n_frames
           FROM documents WHERE doc_id < 20),
         f AS (
           SELECT doc_id, unnest(generate_series(0, n_frames - 1))::int AS frame_no
           FROM d)
         SELECT doc_id, frame_no,
           md5(concat(doc_id, ':', frame_no)) AS frame_hash
         FROM f ORDER BY doc_id, frame_no""",

    // The oracle reproduces only the id arithmetic the payloads were
    // synthesized FROM; the Spark side must recover the same numbers by
    // parsing the generated image bytes. The streaming twin shares it:
    // the in-stream parse is the same stateless kernel over the same
    // synthesized payloads, so batch equivalence is exact.
    "multimodal_headers" -> MultimodalHeadersOracle,
    "stream_multimodal_headers" -> MultimodalHeadersOracle,
    "multimodal_av_headers" -> MultimodalAvHeadersOracle,
    "stream_multimodal_av_headers" -> MultimodalAvHeadersOracle,

    "multimodal_phash" ->
      s"""WITH $PHashOracleCtes
         SELECT doc_id, phash FROM ph ORDER BY doc_id""",

    // per-row independence: the streamed fingerprint ≡ the batch scan
    "stream_multimodal_phash" ->
      s"""WITH $PHashOracleCtes
         SELECT doc_id, phash FROM ph ORDER BY doc_id""",

    // cross pairs only, independent delta × lake hamming scan
    "dedup_phash_indexed" -> PhashCrossOracleSql,
    // append ≡ one-shot build (grow-only segments, nothing rewritten)
    "dedup_phash_index_append" -> PhashCrossOracleSql,

    // the INDEPENDENT all-pairs scan — the banded engine join must
    // reproduce it exactly (pigeonhole recall 1.0 at threshold 3)
    "dedup_phash" ->
      s"""WITH $PHashOracleCtes
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.phash, b.phash))::int AS hamming
         FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 3
         ORDER BY id_a, id_b""",

    // the decoded plane predicted from the pixel FORMULA alone — the
    // oracle never parses a file byte, so writer/parser slips can't
    // cancel (and the encoding variants make each layout rule
    // load-bearing on its own rows)
    "multimodal_bmp_pixels" ->
      s"""WITH $BmpTileOracleCtes
         SELECT doc_id, k, lum FROM tile ORDER BY doc_id, k""",

    // real-pixel pHash: formula tile → the same interpolated-basis DCT
    // and AC-bit pack as the stride-sample oracle
    "multimodal_phash_bmp" ->
      s"""WITH $BmpPhashOracleCtes
         SELECT doc_id, phash FROM ph ORDER BY doc_id""",
  )

  /** The id arithmetic [[graft.operators.Multimodal
    * .synthesizeAvPayloads]] derived its container fields from; MP3
    * duration floors (frames × 1152 × 1000 ÷ rate) exactly as the
    * kernel's integer division does, every other family's division is
    * exact by construction. MP4 declares no channel/rate in mvhd →
    * NULL there; every 11th doc is garbage → NULL row. */
  private lazy val MultimodalAvHeadersOracle: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 11 = 5 THEN NULL
              WHEN doc_id % 4 = 0 THEN 'wav'
              WHEN doc_id % 4 = 1 THEN 'mp3'
              WHEN doc_id % 4 = 2 THEN 'flac'
              ELSE 'mp4' END AS format,
         CASE WHEN doc_id % 11 = 5 OR doc_id % 4 = 3 THEN NULL
              ELSE (doc_id % 2 + 1)::int END AS channels,
         CASE WHEN doc_id % 11 = 5 OR doc_id % 4 = 3 THEN NULL
              WHEN doc_id % 4 = 1 THEN
                (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 32000 END)::int
              ELSE (8000 + (doc_id % 8) * 4000)::int END AS sample_rate,
         CASE WHEN doc_id % 11 = 5 THEN NULL
              WHEN doc_id % 4 = 0 THEN (doc_id % 50 + 1)::bigint
              WHEN doc_id % 4 = 1 THEN
                ((doc_id % 200 + 1) * 1152 * 1000) //
                  (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                        ELSE 32000 END)
              WHEN doc_id % 4 = 2 THEN (doc_id % 60 + 1)::bigint
              ELSE (doc_id % 9000 + 1)::bigint END AS duration_ms
       FROM documents ORDER BY doc_id"""

  /** Shared pHash CTEs through `ph(doc_id, phash)` — the full
    * integer-DCT replay over the payload bytes (payload = the text's
    * UTF-8 bytes, [[graft.operators.Multimodal.attachPayload]]'s test
    * contract; production payloads arrive as parquet `binary`): pixels
    * sample the hex dump at the kernel's stride, the DCT runs through
    * the interpolated integer basis (the Scala source of truth), and
    * the 63 AC bits pack exactly like [[graft.functions.PHashKernel]].
    * All-integer — no float anywhere, so the replay is bit-exact by
    * construction. */
  private lazy val PHashOracleCtes: String = {
    val basis = graft.functions.PHashKernel.basisRows
      .map { case (u, x, t) => s"($u, $x, $t)" }.mkString(", ")
    val stride = graft.functions.PHashKernel.SampleStride
    s"""basis(u, x, t) AS (VALUES $basis),
       hxs AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents
               WHERE text IS NOT NULL AND len(text) > 0),
       pix AS (
         SELECT doc_id, k,
           ('0x' || substr(hx,
             (2 * ((k * $stride) % (len(hx) // 2)) + 1)::int, 2))::bigint AS p
         FROM hxs, (SELECT unnest(range(0, 64)) AS k)),
       coef AS (
         SELECT doc_id, bu.u AS u, bv.u AS v,
                sum(p.p * bu.t * bv.t)::bigint AS c
         FROM pix p
         JOIN basis bu ON bu.x = p.k // 8
         JOIN basis bv ON bv.x = p.k % 8
         GROUP BY 1, 2, 3),
       acs AS (SELECT doc_id, sum(c)::bigint AS s FROM coef
               WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
       ph AS (
         SELECT c.doc_id,
           sum(CASE WHEN 63 * c.c > a.s
               THEN (1::BIGINT << (8 * c.u + c.v - 1))
               ELSE 0::BIGINT END)::bigint AS phash
         FROM coef c JOIN acs a USING (doc_id)
         WHERE NOT (c.u = 0 AND c.v = 0)
         GROUP BY 1)"""
  }

  /** Shared BMP CTEs through `tile(doc_id, k, lum)` — the decoded
    * 8×8 luminance tile predicted from [[graft.functions
    * .BmpSynthKernel]]'s pixel formula (id-derived dimensions, RGB
    * channel arithmetic, BT.601 integer luminance, box-filter cell
    * assignment `(y·8/h, x·8/w)` with integer division), never from the
    * file bytes. Garbage docs (id % 13 = 6) are the engine's NULL rows
    * and are excluded here. All-integer — bit-exact by construction. */
  private lazy val BmpTileOracleCtes: String =
    """wh AS (SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 11 AS h
              FROM documents WHERE doc_id % 13 <> 6),
       px AS (SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                (77*((doc_id*3 + gx.x*7 + gy.y*11) % 256)
               + 150*((doc_id*5 + gx.x*13 + gy.y*17) % 256)
               + 29*((doc_id*7 + gx.x*19 + gy.y*23) % 256)) // 256 AS lum
              FROM wh,
                   LATERAL (SELECT unnest(range(0, w)) AS x) gx,
                   LATERAL (SELECT unnest(range(0, h)) AS y) gy),
       tile AS (SELECT doc_id, (8*((y*8)//h) + (x*8)//w)::int AS k,
                       (sum(lum) // count(*))::bigint AS lum
                FROM px GROUP BY doc_id, (8*((y*8)//h) + (x*8)//w))"""

  /** [[BmpTileOracleCtes]] extended through `ph(doc_id, phash)` — the
    * formula tile run through the SAME interpolated-basis DCT and
    * 63-AC-bit pack as [[PHashOracleCtes]] (one arithmetic, two tile
    * sources). */
  private lazy val BmpPhashOracleCtes: String = {
    val basis = graft.functions.PHashKernel.basisRows
      .map { case (u, x, t) => s"($u, $x, $t)" }.mkString(", ")
    s"""basis(u, x, t) AS (VALUES $basis),
       $BmpTileOracleCtes,
       coef AS (
         SELECT doc_id, bu.u AS u, bv.u AS v,
                sum(p.lum * bu.t * bv.t)::bigint AS c
         FROM tile p
         JOIN basis bu ON bu.x = p.k // 8
         JOIN basis bv ON bv.x = p.k % 8
         GROUP BY 1, 2, 3),
       acs AS (SELECT doc_id, sum(c)::bigint AS s FROM coef
               WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
       ph AS (
         SELECT c.doc_id,
           sum(CASE WHEN 63 * c.c > a.s
               THEN (1::BIGINT << (8 * c.u + c.v - 1))
               ELSE 0::BIGINT END)::bigint AS phash
         FROM coef c JOIN acs a USING (doc_id)
         WHERE NOT (c.u = 0 AND c.v = 0)
         GROUP BY 1)"""
  }

  private lazy val LangidRankOracleSql: String =
    """WITH tri AS (
           SELECT doc_id, lang, substr(text, i, 3) AS gram
           FROM (SELECT doc_id, lang, text,
                        unnest(range(1, len(text) - 1)) AS i
                 FROM documents
                 WHERE text IS NOT NULL AND len(text) >= 3)),
         lp AS (
           SELECT lang, gram, count(*) AS cnt
           FROM tri WHERE doc_id % 5 <> 0 AND lang IS NOT NULL
           GROUP BY 1, 2),
         lpk AS (
           SELECT lang, gram,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, gram) AS lrank
           FROM lp
           QUALIFY lrank <= 100),
         dp AS (
           SELECT doc_id, gram, count(*) AS cnt
           FROM tri WHERE doc_id % 5 = 0
           GROUP BY 1, 2),
         dpk AS (
           SELECT doc_id, gram,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY cnt DESC, gram) AS drank
           FROM dp
           QUALIFY drank <= 20),
         langs AS (SELECT DISTINCT lang FROM lpk),
         dist AS (
           SELECT d.doc_id, l.lang,
                  sum(coalesce(abs(d.drank - p.lrank), 100))::bigint
                    AS distance
           FROM dpk d CROSS JOIN langs l
           LEFT JOIN lpk p ON p.lang = l.lang AND p.gram = d.gram
           GROUP BY 1, 2)
         SELECT doc_id, lang AS predicted, distance,
           lead(distance) OVER (PARTITION BY doc_id
             ORDER BY distance, lang) - distance AS margin
         FROM dist
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY distance, lang) = 1
         ORDER BY doc_id"""

  private lazy val PhashCrossOracleSql: String =
    s"""WITH $PHashOracleCtes,
       lake AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 <> 0),
       delta AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 = 0)
       SELECT d.doc_id AS delta_id, l.doc_id AS lake_id,
              bit_count(xor(d.phash, l.phash))::int AS hamming
       FROM delta d JOIN lake l
         ON bit_count(xor(d.phash, l.phash)) <= 3
       ORDER BY delta_id, lake_id"""

  private lazy val MultimodalHeadersOracle: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 7 = 3 THEN NULL
              WHEN doc_id % 3 = 0 THEN 'png'
              WHEN doc_id % 3 = 1 THEN 'jpeg'
              ELSE 'gif' END AS format,
         CASE WHEN doc_id % 7 = 3 THEN NULL
              ELSE (doc_id % 1920 + 1)::int END AS width,
         CASE WHEN doc_id % 7 = 3 THEN NULL
              ELSE (doc_id % 1080 + 1)::int END AS height
       FROM documents ORDER BY doc_id"""

  /** Mean recall over the 10 queries of one recall family, summed in
    * decimal before the single double division — the exact replay of the
    * Spark side's partition-order-proof aggregation. The family's full
    * oracle SQL nests as a derived table (DuckDB allows WITH inside a
    * parenthesized subquery). */
  private def meanRecallSub(name: String): String =
    s"""(SELECT round((sum(recall::DECIMAL(38,10)))::double / count(*), 6)
          FROM (${baseOracles(name)}) r)"""

  /** The frontier row set: per index flavor, the mean recall scalar
    * (composed from the family's own oracle SQL) next to the mean
    * per-query candidate count implied by its pruning rule. */
  private val recallFrontierOracle: String =
    s"""WITH bkt AS (
          SELECT vec_id,
            array_to_string(list_transform(list_slice(embedding, 1, 4),
              x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
          FROM embeddings),
        lshcand AS (
          SELECT q.vec_id, count(c.vec_id) AS cand
          FROM bkt q LEFT JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id < 10 GROUP BY q.vec_id),
        cen2 AS (SELECT vec_id AS centroid_id, embedding AS cemb
                 FROM embeddings WHERE vec_id % 100 = 0),
        assign2 AS (
          SELECT e.vec_id, centroid_id AS cluster,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              round(list_dot_product(e.embedding::double[], cemb::double[]) /
                (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                 sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
              centroid_id) AS crn
          FROM embeddings e, cen2),
        clustered2 AS (SELECT vec_id, cluster FROM assign2 WHERE crn = 1),
        ivfcand AS (
          SELECT q.vec_id, count(c.vec_id) AS cand
          FROM (SELECT vec_id, cluster FROM clustered2 WHERE vec_id < 10) q
          LEFT JOIN clustered2 c ON c.cluster = q.cluster AND c.vec_id <> q.vec_id
          GROUP BY q.vec_id),
        probes2 AS (SELECT vec_id, cluster FROM assign2 WHERE vec_id < 10 AND crn <= 2),
        pqcand AS (
          SELECT p.vec_id, count(c.vec_id) AS cand
          FROM probes2 p LEFT JOIN clustered2 c
            ON c.cluster = p.cluster AND c.vec_id <> p.vec_id
          GROUP BY p.vec_id)
        SELECT method, mean_recall, mean_candidates FROM (
          SELECT 'ivf' AS method, ${meanRecallSub("ann_recall_ivf")} AS mean_recall,
            (SELECT round(sum(cand)::double / count(*), 6) FROM ivfcand) AS mean_candidates
          UNION ALL
          SELECT 'ivfpq', ${meanRecallSub("ann_recall_ivfpq")},
            (SELECT round(sum(cand)::double / count(*), 6) FROM pqcand)
          UNION ALL
          SELECT 'ivfpq_residual', ${meanRecallSub("ann_recall_ivfpq_residual")},
            (SELECT round(sum(cand)::double / count(*), 6) FROM pqcand)
          UNION ALL
          SELECT 'lsh', ${meanRecallSub("ann_recall_lsh")},
            (SELECT round(sum(cand)::double / count(*), 6) FROM lshcand)
          UNION ALL
          SELECT 'pq', ${meanRecallSub("ann_recall_pq")},
            (SELECT round((count(*) - 1)::double, 6) FROM embeddings)
          UNION ALL
          SELECT 'sq8', ${meanRecallSub("ann_recall_sq8")},
            (SELECT round((count(*) - 1)::double, 6) FROM embeddings)
          UNION ALL
          SELECT 'jl', ${meanRecallSub("ann_recall_jl")},
            (SELECT round((count(*) - 1)::double, 6) FROM embeddings)
        ) t ORDER BY method"""

  val oracles: Map[String, String] =
    baseOracles + ("ann_recall_frontier" -> recallFrontierOracle) +
      // the indexed probe is pair-identical to the inline operator by
      // contract — one oracle text serves both
      ("dedup_cross_corpus_indexed" -> baseOracles("dedup_cross_corpus")) +
      // append+probe and append+compact+probe both end at the same
      // accumulated odd-id lake — the one-shot oracle covers all three
      ("dedup_cross_corpus_appended" -> baseOracles("dedup_cross_corpus")) +
      ("dedup_cross_corpus_compacted" -> baseOracles("dedup_cross_corpus")) +
      ("dedup_cross_corpus_served" -> baseOracles("dedup_cross_corpus")) +
      // a refreshed index converges to the current lake, so its probe
      // shares the inline operator's oracle too
      ("dedup_cross_corpus_refreshed" -> baseOracles("dedup_cross_corpus")) +
      ("dedup_spans_incremental_serve" ->
        baseOracles("dedup_spans_incremental")) +
      // the bucketed-index probe is result-identical to the broadcast one
      ("dedup_spans_incremental_bucketed" ->
        baseOracles("dedup_spans_incremental")) +
      // a postings-index probe (one-shot or appended) reproduces inline
      // BM25 retrieval exactly — one oracle text serves all three
      ("text_bm25_indexed" -> baseOracles("text_bm25_topk")) +
      ("text_bm25_probe_served" -> baseOracles("text_bm25_topk")) +
      // the v1-pinned probe ranks with the even half's postings AND its
      // corpus statistics — both document scans restricted
      ("text_bm25_pinned" -> baseOracles("text_bm25_topk").replace(
        "FROM documents)", "FROM documents WHERE doc_id % 2 = 0)")) +
      // the v1-pinned RM3 probe runs both stages against the even
      // half's postings and corpus statistics — same restriction
      ("retrieval_rm3_pinned" -> Rm3OracleSql.replace(
        "FROM documents)", "FROM documents WHERE doc_id % 2 = 0)")) +
      ("text_bm25_index_append" -> baseOracles("text_bm25_topk")) +
      // compaction is probe-preserving by contract, so the compacted
      // probe replays the same inline oracle
      ("text_bm25_compacted" -> baseOracles("text_bm25_topk")) +
      // refresh converges the index to today's corpus — same inline oracle
      ("text_bm25_refreshed" -> baseOracles("text_bm25_topk")) +
      // the ingest-time negatives stream is batch-equivalent by
      // construction — same anchors, same index, same scoring grid
      ("stream_bm25_negatives" -> baseOracles("text_bm25_negatives")) +
      // the ingest-time ANN probe replays the flat-PQ search oracle:
      // same codebook sample, same full-corpus codes, same ADC grid
      ("stream_ann_pq_probe" -> baseOracles("sim_pq_index_append")) +
      // the GROWING ANN ingest: each arrival ranks codes of the lake
      // plus earlier batches only — index-as-of-probe, same ADC grid
      ("stream_ann_pq_growing" -> PqGrowingSearchOracle) +
      // the ingest-time LSH screen replays the inline cross-corpus
      // oracle: same lake split, same caps, per-batch union of pairs
      ("stream_crosscorpus_dedup" -> baseOracles("dedup_cross_corpus")) +
      // the GROWING LSH screen: pairs against the lake plus every
      // EARLIER arrival batch, per-rank hot caps — index-as-of-probe
      ("stream_crosscorpus_dedup_growing" -> growingCrossCorpusOracleSql) +
      // the manifest-served PQ index converges to the from-scratch
      // encode of the full corpus — the append oracle replayed
      ("sim_pq_index_served" -> baseOracles("sim_pq_index_append")) +
      // the steady-state PQ serve replays the same full-corpus encode
      ("sim_pq_probe_served" -> baseOracles("sim_pq_index_append")) +
      // the v1-pinned PQ probe sees only the even half's codes
      ("sim_pq_pinned" -> baseOracles("sim_pq_index_append").replace(
        "codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1),",
        "codes AS (SELECT vec_id, j, code FROM enc WHERE ern = 1 AND vec_id % 2 = 0),")) +
      // the v1-pinned gram-log probe repeats against the v1 lake only
      ("dedup_spans_pinned" -> baseOracles("dedup_spans_incremental").replace(
        "WHERE doc_id % 10 < 8", "WHERE doc_id % 10 < 4")) +
      // the manifest-served inverted file converges to the inline
      // multi-probe search over the full corpus — build+append+compact
      // and build+refresh both replay the probed oracle
      ("sim_ivf_index_served" -> baseOracles("sim_topk_ivf_probed")) +
      ("sim_ivf_index_refresh" -> baseOracles("sim_topk_ivf_probed")) +
      ("sim_ivf_probe_served" -> baseOracles("sim_topk_ivf_probed")) +
      // the v1-pinned probe sees only the even half's assignment, no
      // matter how far HEAD has moved since
      ("sim_ivf_pinned" -> ivfProbedOracleSql("vec_id % 2 = 0")) +
      // the ingest-time IVF probe replays the inline multi-probe oracle:
      // same centroids, same full-corpus assignment, same pruned scan
      ("stream_ann_ivf_probe" -> baseOracles("sim_topk_ivf_probed")) +
      // the training-free streaming JL probe replays the inline
      // coarse-project + exact-rerank oracle: the sign matrix is a pure
      // function of (m, d), identical in-batch and inline
      ("stream_sim_jl_probe" -> baseOracles("sim_topk_jl_rerank")) +
      // the manifest-served JL index converges to the inline two-stage
      // search over the full corpus (stored projections are bit-equal
      // to recomputed ones — the projection is deterministic)
      ("sim_jl_index_served" -> baseOracles("sim_topk_jl_rerank")) +
      ("sim_jl_probe_served" -> baseOracles("sim_topk_jl_rerank")) +
      // refresh converges the projected table to today's corpus — same
      // inline oracle (the bm25_refreshed / pq_index_refresh precedent)
      ("sim_jl_index_refresh" -> baseOracles("sim_topk_jl_rerank")) +
      // the v1-pinned JL probe shortlists against the even half's
      // stored projections alone
      ("sim_jl_pinned" -> baseOracles("sim_topk_jl_rerank").replace(
        "FROM proj q JOIN proj c ON c.vec_id <> q.vec_id",
        "FROM proj q JOIN proj c ON c.vec_id <> q.vec_id AND c.vec_id % 2 = 0")) +
      // the GROWING JL ingest: arrivals shortlist + rerank against the
      // lake plus earlier batches only — index-as-of-probe, same sign
      // matrix regenerated from the manifest's (m, d)
      ("stream_ann_jl_growing" -> JlGrowingSearchOracle) +
      // the GROWING IVF ingest: each arrival probes the assignment of
      // the lake plus earlier batches only — index-as-of-probe, same
      // centroid sample and pruned-scan grid
      ("stream_ann_ivf_growing" -> IvfGrowingSearchOracle) +
      // the GROWING IVF-PQ ingest: each arrival ADC-scores only earlier
      // arrivals + the lake within its probed clusters
      ("stream_ann_ivfpq_growing" -> IvfPqGrowingSearchOracle) +
      // the GROWING hard-negative ingest: anchors rank only earlier
      // arrivals + the lake, with idf/avgdl over exactly that corpus —
      // the stats grow transactionally with the postings
      ("stream_bm25_negatives_growing" -> growingBm25NegativesOracleSql) +
      // the manifest-served IVF-PQ index converges to the inline
      // coarse-quantized search over the full corpus
      ("sim_ivfpq_index_served" -> baseOracles("sim_topk_ivfpq")) +
      ("sim_ivfpq_index_refresh" -> baseOracles("sim_topk_ivfpq")) +
      // the ingest-time IVF-PQ probe replays the inline coarse-quantized
      // search oracle: same centroids, codebook, and full-corpus codes
      ("stream_ann_ivfpq_probe" -> baseOracles("sim_topk_ivfpq")) +
      // the v1-pinned IVF-PQ probe ranks against the even half's codes
      // only — the coarse oracle with its corpus CTE restricted
      ("sim_ivfpq_pinned" -> baseOracles("sim_topk_ivfpq").replace(
        "clustered AS (SELECT vec_id, cluster FROM assign WHERE crn = 1),",
        "clustered AS (SELECT vec_id, cluster FROM assign WHERE crn = 1 AND vec_id % 2 = 0),")) +
      // served coarse search over-fetches k*refine=10 ADC candidates,
      // exact cosine re-ranks, keep 5 — the ivfpq oracle's scored set
      // with the pq_rerank oracle's refine tail
      ("sim_ivfpq_rerank_served" ->
        baseOracles("sim_topk_ivfpq").replace(
          """SELECT query_id, cluster, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rnk
         FROM scored
         QUALIFY rnk <= 5 ORDER BY query_id, rnk""",
          """, coarse AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS crn
           FROM scored QUALIFY crn <= 10),
         rerank AS (
           SELECT query_id, neighbor_id,
             round(list_dot_product(eq.embedding::double[], ec.embedding::double[]) /
               (sqrt(list_dot_product(eq.embedding::double[], eq.embedding::double[])) *
                sqrt(list_dot_product(ec.embedding::double[], ec.embedding::double[]))),
               6) AS cosine
           FROM coarse
           JOIN embeddings eq ON eq.vec_id = query_id
           JOIN embeddings ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
         FROM rerank
         QUALIFY rnk <= 5 ORDER BY query_id, rnk"""))
}
