package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("operators compose over derived Columns (no SQL-splice parse failures)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stopwordCount/langScore/simhash60 used to splice Column.toString
    // into expr(...), which only parsed for bare column names — composing
    // two public operators from this module threw ParseException
    val docs = Seq("The Quick Brown Fox AND the lazy dog of it")
      .toDF("text")
    val v = docs.select(
        TextAnalysis.qualityScore(lower(col("text"))).as("q"),
        TextAnalysis.langId(lower(col("text"))).as("lang"),
        TextAnalysis.simhash60(concat(col("text"), lit(" tail"))).as("sh"))
      .collect().head
    assert(v.getDouble(0) >= 0.0 && v.getDouble(0) <= 1.0)
    assert(v.getString(1) == "en", v.getString(1))
    assert(v.getLong(2) != 0L)
  }

  test("native digest60 is bit-identical to the composed md5/conv form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // varied lengths, unicode, empty string, hex-edge digests
    val rows = (0 until 500).map(i => s"tok$i ${"x" * (i % 23)} π∂-$i") :+ ""
    val bad = rows.toDF("s")
      .select(
        TextAnalysis.tokenHash60(col("s")).as("composed"),
        TextAnalysis.tokenHash60Native(col("s")).as("native"))
      .filter(col("composed") =!= col("native") || col("native") < 0)
      .count()
    assert(bad == 0L)
  }
  import spark.implicits._

  def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c).collect()(0).get(0)

  test("token counts: whitespace and BPE-ish regex") {
    assert(one(TextAnalysis.tokenCount(col("t")), "a b c") == 3)
    // "don't stop12" → [don, ', t, stop, 12] under letters|digits|mark
    assert(one(TextAnalysis.bpeTokenCount(col("t")), "don't stop12") == 5)
  }

  test("punctuation count and ratio") {
    assert(one(TextAnalysis.punctCount(col("t")), "a, b!") == 2)
    assert(one(TextAnalysis.punctRatio(col("t")), "a, b!").asInstanceOf[Double] == 0.4)
  }

  test("stopword count uses the fixed marker set") {
    assert(one(TextAnalysis.stopwordCount(col("t")), "the cat and the hat") == 3)
  }

  test("avg token length excludes spaces") {
    assert(one(TextAnalysis.avgTokenLen(col("t")), "ab cdef").asInstanceOf[Double] == 3.0)
  }

  test("quality score: longer clean text scores higher than short/stuffed text") {
    val clean = one(TextAnalysis.qualityScore(col("t")),
      "substantial clean document " * 30).asInstanceOf[Double]
    val stuffed = one(TextAnalysis.qualityScore(col("t")),
      "the a an and of " * 30).asInstanceOf[Double]
    assert(clean > 0.9)
    assert(stuffed < clean)
  }

  test("language id picks the dominant marker language, und for none") {
    assert(one(TextAnalysis.langId(col("t")), "der hund und die katze ist") == "de")
    assert(one(TextAnalysis.langId(col("t")), "the dog and the cat is") == "en")
    assert(one(TextAnalysis.langId(col("t")), "xyzzy qwerty") == "und")
  }

  test("fingerprint normalizes case and punctuation") {
    val a = one(TextAnalysis.fingerprint(col("t")), "Hello, World!")
    val b = one(TextAnalysis.fingerprint(col("t")), "hello world")
    assert(a == b)
  }

  test("tokenHash60 is a stable non-negative 60-bit value") {
    val h = one(TextAnalysis.tokenHash60(col("t")), "spark").asInstanceOf[Long]
    assert(h >= 0 && h < (1L << 60))
    assert(one(TextAnalysis.tokenHash60(col("t")), "spark") == h) // deterministic
  }

  test("kernel hashEmbed is identical to the composed explode/aggregate twin") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Array[Float])].collect().map { case (id, v) => id -> v.toSeq }.toMap
    assert(m(TextAnalysis.hashEmbed(docs, "doc_id", "text", 64)) ==
      m(TextAnalysis.hashEmbedComposed(docs, "doc_id", "text", 64)))
  }

  test("hashEmbed twins agree on NULL text: row kept, embedding NULL") {
    import spark.implicits._
    val docs = Seq((1L, Some("key agg row")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    val kernel = m(TextAnalysis.hashEmbed(docs, "doc_id", "text", 8))
    val composed = m(TextAnalysis.hashEmbedComposed(docs, "doc_id", "text", 8))
    assert(kernel == Map(1L -> false, 2L -> true))
    assert(composed == kernel)
  }

  test("hashEmbed matches a JVM replica and is order-invariant over the bag of words") {
    import spark.implicits._
    val dim = 16
    val docs = Seq(
      (1L, "key agg row scan key"),
      (2L, "scan key key agg row"), // same multiset, different order
      (3L, "window sort merge"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.hashEmbed(docs, "doc_id", "text", dim)
      .as[(Long, Array[Float])].collect().map { case (id, v) => id -> v.toSeq }.toMap
    // JVM replica straight off the shared digest
    def embed(text: String): Seq[Float] = {
      val v = new Array[Float](dim)
      text.split(" ", -1).filter(_.nonEmpty).foreach { tok =>
        val h = graft.functions.Digest60.digest60(
          org.apache.spark.unsafe.types.UTF8String.fromString(tok))
        val i = (h % dim).toInt
        v(i) += (if ((h / dim) % 2 == 0) 1.0f else -1.0f)
      }
      v.toSeq
    }
    assert(got(1L) == embed("key agg row scan key"))
    assert(got(3L) == embed("window sort merge"))
    assert(got(1L) == got(2L), "bag-of-words order must not matter")
    assert(got(1L) != got(3L), "distinct vocabularies must differ")
    assert(got(4L) == Seq.fill(dim)(0.0f), "empty text embeds to the zero vector")
    assert(got.values.forall(_.length == dim))
  }

  test("chunk: full coverage, overlap, final-window placement, short docs, NULL text") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than one chunk
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, "doc_id", "text", chunkTokens = 4, overlapTokens = 1)
      .as[(Long, Int, String, Int)].collect().toSeq.sortBy(c => (c._1, c._2))
    // doc 1: starts advance by 3; last start is the first window reaching
    // token 10 → starts 0, 3, 6 (window [7..10] ends the doc)
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.map(_._3) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(doc1.map(_._4) == Seq(4, 4, 4))
    // every token appears in some chunk (coverage)
    assert(doc1.flatMap(_._3.split(" ")).toSet == (1 to 10).map(i => s"t$i").toSet)
    // doc 2: one short chunk
    assert(out.filter(_._1 == 2L).map(c => (c._3, c._4)) == Seq(("a b c", 3)))
    // NULL text emits no rows
    assert(!out.exists(_._1 == 3L))
  }

  test("chunk invariants hold over a (length x chunk x overlap) grid") {
    import spark.implicits._
    // docs of every length 1..60, chunked under several (c, o) configs:
    // every token covered, every window within bounds and <= c tokens,
    // consecutive starts advance by exactly c - o, the last window ends
    // exactly at the document tail, chunk ids dense from 0
    val docs = (1 to 60).map(n => (n.toLong, (1 to n).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    for ((c, o) <- Seq((4, 0), (4, 1), (4, 3), (7, 2), (10, 5), (64, 16))) {
      val step = c - o
      val byDoc = TextAnalysis.chunk(docs, "doc_id", "text", c, o)
        .as[(Long, Int, String, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      for (n <- 1 to 60) {
        val chunks = byDoc(n.toLong)
        assert(chunks.map(_._2).toSeq == chunks.indices.toSeq, s"dense ids n=$n c=$c o=$o")
        val toks = chunks.map(_._3.split(" ").toSeq)
        chunks.zip(toks).foreach { case (ch, t) =>
          assert(t.size == ch._4, s"n_tokens mismatch n=$n c=$c o=$o id=${ch._2}")
          assert(t.size <= c, s"window too large n=$n c=$c o=$o id=${ch._2}")
        }
        assert(toks.flatten.toSet == (1 to n).map(i => s"w$i").toSet,
          s"coverage broken n=$n c=$c o=$o")
        // each window starts at chunk_id*step+1 and the last ends at n
        toks.zipWithIndex.foreach { case (t, i) =>
          assert(t.head == s"w${i * step + 1}", s"start misplaced n=$n c=$c o=$o id=$i")
        }
        assert(toks.last.last == s"w$n", s"last window must end at the tail n=$n c=$c o=$o")
      }
    }
  }

  test("redactPii is idempotent: placeholders never re-match any pattern") {
    import spark.implicits._
    val rows = Seq((1L, "a@b.co 555-123-4567 10.0.0.1 plain"))
      .toDF("id", "t")
    val once = rows.select(TextAnalysis.redactPii(col("t")).as("c"))
    val twice = once.select(TextAnalysis.redactPii(col("c")).as("c"))
    assert(once.as[String].head() == twice.as[String].head())
  }

  test("bigramFluency: repetitive text outranks token soup; hand-checked probabilities") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // every bigram fully predictable given corpus
      (2L, "a c b a x y"),   // one-off transitions
      (3L, "solo"))          // no bigrams → no row
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(3L), "a one-token doc has no bigrams")
    assert(got(1L)._2 == 5L && got(2L)._2 == 5L)
    // corpus bigram counts: (a,b)=3 of c(a·)=5, (b,a)=2 of c(b·)=2, ...
    // doc 1 = (ab, ba, ab, ba, ab) → mean(3/5, 1, 3/5, 1, 3/5) = 0.76
    // → 3800000 micro-units div 5 = 760000
    assert(got(1L)._1 == 760000L)
    assert(got(1L)._1 > got(2L)._1, "predictable text must outscore one-off transitions")
  }

  test("vocabCoverage: deterministic top-V cut, per-doc OOV ratio") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"), // a:3 b:2 c:1 + d:1 below
      (2L, "a b d d"),
      (3L, "z z z z"))     // all OOV except z? z:4 → z is top-1!
      .toDF("doc_id", "text")
    // counts: z=4, a=4, b=3, d=2, c=1 → V=2 keeps (a, z): tie 4/4 breaks
    // token-asc so 'a' first, both kept at V=2
    val got = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ((6L, 0.5)))  // b b c OOV of 6
    assert(got(2L) == ((4L, 0.75))) // b d d OOV of 4
    assert(got(3L) == ((4L, 0.0)))  // z in vocab
  }

  test("redactPii strips emails, phones, IPs globally; normalizeText canonicalizes") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a.b+c@x-y.example.COM and d@e.org twice"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "host 10.0.0.1 peer 192.168.254.3"),
      (4L, "  Mixed \t WHITESPACE   here  "),
      (5L, "version 1.2 is not an ip, 12345 not a phone"))
      .toDF("id", "t")
    val got = rows.select(col("id"),
        TextAnalysis.redactPii(TextAnalysis.normalizeText(col("t"))).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail <EMAIL> and <EMAIL> twice")
    assert(got(2L) == "call <PHONE> or <PHONE> now")
    assert(got(3L) == "host <IP> peer <IP>")
    assert(got(4L) == "mixed whitespace here")
    assert(got(5L) == "version 1.2 is not an ip, 12345 not a phone")
  }

  test("collocations: PMI ranks the BOUND pair above the merely FREQUENT pair") {
    import spark.implicits._
    // "of the" is everywhere (high count, both words promiscuous);
    // "san francisco" appears less often but its words occur ONLY
    // together — frequency ranks "of the" first, PMI must invert that
    val docs = (1 to 20).map(i =>
      (i.toLong, "of the end of the start of the middle san francisco"))
      .toDF("id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 5L, k = 30)
      .collect().map(r =>
        ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    val byPair = got.toMap
    val (nOf, pmiOf) = byPair(("of", "the"))
    val (nSf, pmiSf) = byPair(("san", "francisco"))
    assert(nOf > nSf, "fixture must make 'of the' the more frequent pair")
    assert(pmiSf > pmiOf, "PMI must rank the bound pair above the frequent one")
    // output is ordered by (pmi desc, w1, w2)
    val pmis = got.map(_._2._2).toSeq
    assert(pmis == pmis.sorted(Ordering[Double].reverse))
  }

  test("collocations: minCount floors out rare pairs; k bounds the output") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b a b a b rare pair")).toDF("id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 3L, k = 1)
      .collect()
    assert(got.length == 1)
    assert((got.head.getString(0), got.head.getString(1)) == ("a", "b"))
  }

  test("langIdRank: rank profiles classify held-out docs; absent grams pay the max penalty") {
    import spark.implicits._
    // two "languages" with disjoint character inventories; the seed
    // carries several docs per language so profiles are stable
    val seed = Seq(
      (1L, "aaabbbaaabbb aab", "aa"),
      (2L, "abababab aabb", "aa"),
      (3L, "xxyyzzxxyyzz xyz", "xx"),
      (4L, "zyxzyxzyx zzyy", "xx"))
      .toDF("doc_id", "text", "lang")
    val held = Seq(
      (10L, "aabbaabbaabb"),          // clearly lang "aa"
      (11L, "xyzxyzxyz"),             // clearly lang "xx"
      (12L, "qqqqqqqq"))              // grams in NEITHER profile
      .toDF("doc_id", "text")
    val out = TextAnalysis.langIdRank(seed, held, "doc_id", "text", "lang",
        profileK = 50, docK = 10)
      .orderBy("doc_id").collect()
    val got = out.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got(0)._1 == 10L && got(0)._2 == "aa")
    assert(got(1)._1 == 11L && got(1)._2 == "xx")
    // all-unknown grams: every DISTINCT doc gram pays profileK per
    // language ("qqqqqqqq" has six trigram positions but ONE distinct
    // gram — profiles are rank lists over distinct grams), so both
    // languages tie at 1×50 and the tie breaks to "aa"
    assert(got(2) == ((12L, "aa", 50L)))
    // MARGIN (the rejection dial): clear docs separate their languages
    // by a positive runner-up gap; the dead tie reads margin 0 — the
    // value a downstream threshold must treat as "unidentifiable"
    val margins = out.map(r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(margins(10L).exists(_ > 0L) && margins(11L).exists(_ > 0L))
    assert(margins(12L).contains(0L))
    // short/NULL text is absent-unclassifiable
    val none = TextAnalysis.langIdRank(seed,
      Seq((20L, "ab"), (21L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text", "lang")
    assert(none.count() == 0)
    // a SINGLE-language seed has no runner-up: margin is NULL (nothing
    // to reject against), prediction and distance still well-defined
    val solo = TextAnalysis.langIdRank(
      seed.filter($"lang" === "aa"), held.filter($"doc_id" === 10L),
      "doc_id", "text", "lang", profileK = 50, docK = 10).collect()
    assert(solo.length == 1 && solo.head.getString(1) == "aa" &&
      solo.head.isNullAt(3))
  }

  test("langIdRank is stable under input re-partitioning") {
    import spark.implicits._
    val seed = (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "the cat sat on the mat" * 2 else "le chat est sur le tapis",
        if (i % 2 == 0) "en" else "fr")).toDF("doc_id", "text", "lang")
    val held = (100L to 120L).map(i =>
      (i, if (i % 3 == 0) "the mat sat" else "le tapis est")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.langIdRank(seed, d, "doc_id", "text", "lang")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(held) == rows(held.repartition(7)))
  }
}
