package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 retrieval: postings correctness, ranking semantics, and the
  * persisted-index lifecycle equivalences (indexed ≡ inline,
  * append ≡ from-scratch). */
class RetrievalSpec extends SparkSpec {

  private def tmp(tag: String): String =
    new java.io.File(java.lang.System.getProperty("java.io.tmpdir"),
      s"graft_test_$tag").toString

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (0L, "spark window agg spark window"),
      (1L, "hash join table hash"),
      (2L, "spark agg"),
      (3L, "filter scan sort"),
      (4L, "window window window window")
    ).toDF("doc_id", "text")
  }

  test("postings: tf counts, doc length, empty-token drop") {
    val p = Retrieval.postings(corpus, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    // (term, doc_id, dl, tf)
    assert(p.contains(("spark", 0L, 5, 2L)))
    assert(p.contains(("window", 0L, 5, 2L)))
    assert(p.contains(("agg", 0L, 5, 1L)))
    assert(p.contains(("window", 4L, 4, 4L)))
    assert(p.count(_._2 == 1L) == 3) // hash, join, table
  }

  test("bm25 ranks the doc matching more query terms first; scores positive") {
    val qs = Seq(0 -> "spark agg")
    val rows = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
      .orderBy("rank").collect()
    // docs 0 and 2 contain both terms; docs 3/4 contain neither term → absent
    assert(rows.map(_.getLong(1)).toSet == Set(0L, 2L))
    assert(rows.map(_.getInt(3)).toSeq == Seq(1, 2))
    assert(rows.forall(_.getDouble(2) > 0))
    // doc 2 (dl=2, both terms) beats doc 0 (dl=5): shorter doc, same hits
    assert(rows.head.getLong(1) == 2L)
  }

  test("query term absent from the corpus contributes nothing, present ones still score") {
    val qs = Seq(0 -> "spark zzz_unseen")
    val rows = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10).collect()
    assert(rows.map(_.getLong(1)).toSet == Set(0L, 2L)) // spark docs only
  }

  test("rm3 expansion retrieves a doc sharing NO original query term") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana date"),
      (2L, "banana date egg"),
      (3L, "date egg fig"),      // zero overlap with the query text
      (4L, "grape honey kiwi"),
      (5L, "lemon mango nut")).toDF("doc_id", "text")
    val qs = Seq(0 -> "apple banana")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", qs, 10)
      .collect().map(_.getLong(1)).toSet
    assert(!plain.contains(3L), "plain BM25 cannot see doc 3")
    val rm3 = Retrieval.rm3TopK(docs, "doc_id", "text", qs, k = 10,
      fbDocs = 2, fbTerms = 8, alpha = 0.5)
    val byDoc = rm3.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byDoc.contains(3L) && byDoc(3L) > 0,
      "feedback terms (date/egg) must pull in doc 3")
    // original-term docs still dominate: doc 1 (both query terms + a
    // feedback term) outranks the expansion-only doc
    val ranks = rm3.orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ranks.indexOf(1L) < ranks.indexOf(3L))
  }

  test("rm3 served from the persisted index ≡ the inline two-stage ranking") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana date"),
      (2L, "banana date egg"),
      (3L, "date egg fig"),
      (4L, "grape honey kiwi")).toDF("doc_id", "text")
    val qs = Seq(0 -> "apple banana", 1 -> "egg fig")
    val root = tmp(s"rm3_srv_${System.nanoTime()}")
    Retrieval.buildIndexM(docs, "doc_id", "text", root)
    val inline = Retrieval.rm3TopK(docs, "doc_id", "text", qs, k = 10,
      fbDocs = 2, fbTerms = 8, alpha = 0.5).orderBy("query_id", "rank")
    val served = Retrieval.rm3ProbeM(spark, root, qs, k = 10,
      fbDocs = 2, fbTerms = 8, alpha = 0.5).orderBy("query_id", "rank")
    assert(served.collect().toSeq == inline.collect().toSeq)
  }

  test("rm3 at alpha=1 preserves the plain BM25 ordering of matching docs") {
    val qs = Seq(0 -> "spark agg", 1 -> "hash join")
    val plain = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val rm3 = Retrieval.rm3TopK(corpus, "doc_id", "text", qs, k = 10,
        fbDocs = 2, fbTerms = 4, alpha = 1.0)
      .filter(col("score") > 0)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rm3.toSeq == plain.toSeq,
      "alpha=1 zeroes the feedback leg: same docs, same order")
  }

  test("rm3 expansion with all-zero feedback (s = 0) keeps the original query at alpha/|q|") {
    // every selected feedback weight is 0, so fbw/s is NaN: a feedback-only
    // term weighs 0 and an original term keeps exactly its alpha/|q| share
    // (an original term that is also a feedback term included); a query
    // with nonzero feedback is interpolated as usual beside it
    val fb = Seq((0, "agg", 0.0), (0, "window", 0.0), (0, "spark", 0.0),
      (1, "hash", 0.3), (1, "table", 0.1))
    val w = Retrieval.rm3Expansion(fb, Seq(0 -> "spark agg join", 1 -> "hash"), alpha = 0.5)
      .map { case (q, t, v) => (q, t) -> v.doubleValue }.toMap
    assert(w == Map(
      (0, "agg") -> 0.166667, (0, "join") -> 0.166667, (0, "spark") -> 0.166667,
      (0, "window") -> 0.0,
      (1, "hash") -> 0.875, (1, "table") -> 0.125))
  }

  test("indexed probe reproduces inline retrieval exactly") {
    val qs = Seq(0 -> "spark window agg", 1 -> "hash join")
    val p = tmp("bm25_idx_eq")
    Retrieval.writeIndex(corpus, "doc_id", "text", p)
    val inline = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    val probed = Retrieval.bm25Probe(spark, p, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(probed == inline)
  }

  test("appended index ≡ from-scratch index (postings add rows, stats segments sum)") {
    val qs = Seq(0 -> "spark window hash")
    val pFull = tmp("bm25_full")
    val pApp = tmp("bm25_app")
    Retrieval.writeIndex(corpus, "doc_id", "text", pFull)
    Retrieval.writeIndex(corpus.filter(col("doc_id") < 2), "doc_id", "text", pApp)
    Retrieval.appendIndex(corpus.filter(col("doc_id") >= 2), "doc_id", "text", pApp)
    val full = Retrieval.bm25Probe(spark, pFull, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    val app = Retrieval.bm25Probe(spark, pApp, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(app == full)
    // df stats really are segmented (two rows per term spanning the split)
    val segs = spark.read.parquet(s"$pApp/stats")
      .filter(col("term") === "spark").count()
    assert(segs == 2, "append must add a stats segment, not rewrite")
  }

  test("hard negatives: anchor excluded, lexically closest non-self ranks first") {
    val rows = Retrieval.hardNegatives(corpus, "doc_id", "text", Seq(0L), 10)
      .orderBy("rank").collect()
    assert(!rows.exists(_.getLong(1) == 0L), "anchor must be excluded")
    // doc 2 shares both 'spark' and 'agg' with anchor 0 → hardest negative;
    // doc 4 shares only 'window'; docs 1/3 share nothing → absent
    assert(rows.head.getLong(1) == 2L)
    assert(rows.map(_.getLong(1)).toSet == Set(2L, 4L))
  }

  test("refreshIndexM ≡ from-scratch build of the new snapshot (update/add/remove)") {
    import spark.implicits._
    val qs = Seq(0 -> "spark window agg", 1 -> "hash join")
    val old = corpus.filter(col("doc_id") =!= 3) // doc 3 arrives later
      .unionByName(Seq((9L, "retired document about nothing")).toDF("doc_id", "text"))
      .withColumn("text", // doc 0 re-crawled with different content
        when(col("doc_id") === 0, lit("totally different now")).otherwise(col("text")))
    val root = tmp(s"bm25_refresh_${java.util.UUID.randomUUID().toString.take(8)}")
    Retrieval.buildIndexM(old, "doc_id", "text", root)
    Retrieval.refreshIndexM(corpus, "doc_id", "text", root)
    val refreshed = Retrieval.bm25ProbeM(spark, root, qs, 10).collect().toSet
    val scratch = tmp(s"bm25_scratch_${java.util.UUID.randomUUID().toString.take(8)}")
    Retrieval.buildIndexM(corpus, "doc_id", "text", scratch)
    assert(refreshed == Retrieval.bm25ProbeM(spark, scratch, qs, 10).collect().toSet)
    assert(refreshed.nonEmpty)
    // retired doc gone from the refreshed postings
    assert(graft.index.IndexManifest.read(spark, root, "postings")
      .filter(col("doc_id") === 9).isEmpty)
  }

  test("refreshIndexM keeps unchanged docs' postings VERBATIM (no re-tokenize)") {
    import spark.implicits._
    val root = tmp(s"bm25_poison_${java.util.UUID.randomUUID().toString.take(8)}")
    Retrieval.buildIndexM(corpus, "doc_id", "text", root)
    // poison doc 1's stored postings via a legal manifest swap: if the
    // refresh re-derived unchanged docs from text, the poison would wash
    // out; it surviving proves the rows were retained, not recomputed
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    val seg = graft.index.IndexManifest.newSegment("postings")
    graft.index.IndexManifest.readAt(spark, root, snap, "postings")
      .withColumn("tf",
        when(col("doc_id") === 1, col("tf") + 100).otherwise(col("tf")))
      .write.parquet(s"$root/$seg")
    graft.index.IndexManifest.commit(spark, root,
      snap.tables.updated("postings", Seq(seg)), expect = Some(snap.version))
    // refresh against a snapshot where only doc 0 changed
    val cur = corpus.withColumn("text",
      when(col("doc_id") === 0, lit("rewritten body")).otherwise(col("text")))
    Retrieval.refreshIndexM(cur, "doc_id", "text", root)
    val after = graft.index.IndexManifest.read(spark, root, "postings")
    assert(after.filter(col("doc_id") === 1 && col("tf") >= 100).count() > 0,
      "unchanged doc's postings were re-derived instead of retained")
    assert(after.filter(col("doc_id") === 0 && col("term") === "rewritten").count() == 1,
      "changed doc must re-post from its new text")
  }

  test("a >1k-term batch routes through the broadcast semi-join, result-identical to isin") {
    // a hard-negative-style batch: 1200 distinct terms (mostly unseen),
    // well past the default isin cap — the inline-literal path would
    // build a 1200-literal IN list per scan
    val noise = (0 until 1200).map(i => s"zz_unseen_$i").mkString(" ")
    val qs = Seq(0 -> s"spark agg $noise", 1 -> "hash join")
    val viaBroadcast = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "past the cap the term restriction must be a semi-join")
    // force the isin path by raising the cap; results must be identical
    spark.conf.set("spark.graft.bm25.isinTermCap", "100000")
    val viaIsin =
      try Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
      finally spark.conf.unset("spark.graft.bm25.isinTermCap")
    assert(viaBroadcast.collect().toSet == viaIsin.collect().toSet)
    assert(viaBroadcast.count() > 0)
  }

  test("mmrDiversifiedTopK at λ=1 degenerates to the BM25 pool order") {
    import spark.implicits._
    val queries = Seq(0 -> "spark window", 1 -> "hash join")
    val pool = Retrieval.bm25TopK(corpus, "doc_id", "text", queries, k = 3)
      .select("query_id", "doc_id", "rank")
      .as[(Int, Long, Int)].collect().toSet
    val mmr = Retrieval.mmrDiversifiedTopK(corpus, "doc_id", "text", queries,
        k = 3, poolSize = 3, lambdaNum = 1, lambdaDen = 1)
      .select("query_id", "doc_id", "mmr_rank")
      .as[(Int, Long, Int)].collect().toSet
    assert(mmr == pool, s"mmr=$mmr pool=$pool")
  }

  test("mmrDiversifiedTopK defers an exact duplicate of the first pick") {
    import spark.implicits._
    // Relevance sees only query terms; the redundancy cosine sees the
    // WHOLE text — that asymmetry is what MMR exploits. Docs 0/1 are
    // exact duplicates; doc 2 matches the same query terms (equal BM25)
    // but carries different filler (cosine to doc 0 ≈ 3/8). λ=1/2:
    // step 2 scores the duplicate (1−1)/2 = 0 vs doc 2's
    // (1−0.375)/2 ≈ 0.31 — the duplicate is deferred to last.
    val dup = Seq(
      (0L, "spark window agg aaa bbb ccc ddd eee"),
      (1L, "spark window agg aaa bbb ccc ddd eee"),
      (2L, "spark window agg xxx yyy zzz www vvv")).toDF("doc_id", "text")
    val got = Retrieval.mmrDiversifiedTopK(dup, "doc_id", "text",
        Seq(0 -> "spark window agg"), k = 3, poolSize = 3,
        lambdaNum = 1, lambdaDen = 2)
      .orderBy("mmr_rank")
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 2L, 1L), got.toString)
  }

  test("probe plan: corpus absent, term filter pushed to the postings scan") {
    val qs = Seq(0 -> "spark window")
    val p = tmp("bm25_plan")
    Retrieval.writeIndex(corpus, "doc_id", "text", p)
    val plan = Retrieval.bm25Probe(spark, p, qs, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(term"), "query-term IN filter must push into parquet")
    assert(!plan.toLowerCase.contains("documents"), "probe must not scan the corpus")
  }

  // ---- positional phrase search ----------------------------------------

  private def phraseRows(
      phrases: Seq[(Int, String)], k: Int = 10,
      docs: org.apache.spark.sql.DataFrame = corpus): Seq[(Int, Long, Long, Int)] =
    Retrieval.phraseTopK(docs, "doc_id", "text", phrases, k)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

  test("phrase: adjacency required and every full occurrence counted") {
    // doc 0 = "spark window agg spark window": starts 1 and 4 → n_occ=2;
    // no other doc contains the bigram
    assert(phraseRows(Seq(0 -> "spark window")) ==
      Seq((0, 0L, 2L, 1)))
  }

  test("phrase matching is order-sensitive (bag-of-words must not match)") {
    // doc 0 contains both terms, window never directly precedes spark
    assert(phraseRows(Seq(0 -> "window spark")).isEmpty)
  }

  test("repeated-term phrase: one doc position satisfies several offsets") {
    // doc 4 = "window window window window": starts 1,2,3 → n_occ=3.
    // doc 0 has window@2 and window@5 — not adjacent, no occurrence.
    assert(phraseRows(Seq(0 -> "window window")) ==
      Seq((0, 4L, 3L, 1)))
  }

  test("trigram with a trailing partial start counts only complete spans") {
    // doc 1 = "hash join table hash": start 1 complete; hash@4 votes
    // start 4 with only offset 0 present → not an occurrence
    assert(phraseRows(Seq(0 -> "hash join table")) ==
      Seq((0, 1L, 1L, 1)))
  }

  test("doubled separators break adjacency (raw-split positions)") {
    import spark.implicits._
    val docs = Seq((0L, "a  b"), (1L, "a b")).toDF("doc_id", "text")
    // doc 0 splits to [a, '', b]: a@1, b@3 — "a b" must not match
    assert(phraseRows(Seq(0 -> "a b"), docs = docs) ==
      Seq((0, 1L, 1L, 1)))
  }

  test("phrase ranking: frequency desc, doc_id tiebreak, k bound") {
    import spark.implicits._
    val docs = Seq(
      (7L, "x y x y x y"), // starts 1,3,5 → 3
      (3L, "x y q x y"),   // starts 1,4 → 2
      (5L, "x y q x y")    // tie with doc 3 → doc 3 first
    ).toDF("doc_id", "text")
    assert(phraseRows(Seq(0 -> "x y"), k = 2, docs = docs) ==
      Seq((0, 7L, 3L, 1), (0, 3L, 2L, 2)))
  }

  test("phrase served from the persisted positional index ≡ inline; append ≡ from-scratch; pin replays v1") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val phrases = Seq(0 -> "table part", 1 -> "table table")
    val root = tmp(s"posidx_${java.util.UUID.randomUUID().toString.take(8)}")
    val v1 = Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // accumulated index ≡ inline over the full corpus
    assert(rows(Retrieval.phraseProbeM(spark, root, phrases, 10)) ==
      rows(Retrieval.phraseTopK(docs, "doc_id", "text", phrases, 10)))
    // pinned at v1 ≡ inline over the even half only
    assert(rows(Retrieval.phraseProbeM(spark, root, phrases, 10, at = Some(v1))) ==
      rows(Retrieval.phraseTopK(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", phrases, 10)))
  }

  test("sdm served from the positional index ≡ inline, incl. appended corpus stats") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val queries = Seq(0 -> "table part window", 1 -> "key agg row")
    val root = tmp(s"sdmserve_${java.util.UUID.randomUUID().toString.take(8)}")
    // build + append so the corpus scalars must SUM across segment rows
    Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows(Retrieval.sdmProbeM(spark, root, queries, 10)) ==
      rows(Retrieval.sdmTopK(docs, "doc_id", "text", queries, 10)))
  }

  test("mmr served from the committed index ≡ inline; pin replays the even-half inline") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val queries = Seq(0 -> "table part window", 1 -> "key agg row")
    val root = tmp(s"mmrserve_${java.util.UUID.randomUUID().toString.take(8)}")
    val v1 = Retrieval.buildIndexM(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    Retrieval.appendIndexM(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "mmr_rank").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // served (HEAD = full corpus) ≡ inline: exact BM25 pool from stored
    // postings, so the whole greedy selection matches bit-for-bit
    assert(rows(Retrieval.mmrDiversifiedProbeM(spark, root, docs,
        "doc_id", "text", queries, k = 5)) ==
      rows(Retrieval.mmrDiversifiedTopK(docs, "doc_id", "text", queries, k = 5)))
    // pinned at v1 ≡ inline over the even half only — pool, idf/avgdl,
    // and therefore the selection all resolve from v1
    assert(rows(Retrieval.mmrDiversifiedProbeM(spark, root, docs,
        "doc_id", "text", queries, k = 5, at = Some(v1))) ==
      rows(Retrieval.mmrDiversifiedTopK(
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", queries, k = 5)))
  }

  test("compactPosIndexM: probe-after ≡ probe-before; segments fold to one per table") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val phrases = Seq(0 -> "table part", 1 -> "key agg row")
    val root = tmp(s"poscomp_${java.util.UUID.randomUUID().toString.take(8)}")
    Retrieval.buildPosIndexM(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    Retrieval.appendPosIndexM(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root)
    def rows() = Retrieval.phraseProbeM(spark, root, phrases, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val before = rows()
    Retrieval.compactPosIndexM(spark, root)
    assert(rows() == before)
    val snap = graft.index.IndexManifest.snapshot(spark, root)
    assert(Seq("pos", "corpus", "docs").forall(t => snap.tables(t).size == 1),
      s"compaction must fold every table to one segment: ${snap.tables}")
  }

  test("phrase probe plan: term filter pushed into the pos scan, corpus never scanned") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val root = tmp(s"posplan_${java.util.UUID.randomUUID().toString.take(8)}")
    Retrieval.buildPosIndexM(docs, "doc_id", "text", root)
    val plan = Retrieval.phraseProbeM(spark, root, Seq(0 -> "table part"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(term"), "phrase-term IN filter must push into parquet")
    assert(!plan.contains("documents.parquet"), "probe must not scan the corpus")
  }

  // ---- offline ranking evaluation ----------------------------------------

  test("rankingMetrics: perfect ranking scores 1.0 everywhere; degraded ranking scores below") {
    import spark.implicits._
    val judg = Seq(
      (1, 10L, 3L), (1, 11L, 2L), (1, 12L, 1L), // graded judgments
      (2, 20L, 1L)
    ).toDF("query_id", "doc_id", "rel")
    // query 1: candidate = the ideal order; query 2: the relevant doc
    // surfaces at rank 3 behind two unjudged docs
    val cand = Seq(
      (1, 10L, 1), (1, 11L, 2), (1, 12L, 3),
      (2, 98L, 1), (2, 99L, 2), (2, 20L, 3)
    ).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankingMetrics(cand, judg, k = 10)
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got(1) == ((1.0, 1.0, 1.0)))
    val (rec2, mrr2, ndcg2) = got(2)
    assert(rec2 == 1.0) // the one relevant doc IS retrieved within k
    assert(mrr2 == 0.333333) // first relevant at rank 3
    // DCG = 1/log2(4), IDCG = 1/log2(2) = 1 → ndcg = 1/2
    assert(ndcg2 == 0.5)
  }

  test("rankingMetrics: missed docs lower recall; unjudged-only queries are absent") {
    import spark.implicits._
    val judg = Seq(
      (1, 10L, 2L), (1, 11L, 1L), // two relevant
      (3, 30L, 0L)                // judged but NOT relevant
    ).toDF("query_id", "doc_id", "rel")
    val cand = Seq(
      (1, 10L, 1), (1, 99L, 2), // finds one of two
      (3, 30L, 1)               // query 3 has no relevant judgments
    ).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankingMetrics(cand, judg, k = 10)
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1), "no-relevant-judgment queries must be absent")
    assert(got(1)._1 == 0.5) // recall: 1 of 2
    assert(got(1)._2 == 1.0) // first hit at rank 1
    // DCG = 2/1; IDCG = 2/1 + 1/log2(3)
    assert(got(1)._3 > 0 && got(1)._3 < 1.0)
  }

  test("rankingMetrics is judgment-driven: a query the ranker missed entirely scores 0/0/0") {
    import spark.implicits._
    val judg = Seq((1, 10L, 1L), (7, 70L, 2L), (7, 71L, 1L))
      .toDF("query_id", "doc_id", "rel")
    // the ranker returned rows for query 1 only — query 7 must still
    // surface (as the honest total miss), never vanish from the report
    val cand = Seq((1, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankingMetrics(cand, judg, k = 10)
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1, 7))
    assert(got(1) == ((1.0, 1.0, 1.0)))
    assert(got(7) == ((0.0, 0.0, 0.0)))
  }

  test("rankingMetrics: duplicate judgment rows collapse to max rel — no metric exceeds 1.0") {
    import spark.implicits._
    // doc 10 judged twice (rel 1 and rel 3 — the multiple-assessor
    // shape): without the dedup the left join fans out, __hits counts
    // the doc twice, and recall reads 2.0
    val judg = Seq((1, 10L, 1L), (1, 10L, 3L))
      .toDF("query_id", "doc_id", "rel")
    val cand = Seq((1, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankingMetrics(cand, judg, k = 10)
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // one judged doc (max rel = 3), retrieved at rank 1: perfect scores
    assert(got == Map(1 -> ((1.0, 1.0, 1.0))))
  }

  // ---- sequential dependence (SDM) --------------------------------------

  test("sdm: identical bags rank adjacent > within-window > scattered") {
    import spark.implicits._
    val fill = (n: Int) => Seq.fill(n)("x").mkString(" ")
    // all three docs: each query term exactly once, dl=24 — the unigram
    // component ties, so the ordering is decided by the window components
    val docs = Seq(
      (0L, s"spark window agg ${fill(21)}"),           // adjacent (#1 hits)
      (1L, s"spark x window x agg ${fill(19)}"),       // within uw8 only
      (2L, s"spark ${fill(8)} window ${fill(8)} agg ${fill(5)}") // ≥8 apart
    ).toDF("doc_id", "text")
    val r = Retrieval.sdmTopK(docs, "doc_id", "text",
        Seq(0 -> "spark window agg"), 10)
      .orderBy("rank").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    // the blend is strictly ordered, not tied
    assert(r.map(_.getDouble(2)).distinct.length == 3)
  }

  test("sdm with unit unigram weight and zero window weights ≡ plain BM25") {
    val qs = Seq(0 -> "spark agg", 1 -> "hash join table")
    val sdm = Retrieval.sdmTopK(corpus, "doc_id", "text", qs, 10,
        lambdaT = "1.00", lambdaO = "0.00", lambdaU = "0.00")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val bm = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(sdm == bm)
  }

  test("sdm repeated-term pair: each unordered position pair counted once") {
    import spark.implicits._
    // "w w": ordered adjacency tf=1; unordered pairs within 8 = C(2,2)=1 —
    // a bidirectional count would double it. With a doc where the two
    // w's sit apart (no adjacency), only the unordered component fires.
    val docs = Seq(
      (0L, "w x x w x x x x"), // unordered pair only (gap 3 < 8)
      (1L, "w w x x x x x x")  // adjacent: ordered AND unordered fire
    ).toDF("doc_id", "text")
    val r = Retrieval.sdmTopK(docs, "doc_id", "text", Seq(0 -> "w w"), 10)
      .orderBy("rank").collect()
    // same unigram tf and dl; doc 1 adds the ordered component → first
    assert(r.map(_.getLong(1)).toSeq == Seq(1L, 0L))
  }

  test("sdm unordered window: binned equi-join ≡ naive pair multiset, incl. a hot repeated term") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, abs, when}
    // doc 0: 'w' at 8 of 15 positions (the stopword shape the binning
    // exists for — occ² pre-filter pairs under the naive join); doc 1 is
    // ALL 'w'; doc 2 puts the a/b pair exactly at the window edge
    val docs = Seq(
      (0L, "w a w w b w x w a w w w b a w"),
      (1L, Seq.fill(20)("w").mkString(" ")),
      (2L, ("a " + Seq.fill(9)("x").mkString(" ") + " b a x b"))
    ).toDF("doc_id", "text")
    val queries = Seq(0 -> "w w", 1 -> "a b", 2 -> "w a")
    val terms = queries.flatMap(_._2.split(" ")).distinct
    val pairFrame = queries.flatMap { case (qid, text) =>
      val ts = text.split(" ").filter(_.nonEmpty)
      ts.zip(ts.drop(1)).distinct.map { case (a, b) => (qid, a, b) }
    }.toDF("query_id", "ta", "tb")
    val pp = Retrieval.positionalPostings(docs, "doc_id", "text")
      .filter(col("term").isin(terms: _*))
    val aSide = pp.join(broadcast(pairFrame), pp("term") === pairFrame("ta"))
      .select(col("query_id"), col("ta"), col("tb"), col("doc_id"),
        col("pos").as("pa"), col("dl"))
    val bSide = pp.select(col("term").as("tb2"),
      col("doc_id").as("doc_b"), col("pos").as("pb"))
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("ta"), col("tb"), col("doc_id"),
          col("pa"), col("pb"))
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    for (w <- Seq(2, 4, 8)) {
      val naive = aSide.join(bSide,
        aSide("doc_id") === bSide("doc_b") &&
          bSide("tb2") === aSide("tb") &&
          (when(aSide("ta") === aSide("tb"),
            bSide("pb") > aSide("pa") && bSide("pb") - aSide("pa") < w)
            .otherwise(bSide("pb") =!= aSide("pa") &&
              abs(bSide("pb") - aSide("pa")) < w)))
      val binned = Retrieval.unorderedPairHits(aSide, bSide, w)
      val got = multiset(binned)
      assert(got == multiset(naive), s"pair multiset diverged at wUn=$w")
      assert(got.nonEmpty, s"degenerate spec: no pairs at wUn=$w")
      // exactly-once: no (query, pair, doc, pa, pb) appears twice from
      // the 3-bin explode (each partner's canonical bin matches ONE row)
      assert(got.distinct.size == got.size, s"duplicate pair rows at wUn=$w")
    }
  }

  test("phrase differential: relational assembly ≡ driver-side sliding window at sf0.001") {
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val phrases = Seq(0 -> "table part", 1 -> "table table", 2 -> "key agg row")
    val got = phraseRows(phrases, k = 1000, docs = docs)
      .map { case (q, d, n, _) => (q, d, n) }.toSet
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = (for {
      (qid, ph) <- phrases
      pts = ph.split(" ").filter(_.nonEmpty)
      (did, text) <- texts
      toks = text.split(" ", -1) // raw split, empties keep their slot
      n = toks.indices.count(s =>
        s + pts.length <= toks.length &&
          pts.indices.forall(i => toks(s + i) == pts(i) && toks(s + i).nonEmpty))
      if n > 0
    } yield (qid, did, n.toLong)).toSet
    assert(got == want)
  }
}
