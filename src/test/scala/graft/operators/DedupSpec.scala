package graft.operators

import graft.{SparkSpec, TempDirs}
import graft.index.IndexManifest
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different text here entirely now"),
    (4L, "tiny")) // shorter than shingle width
    .toDF("doc_id", "text")

  test("exact dedup: canonical = min id per digest group") {
    val out = Dedup.exact(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getBoolean(2) && out(0).getLong(3) == 2)   // doc 0 canonical of pair
    assert(!out(1).getBoolean(2) && out(1).getLong(3) == 2)  // doc 1 duplicate
    assert(out(3).getBoolean(2) && out(3).getLong(3) == 1)   // doc 3 unique
  }

  test("exact dedup: null-text docs stand alone, never clique together") {
    val withNulls = docs.unionByName(Seq(
      (10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = Dedup.exact(withNulls, "text", "doc_id")
      .filter(col("doc_id") >= 10).orderBy("doc_id").collect()
    // a null hash is not a content match: both rows canonical, count 1
    assert(out.forall(r => r.isNullAt(1) && r.getBoolean(2) && r.getLong(3) == 1L),
      out.mkString(", "))
  }

  test("shingles: n-gram windows; short docs shingle to whole text") {
    val sh = Dedup.explodedShingles(docs, "text", "doc_id", 5)
    val tiny = sh.filter(col("doc_id") === 4).select("shingle").as[String].collect()
    assert(tiny.toSeq == Seq("tiny"))
    val d0 = sh.filter(col("doc_id") === 0).count()
    assert(d0 == 5) // 9 tokens → 5 distinct 5-gram windows
  }

  test("incremental dedup classifies corpus-dups, batch-dups, and keepers") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"), (13L, "delta"),
        (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.incremental(corpus, batch, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      10L -> "dup_of_corpus", 11L -> "kept", 12L -> "dup_in_batch", 13L -> "kept",
      14L -> "null_text"))
  }

  test("minhashBands ≡ minhash∘lshBands (fused path produces identical hashes)") {
    val sh = Dedup.explodedShingles(docs, "text", "doc_id", 3)
    val slow = Dedup.lshBands(Dedup.minhash(sh, "doc_id", 8), "doc_id", 8, 4)
      .orderBy("doc_id", "band").collect().toSeq
    val fused = Dedup.minhashBands(sh, "doc_id", 8, 4)
      .orderBy("doc_id", "band").collect().toSeq
    assert(fused == slow)
  }

  test("LSH candidates contain the exact duplicate pair") {
    val sh = Dedup.explodedShingles(docs, "text", "doc_id", 3)
    val pairs = Dedup.lshCandidates(Dedup.minhashBands(sh, "doc_id", 8, 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => b == 3L || a == 3L }) // unrelated doc not a candidate
  }

  test("LSH maxBucket skips monster buckets (exact-dup cliques)") {
    import spark.implicits._
    // 6 identical docs → one clique: every band bucket has width 6
    val clones = (0L until 6L).map(i => (i, "same text every single time here"))
      .toDF("doc_id", "text")
    val sh = Dedup.rawShingles(clones, "text", "doc_id", 3)
    val banded = Dedup.minhashBands(sh, "doc_id", 8, 4)
    assert(Dedup.lshCandidates(banded, "doc_id").count() == 15) // 6 choose 2
    assert(Dedup.lshCandidates(banded, "doc_id", maxBucket = 5).count() == 0)
  }

  test("n-gram Jaccard: exact dup = 1.0, near dup in (0,1), threshold filters") {
    val sh = Dedup.explodedShingles(docs, "text", "doc_id", 3)
    val sim = Dedup.ngramJaccardPairs(sh, "doc_id", threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(sim((0L, 1L)) == 1.0)
    assert(sim((0L, 2L)) > 0.3 && sim((0L, 2L)) < 1.0)
    assert(!sim.contains((0L, 3L)))
  }

  test("chunked pair expansion ≡ flat all-pairs across chunk boundaries") {
    import spark.implicits._
    // Posting lists spanning 1, 2, and 3+ chunks at width 32 (pinned
    // here so the fixture keeps its boundary coverage if the default
    // width moves): shingle s0 shared by 70 docs (3 chunks), s1 by 33
    // (straddles one boundary), s2 by 2, plus per-doc unique shingles
    // so sizes and Jaccard denominators differ per doc. The chunked
    // two-level expansion must reproduce the flat m(m-1)/2 pair
    // multiset exactly — same pairs, same counts, same Jaccard values.
    spark.conf.set("spark.graft.jaccard.pairChunk", "32")
    val rows =
      (0L until 70L).map(i => (i, "s0")) ++
        (0L until 33L).map(i => (i, "s1")) ++
        Seq((100L, "s2"), (101L, "s2")) ++
        (0L until 102L).map(i => (i, s"u$i"))
    val sh = rows.toDF("doc_id", "shingle")
    val got = Dedup.ngramJaccardPairs(sh, "doc_id", threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // flat reference computed directly from the definition
    val byDoc = rows.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    val expect = (for {
      a <- byDoc.keys; b <- byDoc.keys; if a < b
      inter = (byDoc(a) & byDoc(b)).size; if inter > 0
    } yield (a, b) -> inter.toDouble / (byDoc(a).size + byDoc(b).size - inter)).toMap
    assert(got == expect)
    // sanity on the shape itself: 70-wide list alone contributes 70*69/2
    assert(expect.size == 70 * 69 / 2 + 1)
    spark.conf.unset("spark.graft.jaccard.pairChunk")
  }

  test("simhashSigs ≡ simhash60 scalar expression (codegen path matches SQL path)") {
    val fast = Dedup.simhashSigs(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val scalar = docs.select(col("doc_id"), TextAnalysis.simhash60(col("text")).as("sig"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(fast == scalar)
  }

  test("simhash pigeonhole banding: recall 1.0 — banded ≡ brute force at every threshold") {
    val sigs = Dedup.simhashSigs(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (t <- Seq(0, 3, 8)) {
      val expect = (for {
        a <- sigs.keys.toSeq; b <- sigs.keys.toSeq if a < b
        if ham(sigs(a), sigs(b)) <= t
      } yield (a, b, ham(sigs(a), sigs(b)))).toSet
      val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expect, s"banding at threshold $t lost or invented pairs")
    }
    // the planted exact-dup pair survives even the tightest threshold
    assert(Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).contains((0L, 1L)))
  }

  test("clusters: connected components label every doc with its min reachable id") {
    val ids = (0L to 7L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("clusters converge on a chain longer than one propagation step") {
    val ids = (0L to 5L).toDF("doc_id")
    val chain = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (0L, 1L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(ids, chain, "doc_id").as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(0L))
  }

  test("embedding near-dup pairs find identical vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.5f, -0.2f, 0.9f, 0.1f, -0.6f, 0.3f, 0.8f)),
      (1L, Array(1.0f, 0.5f, -0.2f, 0.9f, 0.1f, -0.6f, 0.3f, 0.8f)),
      (2L, Array(-1.0f, -0.5f, 0.2f, -0.9f, -0.1f, 0.6f, -0.3f, -0.8f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.99, signBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // 2 is anti-parallel: different bucket + cosine −1
  }

  test("minhash-estimated Jaccard: exact dup estimates 1.0, pairs = LSH candidates") {
    val sh = Dedup.rawShingles(docs, "text", "doc_id", 3)
    val est = Dedup.lshEstimatedPairs(sh, "doc_id", k = 8, bands = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val candidates = Dedup.lshCandidates(
        Dedup.minhashBands(sh, "doc_id", 8, 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est.keySet == candidates, "estimate rows must be exactly the candidate set")
    assert(est((0L, 1L)) == 1.0) // identical docs: every seed's min matches
    assert(est.values.forall(v => v >= 0.0 && v <= 1.0))
    // minEst threshold filters
    val strict = Dedup.lshEstimatedPairs(sh, "doc_id", k = 8, bands = 4, minEst = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((0L, 1L)))
    assert(strict.subsetOf(candidates))
  }

  test("simhash maxBucket skips monster block buckets (exact-dup cliques)") {
    // 6 identical docs: every (block, block_val) bucket has width 6
    val clones = (0L until 6L).map(i => (i, "same text every single time here"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashPairs(clones, "text", "doc_id", maxHamming = 3)
      .count() == 15) // 6 choose 2
    assert(Dedup.simhashPairs(clones, "text", "doc_id", maxHamming = 3,
      maxBucket = 5).count() == 0)
    // near-dups in small buckets are unaffected by the cap
    val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("embedding maxBucket skips monster sign buckets") {
    val v = Array(1.0f, 0.5f, -0.2f, 0.9f, 0.1f, -0.6f, 0.3f, 0.8f)
    val clique = (0L until 6L).map(i => (i, v)).toDF("vec_id", "embedding")
    assert(Dedup.embeddingDupPairs(clique, "vec_id", "embedding", 0.99, signBits = 4)
      .count() == 15)
    assert(Dedup.embeddingDupPairs(clique, "vec_id", "embedding", 0.99, signBits = 4,
      maxBucket = 5).count() == 0)
    // a small bucket elsewhere survives: add an isolated near-dup pair
    val mixed = clique.unionByName(Seq(
      (10L, v.map(-_)), (11L, v.map(-_))).toDF("vec_id", "embedding"))
    val pairs = Dedup.embeddingDupPairs(mixed, "vec_id", "embedding", 0.99,
        signBits = 4, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("containment finds the quote-in-larger-doc pair that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val pair = Seq((0L, small), (1L, s"$small $filler"))
      .toDF("doc_id", "text")
    val sh = Dedup.digestShingles(pair, "text", "doc_id", 3)
    // every one of doc 0's shingles appears in doc 1 → containment 1.0
    // in the small side; sizes differ ~6x → Jaccard stays low
    val jac = Dedup.ngramJaccardPairs(sh, "doc_id", threshold = 0.5)
    assert(jac.count() == 0, "Jaccard at 0.5 must miss the asymmetric pair")
    val cont = Dedup.containmentPairs(sh, "doc_id", threshold = 0.9)
      .collect()
    assert(cont.length == 1)
    assert(cont(0).getLong(0) == 0L && cont(0).getLong(1) == 1L)
    assert(cont(0).getDouble(2) == 1.0, "doc 0 fully contained in doc 1")
    assert(cont(0).getDouble(3) < 0.5)
    // symmetric near-dups still surface in both measures
    val both = Seq((0L, small), (1L, small + " omega"))
      .toDF("doc_id", "text")
    val sh2 = Dedup.digestShingles(both, "text", "doc_id", 3)
    assert(Dedup.ngramJaccardPairs(sh2, "doc_id", 0.5).count() == 1)
    assert(Dedup.containmentPairs(sh2, "doc_id", 0.5).count() == 1)
  }

  test("semDedup: within-cluster dominance keeps the least-centroid-similar copy") {
    val centroids = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val emb = Seq(
      (10L, Array(1f, 0.1f, 0f, 0f)),
      (11L, Array(1f, 0.12f, 0f, 0f)),   // near-dup of 10; LOWER centroid sim → kept
      (12L, Array(0.9f, -0.4f, 0f, 0f)), // same cluster, under threshold vs 10/11
      (20L, Array(0f, 1f, 0.1f, 0f)),
      (21L, Array(0.1f, 1f, 0.1f, 0f)),  // near-dup of 20; lower centroid sim → kept
      (30L, Array(0f, 0f, 1f, 0.2f)),    // identical pair: centroid-sim tie …
      (31L, Array(0f, 0f, 1f, 0.2f)))    // … breaks to the lower id
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, centroids, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(out == Map(10L -> false, 11L -> true, 12L -> true,
      20L -> false, 21L -> true, 30L -> true, 31L -> false))
  }

  test("semDedup maxCluster drops oversize clusters, small clusters still dedupe") {
    val centroids = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val big = (100L until 106L).map(i => (i, Array(1f, 0.01f * (i - 100)))) // 6 rows → cluster 0
    val small = Seq((200L, Array(0.01f, 1f)), (201L, Array(0.012f, 1f)))
    val emb = (big ++ small).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, centroids, "vec_id", "embedding",
        threshold = 0.9, maxCluster = 5)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(out.keySet == Set(200L, 201L), "oversize cluster rows drop from the output")
    assert(out == Map(200L -> false, 201L -> true)) // 201 is less centroid-similar
    // uncapped: the clique dedupes to exactly one surviving copy
    val full = Dedup.semDedup(emb, centroids, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(full.size == 8 && full.count(_._2) == 2,
      "one survivor per near-dup clique, per cluster")
  }

  test("semDedup matches a driver-side brute-force reference on the synthetic embeddings") {
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val centroids = emb.filter(col("vec_id") % 100 === 0)
    val got = Dedup.semDedup(emb, centroids, "vec_id", "embedding", threshold = 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cents = vecs.keys.filter(_ % 100 == 0).toSeq.sorted
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // same rules, straight-line: argmax assignment (rounded cosine desc,
    // centroid id asc), then pairwise dominance on (csim asc, id asc)
    val assign = vecs.map { case (id, v) =>
      id -> cents.map(c => (c, r6(cos(v, vecs(c))))).maxBy { case (c, s) => (s, -c.toDouble) }
    }
    val want = vecs.keys.map { id =>
      val (cl, csim) = assign(id)
      val dominated = vecs.keys.exists { other =>
        other != id && assign(other)._1 == cl &&
          r6(cos(vecs(id), vecs(other))) >= 0.3 && {
            val (_, osim) = assign(other)
            osim < csim || (osim == csim && other < id)
          }
      }
      id -> ((cl, !dominated))
    }.toMap
    assert(got == want)
    assert(got.values.count(!_._2) > 0, "fixture must exercise removals")
  }

  test("cross-corpus LSH pairs: only cross edges, consistent with the self-join family") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    def sh(f: org.apache.spark.sql.DataFrame) =
      Dedup.rawShingles(f, "text", "doc_id", 5)
    val cross = Dedup.crossCorpusLshPairs(
        sh(docs.filter(col("doc_id") % 2 === 0)),
        sh(docs.filter(col("doc_id") % 2 =!= 0)),
        "doc_id", k = 16, bands = 4)
      .as[(Long, Long, Double)].collect()
    // every pair crosses the split, new side first
    assert(cross.forall { case (n, b, _) => n % 2 == 0 && b % 2 != 0 })
    // exactly the self-join family's pairs that straddle the split, with
    // identical estimates (same signatures, same estimator)
    val selfPairs = Dedup.lshEstimatedPairs(sh(docs), "doc_id", k = 16, bands = 4)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b, e) => if (a % 2 == 0) (a, b, e) else (b, a, e) }.toSet
    assert(cross.toSet == selfPairs)
    assert(cross.nonEmpty)
  }

  test("indexed cross-corpus probe ≡ the inline operator, pair for pair") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    def sh(f: org.apache.spark.sql.DataFrame) =
      Dedup.rawShingles(f, "text", "doc_id", 5)
    val lake = sh(docs.filter(col("doc_id") % 2 =!= 0))
    val delta = sh(docs.filter(col("doc_id") % 2 === 0))
    val idxPath = tempDir("graft_lshidx_spec")
    Dedup.buildLshIndexM(lake, "doc_id", k = 16, bands = 4, idxPath)
    val (idxBands, idxSigs) = Dedup.readLshIndexM(spark, idxPath)
    val indexed = Dedup.indexedCrossCorpusPairs(idxBands, idxSigs,
        delta, "doc_id", k = 16, bands = 4, maxBucket = 1000)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Dedup.crossCorpusLshPairs(delta, lake, "doc_id",
        k = 16, bands = 4, maxBucket = 1000)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == inline && indexed.nonEmpty)
    // the persisted bucket_n column enforces the same skew cut the inline
    // operator computes per run: a cap below the hottest bucket must drop
    // pairs identically on both paths
    val capped = Dedup.indexedCrossCorpusPairs(idxBands, idxSigs,
        delta, "doc_id", k = 16, bands = 4, maxBucket = 2)
      .as[(Long, Long, Double)].collect().toSet
    val cappedInline = Dedup.crossCorpusLshPairs(delta, lake, "doc_id",
        k = 16, bands = 4, maxBucket = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == cappedInline)
  }

  test("edit-distance pairs: hand-checked distances, block escape, maxBlock cap, NULL text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "prefix__ hello world document"),
      (2L, "prefix__ hello worXd documYnt"), // 2 edits from doc 1 within the key
      (3L, "prefix__ goodbye entirely other"), // same block, far key
      (4L, "ZZZZZZZZ hello world document"), // edit inside the block prefix escapes
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        keyChars = 29, blockChars = 8, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 2)), s"got $got")
    // widen the distance: doc 3 still blocks with 1 and 2 but stays out
    val widened = Dedup.editDistancePairs(docs, "doc_id", "text",
        keyChars = 29, blockChars = 8, maxDist = 10)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(widened == Set((1L, 2L)))
    // a monster block is cut by the cap; the isolated pair elsewhere survives
    val flood = (100L until 120L).map(i => (i, s"samehead_ flood $i")) ++
      Seq((1L, "prefix__ hello world"), (2L, "prefix__ hello worXd"))
    val capped = Dedup.editDistancePairs(flood.toDF("doc_id", "text"), "doc_id", "text",
        keyChars = 20, blockChars = 9, maxDist = 6, maxBlock = 5)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(capped == Set((1L, 2L)))
  }

  /** Reference implementation of [[Dedup.repeatedSpans]] semantics on a
    * tiny corpus: enumerate every gram, count distinct docs per gram
    * string, merge repeated positions into maximal spans. */
  private def bruteSpans(
      docs: Seq[(Long, String)], L: Int, minDocs: Int): Set[(Long, Int, Int)] = {
    val grams = docs.filter(d => d._2 != null && d._2.length >= L)
      .flatMap { case (id, t) =>
        (1 to t.length - L + 1).map(p => (id, p, t.substring(p - 1, p - 1 + L))) }
    val docFreq = grams.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size).toMap
    grams.filter(g => docFreq(g._3) >= minDocs)
      .groupBy(_._1).toSeq.flatMap { case (id, gs) =>
        gs.map(_._2).sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: tail, p) if p <= e + 1 => (s, math.max(e, p + L - 1)) :: tail
          case (acc, p)                          => (p, p + L - 1) :: acc
        }.map { case (s, e) => (id, s, e) }
      }.toSet
  }

  test("repeatedSpans matches the brute-force reference and localizes shared bytes") {
    import spark.implicits._
    val shared = "once upon a midnight dreary while I pondered weak and weary"
    val shared2 = "quoth the raven nevermore said the bird of yore"
    val docs = Seq(
      (1L, s"alpha preface text... $shared ...and then alpha epilogue words"),
      (2L, s"beta document opens.. $shared ..beta middle part.. $shared2 tail"),
      (3L, s"gamma unrelated body entirely its own phrasing throughout here $shared2 x"),
      (4L, "delta has a twice-repeated phrase: unique marker unique marker, one doc only"),
      (5L, "short"),
      (6L, null.asInstanceOf[String]))
    val L = 16
    val expected = bruteSpans(docs, L, minDocs = 2)
    val got = Dedup.repeatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // the shared sentences were localized: docs 1 and 2 each carry a span
    // covering $shared, docs 2 and 3 one covering $shared2, and doc 2 has
    // BOTH (two disjoint islands); doc 4's within-doc repeat is NOT a span
    // (minDocs counts distinct documents), and short/null docs are absent
    assert(got.count(_._1 == 2L) == 2)
    assert(expected.exists { case (id, s, e) => id == 1L && e - s + 1 >= shared.length })
    assert(!got.exists(_._1 == 4L) && !got.exists(_._1 == 5L) && !got.exists(_._1 == 6L))
    // raising minDocs past any gram's doc frequency empties the result
    assert(Dedup.repeatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
      gramChars = L, minDocs = 3).isEmpty)
  }

  test("incrementalSpans over the persisted gram index ≡ whole-corpus spans on the delta") {
    import spark.implicits._
    val lakeShared = "the standing corpus carries this boilerplate banner text"
    val deltaShared = "two fresh documents share this newly minted passage here"
    val lake = Seq(
      (10L, s"lake alpha opens.. $lakeShared ..and wanders off topic for a while"),
      (11L, s"lake beta text... $lakeShared ...lake beta closes differently"),
      (12L, "lake gamma is entirely original content with no twin anywhere"))
    val delta = Seq(
      // repeated only via the LAKE index (single delta occurrence)
      (90L, s"delta one preface $lakeShared delta one epilogue entirely new"),
      // repeated only within the DELTA (never seen by the lake)
      (91L, s"delta two begins! $deltaShared and then delta two trails off"),
      (92L, s"delta three yes.. $deltaShared with its own distinct ending!!"),
      // no repeats at all, plus degenerate rows
      (93L, "delta four is wholly original and must produce no span rows"),
      (94L, "short"),
      (95L, null.asInstanceOf[String]))
    val L = 16
    val idxPath = tempDir("graft_gramidx_spec")
    Dedup.buildGramIndexM(lake.toDF("doc_id", "text"), "doc_id", "text", L, idxPath)
    val got = Dedup.incrementalSpans(Dedup.readGramIndexM(spark, idxPath),
        delta.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Int, Int)].collect().toSet
    // the contract: identical to running the whole-corpus operator over
    // lake ∪ delta and keeping only delta documents
    val whole = Dedup.repeatedSpans((lake ++ delta).toDF("doc_id", "text"),
        "doc_id", "text", gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == whole.filter(_._1 >= 90L), s"got $got\nwhole $whole")
    // both repeat modalities present: a lake-index hit (doc 90, single
    // delta occurrence) and a delta-internal pair (91, 92); originals silent
    assert(got.exists(_._1 == 90L) && got.exists(_._1 == 91L) && got.exists(_._1 == 92L))
    assert(!got.exists(s => s._1 == 93L || s._1 == 94L || s._1 == 95L))
    // lake documents are never re-emitted — the index replaced their text
    assert(got.forall(_._1 >= 90L))

    // keep-first over the same index: ≡ whole-corpus keep-first on the
    // delta — doc 90's lakeShared copy is still marked (a lake doc owns
    // it), and of the delta-internal pair only the NON-owner (92) is
    // marked; owner 91 keeps its copy
    val gotKf = Dedup.incrementalSpansKeepFirst(Dedup.readGramIndexM(spark, idxPath),
        delta.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Int, Int)].collect().toSet
    val wholeKf = Dedup.repeatedSpansKeepFirst(
        (lake ++ delta).toDF("doc_id", "text"), "doc_id", "text", gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(gotKf == wholeKf.filter(_._1 >= 90L), s"got $gotKf\nwhole $wholeKf")
    assert(gotKf.exists(_._1 == 90L) && gotKf.exists(_._1 == 92L))
    assert(!gotKf.exists(_._1 == 91L), "owner of the delta-internal pair must keep its copy")
  }

  test("bucketed-index spans ≡ broadcast-index spans, with zero index-side exchange and no broadcast") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val lake = docs.filter(col("doc_id") % 10 < 8)
    val delta = docs.filter(col("doc_id") % 10 >= 8)
    val L = 30
    val idxPath = tempDir("graft_gramidx_bb")
    Dedup.buildGramIndexM(lake, "doc_id", "text", L, idxPath)
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // big-delta regime
    // AQE's initial plan materializes the delta digest exchange twice and
    // only reuses at runtime — capture the statically-reused plan instead
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.writeGramIndexBucketed(lake, "doc_id", "text", L,
        "bk_gramidx_spec", buckets)
      val bucketed = Dedup.incrementalSpansBucketed(
        Bucketing.readBucketed(spark, "bk_gramidx_spec"),
        delta, "doc_id", "text", L)
      val plan = bucketed.queryExecution.executedPlan.toString
      // no broadcast anywhere — this is the path for deltas too large to
      // broadcast — and the index side reads its buckets in place: the
      // only exchanges are the delta digest repartition (reused) and the
      // per-doc islands window
      assert(!plan.contains("BroadcastHashJoin"), s"broadcast crept in:\n$plan")
      // count real Exchange nodes only — a ReusedExchange line echoes the
      // reused node's "Exchange hashpartitioning" text
      assert("[+:]- Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
        s"index side shuffled:\n$plan")
      val got = bucketed.as[(Long, Int, Int)].collect().toSet
      val viaBroadcast = Dedup.incrementalSpans(Dedup.readGramIndexM(spark, idxPath),
          delta, "doc_id", "text", L)
        .as[(Long, Int, Int)].collect().toSet
      assert(got == viaBroadcast && got.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS bk_gramidx_spec")
    }
  }

  test("appendGramIndex grows the digest log so the NEXT delta probes lake+delta") {
    import spark.implicits._
    val early = "a passage that only the first delta batch ever carried along"
    val lake = Seq(
      (10L, "the standing corpus says something entirely of its own making"))
    val delta1 = Seq(
      (20L, s"first-batch doc one.. $early ..and some trailing first text"))
    val delta2 = Seq(
      // repeats a passage seen ONLY in delta1 — invisible to the original
      // lake index, visible after the append
      (30L, s"second-batch doc yes $early plus its own novel second tail!"),
      (31L, "second-batch original content matching absolutely nothing here"))
    val L = 16
    val idxPath = tempDir("graft_gramappidx_spec")
    Dedup.buildGramIndexM(lake.toDF("doc_id", "text"), "doc_id", "text", L, idxPath)
    Dedup.appendGramIndexM(delta1.toDF("doc_id", "text"),
      "doc_id", "text", L, idxPath)
    // the grown index serves the second delta exactly as if the spans ran
    // over the whole accumulated corpus
    val got = Dedup.incrementalSpans(Dedup.readGramIndexM(spark, idxPath),
        delta2.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Int, Int)].collect().toSet
    val whole = Dedup.repeatedSpans((lake ++ delta1 ++ delta2).toDF("doc_id", "text"),
        "doc_id", "text", gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == whole.filter(_._1 >= 30L), s"got $got\nwhole $whole")
    assert(got.exists(_._1 == 30L) && !got.exists(_._1 == 31L))
    // monotone ids: re-shared digests added no row (no lowering needed) —
    // the index holds each digest once, lake/early owners preserved
    val idx = Dedup.readGramIndexM(spark, idxPath).as[(Long, Long)].collect()
    assert(idx.map(_._1).distinct.length == idx.length, "duplicate digest rows")
  }

  test("appendGramIndex lowers stale owners: keep-first exact for non-monotone deltas") {
    import spark.implicits._
    val shared = "a passage shared by a late lake doc and an early-id newcomer"
    val lake = Seq(
      (100L, s"lake doc number one hundred carries $shared as its middle part"))
    val delta1 = Seq( // ingest ids NOT monotone: 5 arrives after 100
      (5L, s"early-id newcomer also carries $shared in its own body text!!"))
    val L = 16
    val idxPath = tempDir("graft_gramidx_nonmono")
    Dedup.buildGramIndexM(lake.toDF("doc_id", "text"), "doc_id", "text", L, idxPath)
    Dedup.appendGramIndexM(delta1.toDF("doc_id", "text"),
      "doc_id", "text", L, idxPath)
    // the shared grams' effective owner must now read as 5, so a probe
    // doc with id 50 is NOT exempted (least(5, 50) = 5, not 50)
    val delta2 = Seq(
      (50L, s"a middle-id third document repeating $shared one more time"))
    val gotKf = Dedup.incrementalSpansKeepFirst(Dedup.readGramIndexM(spark, idxPath),
        delta2.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Int, Int)].collect().toSet
    val wholeKf = Dedup.repeatedSpansKeepFirst(
        (lake ++ delta1 ++ delta2).toDF("doc_id", "text"), "doc_id", "text",
        gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(gotKf == wholeKf.filter(_._1 == 50L), s"got $gotKf\nwhole $wholeKf")
    assert(gotKf.nonEmpty, "stale owner exempted the probe doc")
    // the log grew by an owner-lowering row, not a rewrite: both the
    // original owner 100 and the lowered owner 5 rows coexist
    val owners = Dedup.readGramIndexM(spark, idxPath).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(owners.values.exists(_ == Seq(5L, 100L)),
      s"expected a lowering row next to the original owner: $owners")

    // compaction folds the log (incl. the lowering rows) back to one
    // min-owner row per digest == the from-scratch index over the whole
    // accumulated corpus, and probe results are unchanged
    Dedup.compactGramIndexM(spark, idxPath)
    val compacted = Dedup.readGramIndexM(spark, idxPath).as[(Long, Long)].collect().toSet
    val scratchPath = tempDir("graft_gramidx_scratch")
    Dedup.buildGramIndexM((lake ++ delta1).toDF("doc_id", "text"),
      "doc_id", "text", L, scratchPath)
    val scratch = Dedup.readGramIndexM(spark, scratchPath).as[(Long, Long)].collect().toSet
    assert(compacted == scratch, "compacted log != from-scratch index")
    assert(compacted.map(_._1).size == compacted.size, "duplicate digest post-compact")
    val kfCompacted = Dedup.incrementalSpansKeepFirst(Dedup.readGramIndexM(spark, idxPath),
        delta2.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Int, Int)].collect().toSet
    assert(kfCompacted == gotKf, "compaction changed a probe result")
  }

  test("appendLshIndex: stale bucket counts stay probe-exact; compact converges") {
    import spark.implicits._
    // a clique whose band bucket CROSSES the cap only because of the
    // append — the regression staleCounts exists for: lake rows carry
    // bucket_n=3 <= cap (stale, would wrongly pass the prefilter alone),
    // append rows carry the as-of-append total 6 > cap
    val clique = "copied boilerplate body shared by every clique member verbatim"
    val pairText = "a genuinely unique passage that two documents happen to share"
    val lake = Seq((1L, clique), (3L, clique), (5L, clique), (7L, pairText))
    val delta = Seq((11L, clique), (13L, clique), (15L, clique))
    val probe = Seq((100L, clique), (102L, pairText))
    val cap = 4
    def sh(rows: Seq[(Long, String)]) =
      Dedup.rawShingles(rows.toDF("doc_id", "text"), "text", "doc_id", 5)
    val idxPath = tempDir("graft_lshidx_app_spec")
    Dedup.buildLshIndexM(sh(lake), "doc_id", k = 16, bands = 4, idxPath)
    Dedup.appendLshIndexM(sh(delta), "doc_id", k = 16, bands = 4, idxPath)
    // invariant: max(bucket_n) per bucket == the exact accumulated count
    val (appBands, appSigs) = Dedup.readLshIndexM(spark, idxPath)
    val gotN = appBands
      .groupBy("band", "band_hash").agg(max("bucket_n").as("n"))
      .as[(Int, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val scratchPath = tempDir("graft_lshidx_scr_spec")
    Dedup.buildLshIndexM(sh(lake ++ delta), "doc_id", k = 16, bands = 4, scratchPath)
    val wantN = Dedup.readLshIndexM(spark, scratchPath)._1
      .groupBy("band", "band_hash").agg(max("bucket_n").as("n"))
      .as[(Int, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotN == wantN, s"append totals drifted: $gotN vs $wantN")
    // probe exactness: the inline operator over the accumulated lake is
    // the truth — the clique bucket (6 > cap) contributes nothing, the
    // under-cap pairText pair survives
    def probePairs(bandsDf: org.apache.spark.sql.DataFrame,
        sigsDf: org.apache.spark.sql.DataFrame, stale: Boolean) =
      Dedup.indexedCrossCorpusPairs(bandsDf, sigsDf, sh(probe), "doc_id",
          k = 16, bands = 4, maxBucket = cap, staleCounts = stale)
        .select("id_new", "id_base").as[(Long, Long)].collect().toSet
    val want = Dedup.crossCorpusLshPairs(sh(probe), sh(lake ++ delta),
        "doc_id", 16, 4, maxBucket = cap)
      .select("id_new", "id_base").as[(Long, Long)].collect().toSet
    assert(want == Set((102L, 7L)), s"fixture lost its shape: $want")
    val gotStale = probePairs(appBands, appSigs, stale = true)
    assert(gotStale == want, s"stale-counts probe diverged: $gotStale vs $want")
    // WITHOUT the hot-set pass the stale lake rows leak clique pairs —
    // the guard is load-bearing, not belt-and-braces
    val gotNaive = probePairs(appBands, appSigs, stale = false)
    assert(gotNaive != want && gotNaive.exists(_._1 == 100L),
      s"expected the naive probe to leak clique pairs, got $gotNaive")
    // compact: uniformly fresh counts, plain probe serves again
    Dedup.compactLshIndexM(spark, idxPath)
    val (compBands, compSigs) = Dedup.readLshIndexM(spark, idxPath)
    val gotCompacted = probePairs(compBands, compSigs, stale = false)
    assert(gotCompacted == want, s"compacted probe diverged: $gotCompacted")
    val freshPerRow = compBands
      .groupBy("band", "band_hash")
      .agg((max("bucket_n") === min("bucket_n")).as("uniform"))
      .as[(Int, String, Boolean)].collect()
    assert(freshPerRow.forall(_._3), "compacted bucket_n not uniform per bucket")
  }

  test("refreshLshIndex: converges to from-scratch, unchanged sigs untouched, retired ids drop") {
    val mk = (i: Long) => s"document number $i with its own genuinely distinct running text"
    val today = (1L to 30L).map(i => (i, mk(i)))
    // yesterday: ids %3==0 carried different text (stale sigs), ids
    // %5==1 were missing, id 999 is retired today
    val yesterday = today.collect {
      case (i, t) if i % 3 == 0 => (i, s"old revision $i")
      case (i, t) if i % 5 != 1 => (i, t)
    } :+ (999L, "a retired document")
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val p0 = tempDir("graft_lshref_spec0")
    val pScratch = tempDir("graft_lshref_specS")
    Dedup.buildLshIndexDigestedM(df(yesterday), "text", "doc_id", 5, 16, 4, p0)
    // poison the stored signature of one UNCHANGED doc: the refresh must
    // carry it verbatim — direct proof unchanged docs never re-sign
    val unchangedId = 2L
    val snap0 = IndexManifest.snapshot(spark, p0)
    val sigs0 = IndexManifest.readAt(spark, p0, snap0, "sigs")
    val poisonedSig = Seq.fill(16)(-42L)
    val poisonedSeg = IndexManifest.newSegment("sigs")
    sigs0.withColumn("sig",
        when(col("id") === unchangedId, typedLit(poisonedSig)).otherwise(col("sig")))
      .write.parquet(s"$p0/$poisonedSeg")
    IndexManifest.commit(spark, p0,
      snap0.tables.updated("sigs", Seq(poisonedSeg)), expect = Some(snap0.version))
    Dedup.refreshLshIndexM(df(today), "text", "doc_id", 5, 16, 4, p0)
    val (refreshedBands, refreshedSigs) = Dedup.readLshIndexM(spark, p0)
    val got = refreshedSigs
      .as[(Long, String, Array[Long])].collect()
      .map { case (i, d, sg) => i -> sg.toSeq }.toMap
    assert(got(unchangedId) == poisonedSig, "unchanged doc must keep its stored sig")
    assert(!got.contains(999L), "retired id must drop out")
    Dedup.buildLshIndexDigestedM(df(today), "text", "doc_id", 5, 16, 4, pScratch)
    val want = Dedup.readLshIndexM(spark, pScratch)._2
      .as[(Long, String, Array[Long])].collect()
      .map { case (i, d, sg) => i -> sg.toSeq }.toMap
    assert(got.keySet == want.keySet)
    assert((got - unchangedId) == (want - unchangedId),
      "refreshed sigs must equal the from-scratch build elsewhere")
    // bands carry uniformly exact counts (the compact invariant)
    val uniform = refreshedBands
      .groupBy("band", "band_hash")
      .agg((max("bucket_n") === min("bucket_n") &&
        max("bucket_n") === count(org.apache.spark.sql.functions.lit(1))).as("ok"))
      .as[(Int, String, Boolean)].collect()
    assert(uniform.forall(_._3), "refreshed bucket_n not exact/uniform")
  }

  test("GramDigests kernel ≡ the composed transform/substring/digest60 form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a plain ascii document with spaces"),
      (2L, "exact"),                         // length == gramChars
      (3L, "tiny"),                          // shorter than gramChars
      (4L, ""),                              // empty
      (5L, "ünïcödé — ünïcödé tëxt 😀 with a supplementary char 😀 twice"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val L = 5
    def rows(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), posexplode(c).as(Seq("p", "h")))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val kernel = rows(call_function("graft_gram_digests", col("text"), lit(L)))
    val composed = rows(when(col("text").isNotNull && length(col("text")) >= L,
      transform(sequence(lit(1), length(col("text")) - (L - 1)),
        i => call_function("graft_digest60", col("text").substr(i, lit(L)))))
      .otherwise(array()))
    assert(kernel == composed)
    assert(kernel.exists(_._1 == 5L)) // the unicode doc actually produced grams
    assert(kernel.count(_._1 == 2L) == 1 && !kernel.exists(r => r._1 >= 3L && r._1 != 5L))
  }

  test("TokenGramDigests kernel ≡ the composed split/offsets/substr/digest60 form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a plain ascii document with several spaces in it"),
      (2L, "one two three"),                 // exactly gramTokens tokens
      (3L, "too few"),                       // fewer tokens than gramTokens
      (4L, ""),                              // empty: one empty token
      (5L, "gap  double  spaces  here  everywhere"), // empty tokens inside
      (6L, "ünïcödé tëxt 😀 with süpplementary 😀 chars throughout körpus"),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val n = 3
    def rows(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), explode(c).as("g"))
      .select(col("doc_id"), col("g.s"), col("g.e"), col("g.h"))
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val kernel = rows(
      call_function("graft_token_gram_digests", col("text"), lit(n)))
    // composed twin: 1-based token char starts by a cumulative fold, each
    // gram's end from the (n-1)-ahead token, digest60 of the substring —
    // Spark substr counts codepoints, same as the kernel's offset index
    val toks = split(col("text"), " ")
    val starts = aggregate(toks, array(lit(1)),
      (acc, x) => concat(acc, array(element_at(acc, -1) + length(x) + 1)))
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)), i => {
      val s = element_at(starts, i)
      val e = element_at(starts, i + (n - 1)) +
        length(element_at(toks, i + (n - 1))) - 1
      struct(s.as("s"), e.as("e"),
        call_function("graft_digest60", col("text").substr(s, e - s + 1)).as("h"))
    })
    val composed = rows(when(col("text").isNotNull && size(toks) >= n, grams)
      .otherwise(array().cast("array<struct<s:int,e:int,h:bigint>>")))
    assert(kernel == composed)
    assert(kernel.exists(_._1 == 6L)) // supplementary chars offset correctly
    assert(kernel.count(_._1 == 2L) == 1 && kernel.exists(_._1 == 5L))
    assert(!kernel.exists(r => r._1 == 3L || r._1 == 4L || r._1 == 7L))
  }

  /** Reference implementation of [[Dedup.repeatedTokenSpans]] semantics on
    * a tiny ASCII corpus: enumerate every n-token gram with its covering
    * char range, count distinct docs per gram STRING, merge repeated
    * ranges into maximal spans (overlap-or-touch on char positions). */
  private def bruteTokenSpans(
      docs: Seq[(Long, String)], n: Int, minDocs: Int): Set[(Long, Int, Int)] = {
    val grams = docs.filter(_._2 != null).flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      val starts = toks.scanLeft(0)((acc, x) => acc + x.length + 1)
      (0 to toks.length - n).map { i =>
        val s = starts(i)
        val e = starts(i + n - 1) + toks(i + n - 1).length
        (id, s + 1, e, t.substring(s, e))
      }
    }
    val docFreq = grams.groupBy(_._4).view.mapValues(_.map(_._1).distinct.size).toMap
    grams.filter(g => docFreq(g._4) >= minDocs)
      .groupBy(_._1).toSeq.flatMap { case (id, gs) =>
        gs.map(g => (g._2, g._3)).sortBy(identity)
          .foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: tail, (ps, pe)) if ps <= e + 1 =>
              (s, math.max(e, pe)) :: tail
            case (acc, (ps, pe)) => (ps, pe) :: acc
          }.map { case (s, e) => (id, s, e) }
      }.toSet
  }

  test("repeatedTokenSpans matches the brute-force reference; repeats count docs not occurrences") {
    import spark.implicits._
    val shared = "once upon a midnight dreary while pondering"  // 7 tokens
    val docs = Seq(
      (1L, s"alpha preface goes here $shared and then alpha epilogue follows on"),
      (2L, s"beta document opens up $shared beta middle closes the show here"),
      (3L, "gamma keeps entirely its own unrelated phrasing from start to finish"),
      (4L, "delta repeats itself twice here delta repeats itself twice here indeed"),
      (5L, "short one"),
      (6L, null.asInstanceOf[String]))
    val n = 4
    val expected = bruteTokenSpans(docs, n, minDocs = 2)
    val got = Dedup.repeatedTokenSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", gramTokens = n)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // the shared sentence is localized in docs 1 and 2; doc 4's
    // within-doc repeat is not a span; short/null docs are absent
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L))
    assert(!got.exists(r => r._1 == 4L || r._1 == 5L || r._1 == 6L))
    // token spans cover the shared words as a unit (>= its char length)
    assert(got.exists { case (id, s, e) => id == 1L && e - s + 1 >= shared.length })
    assert(Dedup.repeatedTokenSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
      gramTokens = n, minDocs = 3).isEmpty)
  }

  /** Reference implementation of [[Dedup.repeatedSpansKeepFirst]]: as
    * [[bruteSpans]] but each repeated gram's min-id doc is exempt. */
  private def bruteKeepFirst(
      docs: Seq[(Long, String)], L: Int): Set[(Long, Int, Int)] = {
    val grams = docs.filter(d => d._2 != null && d._2.length >= L)
      .flatMap { case (id, t) =>
        (1 to t.length - L + 1).map(p => (id, p, t.substring(p - 1, p - 1 + L))) }
    val byGram = grams.groupBy(_._3).view
      .mapValues(g => (g.map(_._1).distinct.size, g.map(_._1).min)).toMap
    grams.filter { g =>
      val (nd, lo) = byGram(g._3); nd >= 2 && g._1 != lo }
      .groupBy(_._1).toSeq.flatMap { case (id, gs) =>
        gs.map(_._2).sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: tail, p) if p <= e + 1 => (s, math.max(e, p + L - 1)) :: tail
          case (acc, p)                          => (p, p + L - 1) :: acc
        }.map { case (s, e) => (id, s, e) }
      }.toSet
  }

  test("repeatedSpansKeepFirst exempts the min-id owner; stripping keeps one corpus copy") {
    import spark.implicits._
    val shared = "once upon a midnight dreary while I pondered weak and weary"
    val shared2 = "quoth the raven nevermore said the bird of yore"
    val docs = Seq(
      (1L, s"alpha preface text... $shared ...and then alpha epilogue words"),
      (2L, s"beta document opens.. $shared ..beta middle part.. $shared2 tail"),
      (3L, s"gamma unrelated body entirely its own phrasing throughout here $shared2 x"),
      (4L, "delta has a twice-repeated phrase: unique marker unique marker, one doc only"),
      (5L, "short"),
      (6L, null.asInstanceOf[String]))
    val L = 16
    val df = docs.toDF("doc_id", "text")
    val expected = bruteKeepFirst(docs, L)
    val got = Dedup.repeatedSpansKeepFirst(df, "doc_id", "text", gramChars = L)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // doc 1 owns every $shared gram (min id) → no span; doc 2 is marked
    // for $shared but owns $shared2; doc 3 is marked for $shared2
    assert(!got.exists(_._1 == 1L))
    assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 3L) == 1)
    // stripping leaves exactly one corpus copy of each shared passage
    val cleaned = Dedup.stripSpans(df, Dedup.repeatedSpansKeepFirst(
        df, "doc_id", "text", gramChars = L), "doc_id", "text")
      .as[(Long, Long, Option[Int], Option[String])].collect()
      .map(r => r._1 -> r._4.getOrElse("")).toMap
    assert(cleaned(1L).contains(shared) && !cleaned(2L).contains(shared))
    assert(cleaned(2L).contains(shared2) && !cleaned(3L).contains(shared2))
    // within-doc-only repeats stay untouched (doc 4 not in any span set)
    assert(cleaned(4L) == docs(3)._2)
    // the keep-first span set is a subset of the strip-everywhere set
    val all = Dedup.repeatedSpans(df, "doc_id", "text", gramChars = L)
      .as[(Long, Int, Int)].collect().map(_._1).toSet
    assert(got.map(_._1).subsetOf(all))
  }

  test("stripSpans removes exactly the span bytes; spanless docs pass through") {
    import spark.implicits._
    val shared = "once upon a midnight dreary while I pondered weak and weary"
    val docs = Seq(
      (1L, s"alpha preface text... $shared ...alpha epilogue"),
      (2L, s"beta opens.. $shared ..beta tail"),
      (3L, "gamma keeps its own words entirely"),
      (4L, null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", gramChars = 16)
    val got = Dedup.stripSpans(df, spans, "doc_id", "text")
      .as[(Long, Long, Option[Int], Option[String])].collect()
      .map(r => r._1 -> r).toMap
    // reference strip: delete [s, e] (1-based inclusive) right-to-left
    val spanMap = spans.as[(Long, Int, Int)].collect().groupBy(_._1)
    def strip(id: Long, t: String): String =
      spanMap.getOrElse(id, Array.empty).sortBy(-_._2)
        .foldLeft(t) { case (acc, (_, s, e)) => acc.take(s - 1) + acc.drop(e) }
    for ((id, t) <- docs; if t != null) {
      val (_, covered, total, clean) = got(id)
      assert(clean.contains(strip(id, t)), s"doc $id: ${got(id)}")
      assert(total.contains(t.length))
      assert(covered == t.length - clean.get.length, s"doc $id coverage")
    }
    // the shared sentence is gone from the cleaned docs, kept text survives
    assert(!got(1L)._4.get.contains("midnight") && got(1L)._4.get.contains("alpha preface"))
    assert(got(3L)._4.contains(docs(2)._2)) // spanless doc untouched
    assert(got(4L)._4.isEmpty && got(4L)._2 == 0L) // null text stays null
  }
}
