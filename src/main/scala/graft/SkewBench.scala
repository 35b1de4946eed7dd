package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew stress bench: DETERMINISTIC power-law fixtures (one hot key
  * holding ~20 % of rows, a 1/k "Zipf" tail) and timed runs of the
  * skew-exposed operator paths against uniform twins of identical row
  * count and schema. The plan-shape specs (SkewSpec) prove the salted /
  * capped layouts exist; this bench proves they HOLD UP when a key
  * actually goes hot — `graft.Bench` appends the measurements as the
  * `bench_skew` object in the round's JSON line, each path graded
  * skew ≤ 2× uniform.
  *
  * Determinism: every key, cluster, and word derives from integer hashes
  * of `spark.range` ids — no rand(), no wall clock — so the fixture is
  * bit-identical across runs and engines (SkewFixtureSpec pins it).
  */
object SkewBench {

  /** Log-uniform "Zipf-ish" tail key in [1, tailKeys]: a hash-derived
    * u ∈ [0,1) exponentiates to `tailKeys^u`, giving P(key = k) ∝ 1/k —
    * the heavy tail of real-world id/term frequencies. */
  private def tailKey(idCol: Column, tailKeys: Long): Column = {
    val mask = (1L << 52) - 1
    val u = (abs(xxhash64(idCol, lit("tail"))) % lit(mask)).cast("double") /
      lit(mask.toDouble)
    least(greatest(pow(lit(tailKeys.toDouble), u).cast("long"), lit(1L)),
      lit(tailKeys))
  }

  /** CDC-shaped change stream (`_id`, `ts`, `value`): skewed puts every
    * 5th row (20 %) on the single hot id `k0` and the rest on the 1/k
    * tail over `n/100` ids; the uniform twin round-robins the same key
    * space. Identical schema and row count — only the distribution
    * differs. */
  def changes(spark: SparkSession, n: Long, skewed: Boolean): DataFrame = {
    val tailKeys = (n / 100) max 10
    val key =
      if (skewed)
        when(pmod(col("id"), lit(5)) === 0, lit(0L))
          .otherwise(tailKey(col("id"), tailKeys))
      else pmod(col("id"), lit(tailKeys))
    spark.range(n).select(
      concat(lit("k"), key).as("_id"),
      col("id").as("ts"),
      (col("id") % 1000).cast("double").as("value"))
  }

  /** Document corpus (`doc_id`, `text`): 50 hash-derived words per doc
    * from a 1000-word vocabulary, text a pure function of the doc's
    * CLUSTER — skewed puts 20 % of docs in one hot cluster (exact
    * copies: identical shingles, identical MinHash signatures, one
    * monster LSH bucket) and the rest on the 1/k tail of `nDocs/10`
    * clusters; the uniform twin gives every doc its own cluster. */
  def documents(spark: SparkSession, nDocs: Long, skewed: Boolean): DataFrame = {
    val cluster =
      if (skewed)
        when(pmod(col("id"), lit(5)) === 0, lit(0L))
          .otherwise(tailKey(col("id"), (nDocs / 10) max 10))
      else col("id")
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"), pmod(hash(cluster, i), lit(1000))))).as("text"))
  }

  /** Embedding corpus (`vec_id`, `embedding[16]`): each vector is a
    * dominant one-hot axis (its CELL — the nearest centroid by
    * construction) plus small hash noise. Skewed puts 20 % of vectors
    * AND the same share of queries in cell 0 (query load follows
    * corpus density in real deployments — the hot Voronoi cell is hot
    * on both sides); the uniform twin round-robins all 16 cells. */
  def embeddings(spark: SparkSession, n: Long, skewed: Boolean): DataFrame = {
    val cell =
      if (skewed)
        when(pmod(col("id"), lit(5)) === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(16)))
      else pmod(col("id"), lit(16))
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        (when(d === cell.cast("int"), lit(10.0)).otherwise(lit(0.0)) +
          pmod(hash(col("id"), d), lit(7)).cast("double") / lit(10.0))
          .cast("float")).as("embedding"))
  }

  /** The 16 cell centroids: pure one-hot axis vectors. */
  def cellCentroids(spark: SparkSession): DataFrame =
    spark.range(16).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        when(d === col("id").cast("int"), lit(10.0f)).otherwise(lit(0.0f)))
        .as("embedding"))

  /** Lake positional index for the phrase_growing pair, built once per
    * (process, nDocs): every stored doc carries ONE "w1 w2" plus a
    * hash-derived body — identical for the skewed and uniform runs, so
    * the stored side of the growing screen's union contributes equally
    * to both timings. */
  private val growRoots = scala.collection.mutable.Map.empty[Long, String]
  private lazy val growRootsCleanup: Unit =
    // JVM exit does NOT reclaim createTempDirectory dirs by itself —
    // a shutdown hook deletes the cached index roots so repeated
    // bench/spec JVMs don't strand positional-index parquet in /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      growRoots.synchronized(growRoots.values.foreach { d =>
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p)) {
          // close the walk stream (it holds a directory handle)
          val walk = java.nio.file.Files.walk(p)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(x => java.nio.file.Files.deleteIfExists(x))
          finally walk.close()
        }
      })))
  /** SINGLE-FIXTURE cache contract: roots are keyed on `nDocs` alone, so
    * every caller must pass the same `body` generator for a given doc
    * count — a second fixture reusing this helper with different stored
    * content would silently read the first one's index. The lone caller
    * (the phrase_growing pair) satisfies this; key on
    * (nDocs, fixture-tag) before adding another. */
  private def phraseGrowRoot(
      spark: SparkSession, nDocs: Long,
      body: Int => Column): String = growRoots.synchronized {
    growRootsCleanup
    growRoots.getOrElseUpdate(nDocs, {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_skew_posidx").toString
      val lake = spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat(lit("w1 w2 "), body(47)).as("text"))
      graft.operators.Retrieval.buildPosIndexM(lake, "doc_id", "text", dir)
      dir
    })
  }

  /** One timed pair: (name, seconds on the skewed fixture, seconds on
    * the uniform twin), each the median of 3 runs after one unmeasured
    * warm-up per side — the first evaluation of each plan pays its
    * codegen/planning floor, which would otherwise bias whichever side
    * runs first. The measured runs INTERLEAVE the two sides
    * (skew, uniform, skew, uniform, …) instead of timing one side's
    * block after the other: JVM drift across a long bench (GC debt from
    * earlier fixtures, code-cache churn) then lands on both sides
    * equally instead of inflating whichever side a block-ordered timer
    * visits first — observed as a phantom 2.5× "skew ratio" on a path
    * whose isolated ratio is 1.35×. */
  private def pair(name: String)(f: Boolean => DataFrame): (String, Boolean => DataFrame) =
    (name, f)

  private def timePair(p: (String, Boolean => DataFrame)): (String, Double, Double) = {
    val (name, f) = p
    f(true).count() // warm: planning + codegen off the measured path
    f(false).count()
    val runs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      f(true).count()
      val a = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      f(false).count()
      val b = (System.nanoTime() - t1) / 1e9
      (a, b)
    }
    (name, runs.map(_._1).sorted.apply(2), runs.map(_._2).sorted.apply(2))
  }

  /** The skew-exposed paths, each against its uniform twin:
    *  - `o1_last_image`: per-key LWW reduction with a hot `_id`;
    *  - `salted_join`: [[graft.operators.Skew.saltedJoin]] of the hot
    *    fact against its key dimension (spread = ts, since hot rows
    *    share the key);
    *  - `two_phase_agg`: [[graft.operators.Skew.twoPhaseAgg]] sum/count
    *    over the hot key;
    *  - `dedup_lsh_pairs`: banded MinHash candidates with the `maxBucket`
    *    cap absorbing the monster bucket of exact copies;
    *  - `dedup_jaccard`: shingle-posting-list Jaccard with `maxDocFreq`
    *    dropping the hot shingles. */
  def run(spark: SparkSession, nRows: Long, nDocs: Long): Seq[(String, Double, Double)] = {
    graft.functions.GraftFunctions.register(spark)
    val tailKeys = (nRows / 100) max 10
    val dim = spark.range(tailKeys + 1)
      .select(concat(lit("k"), col("id")).as("_id"), col("id").as("weight"))
    val paths = Seq(
      pair("o1_last_image") { sk =>
        graft.sink.MergeApply.lastImage(
          changes(spark, nRows, sk), Seq("_id"), Seq(col("ts")))
      },
      pair("salted_join") { sk =>
        graft.operators.Skew.saltedJoin(
          changes(spark, nRows, sk), dim, "_id", buckets = 16,
          spread = Some(col("ts")))
      },
      pair("two_phase_agg") { sk =>
        graft.operators.Skew.twoPhaseAgg(
          changes(spark, nRows, sk), "_id", buckets = 16,
          partial = Seq("s" -> sum(col("value")), "c" -> count(lit(1))),
          combine = Seq("s" -> sum(col("s")), "c" -> sum(col("c"))),
          spread = Some(col("ts")))
      },
      pair("topk_per_key") { sk =>
        // the bounded-heap operator's skew immunity measured directly: the
        // hot key's 200k rows collapse map-side to ONE k-row heap, so the
        // exchange ships keys×k regardless of the distribution (the window
        // formulation would sort the hot key's whole slice on one task)
        graft.operators.TopK.perKey(
          changes(spark, nRows, sk), Seq("_id"),
          Seq(col("ts").desc), k = 8)
      },
      pair("dedup_lsh_pairs") { sk =>
        val sh = graft.operators.Dedup.rawShingles(
          documents(spark, nDocs, sk), "text", "doc_id", 5)
        graft.operators.Dedup.lshCandidates(
          graft.operators.Dedup.minhashBands(sh, "doc_id", 16, 4),
          "doc_id", maxBucket = 64)
      },
      pair("dedup_jaccard") { sk =>
        val sh = graft.operators.Dedup.digestShingles(
          documents(spark, nDocs, sk), "text", "doc_id", 5)
        graft.operators.Dedup.ngramJaccardPairs(
          sh, "doc_id", threshold = 0.1, maxDocFreq = 100L)
      },
      pair("sim_ivf_probe") { sk =>
        // multi-probe IVF under a hot Voronoi cell holding 25 % of the
        // corpus, with query load following corpus density: candidates
        // fan out from the hot cell on BOTH sides, but the corpus side
        // never shuffles on the cluster key (broadcast probe join runs
        // in the scan's own partitions) and the bounded-heap top-k
        // collapses every task's candidates to queries×k map-side — so
        // the hot cell costs its honest extra candidate volume, never a
        // single-task pileup
        val n = (nRows / 10) max 1000
        graft.operators.Similarity.ivfTopKProbed(
          embeddings(spark, 64, sk), embeddings(spark, n, sk),
          cellCentroids(spark), "vec_id", "embedding", k = 8, nProbe = 2)
      },
      pair("semdedup") { sk =>
        // SemDeDup's within-cluster quadratic against a monster embedding
        // clique: the hot Voronoi cell holds ~25 % of the corpus (a
        // boilerplate near-dup clique), and the `maxCluster` cap
        // anti-joins it out BEFORE the self-join — exactly the LSH
        // maxBucket discipline. 4k vectors / cap 512: uniform clusters
        // (~250 rows) all survive and pay the honest quadratic; the
        // skewed hot cell (~1000 rows) is dropped visibly, so the skewed
        // side can never pile a million-pair clique onto one task.
        val n = (nDocs * 4) min 4000L
        graft.operators.Dedup.semDedup(
          embeddings(spark, n, sk), cellCentroids(spark),
          "vec_id", "embedding", threshold = 0.9, maxCluster = 512)
      },
      pair("prototype_prune") { sk =>
        // SSL-prototype pruning under the same hot Voronoi cell: the
        // per-cluster rank window sorts each cluster inside one task, so
        // the hot cell (~25 % of the corpus vs ~6 % per uniform cell)
        // concentrates a 4× slice on one sort — but the work is
        // n·log n PER CLUSTER (never pairwise), the window buffer
        // spills, and every other cell proceeds in parallel, so the
        // skewed side pays the hot cell's honest linear-ish extra and
        // nothing compounds. The quadratic adversity lives in semDedup
        // above; this path proves the PRUNE's window survives the same
        // fixture inside the ≤2× budget.
        val n = (nDocs * 4) min 4000L
        graft.operators.Curation.prototypePrune(
          embeddings(spark, n, sk), cellCentroids(spark),
          "vec_id", "embedding", dropNum = 3, dropDen = 10)
      },
      pair("phrase_probe") { sk =>
        // positional phrase search under hot-phrase CONCENTRATION: both
        // sides carry exactly nDocs occurrences of the query bigram —
        // the skewed side packs them 5-deep into 20 % of the docs, the
        // uniform twin spreads one per doc. Work is linear in candidate
        // postings (equal by construction); the completeness aggregate
        // keys on (query, doc, START), so a phrase-dense doc spreads
        // across start values rather than piling one task, and the
        // per-doc frequency aggregate is candidate-sized. Concentration
        // must cost ~nothing — this pair pins that.
        val rnd = (i: Column) =>
          concat(lit("w"), pmod(hash(col("id"), i), lit(1000)) + lit(100))
        val body = (m: Int) =>
          concat_ws(" ", transform(sequence(lit(0), lit(m)), rnd))
        val docs = spark.range(nDocs).select(
          col("id").as("doc_id"),
          when(lit(sk) && pmod(col("id"), lit(5)) === 0,
            concat(lit("w1 w2 w1 w2 w1 w2 w1 w2 w1 w2 "), body(39)))
            .when(!lit(sk), concat(lit("w1 w2 "), body(47)))
            .otherwise(body(49)).as("text"))
        graft.operators.Retrieval.phraseTopK(
          docs, "doc_id", "text", Seq(0 -> "w1 w2"), k = 8)
      },
      pair("phrase_growing") { sk =>
        // the GROWING screen's union shape (r17 verdict ask #7): stored
        // positional snapshot ∪ in-memory arrivals, with the hot phrase
        // term CONCENTRATED in the arrivals — the shape phrase_probe's
        // committed-index fixture can't reach. Both sides carry exactly
        // nDocs/2 arrival occurrences of "w1 w2": the skewed side packs
        // them 5-deep into 10 % of arrivals, the uniform twin spreads
        // one per phrase-bearing arrival. The lake contribution (one
        // occurrence per stored doc, read pushed-`term IN` off the
        // term-clustered files) is identical on both sides, so the
        // ratio prices arrival-side concentration alone. The lake index
        // builds ONCE per bench process (cached root — build cost never
        // enters the timed region); a shutdown hook deletes the cached
        // roots at JVM exit.
        val rnd = (i: Column) =>
          concat(lit("w"), pmod(hash(col("id"), i), lit(1000)) + lit(100))
        val body = (m: Int) =>
          concat_ws(" ", transform(sequence(lit(0), lit(m)), rnd))
        val root = phraseGrowRoot(spark, nDocs, body)
        val arrivals = spark.range(nDocs).select(
          (col("id") + nDocs).as("doc_id"),
          when(lit(sk) && pmod(col("id"), lit(10)) === 0,
            concat(lit("w1 w2 w1 w2 w1 w2 w1 w2 w1 w2 "), body(39)))
            .when(!lit(sk) && pmod(col("id"), lit(2)) === 0,
              concat(lit("w1 w2 "), body(47)))
            .otherwise(body(49)).as("text"))
        graft.operators.Retrieval.phraseScreenGrownM(
          arrivals, "doc_id", "text", Seq(0 -> "w1 w2"), root,
          graft.index.IndexManifest.snapshot(spark, root))
      },
      pair("sdm_probe") { sk =>
        // SDM under a HOT REPEATED TERM (the stopword shape): the query
        // repeats one term, so the #uw8 component pairs the term's
        // occurrences against themselves. Both sides carry 10·nDocs
        // occurrences of w1 — the skewed side packs them 50-deep into
        // 20 % of the docs, the uniform twin 10-deep into every doc.
        // The naive (doc, pair)-keyed join would materialize occ² rows
        // per doc pre-filter (2500 vs 100 here — and unbounded on a real
        // stopword); the width-wUn position binning hashes on
        // (doc, term, bin) so join fan-out stays ~occ×window on both
        // sides. Reading the ratio: partly OUTPUT-VOLUME — a 50-deep run
        // has 7m−28 = 322 in-window pairs vs the 10-deep run's 42, so
        // the skewed side carries ~1.5× honest pair volume by
        // construction (the dedup_repeated_spans frame); the ≤2× budget
        // grades that the concentration costs its rows, never its occ².
        val rnd = (i: Column) =>
          concat(lit("w"), pmod(hash(col("id"), i), lit(1000)) + lit(100))
        val body = (m: Int) =>
          concat_ws(" ", transform(sequence(lit(0), lit(m)), rnd))
        val hot = (m: Int) => Seq.fill(m)("w1").mkString(" ")
        val docs = spark.range(nDocs).select(
          col("id").as("doc_id"),
          when(lit(sk) && pmod(col("id"), lit(5)) === 0,
            concat(lit(hot(50) + " "), body(49)))
            .when(!lit(sk), concat(lit(hot(10) + " "), body(89)))
            .otherwise(body(99)).as("text"))
        graft.operators.Retrieval.sdmTopK(
          docs, "doc_id", "text", Seq(0 -> "w1 w1"), k = 8)
      },
      pair("dedup_phash") { sk =>
        // image near-dup under a 20 % boilerplate clique: identical
        // payloads hash identically, so every banded bucket the clique
        // touches goes hot. The production dial is maxBucket — oversize
        // buckets drop VISIBLY via the broadcast anti-join before the
        // self-join (exact-dup cliques are [[Dedup.exact]]'s linear
        // job), so the skewed side pays the bucket census + anti-join,
        // never the clique's m² pairs.
        graft.operators.Dedup.phashPairs(
          graft.operators.Multimodal.attachPayload(
            documents(spark, nDocs, sk), "text", "doc_id"),
          "payload", "doc_id", maxHamming = 3, maxBucket = 64)
      },
      pair("dedup_repeated_spans") { sk =>
        // exact-substring spans under a 20 % boilerplate clique: the hot
        // cluster's grams reach huge doc frequencies, but every stage is
        // linear in occurrences (aggregate → semi join → per-doc window),
        // so the clique costs its rows, never its pairs.
        //
        // Reading this pair's ratio: it is OUTPUT-VOLUME-dominated, not
        // imbalance. Measured on this fixture (5k docs), the skewed side
        // has ~1.06M repeated gram positions (every cluster member's
        // every position) where the uniform twin has exactly ZERO — so
        // the uniform side skips the probe-join output, the per-doc
        // window, and the island merge entirely, while the skewed side
        // runs them over a million rows of honest, distributed work.
        // The steady ~1.7× is the cost ratio of that extra linear work,
        // and it cannot approach 1.0 without changing what the operator
        // computes; the ≤2× budget is the right frame (a genuine
        // single-task hot spot showed as 2.17× in the window form this
        // join shape replaced).
        graft.operators.Dedup.repeatedSpans(
          documents(spark, nDocs, sk), "doc_id", "text", gramChars = 30)
      })
    paths.map(timePair)
  }
}
