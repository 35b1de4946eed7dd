package graft.queries

import graft.Tables
import graft.operators.{Curation, Dedup, Quality, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation queries (north-star training-data pipeline):
  * benchmark decontamination, deterministic stratified splits, and
  * packed-sequence construction — each with an exact DuckDB twin.
  */
object CurationQueries {

  private def q(f: (SparkSession, String) => DataFrame) = f

  private val ShingleN = 5
  // stand-in for a held-out eval suite: every 97th document
  private val BenchMod = 97
  // spans pipeline policy: only merged spans at least this long get
  // stripped (single-gram hits are noise at gram width 30)
  private val MinSpanChars = 50

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Decontamination: per-document n-gram overlap against the (small,
    // broadcast) benchmark shingle set; the corpus side never shuffles.
    "curation_contamination" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val sh = Dedup.explodedShingles(docs, "text", "doc_id", ShingleN)
      Curation.contamination(
          corpusShingles = sh.filter(col("doc_id") % BenchMod =!= 0),
          benchShingles = sh.filter(col("doc_id") % BenchMod === 0),
          idCol = "doc_id", threshold = 0.5)
        .filter(col("overlap") > 0) // report only docs with any overlap
        .orderBy("doc_id")
    },

    // PER-DOC DECISION PROVENANCE — the audit/debugging view of the
    // funnel: every gate evaluated INDEPENDENTLY on every document
    // (dedup canonicality, quality, repetition, decontamination, mix,
    // split), so one row answers "which gates does this doc fail and
    // where would it land" — the decision log a production pipeline
    // keeps next to the released corpus. Every gate is per-doc
    // deterministic and independent of the other gates (contamination
    // depends only on the doc's own shingles vs the benchmark set), so
    // the `keep` conjunction equals curation_pipeline's sequential
    // survivor set EXACTLY — spec-asserted, and the census reconciles.
    "curation_audit" -> q { (s, dir) =>
      import graft.operators.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val canonical = graft.operators.Dedup.exact(docs, "text", "doc_id")
        .select(col("doc_id"), col("is_canonical"))
      val allSh = Dedup.explodedShingles(docs, "text", "doc_id", ShingleN)
      val contam = Curation.contamination(
          corpusShingles = allSh,
          benchShingles = allSh.filter(col("doc_id") % BenchMod === 0),
          idCol = "doc_id", threshold = 0.5)
        .select(col("doc_id"), col("contaminated"))
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      val toks = split(col("text"), " ")
      docs
        .join(canonical, "doc_id")
        // only NULL-text docs lack a contamination row (rawShingles
        // falls back to the whole text below n tokens, so every
        // non-null doc shingles) → they coalesce to clean
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("is_canonical"),
          (round(TextAnalysis.qualityScore(col("text")), 6) >= 0.3)
            .as("quality_pass"),
          (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)
            <= 0.5).as("low_repetition"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"),
          Curation.domainMix(col("text"), col("source"), rates,
            defaultRate = 0.75).as("mix_keep"),
          Curation.assignSplit(col("text"), trainPct = 90, valPct = 5)
            .as("split"))
        .withColumn("keep", col("is_canonical") && col("quality_pass") &&
          col("low_repetition") && !col("contaminated") && col("mix_keep"))
        .orderBy("doc_id")
    },

    // ... and AT INGEST: every stateless gate of the audit evaluated on
    // each arriving document (quality, repetition, decontamination vs
    // the frozen benchmark digests, mix, split) — the decision log
    // exists the moment a doc lands; corpus-global gates (canonicality)
    // stay batch by design. Per-doc independent → batch-equivalent,
    // replaying the batch audit oracle minus the corpus-global columns.
    "stream_curation_audit" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingCurationAudit(s, dir)
    },

    // Stratified split assignment: deterministic content-hash buckets
    // within length strata; output is the stratum × split census the
    // pipeline audits mix ratios with.
    "curation_split_census" -> q { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(
          when(TextAnalysis.tokenCount(col("text")) < 50, "short")
            .when(TextAnalysis.tokenCount(col("text")) < 200, "medium")
            .otherwise("long").as("stratum"),
          Curation.assignSplit(col("text"), trainPct = 90, valPct = 5).as("split"))
        .groupBy(col("stratum"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("stratum", "split")
    },

    // Domain-mixture resampling: per-source keep-rates applied by
    // deterministic content hash; output is the post-mix census the
    // recipe is audited with.
    "curation_domain_mix" -> q { (s, dir) =>
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      Tables.load(s, dir, "documents")
        .filter(Curation.domainMix(col("text"), col("source"), rates, defaultRate = 0.75))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept"))
        .orderBy("source")
    },

    // Temperature-scaled (α = 1/2) domain reweighting toward a half-size
    // target corpus: small sources keep a larger share than their natural
    // proportion — the published multi-source sampling recipe, decided by
    // integer-only cross-multiplication so the census is bit-stable.
    "curation_temperature_mix" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val kept = Curation.temperatureMix(docs, "text", "source", 1, 2)
        .groupBy(col("source")).agg(count(lit(1)).as("kept"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("source")
    },

    // CCNet-style LM-fluency tiers (Wenzek et al. 2020): every doc
    // scored against the corpus's own bigram LM, cut into three
    // equal-frequency tiers via the sketch-edge binning (no ntile
    // window — no global sort), tail dropped. The classic
    // perplexity-filter recipe with the repo's fluency score standing
    // in for KenLM.
    "curation_perplexity_buckets" -> q { (s, dir) =>
      Curation.perplexityBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // Quality-proportional sampling census: every doc kept with
    // probability equal to its quality score (soft filter — no cliff at
    // a threshold, low-quality docs keep a diversity floor). Mean kept
    // quality rises above the corpus mean by construction.
    "curation_quality_sample" -> q { (s, dir) =>
      import graft.operators.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val qcol = round(TextAnalysis.qualityScore(col("text")), 6)
      Curation.qualitySample(docs, "text", qcol)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept"),
          round(sum(qcol.cast("decimal(38,10)")).cast("double") /
            count(lit(1)), 6).as("mean_quality_kept"))
        .orderBy("source")
    },

    // Schema-level snapshot diff — dataset versioning's second half
    // (quality_corpus_diff covers content): the next release drops a
    // column, narrows a type, and adds a derived column; the diff frame
    // is the release-gate artifact a consumer contract is checked
    // against.
    "quality_schema_drift" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val next = docs.drop("lang")
        .withColumn("n_chars", col("n_chars").cast("int"))
        .withColumn("quality", lit(0.5))
      Quality.schemaDiff(docs, next).orderBy("column")
    },

    // THE PUBLISH PATH composed end to end — what actually ships a
    // training corpus once the cleaning funnel (curation_pipeline) has
    // run: temperature-reweighted domain mix → quality-proportional
    // soft sample → deterministic content-hash split → seeded export
    // shuffle, reported as the (source × split × shard) census a release
    // manifest records. Every stage is a stateless salted-hash decision
    // (independent salts ⇒ independent draws), so the whole release is
    // reproducible bit-for-bit from the corpus and the seeds.
    "curation_release" -> q { (s, dir) =>
      import graft.operators.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val qcol = round(TextAnalysis.qualityScore(col("text")), 6)
      val sampled = Curation.qualitySample(
        Curation.temperatureMix(docs, "text", "source", 1, 2), "text", qcol)
      val split = sampled.withColumn("split",
        Curation.assignSplit(col("text"), trainPct = 90, valPct = 5))
      val shuffled = Curation.seededShuffle(
        split.select("doc_id"), "doc_id", shards = 8)
      split.join(shuffled, "doc_id")
        .groupBy(col("source"), col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split", "shard")
    },

    // THE FULL PREPROCESSING FUNNEL as one composed query: exact dedup →
    // quality gate → repetition gate → decontamination (benchmark docs
    // drop themselves via self-overlap — eval data never trains) →
    // domain mixing → split census. Every stage is the already-verified
    // operator; this query proves they COMPOSE, the thing a real corpus
    // build actually runs.
    "curation_pipeline" -> q { (s, dir) =>
      import graft.operators.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val deduped = Dedup.exact(docs, "text", "doc_id")
        .filter(col("is_canonical")).select("doc_id")
        .join(docs, "doc_id")
      val quality = deduped.filter(
        round(TextAnalysis.qualityScore(col("text")), 6) >= 0.3)
      val toks = split(col("text"), " ")
      val lowRep = quality.filter(
        lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks) <= 0.5)
      val benchSh = Dedup.explodedShingles(
        docs.filter(col("doc_id") % BenchMod === 0), "text", "doc_id", ShingleN)
      val survivorSh = Dedup.explodedShingles(lowRep, "text", "doc_id", ShingleN)
      val contaminatedIds = Curation.contamination(
          survivorSh, benchSh, "doc_id", threshold = 0.5)
        .filter(col("contaminated")).select("doc_id")
      val clean = lowRep.join(contaminatedIds, Seq("doc_id"), "left_anti")
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      clean
        .filter(Curation.domainMix(col("text"), col("source"), rates, defaultRate = 0.75))
        .select(col("source"),
          Curation.assignSplit(col("text"), trainPct = 90, valPct = 5).as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    // THE FUNNEL WITH EXACT-SUBSTRING STRIPPING IN FRONT — the published
    // exact-substring pipelines strip cross-document boilerplate BEFORE
    // quality gating (a doc is judged on its own prose, not its license
    // header). Stage order: repeated-span discovery → policy filter
    // (only spans >= MinSpanChars chars are worth stripping) → strip, with
    // a drop policy for boilerplate-DOMINATED docs (covered*2 >= total —
    // integer arithmetic, no float ratio, so the oracle replays exactly)
    // → then the verified funnel (exact dedup → quality → repetition →
    // decontamination → mix → split census) over the CLEANED text.
    // Decontamination still screens against the ORIGINAL benchmark docs:
    // eval data is external and arrives unstripped.
    "curation_pipeline_spans" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val spans = Dedup.repeatedSpans(docs, "doc_id", "text",
          gramChars = LlmQueries.SpanGramChars)
        .filter(col("span_end") - col("span_start") + 1 >= MinSpanChars)
      val cleaned = Dedup.stripSpans(docs, spans, "doc_id", "text")
        .filter(col("covered_chars") * 2 < col("total_chars"))
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(docs.select("doc_id", "source"), "doc_id")
      val deduped = Dedup.exact(cleaned, "text", "doc_id")
        .filter(col("is_canonical")).select("doc_id")
        .join(cleaned, "doc_id")
      val quality = deduped.filter(
        round(TextAnalysis.qualityScore(col("text")), 6) >= 0.3)
      val toks = split(col("text"), " ")
      val lowRep = quality.filter(
        lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks) <= 0.5)
      val benchSh = Dedup.explodedShingles(
        docs.filter(col("doc_id") % BenchMod === 0), "text", "doc_id", ShingleN)
      val survivorSh = Dedup.explodedShingles(lowRep, "text", "doc_id", ShingleN)
      val contaminatedIds = Curation.contamination(
          survivorSh, benchSh, "doc_id", threshold = 0.5)
        .filter(col("contaminated")).select("doc_id")
      val clean = lowRep.join(contaminatedIds, Seq("doc_id"), "left_anti")
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      clean
        .filter(Curation.domainMix(col("text"), col("source"), rates, defaultRate = 0.75))
        .select(col("source"),
          Curation.assignSplit(col("text"), trainPct = 90, valPct = 5).as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    // Deterministic k-per-source sample: hash-ordered draw through the
    // bounded-heap top-k operator — the "pull 20 random docs per source
    // for review" primitive, reproducible across runs and partitionings.
    "curation_sample_k" -> q { (s, dir) =>
      Curation.sampleKPerKey(Tables.load(s, dir, "documents"),
          "source", "doc_id", k = 20)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy("source", "sample_rank")
    },

    // The export shuffle: every doc assigned a shard and within-shard
    // position from a salted digest — the reproducible pseudo-random
    // publish order packed-sequence training wants (adjacent corpus docs
    // decorrelate; identical across re-runs and cluster sizes).
    "curation_export_shuffle" -> q { (s, dir) =>
      Curation.seededShuffle(Tables.load(s, dir, "documents"),
          "doc_id", shards = 8)
        .orderBy("shard", "seq")
    },

    // Packed-sequence construction: per-shard token streams cut into
    // 2048-token sequences; output is the per-sequence census (docs and
    // spanned tokens per bin) a data loader would consume.
    "curation_packing" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("ntok"))
      Curation.packSequences(docs, "doc_id", "ntok", budget = 2048, shards = 8)
        .join(docs, "doc_id")
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).cast("bigint").as("tokens"))
        .orderBy("shard", "bin")
    },

    // Split-leakage detector: near-duplicate pairs that STRADDLE the
    // train/eval boundary — the held-out set is worthless where a
    // training near-copy exists. Composes the deterministic split
    // assignment with the capped cross-corpus LSH probe (train side
    // plays the lake, eval side the delta), so the check scales exactly
    // like cross-corpus dedup: banded candidates, never all-pairs.
    "curation_split_leakage" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .withColumn("split", Curation.assignSplit(col("text"), trainPct = 90, valPct = 5))
      def sh(f: DataFrame) = Dedup.rawShingles(f, "text", "doc_id", ShingleN)
      Dedup.crossCorpusLshPairs(
          sh(docs.filter(col("split") =!= "train")),
          sh(docs.filter(col("split") === "train")),
          "doc_id", LlmQueries.MinhashK, LlmQueries.LshBands,
          maxBucket = 10000)
        .withColumnRenamed("id_new", "eval_id")
        .withColumnRenamed("id_base", "train_id")
        .orderBy("eval_id", "train_id")
    },

    // Single-scan numeric profile of the fact table — the drift-monitor
    // frame a pipeline diffs between stages. One aggregate pass (map-side
    // partials, one-row reduce), order-independent metrics only.
    "quality_profile" -> q { (s, dir) =>
      Quality.numericProfile(Tables.load(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("column")
    },

    // The distributive profile: per-shard partials (the per-ingest-batch
    // artifact a lake persists) rolled up WITHOUT rescanning — must equal
    // the one-shot profile bit-for-bit, so it shares its oracle SQL.
    "quality_profile_merged" -> q { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("__shard", col("l_orderkey") % 4)
      Quality.mergeProfiles(Quality.numericProfileSharded(li, "__shard",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
        .orderBy("column")
    },

    // The persisted-partials lifecycle: per-shard profile partials
    // written as the per-ingest-batch parquet artifact, then the
    // whole-corpus profile served by MERGING the stored partials — no
    // rescan of the data ever happens at read time (the fact table is
    // absent from the serve plan). Must equal the one-shot profile
    // bit-for-bit, so it shares its oracle.
    "quality_profile_persisted" -> q { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("__shard", col("l_orderkey") % 4)
      val path = new java.io.File(
        java.lang.System.getProperty("java.io.tmpdir"),
        s"graft_profparts_${Integer.toHexString(dir.hashCode)}").toString
      Quality.numericProfileSharded(li, "__shard",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .write.mode("overwrite").parquet(path)
      Quality.mergeProfiles(Tables.parquet(s, path)).orderBy("column")
    },

    // Declarative expectations evaluated in the same single pass — the
    // stage gate. The discount-cap rule is deliberately violated by the
    // data so the failure shape is exercised, not just the happy path.
    "quality_expectations" -> q { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      Quality.expectations(li, Seq(
          Quality.Expectation("qty_null_frac",
            sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
              .cast("double") / count(lit(1)), "<=", 0.0),
          Quality.Expectation("qty_max", max(col("l_quantity")), "<=", 60.0),
          Quality.Expectation("discount_max", max(col("l_discount")), "<=", 0.05),
          Quality.Expectation("price_min", min(col("l_extendedprice")), ">=", 0.0)))
        .orderBy("rule")
    },

    // Profile drift across a pipeline stage: the full fact table vs the
    // post-filter survivor set (discount cap as the stand-in stage) —
    // the per-column delta frame a monitor alerts on. Two single-pass
    // profiles joined on the (one-row-per-column) long frame.
    "quality_profile_drift" -> q { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      Quality.profileDrift(
          Quality.numericProfile(li, cols),
          Quality.numericProfile(li.filter(col("l_discount") <= 0.05), cols))
        .orderBy("column")
    },

    // Distribution drift: fixed-bin histogram of the price column before
    // vs after the discount-cap stage, with per-bin total-variation
    // contributions in exact integer cross-multiplication — the drift
    // signal a mean-only monitor misses.
    "quality_histogram_drift" -> q { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      Quality.histogramDrift(li, li.filter(col("l_discount") <= 0.05),
          "l_extendedprice", lo = 0.0, hi = 120000.0, bins = 16)
        .orderBy("bin")
    },

    // Embedding-distribution drift per label — the embedding-space
    // analog of the histogram drift above: each group's exact-decimal
    // mean vector scored by round-6 cosine against the global mean, so
    // a group whose embedding distribution shifted (silent encoder
    // change, poisoned source) scores visibly low. One corpus pass,
    // groups×dim partials, result-sized scoring.
    "quality_embedding_drift" -> q { (s, dir) =>
      Quality.embeddingGroupDrift(
          Tables.load(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label")
    },

    // Token-distribution drift per source — the TEXT analog of the two
    // drifts above: smoothed KL divergence of each group's in-vocab
    // token frequencies against the corpus's, over the top-V vocabulary.
    // A scraper change or boilerplate injection moves a source's token
    // distribution long before any numeric column notices.
    "quality_token_kl" -> q { (s, dir) =>
      Quality.tokenKlDrift(Tables.load(s, dir, "documents"),
          "source", "text", vocabSize = 1000)
        .orderBy("source")
    },

    // ... and the drift monitor AT INGEST: each arriving micro-batch
    // sinks mergeable (group, token, count) partials; the per-group KL
    // computes post-drain from the exact fold through the shared tail.
    // Counts are additive ⇒ bit-equal to the batch twin — shares its
    // oracle.
    "stream_token_kl" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingTokenKl(s, dir)
        .orderBy("source")
    },

    // Dataset versioning: content-digest diff of two corpus snapshots
    // (held-out slices + an in-place edit stand in for yesterday's and
    // today's corpus) — every doc classified added / removed / changed /
    // unchanged. The text column never crosses the exchange.
    "quality_corpus_diff" -> q { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Quality.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Key-membership violations: event actors checked against a
    // restricted allowlist (customers with key < 100 stand in for a
    // licensed-source list) — the allowlist reduces + broadcasts, the
    // fact side streams, violations group to allowlist-miss cardinality.
    "quality_fk_violations" -> q { (s, dir) =>
      Quality.fkViolations(
          Tables.load(s, dir, "events"),
          Tables.load(s, dir, "customer").filter(col("c_custkey") < 100),
          "user_id", "c_custkey")
        .orderBy("user_id")
    },

    // DSIR-style importance weights: each raw-pool document scored by
    // how much likelier its hashed-unigram bag is under the target
    // slice's (source = src0) bucket distribution than the raw pool's
    // own — 64 hash buckets, add-one smoothing, log-ratio sum rounded
    // to the repo's 6-decimal float contract. The corpus shuffles only
    // (doc, bucket) integer counts; the log-ratio table is 64 rows,
    // broadcast.
    "curation_importance_weights" -> q { (s, dir) =>
      Curation.importanceWeights(Tables.load(s, dir, "documents"),
          "doc_id", "text", col("source") === "src0", buckets = 64)
        .orderBy("doc_id")
    },

    // ... the same scoring AT INGEST: log-ratio table collected once
    // from the static corpus, each arriving doc scored as a stateless
    // token-array fold against the literal bucket map — no shuffle, no
    // state; batch-equivalent, so it shares the weights oracle.
    "stream_dsir_score" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingDsirScore(s, dir)
    },

    // Cluster-balanced sampling — topic-diverse subset selection: k
    // deterministic salted-hash draws per SEMANTIC cluster (the
    // struct-kernel assignment), so every region of embedding space is
    // represented regardless of corpus skew toward one topic. Pure
    // composition of two proven pieces: zero-shuffle assignment +
    // bounded-heap sampleKPerKey (never a full per-cluster sort).
    "curation_cluster_sample" -> q { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val assigned = graft.operators.Similarity.assignClustersWithSim(
          emb.select(col("vec_id"), col("embedding")),
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding")
        .select(col("vec_id"), col("cluster"))
      Curation.sampleKPerKey(assigned, "cluster", "vec_id", k = 20)
        .select(col("cluster"), col("vec_id"), col("sample_rank"))
        .orderBy("cluster", "sample_rank")
    },

    // Prototypicality scoring AT INGEST: centroid set collected once
    // from the static corpus, each arriving embedding assigned
    // (cluster, centroid_sim) by the one-pass struct kernel — a
    // stateless zero-shuffle projection; the corpus-global PRUNE rank
    // stays batch (curation_prototype_prune). Per-row independent →
    // batch-equivalent, replaying the batch assignment CTE.
    "stream_prototype_score" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingPrototypeScore(s, dir)
    },

    // Benchmark decontamination AT INGEST: arriving docs' shingle sets
    // computed in-row (stateless), probed against the broadcast
    // benchmark digest set — only HIT rows reach the sink, and the
    // per-doc overlap fold runs on those result-sized rows after the
    // stream drains. Per-doc independent → batch-equivalent, sharing
    // curation_contamination's oracle.
    "stream_contamination" -> q { (s, dir) =>
      graft.streaming.StreamPipeline.streamingContamination(s, dir)
    },

    // ... and the RESAMPLING step: k = 100 drawn without replacement
    // with probability ∝ softmax(logweight) via Gumbel-top-k, the
    // Gumbel noise derived from a salted content hash (deterministic
    // across runs/retries/engines), ranked on the rounded key with the
    // id as tiebreak, top-k on the bounded-heap operator.
    "curation_importance_resample" -> q { (s, dir) =>
      Curation.importanceResample(Tables.load(s, dir, "documents"),
          "doc_id", "text", col("source") === "src0", buckets = 64, k = 100)
        .orderBy("rnk")
    },
  )

  private val ShinglesCte = LlmQueries.ShinglesCte

  // smoothed KL over the top-V vocab: q/p add-one in-vocab
  // frequencies, per-term q·ln(q/p) round-6 → decimal sum → one round;
  // shared by the batch row and the partial-folding streaming twin
  private lazy val TokenKlOracleSql: String =
    """WITH tok0 AS (
           SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
           FROM documents
           WHERE text IS NOT NULL AND source IS NOT NULL),
         tok AS (SELECT grp, tok FROM tok0 WHERE tok <> ''),
         counts AS (
           SELECT grp, tok, count(*)::bigint AS c FROM tok GROUP BY 1, 2),
         vocab AS (
           SELECT tok, sum(c)::bigint AS ct FROM counts
           GROUP BY 1 ORDER BY ct DESC, tok LIMIT 1000),
         vv AS (SELECT count(*)::bigint AS v, sum(ct)::bigint AS n FROM vocab),
         ng AS (
           SELECT g.grp, coalesce(iv.ng, 0) AS ng
           FROM (SELECT DISTINCT grp FROM counts) g
           LEFT JOIN (SELECT grp, sum(c)::bigint AS ng
                      FROM counts JOIN vocab USING (tok) GROUP BY 1) iv
             USING (grp)),
         contrib AS (
           SELECT g.grp, g.ng,
             round(
               ((coalesce(c.c, 0) + 1)::double / (g.ng + vv.v)) *
               ln(((coalesce(c.c, 0) + 1)::double / (g.ng + vv.v)) /
                  ((vb.ct + 1)::double / (vv.n + vv.v))),
               6)::DECIMAL(38,10) AS w
           FROM vocab vb CROSS JOIN ng g
           LEFT JOIN counts c ON c.grp = g.grp AND c.tok = vb.tok, vv)
         SELECT grp AS source, max(ng) AS n_tokens,
           round(sum(w)::double, 6) AS kl
         FROM contrib GROUP BY grp ORDER BY source"""

  /** Shared SQL of the batch (`curation_contamination`) and at-ingest
    * (`stream_contamination`) decontamination oracles — identical by
    * per-doc independence of the overlap computation. */
  private lazy val ContaminationSql: String =
    s"""WITH $ShinglesCte,
        bench AS (
          SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
          FROM shingled WHERE doc_id % 97 = 0),
        corpus AS (
          SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
          FROM shingled WHERE doc_id % 97 <> 0),
        matched AS (
          SELECT c.doc_id, count(*) AS m
          FROM corpus c JOIN bench b ON c.sh = b.sh
          GROUP BY c.doc_id),
        totals AS (SELECT doc_id, count(*) AS t FROM corpus GROUP BY doc_id)
        SELECT totals.doc_id,
               round(coalesce(m, 0)::double / t, 4) AS overlap,
               coalesce(m, 0)::double / t >= 0.5 AS contaminated
        FROM totals LEFT JOIN matched ON totals.doc_id = matched.doc_id
        WHERE round(coalesce(m, 0)::double / t, 4) > 0
        ORDER BY totals.doc_id"""

  /** DuckDB twin of [[graft.operators.Quality.numericProfile]] over the
    * lineitem numeric columns — shared by the profile and drift oracles.
    * No ORDER BY so it can sit inside a CTE. */
  private def profileSelect(rel: String): String =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
              (count(*) - count($c))::bigint AS n_nulls,
              round(min($c)::double, 6) AS min_v,
              round(max($c)::double, 6) AS max_v,
              round(sum($c::decimal(38,10))::double / count($c), 6) AS mean_v
            FROM $rel""")
      .mkString("", " UNION ALL ", "")

  val oracles: Map[String, String] = Map(

    "curation_contamination" -> ContaminationSql,

    // every gate's expression lifted verbatim from the pipeline oracle,
    // evaluated ungated per doc; keep = the conjunction
    "curation_audit" ->
      s"""WITH $ShinglesCte,
          bench AS (
            SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled WHERE doc_id % 97 = 0),
          corpus AS (
            SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled),
          contam AS (
            SELECT c.doc_id,
                   count(b.sh)::double / count(*) >= 0.5 AS contaminated
            FROM corpus c LEFT JOIN bench b ON c.sh = b.sh
            GROUP BY c.doc_id),
          audit AS (
            SELECT d.doc_id, d.source,
              (d.text IS NULL OR
               d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text)))
                AS is_canonical,
              round(greatest(0.0,
                least(length(d.text)::double / 500.0, 1.0)
                - len(regexp_extract_all(d.text, '[^a-zA-Z0-9 ]'))::double
                    / length(d.text) * 2.0
                - greatest(0.0,
                    len(list_filter(string_split(d.text, ' '),
                      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double
                      / len(string_split(d.text, ' ')) - 0.4)), 6) >= 0.3
                AS quality_pass,
              1.0 - len(list_distinct(string_split(d.text, ' ')))::double
                      / len(string_split(d.text, ' ')) <= 0.5 AS low_repetition,
              coalesce(c.contaminated, false) AS contaminated,
              ('0x' || substr(md5('mix:' || d.text), 1, 15))::bigint % 10000
                < (CASE d.source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 10000
                AS mix_keep,
              CASE WHEN d.text IS NULL THEN NULL
                   WHEN ('0x' || substr(md5('split:' || d.text), 1, 15))::bigint % 100 < 90 THEN 'train'
                   WHEN ('0x' || substr(md5('split:' || d.text), 1, 15))::bigint % 100 < 95 THEN 'val'
                   ELSE 'test' END AS split
            FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id)
          SELECT doc_id, source, is_canonical, quality_pass, low_repetition,
                 contaminated, mix_keep, split,
                 (is_canonical AND quality_pass AND low_repetition
                  AND NOT contaminated AND mix_keep) AS keep
          FROM audit ORDER BY doc_id""",

    // the at-ingest twin reports the same per-doc overlap rows
    "stream_contamination" -> ContaminationSql,

    // the at-ingest audit: the batch audit's CTE chain minus the
    // corpus-global columns (is_canonical, keep)
    "stream_curation_audit" ->
      s"""WITH $ShinglesCte,
          bench AS (
            SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled WHERE doc_id % 97 = 0),
          corpus AS (
            SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled),
          contam AS (
            SELECT c.doc_id,
                   count(b.sh)::double / count(*) >= 0.5 AS contaminated
            FROM corpus c LEFT JOIN bench b ON c.sh = b.sh
            GROUP BY c.doc_id)
          SELECT d.doc_id, d.source,
            round(greatest(0.0,
              least(length(d.text)::double / 500.0, 1.0)
              - len(regexp_extract_all(d.text, '[^a-zA-Z0-9 ]'))::double
                  / length(d.text) * 2.0
              - greatest(0.0,
                  len(list_filter(string_split(d.text, ' '),
                    x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double
                    / len(string_split(d.text, ' ')) - 0.4)), 6) >= 0.3
              AS quality_pass,
            1.0 - len(list_distinct(string_split(d.text, ' ')))::double
                    / len(string_split(d.text, ' ')) <= 0.5 AS low_repetition,
            coalesce(c.contaminated, false) AS contaminated,
            ('0x' || substr(md5('mix:' || d.text), 1, 15))::bigint % 10000
              < (CASE d.source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                               WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 10000
              AS mix_keep,
            CASE WHEN d.text IS NULL THEN NULL
                 WHEN ('0x' || substr(md5('split:' || d.text), 1, 15))::bigint % 100 < 90 THEN 'train'
                 WHEN ('0x' || substr(md5('split:' || d.text), 1, 15))::bigint % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
          ORDER BY d.doc_id""",

    "curation_split_census" ->
      """WITH assigned AS (
           SELECT CASE WHEN len(string_split(text, ' ')) < 50 THEN 'short'
                       WHEN len(string_split(text, ' ')) < 200 THEN 'medium'
                       ELSE 'long' END AS stratum,
                  CASE WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 90 THEN 'train'
                       WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 95 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents)
         SELECT stratum, split, count(*) AS n
         FROM assigned GROUP BY stratum, split ORDER BY stratum, split""",

    "curation_sample_k" ->
      """SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY ('0x' || substr(md5('sample:' || doc_id), 1, 15))::bigint,
                      doc_id) AS sample_rank
         FROM documents
         QUALIFY sample_rank <= 20
         ORDER BY source, sample_rank""",

    // same 60-bit salted digest; digest is non-negative so % == pmod
    "curation_export_shuffle" ->
      """SELECT doc_id,
           (('0x' || substr(md5('export:' || doc_id), 1, 15))::bigint % 8)::int AS shard,
           row_number() OVER (
             PARTITION BY ('0x' || substr(md5('export:' || doc_id), 1, 15))::bigint % 8
             ORDER BY ('0x' || substr(md5('export:' || doc_id), 1, 15))::bigint,
                      doc_id) AS seq
         FROM documents
         ORDER BY shard, seq""",

    "curation_domain_mix" ->
      """SELECT source, count(*) AS kept
         FROM documents
         WHERE ('0x' || substr(md5('mix:' || text), 1, 15))::bigint % 10000
               < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                              WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 10000
         GROUP BY source ORDER BY source""",

    // the publish path: each CTE is the verbatim oracle of its stage
    // (temperature mix → quality sample → split → export shard), chained
    "curation_release" ->
      """WITH c AS (
           SELECT source, count(*)::bigint AS n FROM documents GROUP BY source),
         w AS (
           SELECT source, n, floor(sqrt(n::double))::bigint AS s FROM c),
         t AS (SELECT sum(n)::bigint AS N, sum(s)::bigint AS S FROM w),
         mix AS (
           SELECT d.doc_id, d.text, d.source
           FROM documents d JOIN w ON d.source = w.source CROSS JOIN t
           WHERE (('0x' || substr(md5('tmix:' || d.text), 1, 15))::bigint
                    % 10000)::hugeint * t.S * w.n
               < w.s::hugeint * ((t.N * 1) // 2) * 10000),
         qd AS (
           SELECT doc_id, text, source,
             round(greatest(0.0,
               least(length(text)::double / 500.0, 1.0)
               - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::double /
                   length(text) * 2.0
               - greatest(0.0,
                   len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double /
                     len(string_split(text, ' ')) - 0.4)), 6) AS q
           FROM mix),
         samp AS (
           SELECT doc_id, text, source FROM qd
           WHERE ('0x' || substr(md5('qs:' || text), 1, 15))::bigint % 10000
                 < q * 10000),
         spl AS (
           SELECT doc_id, source,
             CASE WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint
                         % 100 < 90 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint
                         % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM samp),
         sh AS (
           SELECT doc_id,
             (('0x' || substr(md5('export:' || doc_id), 1, 15))::bigint % 8)::int
               AS shard
           FROM spl)
         SELECT s.source, s.split, sh.shard, count(*) AS n_docs
         FROM spl s JOIN sh ON s.doc_id = sh.doc_id
         GROUP BY s.source, s.split, sh.shard
         ORDER BY s.source, s.split, sh.shard""",

    // fluency CTEs are text_bigram_lm's oracle verbatim; the tier edges
    // replay the Binning small-n contract (edge = value at rank
    // ceil(p·n), value-ordered) and bucket = 1 + edges strictly below —
    // the quantile_bin_sketch idiom over a single stratum
    "curation_perplexity_buckets" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         bg AS (
           SELECT a.doc_id, a.tok AS w1, b.tok AS w2
           FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         fl AS (
           SELECT bg.doc_id,
             CAST(round(round(sum(round(c2.c2::double / c1.c1, 6)), 6) * 1000000, 0)
                  AS BIGINT) // count(*) AS fluency_micro
           FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
           GROUP BY bg.doc_id),
         ranked AS (
           SELECT doc_id, fluency_micro,
             row_number() OVER (ORDER BY fluency_micro) AS rn,
             count(*) OVER () AS cnt
           FROM fl),
         probs AS (SELECT unnest([1.0/3, 2.0/3]) AS p),
         edges AS (
           SELECT p.p, r.fluency_micro AS edge
           FROM ranked r JOIN probs p
             ON r.rn = CAST(ceil(p.p * r.cnt) AS BIGINT)),
         binned AS (
           SELECT f.doc_id, f.fluency_micro, 1 + count(e.edge) AS bucket
           FROM fl f LEFT JOIN edges e ON f.fluency_micro > e.edge
           GROUP BY 1, 2)
         SELECT doc_id, fluency_micro, bucket, bucket >= 2 AS kept
         FROM binned ORDER BY doc_id""",

    // the quality expression is text_quality's oracle formula verbatim;
    // keep iff bucket < quality·10⁴ (both sides IEEE-exact doubles)
    "curation_quality_sample" ->
      """WITH t AS (
           SELECT source, text,
             round(greatest(0.0,
               least(length(text)::double / 500.0, 1.0)
               - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::double /
                   length(text) * 2.0
               - greatest(0.0,
                   len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double /
                     len(string_split(text, ' ')) - 0.4)), 6) AS q
           FROM documents),
         k AS (
           SELECT source, q FROM t
           WHERE ('0x' || substr(md5('qs:' || text), 1, 15))::bigint % 10000
                 < q * 10000)
         SELECT source, count(*) AS kept,
                round(sum(q::decimal(38,10))::double / count(*), 6)
                  AS mean_quality_kept
         FROM k GROUP BY source ORDER BY source""",

    "quality_schema_drift" ->
      """SELECT * FROM (VALUES
           ('doc_id', 'bigint', 'bigint', 'unchanged'),
           ('lang', 'string', NULL, 'removed'),
           ('n_chars', 'bigint', 'int', 'type_changed'),
           ('quality', NULL, 'double', 'added'),
           ('source', 'string', 'string', 'unchanged'),
           ('text', 'string', 'string', 'unchanged'))
         t("column", old_type, new_type, status)
         ORDER BY "column"""",

    // integer cross-multiplied keep test (hugeint here, decimal(38,0) in
    // Spark): bucket·S·n < s·T·10000 with s = floor(sqrt(n)), T = N//2
    "curation_temperature_mix" ->
      """WITH c AS (
           SELECT source, count(*)::bigint AS n FROM documents GROUP BY source),
         w AS (
           SELECT source, n, floor(sqrt(n::double))::bigint AS s FROM c),
         t AS (SELECT sum(n)::bigint AS N, sum(s)::bigint AS S FROM w),
         k AS (
           SELECT d.source, count(*) AS kept
           FROM documents d JOIN w ON d.source = w.source CROSS JOIN t
           WHERE (('0x' || substr(md5('tmix:' || d.text), 1, 15))::bigint
                    % 10000)::hugeint * t.S * w.n
               < w.s::hugeint * ((t.N * 1) // 2) * 10000
           GROUP BY d.source)
         SELECT c.source, c.n AS n_docs, coalesce(k.kept, 0)::bigint AS kept
         FROM c LEFT JOIN k ON c.source = k.source
         ORDER BY c.source""",

    "curation_pipeline" ->
      s"""WITH $ShinglesCte,
          dedup AS (
            SELECT doc_id, text, source FROM (
              SELECT doc_id, text, source,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS canon
              FROM documents) WHERE doc_id = canon),
          qual AS (
            SELECT doc_id, text, source FROM dedup
            WHERE round(greatest(0.0,
                least(length(text)::double / 500.0, 1.0)
                - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::double
                    / length(text) * 2.0
                - greatest(0.0,
                    len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double
                      / len(string_split(text, ' ')) - 0.4)), 6) >= 0.3),
          rep AS (
            SELECT doc_id, text, source FROM qual
            WHERE 1.0 - len(list_distinct(string_split(text, ' ')))::double
                          / len(string_split(text, ' ')) <= 0.5),
          bench AS (
            SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled WHERE doc_id % 97 = 0),
          survsh AS (
            SELECT s.doc_id, ('0x' || substr(md5(s.shingle), 1, 15))::bigint AS sh
            FROM shingled s JOIN rep r ON s.doc_id = r.doc_id),
          contam AS (
            SELECT s.doc_id
            FROM survsh s LEFT JOIN bench b ON s.sh = b.sh
            GROUP BY s.doc_id
            HAVING count(b.sh)::double / count(*) >= 0.5),
          clean AS (
            SELECT * FROM rep WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          mixed AS (
            SELECT source,
                   CASE WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 90 THEN 'train'
                        WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM clean
            WHERE ('0x' || substr(md5('mix:' || text), 1, 15))::bigint % 10000
                  < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 10000)
          SELECT source, split, count(*) AS n
          FROM mixed GROUP BY source, split ORDER BY source, split""",

    // The spans-fronted funnel: SpansCtes discovers the repeated spans
    // (same CTE chain as dedup_repeated_spans — note it defines a `rep`
    // CTE, so the funnel's repetition stage is named `lowrep` here), the
    // policy filter keeps only spans >= MinSpanChars, the strip is the
    // per-character complement scoped to spanned docs (mechanically
    // different from Spark's span-array fold but byte-identical by
    // construction — proven by dedup_span_strip), the drop policy is the
    // same integer test, and the funnel stages are verbatim from the
    // curation_pipeline oracle run over the CLEANED relation — except
    // the survivor shingles, which must re-shingle the cleaned text
    // (shinglesCteOver), while bench shingles stay on the original docs.
    "curation_pipeline_spans" ->
      s"""WITH ${LlmQueries.SpansCtes},
          pspans AS (
            SELECT * FROM spans WHERE span_end - span_start + 1 >= $MinSpanChars),
          spcov AS (
            SELECT doc_id, sum(span_end - span_start + 1) AS covered
            FROM pspans GROUP BY doc_id),
          spchars AS (
            SELECT doc_id, unnest(generate_series(1, length(text)))::int AS pos, text
            FROM documents
            WHERE text IS NOT NULL AND doc_id IN (SELECT doc_id FROM pspans)),
          spkept AS (
            SELECT c.doc_id, c.pos, substr(c.text, c.pos, 1) AS ch
            FROM spchars c
            WHERE NOT EXISTS (SELECT 1 FROM pspans s
              WHERE s.doc_id = c.doc_id
                AND c.pos BETWEEN s.span_start AND s.span_end)),
          spclean AS (
            SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS ct
            FROM spkept GROUP BY doc_id),
          cleaned AS (
            SELECT d.doc_id,
                   CASE WHEN spclean.ct IS NOT NULL THEN spclean.ct
                        WHEN spcov.covered IS NOT NULL THEN ''
                        ELSE d.text END AS text,
                   d.source
            FROM documents d
            LEFT JOIN spcov ON spcov.doc_id = d.doc_id
            LEFT JOIN spclean ON spclean.doc_id = d.doc_id
            WHERE coalesce(spcov.covered, 0) * 2 < length(d.text)),
          dedup AS (
            SELECT doc_id, text, source FROM (
              SELECT doc_id, text, source,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS canon
              FROM cleaned) WHERE doc_id = canon),
          qual AS (
            SELECT doc_id, text, source FROM dedup
            WHERE round(greatest(0.0,
                least(length(text)::double / 500.0, 1.0)
                - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::double
                    / length(text) * 2.0
                - greatest(0.0,
                    len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::double
                      / len(string_split(text, ' ')) - 0.4)), 6) >= 0.3),
          lowrep AS (
            SELECT doc_id, text, source FROM qual
            WHERE 1.0 - len(list_distinct(string_split(text, ' ')))::double
                          / len(string_split(text, ' ')) <= 0.5),
          $ShinglesCte,
          bench AS (
            SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM shingled WHERE doc_id % 97 = 0),
          ${LlmQueries.shinglesCteOver("lowrep", "repsh")},
          survsh AS (
            SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::bigint AS sh
            FROM repsh),
          contam AS (
            SELECT s.doc_id
            FROM survsh s LEFT JOIN bench b ON s.sh = b.sh
            GROUP BY s.doc_id
            HAVING count(b.sh)::double / count(*) >= 0.5),
          cleanfun AS (
            SELECT * FROM lowrep
            WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          mixed AS (
            SELECT source,
                   CASE WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 90 THEN 'train'
                        WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM cleanfun
            WHERE ('0x' || substr(md5('mix:' || text), 1, 15))::bigint % 10000
                  < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 10000)
          SELECT source, split, count(*) AS n
          FROM mixed GROUP BY source, split ORDER BY source, split""",

    "curation_packing" ->
      """WITH toks AS (
           SELECT doc_id, len(string_split(text, ' ')) AS ntok,
                  (doc_id % 8)::int AS shard
           FROM documents),
         packed AS (
           SELECT doc_id, ntok, shard,
                  ((sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - ntok) // 2048)::bigint AS bin
           FROM toks)
         SELECT shard, bin, count(*) AS n_docs, sum(ntok)::bigint AS tokens
         FROM packed GROUP BY shard, bin ORDER BY shard, bin""",

    "quality_profile" -> (profileSelect("lineitem") + " ORDER BY \"column\""),

    // merge-of-partials ≡ one-shot profile (decimal sums associative)
    "quality_profile_merged" ->
      (profileSelect("lineitem") + " ORDER BY \"column\""),

    // the parquet round-trip preserves the partials exactly (decimal
    // and double columns are stored losslessly), so the served merge
    // shares the one-shot oracle as well
    "quality_profile_persisted" ->
      (profileSelect("lineitem") + " ORDER BY \"column\""),

    "quality_profile_drift" ->
      s"""WITH pb AS (${profileSelect("lineitem")}),
         pa AS (${profileSelect("(SELECT * FROM lineitem WHERE l_discount <= 0.05)")})
         SELECT pb."column" AS "column",
                pb.n_rows AS rows_before, pa.n_rows AS rows_after,
                round(pa.n_nulls::double / pa.n_rows
                      - pb.n_nulls::double / pb.n_rows, 6) AS null_frac_delta,
                round(pa.mean_v - pb.mean_v, 6) AS mean_delta,
                round(pa.min_v - pb.min_v, 6) AS min_delta,
                round(pa.max_v - pb.max_v, 6) AS max_delta
         FROM pb JOIN pa USING ("column") ORDER BY "column"""",

    "quality_expectations" ->
      """SELECT * FROM (
           SELECT 'qty_null_frac' AS rule,
                  round((count(*) - count(l_quantity))::double / count(*), 6) AS observed,
                  0.0::double AS "limit",
                  (count(*) - count(l_quantity))::double / count(*) <= 0.0 AS pass
           FROM lineitem
           UNION ALL
           SELECT 'qty_max', round(max(l_quantity)::double, 6), 60.0::double,
                  round(max(l_quantity)::double, 6) <= 60.0 FROM lineitem
           UNION ALL
           SELECT 'discount_max', round(max(l_discount)::double, 6), 0.05::double,
                  round(max(l_discount)::double, 6) <= 0.05 FROM lineitem
           UNION ALL
           SELECT 'price_min', round(min(l_extendedprice)::double, 6), 0.0::double,
                  round(min(l_extendedprice)::double, 6) >= 0.0 FROM lineitem)
         ORDER BY rule""",

    // Same banded-MinHash shape as the dedup_cross_corpus oracle, with
    // the deterministic split hash as the corpus boundary: the oracle's
    // two-way train/eval CASE partitions identically to the Spark side's
    // train/val/test filtered to =!= "train".
    "curation_split_leakage" ->
      s"""WITH $ShinglesCte, ${LlmQueries.MinhashCte},
         spl AS (
           SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5('split:' || text), 1, 15))::bigint % 100 < 90
                       THEN 'train' ELSE 'eval' END AS split
           FROM documents),
         banded AS (
           SELECT doc_id, (seed // 4) AS band,
                  md5(array_to_string(
                    list_sort(list(concat(seed, ':', minhash))), '|')) AS band_hash
           FROM sig GROUP BY doc_id, band),
         hot AS (
           SELECT band, band_hash FROM banded JOIN spl USING (doc_id)
           WHERE split = 'train'
           GROUP BY band, band_hash
           HAVING count(*) > 10000),
         pairs AS (
           SELECT DISTINCT a.doc_id AS eval_id, b.doc_id AS train_id
           FROM banded a
           JOIN spl sa ON sa.doc_id = a.doc_id
           JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
           JOIN spl sb ON sb.doc_id = b.doc_id
           WHERE sa.split <> 'train' AND sb.split = 'train'
             AND NOT EXISTS (SELECT 1 FROM hot h
               WHERE h.band = a.band AND h.band_hash = a.band_hash))
         SELECT p.eval_id, p.train_id,
                sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::double
                  / 16 AS est_jaccard
         FROM pairs p
         JOIN sig sa ON sa.doc_id = p.eval_id
         JOIN sig sb ON sb.doc_id = p.train_id AND sb.seed = sa.seed
         GROUP BY p.eval_id, p.train_id
         ORDER BY eval_id, train_id""",

    // smoothed KL over the top-V vocab: q/p add-one in-vocab
    // frequencies, per-term q·ln(q/p) round-6 → decimal sum → one round
    "quality_token_kl" -> TokenKlOracleSql,
    // the streaming twin folds mergeable partials exactly — same oracle
    "stream_token_kl" -> TokenKlOracleSql,

    // exact-decimal per-coordinate sums (the lloyd pos0/cen CTE shape),
    // one double division + 6 dp round per mean coordinate, the global
    // mean from the SAME partials re-aggregated
    "quality_embedding_drift" ->
      """WITH pos0 AS (
           SELECT label AS grp, generate_subscripts(embedding, 1) AS pos,
                  unnest(embedding) AS v
           FROM embeddings),
         parts AS (
           SELECT grp, pos, sum(v::decimal(38,10)) AS s, count(*) AS n
           FROM pos0 GROUP BY grp, pos),
         gm AS (
           SELECT grp, max(n) AS n,
                  list(round(s::double / n, 6) ORDER BY pos) AS gv
           FROM parts GROUP BY grp),
         gl AS (
           -- 'gall', not 'glob': GLOB is a DuckDB keyword and the bare
           -- identifier is a parse error inside an expression
           SELECT list(m ORDER BY pos) AS gall FROM (
             SELECT pos, round(sum(s)::double / sum(n), 6) AS m
             FROM parts GROUP BY pos))
         SELECT grp AS label, n,
           round(list_dot_product(gv, gall) /
             (sqrt(list_dot_product(gv, gv)) *
              sqrt(list_dot_product(gall, gall))), 6) AS drift
         FROM gm, gl ORDER BY label""",

    "quality_histogram_drift" ->
      """WITH b AS (
           SELECT least(greatest(floor((l_extendedprice - 0.0) / 7500.0), 0), 15)::int AS bin,
                  count(*)::bigint AS nb
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice::double)
           GROUP BY 1),
         a AS (
           SELECT least(greatest(floor((l_extendedprice - 0.0) / 7500.0), 0), 15)::int AS bin,
                  count(*)::bigint AS na
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice::double)
             AND l_discount <= 0.05
           GROUP BY 1),
         j AS (
           SELECT coalesce(b.bin, a.bin) AS bin,
                  coalesce(nb, 0) AS n_before, coalesce(na, 0) AS n_after
           FROM b FULL JOIN a ON b.bin = a.bin),
         t AS (SELECT sum(n_before)::bigint AS tb, sum(n_after)::bigint AS ta FROM j)
         SELECT bin, n_before, n_after,
                round(abs(n_before::hugeint * ta - n_after::hugeint * tb)::double
                      / (2.0 * tb * ta), 6) AS tv_contrib
         FROM j, t ORDER BY bin""",

    // NULL text digests to NULL and compares NULL-safely (IS NOT
    // DISTINCT FROM): NULL→'' is a real content change, NULL→NULL isn't
    "quality_corpus_diff" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS h
           FROM documents WHERE doc_id % 11 <> 0),
         n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                           ELSE text END) AS h
           FROM documents WHERE doc_id % 13 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
                     ELSE 'changed' END AS status
         FROM o FULL JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",

    "quality_fk_violations" ->
      """SELECT user_id, count(*) AS n_rows
         FROM events
         WHERE user_id IS NOT NULL
           AND user_id NOT IN (SELECT c_custkey FROM customer
                               WHERE c_custkey < 100 AND c_custkey IS NOT NULL)
         GROUP BY user_id ORDER BY user_id""",

    "curation_importance_weights" ->
      s"""WITH $DsirWeightsCte
         SELECT doc_id, n_toks, logweight FROM dsir_w ORDER BY doc_id""",

    "stream_dsir_score" ->
      s"""WITH $DsirWeightsCte
         SELECT doc_id, n_toks, logweight FROM dsir_w ORDER BY doc_id""",

    // the prototype assignment CTE + curation_sample_k's salted-digest
    // rank, partitioned by the semantic cluster
    "curation_cluster_sample" ->
      """WITH cen AS (
           SELECT vec_id AS centroid_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 100 = 0),
         assign AS (
           SELECT e.vec_id, centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.embedding::double[], cemb::double[]) /
                 (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
                  sqrt(list_dot_product(cemb::double[], cemb::double[]))), 6) DESC,
               centroid_id) AS crn
           FROM embeddings e, cen)
         SELECT cluster, vec_id,
           row_number() OVER (PARTITION BY cluster
             ORDER BY ('0x' || substr(md5('sample:' || vec_id), 1, 15))::bigint,
                      vec_id) AS sample_rank
         FROM assign WHERE crn = 1
         QUALIFY sample_rank <= 20
         ORDER BY cluster, sample_rank""",

    // the batch assignment CTE of curation_prototype_prune, without the
    // corpus-global rank tail (the ingest leg is score-only)
    "stream_prototype_score" ->
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
           FROM embeddings e, cen)
         SELECT a.vec_id, a.cluster,
           round(list_dot_product(a.embedding::double[], cn.cemb::double[]) /
             (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
              sqrt(list_dot_product(cn.cemb::double[], cn.cemb::double[]))), 6) AS centroid_sim
         FROM (SELECT vec_id, embedding, cluster FROM assign WHERE crn = 1) a
         JOIN cen cn ON a.cluster = cn.centroid_id
         ORDER BY a.vec_id""",

    "curation_importance_resample" ->
      s"""WITH $DsirWeightsCte,
         keyed AS (
           SELECT w.doc_id, w.n_toks, w.logweight,
             round(w.logweight - ln(-ln(
               ((('0x' || substr(md5('dsir:' || d.text), 1, 15))::bigint
                   % 10000)::double + 0.5) / 10000.0)), 6) AS sample_key
           FROM dsir_w w JOIN documents d ON d.doc_id = w.doc_id)
         SELECT doc_id, n_toks, logweight, sample_key,
           row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rnk
         FROM keyed QUALIFY rnk <= 100 ORDER BY rnk""",
  )

  /** Shared CTE chain of both DSIR oracles: hashed-unigram bucket
    * histograms of the target (source = src0) and raw pools, add-one
    * smoothed log-ratios, per-raw-doc integer bucket counts, and the
    * 6-decimal-rounded log-weight sum — the verbatim replay of
    * [[graft.operators.Curation.importanceWeights]]. */
  private lazy val DsirWeightsCte: String =
    """tok2 AS (
           SELECT doc_id, (source = 'src0') AS t,
                  (('0x' || substr(md5(tok), 1, 15))::bigint % 64)::int AS b
           FROM (SELECT doc_id, source,
                        unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           WHERE tok <> ''),
         hist AS (
           SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END)::bigint AS tc,
                     sum(CASE WHEN t THEN 0 ELSE 1 END)::bigint AS rc
           FROM tok2 GROUP BY b),
         tot AS (SELECT sum(tc)::bigint AS tt, sum(rc)::bigint AS rt FROM hist),
         lr AS (
           SELECT b, ln((tc + 1)::double / (tt + 64)::double)
                   - ln((rc + 1)::double / (rt + 64)::double) AS lr
           FROM hist CROSS JOIN tot),
         cnt AS (
           SELECT doc_id, b, count(*)::bigint AS n
           FROM tok2 WHERE NOT t GROUP BY doc_id, b),
         dsir_w AS (
           SELECT doc_id, sum(n)::bigint AS n_toks,
                  round(sum(n * lr), 6) AS logweight
           FROM cnt JOIN lr USING (b)
           GROUP BY doc_id)"""
}
