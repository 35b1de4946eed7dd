package graft

/** Plan-shape regression tests: the properties that matter at 100 TB —
  * predicate pushdown reaching the scan, column pruning, broadcast of
  * small sides, no redundant shuffle between a window and a join on the
  * same key — locked in against the executed plan text. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("changefeed scan pushes ns-set and checkpoint predicates into parquet") {
    val p = plan("s2_changefeed_scan")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("In(event_type"))
    assert(p.contains("GreaterThanOrEqual(ts")) // raw-column form pushes down
  }

  test("key-projection scan prunes to a single column") {
    val p = plan("s4_key_scan")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"))
  }

  test("point lookup pushes the key equality into the scan") {
    val p = plan("s3_point_lookup")
    assert(p.contains("EqualTo(c_custkey,42)"))
  }

  test("q1 scan reads only the 6 referenced lineitem columns with the date filter pushed") {
    val p = plan("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey")) // pruned
    assert(p.contains("partial_sum")) // map-side partial aggregation
  }

  test("q3 broadcasts the filtered customer dimension") {
    val p = plan("q3_revenue_topn")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("cdc apply: last-image fold combines map-side and shares the join key exchange") {
    val p = plan("t1_cdc_apply")
    // exactly 3 exchanges: base repartition, the fold's key exchange
    // (feeding the join), final orderBy — not 4
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 3)
    // the r12 lastImage default: max_by aggregate with a PARTIAL stage, so
    // a hot key ships one candidate row per upstream task — the skew-immune
    // shape — instead of its whole change history through a window
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      "last-image fold must combine map-side")
    assert(!p.contains("WindowGroupLimit"),
      "window formulation leaked back into the default apply path")
  }

  test("anti-join reconciliation plans as a real anti join, not a loop") {
    val p = plan("j1_delete_reconcile")
    assert(p.contains("LeftAnti"))
  }

  test("bloom-pruned join probes the sketch BEFORE the join's exchange") {
    val p = plan("bloom_prune_join")
    // the membership probe (element_at over the broadcast sketch row) must
    // sit on the lineitem side below the real join, so pruned rows never
    // enter the join exchange
    val probeAt = p.indexOf("element_at")
    val joinAt = p.indexOf("Join") // first (outermost) join operator
    assert(probeAt >= 0, "membership probe missing from the plan")
    assert(joinAt >= 0, "real join missing from the plan")
    assert(probeAt > joinAt,
      "probe must appear below (after, in plan text) the join operator")
  }

  test("PQ search: encode and LUT are zero-shuffle kernel projections") {
    val p = plan("sim_topk_pq")
    // both sides of the search are pure projections over the scan — the
    // codebook is collected driver-side and embedded in the expressions,
    // so there is NO Generate/join/aggregate anywhere in the encode path
    assert(p.contains("graft_pq_encode"), "kernel encode projection missing")
    assert(p.contains("graft_pq_lut"), "kernel LUT projection missing")
    assert(p.contains("graft_pq_adc"), "native ADC scoring missing")
    assert(!p.contains("SortAggregate"), "argmin re-planned as a sort aggregate")
    assert(!p.contains("Generate"), "subspace explode reintroduced")
    assert(p.contains("TopKPerKeyPartial"), "bounded-heap top-k missing")
    // TopK hash exchange + oracle-orderBy range exchange + LUT broadcast
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 3,
      "extra shuffle in the PQ search")
  }

  test("IVF search: centroid assignment is a zero-shuffle kernel projection") {
    val p = plan("sim_topk_ivf")
    assert(p.contains("graft_nearest_centroid"), "kernel assignment missing")
    assert(!p.contains("SortAggregate"), "argmax re-planned as a sort aggregate")
    assert(p.contains("BroadcastHashJoin"), "cluster join must broadcast the query side")
    // query-side broadcast + TopK hash exchange + oracle-orderBy range
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 3,
      "extra shuffle in the IVF search")
  }

  test("multi-probe IVF: probe list is a kernel projection, no probe top-k exchange") {
    val p = plan("sim_topk_ivf_probed")
    assert(p.contains("graft_probe_centroids"), "kernel probe list missing")
    assert(p.contains("graft_nearest_centroid"), "kernel assignment missing")
    assert(!p.contains("SortAggregate"))
  }

  test("residual IVF-PQ: assignment, probe list, encode and LUT all stay kernel-side") {
    val p = plan("sim_topk_ivfpq_residual")
    assert(p.contains("graft_nearest_centroid"), "kernel assignment missing")
    assert(p.contains("graft_probe_centroids"), "kernel probe list missing")
    assert(p.contains("graft_pq_encode"), "kernel residual encode missing")
    assert(p.contains("graft_pq_lut"), "kernel residual LUT missing")
    assert(p.contains("graft_pq_adc"), "native ADC scoring missing")
    assert(!p.contains("SortAggregate"), "argmin/argmax re-planned as a sort aggregate")
    // residual subtraction is a broadcast join against the centroid set,
    // never a shuffle of the corpus
    assert(p.contains("BroadcastHashJoin"), "centroid join must broadcast")
    assert(!p.contains("SortMergeJoin"), "residual join must not shuffle the corpus")
    assert(!p.contains("CartesianProduct"))
  }

  test("chunking is one explode over the scan: no shuffle below the output sort") {
    val p = plan("text_chunk")
    assert(p.contains("Generate"), "chunk-id explode missing")
    // the only exchange is the oracle-facing orderBy (range partitioning)
    val ex = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(ex.forall(_.contains("rangepartitioning")),
      s"chunking must not hash-shuffle, found: $ex")
  }

  test("registry-wide audit: no cartesian products; sort aggregates only where ordered folds need them") {
    // Every declared query's executed plan, swept for the two anti-patterns
    // that silently kill a 100 TB run: a non-broadcast cross product, and
    // an argmin/argmax re-planned as a sort-based aggregate (a full
    // map-side sort of the scored rows). The allowed SortAggregates are
    // the CDC apply family's per-key ordered folds: max_by over struct
    // values of arbitrary column types has no mutable-buffer (hash) form,
    // the partial combine keeps it skew-safe (a hot key ships one
    // candidate row per upstream task, not its change history — why
    // lastImage defaults to this form since r12), and the sort is the
    // fold's own ordering — inherent, not accidental.
    val sortAggAllowed = Set("t1_fold_apply",
      // route through MergeApply.lastImage's max_by aggregate
      "o1_last_image", "t1_cdc_apply", "d2_pinned_snapshot")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, Sf0001).queryExecution.executedPlan.toString
      val hits =
        (if (p.contains("CartesianProduct")) Seq("CartesianProduct") else Nil) ++
        (if (p.contains("SortAggregate") && !sortAggAllowed(name)) Seq("SortAggregate") else Nil)
      hits.map(h => s"$name: $h")
    }
    assert(offenders.isEmpty, s"scale anti-patterns crept in:\n${offenders.mkString("\n")}")
  }

  test("semdedup: kernel assignment pre-checkpoint; pair join keys on cluster, no cross product") {
    // the registry query materializes the assigned frame (localCheckpoint
    // before the self-join), so the kernel is pinned on the assignment
    // stage it actually runs in, and the final plan on the join tail
    val emb = graft.Tables.load(spark, Sf0001, "embeddings")
    val cen = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
    val assignP = graft.operators.Similarity
      .assignClusters(emb, cen, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(assignP.contains("graft_nearest_centroid"), "kernel assignment missing")
    assert(!assignP.contains("Exchange"), "assignment must be a zero-shuffle projection")
    val p = plan("dedup_semdedup")
    assert(!p.contains("CartesianProduct"),
      "pair expansion must key on cluster, never cross-join")
    assert(!p.contains("SortAggregate"))
  }

  test("rm3: feedback frames broadcast, ranking on the bounded-heap node") {
    // the registry query checkpoints its (queries×k)-row result to
    // release the postings cache, which collapses its visible plan to a
    // Scan ExistingRDD — pin the LAZY inline form the checkpoint
    // materializes instead (same stages, same stats class)
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val posts = graft.operators.Retrieval.postings(docs, "doc_id", "text")
    val p = graft.operators.Retrieval.rm3Inline(
      posts, docs, "text", Seq((1, "alpha beta"), (2, "gamma")),
      k = 5, fbDocs = 3, fbTerms = 8, alpha = 0.5)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), "native bounded-heap node missing")
    assert(p.contains("BroadcastHashJoin"), "query/feedback frames must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the only sort-merge joins allowed are over the queries×terms
    // interpolation frames (full-outer CANNOT broadcast); the
    // corpus-sized postings must never be one — every SMJ must key on
    // (query_id, term), the expanded-query grain
    val smjKeys = "SortMergeJoin \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(smjKeys.forall(k => k.contains("query_id") && k.contains("term")),
      s"corpus-sized SMJ crept in: $smjKeys")
  }

  test("top-ngrams: map-side combined count feeding the bounded-heap node, no tail sort") {
    val p = plan("text_top_ngrams")
    assert(p.contains("TopKPerKey"), "native bounded-heap node missing")
    assert(p.contains("partial_count"), "gram count must combine map-side")
    // the only sort is the final result ordering over sources×k rows —
    // the gram tail itself must never sort
    assert(!p.contains("SortAggregate"))
  }

  test("temperature mix: weight frame broadcasts, corpus keep-test is a stateless filter") {
    val p = plan("curation_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), "per-domain weights must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus must not shuffle for the weight join")
  }

  test("persisted-profile serve plan never rescans the fact table") {
    // the registry query writes the per-shard partials (side effect at
    // construction), then SERVES the whole-corpus profile from the
    // stored artifact — the lineitem scan must be absent from the plan
    val p = plan("quality_profile_persisted")
    assert(!p.contains("lineitem"), "serve path rescanned the fact table")
    assert(p.contains("graft_profparts"), "serve path must read the stored partials")
  }

  test("bm25 indexed probe: corpus absent, pushed term filter, broadcast query frames") {
    // the registry query builds the postings index at construction, then
    // probes it — the documents scan must be absent from the probe plan,
    // the query-term IN filter pushed into the postings parquet, and both
    // tiny frames (query terms, df stats) broadcast
    val p = plan("text_bm25_indexed")
    assert(!p.contains("documents.parquet"), "probe rescanned the corpus")
    assert(p.contains("graft_bm25idx"), "probe must read the stored postings")
    assert(p.contains("In(term"), "term IN filter must push into the postings scan")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "query terms and df stats must broadcast into the postings stream")
  }

  test("hash embedding is a zero-shuffle kernel projection over the scan") {
    val p = plan("text_hash_embed")
    assert(p.contains("graft_hash_embed"), "kernel embed projection missing")
    assert(!p.contains("HashAggregate"), "token-stream aggregation reintroduced")
    assert(!p.contains("Generate"), "token explode reintroduced")
    // the only exchange is the oracle-determinism orderBy
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 1,
      "extra shuffle in the embed path")
  }

  test("cross-corpus dedup: delta broadcasts, the lake side never shuffles") {
    val p = plan("dedup_cross_corpus")
    // band join + both signature fetches carry explicit broadcast hints on
    // the delta side (licensed by the registered query's bucket cap, which
    // bounds the candidate set) — a plan contract, not an AQE guess
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "delta side must broadcast into the band join and both sig fetches")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "lake side must never shuffle for a join")
    // hash exchanges: the delta-sized candidate distinct plus the
    // hot-bucket count aggregate (bucket-cardinality-sized partials, not
    // lake rows); the orderBy contributes the one range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, s"lake-side hash shuffle crept in ($hashEx hash exchanges)")
  }

  test("repeated-spans chain: one kernel pass, reused digest exchange, streaming probe") {
    for (name <- Seq("dedup_repeated_spans", "dedup_repeated_token_spans",
        "dedup_spans_keep_first")) {
      // static planning: the ReuseExchange rule marks the shared digest
      // exchange in the plan text; under AQE the same reuse happens at
      // runtime through the adaptive stage cache (keyed on the
      // canonicalized subtree), which the pre-execution string can't show
      val p = try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        SparkEntry.queries(name)(spark, Sf0001).queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      // the repeated-digest aggregate and the join probe consume ONE
      // repartition-by-digest exchange: the scan+kernel+explode subtree
      // is evaluated once and its shuffle files are read twice
      assert(p.contains("ReusedExchange"), s"$name: digest exchange not reused")
      val kernels = "graft_gram_digests|graft_token_gram_digests".r.findAllIn(p).size
      assert(kernels == 1, s"$name: gram kernel evaluated $kernels times in the plan")
      // the occurrence side must STREAM through the join — a sort-merge
      // join would sort+buffer a monster exact-copy clique in one task
      assert(!p.contains("SortMergeJoin"), s"$name: probe side sorts (SMJ)")
      assert(p.contains("ShuffledHashJoin"), s"$name: expected shuffled hash join")
      // digest exchange + per-doc islands window + the oracle orderBy
      // range exchange, plus AT MOST one round-robin widening exchange
      // on the char-gram paths (Tables.widenScan: fires only when the
      // input scan plans fewer splits than the session parallelism —
      // the single-row-group harness files — and is the identity on a
      // real multi-file corpus, so the lake-text budget still holds at
      // scale; the token path's cheaper kernel doesn't widen). Tree-node
      // match only: a ReusedExchange line re-prints its referent.
      val widens = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
      assert(widens <= 1, s"$name: more than one widening exchange")
      assert("[+:]- Exchange ".r.findAllIn(p).size <= 3 + widens,
        s"$name: extra shuffle in the span chain")
    }
  }

  test("indexed cross-corpus probe: stored skew cap pushes into the band scan") {
    val p = plan("dedup_cross_corpus_indexed")
    // the pre-materialized bucket cardinality is a plain column predicate,
    // so the hot-bucket cut happens AT the parquet scan (row-group
    // pruning) instead of a per-probe lake-wide count aggregate
    assert(p.contains("LessThanOrEqual(bucket_n"),
      "bucket_n cap not pushed into the band index scan")
    // delta bands + candidates broadcast; the index tables only stream
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "index band scan and both sig fetches must join by broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "index side must never shuffle for a join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"only the candidate distinct may hash-shuffle ($hashEx)")
  }

  test("appended-index probe: both bucket_n filters push; hot pass stays tiny") {
    val p = plan("dedup_cross_corpus_appended")
    // the stale-counts exact pass reads the band log twice, each scan
    // pruned by a PUSHED bucket_n predicate: the admit side <= cap, the
    // hot-proof side > cap (stored counts only undercount, so an
    // over-cap row proves its bucket hot) — row-group pruning in both
    // directions, no lake-wide count aggregate anywhere
    assert(p.contains("LessThanOrEqual(bucket_n"),
      "admit-side bucket_n cap not pushed into the band scan")
    assert(p.contains("GreaterThan(bucket_n"),
      "hot-proof bucket_n filter not pushed into the band scan")
    // the index tables still only stream: delta bands, the hot key set,
    // and candidates all broadcast
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "index side must never shuffle for a join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2,
      s"only the candidate distinct + tiny hot-set distinct may hash-shuffle ($hashEx)")
  }

  test("incremental spans: delta digests broadcast, the index side never shuffles") {
    val p = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("dedup_spans_incremental")(spark, Sf0001)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // one delta kernel pass feeding one reused digest exchange
    assert("graft_gram_digests".r.findAllIn(p).size == 1,
      s"delta gram kernel evaluated more than once:\n$p")
    assert(p.contains("ReusedExchange"), "delta digest exchange not reused")
    // the lake-sized index is probed by BROADCAST semi-join and streams:
    // no sort-merge join anywhere, and the index's parquet scan is pruned
    // to its 8-byte digest column
    assert(p.contains("BroadcastHashJoin"), "index probe is not broadcast")
    assert(!p.contains("SortMergeJoin"), "index or probe side sorts (SMJ)")
    assert(p.contains("ReadSchema: struct<h:bigint>"),
      "index scan reads more than the digest column")
    // delta digest exchange + per-doc islands window + the orderBy range
    // exchange — the index side contributes NO shuffle
    assert("[+:]- Exchange ".r.findAllIn(p).size <= 3,
      s"extra shuffle in the incremental span chain:\n$p")
  }

  test("LSH chain: shuffle budget holds (no distinct, no self-join re-scan)") {
    val p = plan("dedup_lsh_pairs")
    // raw shingles feed the minhash groupBy directly (no distinct before
    // it), candidates come from per-bucket expansion (no join): the whole
    // chain is groupBy(id) + groupBy(band,hash) + pair-distinct + the
    // oracle orderBy — at most 4 exchanges plus at most one round-robin
    // widening exchange (Tables.widenScan on the shingle source: fires
    // only on under-split harness files, identity on a real corpus) —
    // and no join operator at all
    assert(!p.contains("Join"), "candidate self-join reintroduced")
    val widens = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
    assert(widens <= 1, "more than one widening exchange in the LSH chain")
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size
      <= 4 + widens, "extra shuffle in the minhash/banding chain")
  }

  test("JL search: kernel projection + native double cosine, heap top-k, no sort join") {
    val p = plan("sim_topk_jl")
    assert(p.contains("graft_jl_project"), "projection fell off the kernel path")
    assert(p.contains("graft_cosine_d"),
      "projected-space scoring left the native double-cosine kernel")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      "bounded-heap top-k replaced")
    assert(!p.contains("SortMergeJoin") && !p.contains("WindowGroupLimit"),
      "scan ranking degraded to a sort-based form")
    // the heap pair's one hash exchange, the rank window's ensure-
    // requirements exchange (same query_id key — AQE resolves it to the
    // heap exchange's partitioning at runtime; the unfinalized plan text
    // still prints it), and the oracle orderBy range exchange
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 3,
      s"extra shuffle in the JL scan:\n$p")
  }

  test("prototype prune: one-pass struct assignment, windows share ONE cluster exchange") {
    val p = plan("curation_prototype_prune")
    assert(p.contains("graft_nearest_centroid_sim"),
      "assignment+sim fell off the one-pass struct kernel")
    // exactly ONE kernel eval per row: an alias-substituted null filter
    // on the struct column re-evaluates the argmax inside a Filter
    // (Filter and Project are separate codegen consumers, no CSE) —
    // the NULL drop must test the raw vector column instead
    assert("graft_nearest_centroid_sim".r.findAllIn(p).size == 1,
      s"argmax kernel evaluated more than once per row:\n$p")
    // ONE parquet scan: the centroid frame is driver-collected into the
    // kernel ref, so there is no join back to it — and therefore no
    // constraint-propagated kernel re-evaluation inside a Filter
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"corpus scan only — no centroid join side:\n$p")
    // the rank/count windows' shared cluster hash + the registry orderBy
    assert("Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 2,
      s"extra shuffle in the prune chain:\n$p")
    assert(!p.contains("SortAggregate"), "assignment degraded to the composed twin")
  }

  test("tokenizer apply paths stay kernel projections with hash aggregation") {
    // the per-epoch tokenization scans (r18): explode → kernel
    // projection → map-side-combined per-doc aggregate. The kernel must
    // BE in the plan (a fallback to the chained-replace twin would be a
    // silent O(N·len) regression at a production merge count), the
    // aggregate must stay HashAggregate (a SortAggregate flip sorts the
    // exploded word stream — the classic scale killer), the text scan
    // must prune to (id, text), and nothing may shuffle except the
    // per-doc aggregate exchange + the registry orderBy's range
    // partitioning.
    Seq("text_bpe_tokenize" -> "graft_bpe_token_count",
        "text_unigram_tokenize" -> "graft_unigram_token_count")
      .foreach { case (name, kernel) =>
        val p = plan(name)
        assert(p.contains(kernel), s"$name lost its apply kernel:\n$p")
        assert(!p.contains("SortAggregate"),
          s"$name degraded to SortAggregate:\n$p")
        assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
          s"$name reads more than (doc_id, text):\n$p")
        assert("Exchange".r.findAllIn(p).size <= 2,
          s"$name shuffles beyond the doc aggregate + orderBy:\n$p")
      }
  }

  test("no kernel re-evaluates inside a Filter (the constraint-substitution class)") {
    // the class: a kernel-derived column becomes an inner-join key, the
    // optimizer infers a guard (IsNotNull, or the other side's subset
    // predicate like `% 100 = 0`) and predicate pushdown
    // alias-substitutes it below the Project — re-running the kernel
    // per corpus row inside a Filter, a silent 2-3× on the scan's
    // dominant cost (plan-audited on the whole ivf/ivfpq family).
    // Guarded by: keyed assignment (KnownNotNull — nothing nullable to
    // guard) + constraint-free ref-rebuilt centroid frames (nothing to
    // propagate).
    Seq("sim_topk_ivf", "sim_topk_ivf_probed", "sim_topk_ivfpq",
        "sim_topk_ivfpq_residual", "curation_prototype_prune").foreach { name =>
      val bad = plan(name).linesIterator.filter(l =>
        (l.contains("Filter ") || l.contains("DataFilters: [")) &&
          l.contains("graft_")).toSeq
      assert(bad.isEmpty,
        s"$name re-runs a kernel inside a Filter:\n${bad.mkString("\n")}")
    }
  }

  test("MMR selection is one fused kernel pass: stage-1 derived once, no cascade") {
    // r20 fusion: the k-step greedy collapses into ONE collect_list pool
    // aggregate + ONE MmrSelect kernel projection per query — the whole
    // selection is a single lazy plan. The regression classes this pins:
    //  - the kernel must BE in the plan (a silent fallback to the
    //    cascade twin re-introduces k-1 sequential checkpointed jobs);
    //  - the stage-1 search (TopKPerKeyFinal) must appear EXACTLY once
    //    (the 2^k re-derivation cascade this shape replaced);
    //  - no Union of per-step frames (the cascade's assembly);
    //  - the pool aggregate stays hash-based (a SortAggregate flip
    //    sorts the candidate stream — the classic scale killer).
    val p = plan("sim_topk_mmr")
    assert(p.contains("graft_mmr_select"), s"MMR kernel missing — cascade fallback:\n$p")
    assert("TopKPerKeyFinal".r.findAllIn(p).size == 1,
      s"stage-1 search must be derived exactly once:\n$p")
    assert(!p.contains("Union"), s"per-step union cascade re-appeared:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"pool aggregate not hash-based:\n$p")
  }

  test("sdm: one cached positional scan feeds all three components; pair stats broadcast") {
    // the registry query materializes to release the postings cache
    // (the rm3 shape) — pin the LAZY core the wrapper hides
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val queries = Seq((1, "table part window"), (2, "key agg row"))
    val qt = graft.operators.Retrieval.queryTerms(spark, queries)
    val pairFrame = queries.flatMap { case (qid, text) =>
      val ts = text.split(" ").filter(_.nonEmpty)
      ts.zip(ts.drop(1)).distinct.map { case (a, b) => (qid, a, b) }
    }.toDF("query_id", "ta", "tb")
    val terms = queries.flatMap(_._2.split(" ")).distinct
    val pp = graft.operators.Retrieval
      .positionalPostings(docs, "doc_id", "text")
      .filter(col("term").isin(terms: _*)).persist()
    try {
      val p = graft.operators.Retrieval.rankTopK(
        graft.operators.Retrieval.sdmScored(pp, qt, pairFrame,
          n = 100L, sumDl = 4000L, wUn = 8, "0.85", "0.10", "0.05"), 5)
        .queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKey"), "native bounded-heap node missing")
      assert(p.contains("BroadcastHashJoin"),
        "pair/query/df frames must broadcast")
      assert(!p.contains("CartesianProduct"))
      // the cached frame feeds unigram tf + both pair components' two
      // sides — never a re-derivation of the corpus tokenize
      val inMem = "InMemoryTableScan".r.findAllIn(p).size
      assert(inMem >= 3, s"cached positional scan must feed all components, saw $inMem:\n$p")
      // every parquet scan in the printout is the one INSIDE an
      // InMemoryRelation's build plan (the cache echoes its child) —
      // an uncached re-derivation would print one more FileScan than
      // InMemoryRelation occurrences
      val fileScans = "FileScan parquet".r.findAllIn(p).size
      val cachedRels = "InMemoryRelation".r.findAllIn(p).size
      assert(fileScans <= cachedRels,
        s"corpus tokenize re-derived around the cache ($fileScans scans vs $cachedRels cached relations)")
    } finally { pp.unpersist(): Unit }
  }

  test("nb classifier: token stream joins the pivoted parameter map once per token") {
    // r20 fused shape: the dense vocab×labels table pivots to one map
    // row per term, scoring joins each token ONCE and aggregates L
    // parallel decimal sums keyed by id alone, and the argmax is a
    // CASE fold — no per-(id, label) row blowup, no heap exchange on
    // the scored side. The regression classes this pins:
    //  - the parameter table must still BROADCAST into the token
    //    stream (a shuffle of the corpus-sized token frame for the
    //    model join is the scale killer);
    //  - the per-id aggregate stays hash-based;
    //  - no TopKPerKey on the scoring side (a silent fall back to the
    //    generic heap path re-introduces the ×labels blowup).
    val p = plan("text_nb_classify")
    assert(p.contains("BroadcastHashJoin"),
      "the pivoted parameter map must broadcast into the token stream")
    assert(!p.contains("TopKPerKey"),
      "fused argmax regressed to the per-(id, label) heap path")
    assert(!p.contains("SortAggregate"), "scoring aggregate degraded to sort")
    assert(!p.contains("CartesianProduct"),
      "the train-side vocab×labels densify must stay a broadcast NL join")
  }
}
