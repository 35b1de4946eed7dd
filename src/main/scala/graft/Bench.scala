package graft

/** Benchmark main (driver-run per round → BENCH_r{N}.json): times the
  * headline queries from [[SparkEntry.benchQueries]] on
  * `SPARK_GRAFT_SF_DIR` and prints exactly one JSON line.
  */
object Bench {

  /** Is the query at `queryIndex` (0-based position in the sweep)
    * contaminated by host contention? `canaries` are (queries-completed-
    * before-this-reading, seconds) re-timings of the same tiny canary
    * query taken throughout the sweep. A query is flagged when either
    * canary reading bracketing it ran more than `threshold`× the run's
    * TYPICAL (median) reading — so a mid-run contention window flags
    * exactly the queries inside it, closing the round-12 blind spot
    * where ~10 mid-list queries read 3-8× inflated while the start/end
    * canaries both looked clean. The floor is the median, not the
    * minimum: one outlier-fast reading must not flag every normal
    * bracket (observed: a 0.32 s outlier among steady 0.38 s readings
    * put the whole first bracket over a min-based threshold). A
    * majority-contended run can sneak past a median floor — that case
    * is what the artifact-wide min-floor `contended` flag still
    * catches. Pure, so the synthetic-load spec can drive it
    * deterministically. */
  /** The canary reading nearest to the query at `queryIndex` (by
    * queries-completed distance; ties prefer the reading taken BEFORE
    * the query). This is the denominator a cross-round comparator uses
    * to normalize the query's median (`sec / canary_ref`): two rounds
    * that ran under different host load divide out the load instead of
    * reporting it as a regression. Pure, spec-driven. */
  def nearestCanary(canaries: Seq[(Int, Double)], queryIndex: Int): Double = {
    val ok = canaries.filter(_._2 > 0)
    if (ok.isEmpty) 0.0
    else ok.minBy { case (at, _) =>
      // before-readings (at <= i) win ties against after-readings
      (math.abs(at - queryIndex).toLong << 1) | (if (at <= queryIndex) 0 else 1)
    }._2
  }

  def contaminatedBy(
      canaries: Seq[(Int, Double)], queryIndex: Int,
      threshold: Double = 1.5): Boolean = {
    val clean = canaries.map(_._2).filter(_ > 0)
    if (clean.isEmpty) return true // unmeasurable canary = distressed host
    val floor = clean.sorted.apply(clean.length / 2)
    val before = canaries.filter(_._1 <= queryIndex).lastOption
    val after = canaries.find(_._1 > queryIndex)
    (before.toSeq ++ after.toSeq).exists { case (_, t) =>
      t <= 0 || t / floor > threshold
    }
  }

  /** The artifact-wide flag: ANY reading >`threshold`× the run's TYPICAL
    * (median) reading, or any unmeasurable reading, marks the artifact
    * as carrying environmental inflation somewhere. Median floor for the
    * same reason [[contaminatedBy]]'s is — a min floor fired on every
    * artifact r13-r14, clean or not (first from canary warm-up
    * inflation, then from outlier-FAST readings once the canary was
    * pre-warmed), and a flag that always fires carries no signal. A
    * uniformly-contended run can sneak past a median floor; uniform
    * inflation is exactly what per-query `canary_ref` normalization
    * divides out cross-round. Pure, spec-driven. */
  def contendedRun(readings: Seq[Double], threshold: Double = 1.5): Boolean = {
    val ok = readings.filter(_ > 0)
    if (ok.isEmpty || ok.length != readings.length) return true
    val floor = ok.sorted.apply(ok.length / 2)
    readings.exists(_ / floor > threshold)
  }

  /** Intra-query contamination gate — the r15 blind spot closer. That
    * round's driver host inflated five heavy queries 2-6× across ALL
    * their reps while the canary readings on both sides of them read
    * clean (the contention tracked the heavy queries' own memory/IO
    * pressure, which the tiny canary doesn't exercise). The bracket
    * classifier above can never see that shape; the query's own reps
    * can. Flags when:
    *   - the per-rep MINIMUM exceeds `priorFactor`× the committed-clean
    *     prior median (min is the least contention-inflatable statistic
    *     a rep set carries: one clean rep anywhere acquits the query) —
    *     only when a same-sf prior exists; or
    *   - the rep spread (max/min) exceeds `spreadFactor` AND the slow
    *     reps are non-trivial (max > 0.5 s): one or two contended reps
    *     are skewing the median. The absolute floor keeps sub-half-
    *     second planning/GC jitter (documented up to 2× on the small
    *     queries) from flagging clean runs.
    * `crossPassConsistent` VETOES the prior half (never the spread
    * half): when the query's pass medians agree across two full sweeps
    * of identical code, slow-vs-prior is a REAL regression — the exact
    * signal the two-pass design exists to extract — and labeling it
    * contamination would let bench_compare exclude genuine regressions
    * from the verdict forever (a consistent 2× plan change would
    * self-acquit). Pure, spec-driven ([[BenchCanarySpec]]). */
  def repContaminated(
      reps: Seq[Double], prior: Option[Double],
      priorFactor: Double = 1.5, spreadFactor: Double = 2.0,
      crossPassConsistent: Boolean = false): Boolean = {
    val ok = reps.filter(_ > 0)
    if (ok.isEmpty) return false // a no-timings query is an ERROR, not noise
    val minRep = ok.min
    val slowVsPrior = !crossPassConsistent &&
      prior.exists(p => p > 0 && minRep > p * priorFactor)
    val spreadNoise = ok.max / minRep > spreadFactor && ok.max > 0.5
    slowVsPrior || spreadNoise
  }

  /** Contended-run prior sweep — the r19 blind-spot closer. That
    * round's driver artifact was contended-flagged (artifact-wide min
    * floor), yet a 7.3× environmental spike on `text_unigram_tokenize`
    * shipped UNTAGGED: the spike sat mid-bracket, both canary readings
    * around it read under the 1.5× bracket threshold, and the rep gate's
    * min statistic happened to clear its 1.5×-prior bar on the winning
    * pass. On a host the canary itself has convicted, attribution
    * flips: any query whose reported median exceeds its committed-clean
    * prior median by `factor` is the host's doing until a clean run
    * proves otherwise, so it joins `contaminated_queries` and the
    * cross-round comparator excludes it instead of adjudicating it by
    * hand. NEVER fires on a clean run (`contended=false` → empty) —
    * genuine regressions keep reaching the comparator through the
    * clean artifact this sweep defers to. Pure, spec-driven
    * ([[BenchCanarySpec]]). */
  def contendedPriorFlagged(
      contended: Boolean, medians: Seq[(String, Double)],
      priors: Map[String, Double], factor: Double = 2.0): Seq[String] =
    if (!contended) Seq.empty
    else medians.collect {
      case (name, m) if priors.get(name).exists(p => p > 0 && m > p * factor) =>
        name
    }

  /** Per-query median priors out of a committed graft.Bench artifact
    * (BENCH_LOCAL.json), used as the [[repContaminated]] denominator.
    * Returns empty when the artifact's `sf` doesn't match the current
    * run — cross-sf medians are not comparable. Queries the artifact
    * ITSELF flagged (`contaminated_queries`, `rep_flagged`,
    * `self_compare.noise`) are dropped: their medians carry the very
    * host inflation the gate divides by, so using them as the "clean"
    * denominator would make the gate systematically lenient for
    * exactly the queries it polices (a contended artifact is a fine
    * prior for its UNflagged entries — winning-pass medians — but
    * never for its flagged ones). Pure (takes the JSON text),
    * spec-driven; the file read lives in main and is best-effort. */
  def parsePriors(jsonLine: String, sfDir: String): Map[String, Double] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(jsonLine.trim)
      if (root.path("sf").asText("") != sfDir) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val flagged: Set[String] =
          (root.path("canary").path("contaminated_queries").elements().asScala ++
            root.path("canary").path("rep_flagged").elements().asScala ++
            root.path("self_compare").path("noise").elements().asScala)
            .map(_.asText()).toSet
        val qs = root.path("queries")
        val it = qs.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber && !flagged.contains(e.getKey))
            b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  /** One query's data for the cross-round comparison: winning-pass
    * median, all raw rep times, and the nearest canary reading of the
    * winning pass (the normalization denominator). */
  case class QueryRun(median: Double, reps: Seq[Double], canaryRef: Double)

  /** Cross-ROUND clean-vs-clean comparison, shipped IN the artifact —
    * `tools/bench_compare.py`'s stacked gates replayed in-process
    * against the prior committed artifact, so a round-over-round
    * regression (or a false one, like the r16 DSIR flag a judge had to
    * adjudicate by hand) is machine-labeled at round close instead of
    * discovered a round later. The intra-run gates (`contaminatedBy`,
    * `repContaminated`, `self_compare`) only ever compare a run against
    * ITSELF or its committed prior MEDIAN; this is the only place two
    * full artifacts meet.
    *
    * Gate ladder per shared query, canary-normalized ratio r past
    * `threshold`: CONTAMINATED / SELF-NOISE (either artifact flagged
    * the query — known inflation), SUSPECT (normalized per-rep minima
    * inside threshold: contended reps skewed a median, the r14 shape),
    * CANARY-DRIFT (canary floors differ >1.2× so the canary-units are
    * incomparable, and raw medians sit inside threshold — the r15
    * false-six shape), HOST-NOISE (raw per-rep minima inside threshold:
    * bracket-level canary inflation on an internally-variable host, the
    * r15 shape). Drift is checked BEFORE the raw-minima gate: a genuine
    * drift round almost always also has flat raw minima (flat minima ⊆
    * flat medians), so the old order made the drift tag unreachable and
    * attributed every drift round to host noise — when the floors
    * demonstrably moved, incomparable units IS the mechanism.
    * What survives every gate is a CLEAN regression:
    * slow in all reps, on both scales, on comparable units. Improvements
    * (r < 1/threshold) are recorded untagged for the reader. Pure
    * (takes the prior's JSON text), spec-driven ([[BenchCanarySpec]]);
    * returns a JSON object string under the `prior_compare` key. */
  def priorCompare(
      priorJson: String, sfDir: String,
      cur: Map[String, QueryRun], curFloor: Double, curDirty: Set[String],
      threshold: Double = 1.3, driftFactor: Double = 1.2): String = {
    val unavailable = """{"available":false}"""
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(priorJson.trim)
      if (root.path("sf").asText("") != sfDir) return unavailable
      import scala.jdk.CollectionConverters._
      def names(p: com.fasterxml.jackson.databind.JsonNode): Set[String] =
        p.elements().asScala.map(_.asText()).toSet
      val priorDirty =
        names(root.path("canary").path("contaminated_queries")) ++
          names(root.path("self_compare").path("noise"))
      def numMap(key: String): Map[String, Double] = {
        val it = root.path(key).fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }
      val pMed = numMap("queries")
      val pRef = numMap("canary_ref")
      val pRaw: Map[String, Seq[Double]] = {
        val it = root.path("raw").fields()
        val b = Map.newBuilder[String, Seq[Double]]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> e.getValue.elements().asScala
            .map(_.asDouble()).filter(_ > 0).toSeq
        }
        b.result()
      }
      val priorFloor = root.path("canary").path("series").elements().asScala
        .map(_.path("sec").asDouble()).filter(_ > 0)
        .minOption.getOrElse(0.0)
      val drift = priorFloor > 0 && curFloor > 0 &&
        (priorFloor / curFloor > driftFactor || curFloor / priorFloor > driftFactor)
      def norm(med: Double, ref: Double): Option[Double] =
        if (med > 0 && ref > 0) Some(med / ref) else None
      val shared = cur.keySet.intersect(pMed.keySet).toSeq.sorted.flatMap { q =>
        val c = cur(q)
        for {
          nOld <- norm(pMed(q), pRef.getOrElse(q, 0.0))
          nNew <- norm(c.median, c.canaryRef)
        } yield (q, nOld, nNew)
      }
      val moved = shared.flatMap { case (q, nOld, nNew) =>
        val r = nNew / nOld
        if (r <= threshold && r >= 1.0 / threshold) None
        else {
          val c = cur(q)
          val minOld = pRaw.getOrElse(q, Nil).minOption.getOrElse(0.0)
          val minNew = c.reps.filter(_ > 0).minOption.getOrElse(0.0)
          val nMinOld = norm(minOld, pRef.getOrElse(q, 0.0))
          val nMinNew = norm(minNew, c.canaryRef)
          val tag =
            if (r <= 1.0 / threshold) ""
            else if (priorDirty.contains(q) || curDirty.contains(q)) "contaminated"
            else if ((for (a <- nMinOld; b <- nMinNew) yield b / a)
                .exists(_ <= threshold)) "suspect"
            else if (drift && pMed(q) > 0 && cur(q).median / pMed(q) <= threshold)
              "canary-drift"
            else if (minOld > 0 && minNew > 0 && minNew / minOld <= threshold)
              "host-noise"
            else "clean"
          Some((q, r, tag))
        }
      }
      val clean = moved.collect { case (q, r, "clean") if r > 1 => q }
      val totOld = shared.map(_._2).sum
      val totNew = shared.map(_._3).sum
      val totRatio = if (totOld > 0) totNew / totOld else 0.0
      s"""{"available":true,"shared":${shared.length},"drift":$drift,""" +
        f""""normalized_total_ratio":$totRatio%.2f,""" +
        s""""moved":${moved.map { case (q, r, tag) =>
          f"""{"q":"$q","ratio":$r%.2f,"tag":"$tag"}""" }
          .mkString("[", ",", "]")},""" +
        s""""clean_regressions":${clean
          .map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    } catch { case _: Throwable => unavailable }
  }

  /** The driver's stdout capture window (~2000 chars incl. the build
    * tool's epilogue); every emitted last line must fit under it. */
  val CaptureWindow = 1800

  /** The COMPACT last-stdout-line: medians + canary summary only, built
    * pure so the length budget is spec-checkable at the current
    * registry size. All name lists arrive RAW and are quoted here (one
    * quoting contract — a caller hand-quoting would double-quote).
    * Degradation ladder when the window would overflow: full
    * contamination name list → contamination count → medians-free
    * summary → errors degraded to a count too (the terminal rung is a
    * fixed-size line, so SOMETHING parseable always fits) with a
    * stderr warning — registry growth must never silently reintroduce
    * the parsed:null truncation bug this line exists to fix. On every
    * rung "errors" stays a JSON ARRAY (the terminal rung empties it and
    * moves the count to a separate "errors_count" key) so a fixed-schema
    * consumer never has to type-branch on the field. */
  def compactLine(
      medians: Seq[(String, Double)], total: Double, contended: Boolean,
      contaminated: Seq[String], errorNames: Seq[String],
      sfDir: String): String = {
    val qsCompact = medians.map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val errorList = errorNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    def withDirty(dirty: String) =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qsCompact,""" +
        s""""canary":{"contended":$contended,$dirty},""" +
        s""""errors":$errorList,"sf":"$sfDir"}"""
    def summary(errors: String) =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec",""" +
        s""""queries_omitted":${medians.length},""" +
        s""""canary":{"contended":$contended,""" +
        s""""contaminated_count":${contaminated.length}},""" +
        s""""errors":$errors,"sf":"$sfDir"}"""
    val full = withDirty(s""""contaminated_queries":${contaminated
      .map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    val counted = withDirty(s""""contaminated_count":${contaminated.length}""")
    if (full.length <= CaptureWindow) full
    else if (counted.length <= CaptureWindow) counted
    else {
      System.err.println(
        s"[bench] compact line ${counted.length} chars exceeds the capture " +
          "window even without the contamination list — emitting the " +
          "medians-free summary; per-query medians are in the file artifact only")
      val withErrors = summary(errorList)
      // a broken build's error-name list can be registry-sized itself:
      // the terminal rung degrades it to a count under a SEPARATE key,
      // keeping "errors" an array (here: empty) on every rung
      if (withErrors.length <= CaptureWindow) withErrors
      else summary(s"""[],"errors_count":${errorNames.length}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.start(s"local[$cpus]", cpus)
    // The inter-rep cleanup below unpersists locally-checkpointed RDDs
    // (Lloyd / connected-components rounds); each such unpersist logs
    // "RDD was locally checkpointed" at WARN because the lineage cannot
    // be recomputed — irrelevant here, the query that owned the blocks
    // has already returned. Silence the RDD loggers for this bench main
    // only, so the one JSON line is the whole stdout/stderr story.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // ... and the one-line "Truncated the string representation of a plan"
    // advisory (wide ANN plans trip the 25-field default toString cap).
    Seq("org.apache.spark.util.SparkStringUtils",
        "org.apache.spark.sql.catalyst.util.SparkStringUtils",
        "org.apache.spark.sql.catalyst.util.StringUtils").foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))
    // Warm the session once (file listing, parquet footers, codegen paths)
    // so per-query timings measure the queries, not JVM cold start.
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    val all = SparkEntry.queries
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val t = try { all(name)(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
              catch { case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None }
      // Drop blocks the run materialized (localCheckpoint in the dedup/CC
      // operators) OUTSIDE the timed region — otherwise each repetition
      // piles new checkpoint RDDs into storage memory and reps 2..n
      // measure block-manager pressure instead of the query (observed:
      // lsh_pairs 6.3 s single-shot vs 13.6 s as a 3-rep median).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      t
    }
    // Serve-path queries are build-if-stale: on a cold /tmp their first
    // repetition pays the index BUILD, contaminating a 3-rep median that
    // is defined to measure the steady-state PROBE. Build the persisted
    // indexes inside the warm-up phase instead.
    SparkEntry.benchQueries.filter(all.contains)
      .filter(n => n.endsWith("_serve") || n.endsWith("_served"))
      .foreach(n => runOnce(n))
    // Warm the canary query itself before its first TIMED reading: the
    // at-0 reading used to carry q1_agg's own first-run planning/codegen
    // cost (~2x its steady state), which sat under the min-floor below
    // and made `contended` fire on every artifact — including provably
    // clean runs (r13, r14, and the r14 judge re-run alike). A canary
    // reading must price the HOST, not JVM warm-up.
    runOnce("q1_agg"); runOnce("q1_agg")
    // Contention canary: q1_agg re-timed throughout the sweep — before,
    // after every `canaryEvery` queries, and at the end. The round-11/12
    // artifacts proved a start/end-only canary has a blind spot: a
    // multi-minute mid-run contention window inflated ~10 consecutive
    // queries 3-8× across ALL their reps while both endpoint readings
    // looked clean. The series localizes inflation to the queries it
    // actually covered (see contaminatedBy).
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "12").toInt
    // Median of 3 repetitions per query: the ~0.3-1 s planning/codegen floor
    // and GC-driven run-to-run variance (up to 2x on the small queries) made
    // single-shot round-over-round deltas untrustworthy. Raw per-rep times
    // are emitted alongside the medians so a reader can tell a real
    // regression (all reps slow) from one contended rep skewing the median.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // TWO full passes over the registry by default (r15 verdict item 6):
    // identical code runs twice, so a query slow in BOTH passes is a real
    // regression while a query slow in ONE is host noise — this converts
    // the comparator's residual false-positive rate (1/55 demonstrated on
    // identical code in r15) to near-zero without judge re-runs. The
    // reported median per query is the MINIMUM of the pass medians (the
    // honest steady state; the slower pass's excess is by construction
    // environmental), and contamination flags are evaluated against the
    // winning pass only — a hot bracket in the losing pass never taints
    // the number we actually report.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val benchNames = SparkEntry.benchQueries.filter(all.contains)
    // Committed-clean priors for the intra-query rep gate — best-effort:
    // an absent/foreign-sf artifact just disables the prior half of the gate.
    val priorJson: String =
      try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_LOCAL.json"))
        if (java.nio.file.Files.isReadable(p))
          new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
        else ""
      } catch { case _: Throwable => "" }
    val priors: Map[String, Double] = parsePriors(priorJson, sfDir)
    // One full sweep over the registry with its own canary series
    // (local indices, so contaminatedBy brackets within the pass).
    def runPass(): (Seq[(Int, Double)], Seq[Seq[Double]]) = {
      val canaries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      canaries += ((0, runOnce("q1_agg").getOrElse(0.0)))
      val rs = benchNames.zipWithIndex.map { case (name, i) =>
        if (i > 0 && i % canaryEvery == 0)
          canaries += ((i, runOnce("q1_agg").getOrElse(0.0)))
        (1 to reps).flatMap(_ => runOnce(name))
      }
      canaries += ((benchNames.length, runOnce("q1_agg").getOrElse(0.0)))
      (canaries.toSeq, rs)
    }
    val passResults = (1 to passes).map(_ => runPass())
    def med(ts: Seq[Double]) =
      if (ts.isEmpty) 0.0 else ts.sorted.apply(ts.length / 2)
    // Per query: winning pass = lowest valid pass median. The `ok` flag
    // requires EVERY pass's rep set complete — a query that crashed all
    // its reps in one pass but completed the other still reports its
    // winning-pass median, but it must surface in `errors` like any rep
    // failure always has (the winning-pass-only check silently hid
    // queries that failed a whole pass).
    val results = benchNames.zipWithIndex.map { case (name, i) =>
      val perPass = passResults.map(_._2(i))
      val valid = perPass.zipWithIndex.filter(_._1.nonEmpty)
      if (valid.isEmpty) (name, 0.0, Seq.empty[Double], false, 0)
      else {
        val (winReps, winIdx) = valid.minBy { case (ts, _) => med(ts) }
        (name, med(winReps), perPass.flatten,
          perPass.forall(_.length == reps), winIdx)
      }
    }
    val allCanaries = passResults.flatMap(_._1.map(_._2))
    val canaryStart = passResults.head._1.head._2
    val canaryEnd = passResults.last._1.last._2
    val canaryRatio = if (canaryStart > 0) canaryEnd / canaryStart else 0.0
    val contended = contendedRun(allCanaries)
    // Bracket gate, winning pass only; union with the intra-query rep
    // gate over the winning pass's reps against the committed prior.
    val bracketFlagged = results.zipWithIndex.collect {
      case ((name, _, _, _, winIdx), i)
          if contaminatedBy(passResults(winIdx)._1, i) => name
    }
    // Cross-pass self-comparison: pass medians disagreeing >1.5x on
    // identical code is host noise localized to the slower pass —
    // computed BEFORE the rep gate because agreement is also the rep
    // gate's regression/noise disambiguator.
    def passMedians(i: Int) = passResults.map(pr => med(pr._2(i))).filter(_ > 0)
    def crossPassConsistent(i: Int): Boolean = {
      val meds = passMedians(i)
      meds.size >= 2 && meds.max / meds.min <= 1.5
    }
    val selfNoise =
      if (passes < 2) Seq.empty[String]
      else benchNames.zipWithIndex.collect {
        case (name, i)
            if { val meds = passMedians(i)
                 meds.size >= 2 && meds.max / meds.min > 1.5 } => name
      }
    // Rep gate with the cross-pass veto: slow-vs-prior in BOTH passes of
    // identical code is a real regression the comparator must SEE, not
    // contamination it would exclude (single-pass runs keep the
    // conservative flag — no agreement signal exists).
    val repFlagged = results.zipWithIndex.collect {
      case ((name, _, _, _, winIdx), i)
          if repContaminated(passResults(winIdx)._2(i), priors.get(name),
            crossPassConsistent = passes >= 2 && crossPassConsistent(i)) =>
        name
    }
    val contendedFlagged = contendedPriorFlagged(contended,
      results.map { case (k, v, _, _, _) => (k, v) }, priors)
    val contaminated =
      (bracketFlagged ++ repFlagged ++ contendedFlagged).distinct
    // The artifact's series carries every pass's readings with the pass
    // index EXPLICIT and `at` kept pass-local (the query position the
    // reading bracketed). A concatenated p*N+at index collided: pass
    // p's closing reading (local N) and pass p+1's opening reading
    // (local 0) rendered at the SAME global index with different
    // values, corrupting the series as a record. Flagging already
    // happened per-pass above; comparator floors only read `sec`.
    val globalSeries = passResults.zipWithIndex.flatMap { case ((cs, _), p) =>
      cs.map { case (at, t) => (p, at, t) }
    }
    val canary =
      f""""canary":{"q1_start":$canaryStart%.3f,"q1_end":$canaryEnd%.3f,""" +
        f""""ratio":$canaryRatio%.2f,"contended":$contended,""" +
        s""""series":${globalSeries.map { case (p, at, t) =>
          f"""{"pass":$p,"at":$at,"sec":$t%.3f}""" }.mkString("[", ",", "]")},""" +
        s""""contaminated_queries":${contaminated
          .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""rep_flagged":${repFlagged
          .map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // Cross-pass verdict: per-pass medians + the noise list, so a reader
    // (and the comparator) can tell slow-in-both from slow-in-one.
    val selfCompare =
      s""""self_compare":{"passes":$passes,""" +
        s""""noise":${selfNoise.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""pass_medians":${benchNames.zipWithIndex.map { case (k, i) =>
          s"\"" + k + "\":" + passResults.map(pr => f"${med(pr._2(i))}%.3f")
            .mkString("[", ",", "]")
        }.mkString("{", ",", "}")}}"""
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, ts, _, _) =>
      s"\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query nearest canary reading OF THE WINNING PASS — the
    // normalization denominator a cross-round comparator
    // (tools/bench_compare.py) divides medians by, so environmental
    // drift between rounds cancels instead of reading as a regression
    val canaryRefs: Seq[(String, Double)] =
      results.zipWithIndex.map { case ((k, _, _, _, winIdx), i) =>
        k -> nearestCanary(passResults(winIdx)._1, i)
      }
    val canaryRef = canaryRefs.map { case (k, v) =>
      s"\"" + k + "\":" + f"$v%.3f"
    }.mkString("{", ",", "}")
    // Cross-round verdict vs the prior committed artifact (ask r16#6):
    // the stacked comparator gates run at round close, in the artifact.
    val refByName = canaryRefs.toMap
    val curRuns: Map[String, QueryRun] = results.map {
      case (k, v, ts, _, _) => k -> QueryRun(v, ts, refByName.getOrElse(k, 0.0))
    }.toMap
    val curFloor = allCanaries.filter(_ > 0).minOption.getOrElse(0.0)
    val priorCmp = priorCompare(priorJson, sfDir, curRuns, curFloor,
      (contaminated ++ selfNoise).toSet)
    val errorNames = results.collect { case (k, _, _, false, _) => k }
    val errors = errorNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Skew stress: the same operators on a deterministic power-law corpus
    // (one hot key at 20 %, 1/k tail) vs a uniform twin of identical
    // volume — each path graded skew ≤ 2× uniform. 1M change rows / 5k
    // docs ≈ 10× the sf0.1 events/documents tables. Failure-isolated: a
    // skew-section crash must not cost the whole bench run its one JSON
    // line (the artifact the round gate parses).
    val skew =
      try SkewBench.run(spark, nRows = 1000000L, nDocs = 5000L)
        .map { case (name, s, u) =>
          val ratio = if (u > 0) s / u else 0.0
          f""""$name":{"skew":$s%.3f,"uniform":$u%.3f,"ratio":$ratio%.2f}"""
        }.mkString("{", ",", "}")
      catch { case e: Throwable =>
        System.err.println(s"[bench] skew section FAILED: ${e.getMessage}")
        s"""{"error":"${e.getClass.getSimpleName}"}"""
      }
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"raw":$raw,"canary_ref":$canaryRef,$canary,$selfCompare,"prior_compare":$priorCmp,"errors":$errors,"bench_skew":$skew,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only a bounded TAIL of stdout (~2000 chars) and
    // parses the artifact out of it; the full line above is ~5 KB, so
    // every round since r10 shipped `parsed: null`. Persist the full line
    // to a file (below) and emit a COMPACT twin — medians + canary
    // summary only, no raw/canary_ref/series arrays — as the absolute
    // LAST stdout line, small enough (~1.4 KB for 50 queries at 2
    // decimals) that the whole line survives inside the capture window
    // even with the build tool's own epilogue after it.
    val compact = compactLine(
      results.map { case (k, v, _, _, _) => (k, v) },
      total, contended, contaminated, errorNames, sfDir)
    // Persist the identical FULL line to a file in the working directory
    // so the complete artifact (raw reps, canary series, skew section)
    // survives regardless of capture window. Best-effort: a read-only
    // cwd must not fail the bench.
    //
    // A CONTENDED run never overwrites the default artifact: two rounds
    // running (r16's driver sweep, r17's again) destroyed the committed
    // canary-clean BENCH_LOCAL.json by landing a post-close contended
    // sweep on top of it, shadowing the file parsePriors/priorCompare
    // are defined to trust. The diverted sidecar still records the run
    // in full; an EXPLICIT SPARK_GRAFT_BENCH_OUT is honored as given
    // (the caller chose the destination deliberately).
    try {
      val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      val out = java.nio.file.Paths.get(explicitOut.getOrElse(
        if (contended) "BENCH_LOCAL_CONTENDED.json" else "BENCH_LOCAL.json"))
      if (explicitOut.isEmpty && contended)
        System.err.println(
          "[bench] run is CONTENDED — full artifact diverted to " +
            "BENCH_LOCAL_CONTENDED.json; the committed clean BENCH_LOCAL.json " +
            "is left in place as the prior")
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist JSON line: ${e.getMessage}")
    }
    spark.stop()
    println(compact)
  }
}
