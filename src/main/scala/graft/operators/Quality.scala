package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gates for a 100 TB corpus — the validation pass a
  * training-data pipeline runs before (and after) every transform stage:
  * single-scan column profiling, declarative expectation checks, and
  * key-membership (referential / allowlist) verification.
  *
  * Scale contract shared by all three:
  *  - profiling and expectations are ONE aggregate pass over the fact
  *    table (map-side partials, a one-row reduce — no shuffle of data
  *    rows, no per-column scans, no Expand: exact distinct counts are
  *    deliberately excluded because multi-column count-distinct
  *    multiplies the scan by the column count);
  *  - membership checks broadcast the (distinct-reduced) key side and
  *    anti-join, so the fact side streams; violations group to a frame
  *    bounded by the violating-key cardinality, not the fact size.
  *
  * The reference has no validation surface at all (its schema sync,
  * `mysql.go:146-290`, trusts whatever arrives); this module is part of
  * the north-star LLM-pipeline extension. */
object Quality {

  /** The one-pass profile aggregate list (row count + per-column null
    * count / min / max / decimal sum) — factored out so the STREAMING
    * profile ([[graft.streaming.StreamPipeline.streamingQualityProfile]])
    * maintains the exact same partials as state-store contents and the
    * batch path below: one metric definition, two execution modes. */
  def profileAggs(cols: Seq[String]): Seq[Column] = {
    require(cols.nonEmpty, "profile needs at least one column")
    count(lit(1)).as("__rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__z_$c"),
        min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c"),
        sum(col(c).cast("decimal(38,10)")).as(s"__s_$c"))
    }
  }

  /** Unpivot the one-row [[profileAggs]] frame to the per-column profile
    * (column, n_rows, n_nulls, min_v, max_v, mean_v), finishing the mean
    * with the single double division. */
  def profileFinish(agged: DataFrame, cols: Seq[String]): DataFrame =
    agged
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__rows").as("n_rows"),
        col(s"__z_$c").as("n_nulls"),
        round(col(s"__mn_$c"), 6).as("min_v"),
        round(col(s"__mx_$c"), 6).as("max_v"),
        round(col(s"__s_$c").cast("double") /
          (col("__rows") - col(s"__z_$c")), 6).as("mean_v")
      )): _*)).as("p"))
      .select(col("p.*"))

  /** Per-column numeric profile in ONE pass: for each column its row
    * count, null count, min / max, and decimal-exact mean — the long
    * (one row per column) frame a drift monitor diffs between pipeline
    * stages. All metrics are order-independent (min/max/count, and the
    * mean sums in decimal(38,10)), so the profile is bit-stable across
    * partitionings and engines. */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = profileAggs(cols)
    profileFinish(df.agg(aggs.head, aggs.tail: _*), cols)
  }

  /** [[numericProfile]]'s distributive form: the same one-pass metrics
    * keyed by a shard column, with min/max UNROUNDED and the mean left
    * as its decimal sum — partials a 100 TB pipeline computes per ingest
    * batch, persists next to the data, and rolls up with
    * [[mergeProfiles]] whenever a whole-corpus profile is wanted,
    * without ever rescanning. Decimal sums are associative, so
    * merge-of-partials is bit-equal to the one-shot profile. */
  def numericProfileSharded(df: DataFrame, shardCol: String,
      cols: Seq[String]): DataFrame = {
    // the ONE metric definition (profileAggs) keyed by shard — an inline
    // copy here once drifted from it by construction risk; mergeProfiles'
    // bit-equality claim requires the partials to BE the same aggregates
    val aggs = profileAggs(cols)
    df.groupBy(col(shardCol).as("shard")).agg(aggs.head, aggs.tail: _*)
      .select(col("shard"), explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__rows").as("n_rows"),
        col(s"__z_$c").as("n_nulls"),
        col(s"__mn_$c").as("min_v"),
        col(s"__mx_$c").as("max_v"),
        col(s"__s_$c").as("sum_v")
      )): _*)).as("p"))
      .select(col("shard"), col("p.*"))
  }

  /** Roll sharded partials up to the [[numericProfile]] frame — a
    * groupBy over (shards × columns) rows, nothing rescans. */
  def mergeProfiles(parts: DataFrame): DataFrame =
    parts.groupBy(col("column"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        round(min(col("min_v")), 6).as("min_v"),
        round(max(col("max_v")), 6).as("max_v"),
        round(sum(col("sum_v")).cast("double") /
          (sum(col("n_rows")) - sum(col("n_nulls"))), 6).as("mean_v"))
      .select(col("column"), col("n_rows"), col("n_nulls"),
        col("min_v"), col("max_v"), col("mean_v"))

  /** One declarative expectation: `observed` is any aggregate expression
    * over the frame (a fraction, a count, a bound); the check passes when
    * `observed op limit` holds (`op` ∈ <=, >=, ==). */
  final case class Expectation(
      name: String, observed: Column, op: String, limit: Double)

  /** Evaluate every expectation in the SAME single aggregate pass and
    * emit one row per rule: (rule, observed, limit, pass). The gate a
    * pipeline stage asserts on — `violations.filter(!pass).isEmpty` —
    * still costs exactly one scan regardless of how many rules pile up. */
  def expectations(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    rules.foreach(r => require(Set("<=", ">=", "==").contains(r.op),
      s"rule ${r.name}: op ${r.op} not one of <=, >=, =="))
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      round(r.observed.cast("double"), 6).as(s"__o$i") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.zipWithIndex.map { case (r, i) =>
        val pass = r.op match {
          case "<=" => col(s"__o$i") <= r.limit
          case ">=" => col(s"__o$i") >= r.limit
          case _    => col(s"__o$i") === r.limit
        }
        struct(lit(r.name).as("rule"), col(s"__o$i").as("observed"),
          lit(r.limit).as("limit"), pass.as("pass"))
      }: _*)).as("e"))
      .select(col("e.*"))
  }

  /** Diff two [[numericProfile]] frames (before/after a pipeline stage) —
    * the drift monitor: per column, row-count ratio, null-fraction delta,
    * and mean / min / max shifts. Joins two already-tiny (one row per
    * column) frames, so the cost is the two profile scans, nothing more.
    * A stage gate asserts e.g. `abs(mean_delta) <= tol` per column. */
  def profileDrift(before: DataFrame, after: DataFrame): DataFrame = {
    def side(p: DataFrame, suffix: String) = p.select(
      col("column"),
      col("n_rows").as(s"rows_$suffix"),
      round(col("n_nulls").cast("double") / col("n_rows"), 6).as(s"__nf_$suffix"),
      col("mean_v").as(s"__mean_$suffix"),
      col("min_v").as(s"__min_$suffix"),
      col("max_v").as(s"__max_$suffix"))
    side(before, "before").join(side(after, "after"), Seq("column"))
      .select(
        col("column"), col("rows_before"), col("rows_after"),
        round(col("__nf_after") - col("__nf_before"), 6).as("null_frac_delta"),
        round(col("__mean_after") - col("__mean_before"), 6).as("mean_delta"),
        round(col("__min_after") - col("__min_before"), 6).as("min_delta"),
        round(col("__max_after") - col("__max_before"), 6).as("max_delta"))
  }

  /** Distribution drift between two stages as a fixed-bin histogram with
    * per-bin total-variation contributions — the discriminative drift
    * signal mean/min/max deltas miss (a re-weighting that preserves the
    * mean still moves mass between bins). Bins are [lo, hi) split
    * `bins` ways with both tails clamped into the edge bins, so the two
    * sides bin identically by construction. The TV contribution is
    * computed in INTEGER cross-multiplication
    * (|n_b·N_a − n_a·N_b| / (2·N_b·N_a)) before one final double
    * division, so the frame is bit-stable across engines; summing
    * `tv_contrib` gives total variation distance in [0, 1]. One
    * count-aggregate pass per side; the per-bin frame is `bins` rows. */
  def histogramDrift(before: DataFrame, after: DataFrame, colName: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins=$bins must be positive")
    require(hi > lo, s"need hi=$hi > lo=$lo")
    val w = (hi - lo) / bins
    // NaN must be EXCLUDED, not binned: Spark orders NaN above every
    // double, so greatest(NaN, 0) = NaN and least(NaN, bins-1) = bins-1
    // — a NaN on one side only would silently manufacture tail drift
    def binned(df: DataFrame, as: String) = df
      .filter(col(colName).isNotNull && !isnan(col(colName).cast("double")))
      .select(least(greatest(floor((col(colName) - lo) / w), lit(0.0)),
        lit((bins - 1).toDouble)).cast("int").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(as))
    val joined = binned(before, "n_before")
      .join(binned(after, "n_after"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
    // totals via an unpartitioned window over the ≤bins-row frame — a
    // separate aggregate would re-evaluate `joined` and scan each input
    // twice more (observed: 4 FileScans instead of 2)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    joined
      .withColumn("__tb", sum(col("n_before")).over(all))
      .withColumn("__ta", sum(col("n_after")).over(all))
      .select(col("bin"), col("n_before"), col("n_after"),
        // cross-multiply in decimal(38,0): long×long wraps silently past
        // ~9.2e18 (hit when either side exceeds ~3e9 rows with mass in
        // one bin — exactly the module's scale contract); decimal keeps
        // the product exact to 38 digits, temperatureMix precedent
        round(abs(col("n_before").cast("decimal(38,0)") * col("__ta") -
            col("n_after").cast("decimal(38,0)") * col("__tb"))
          .cast("double") / (lit(2.0) * col("__tb") * col("__ta")), 6)
          .as("tv_contrib"))
  }

  /** Content-level diff of two corpus snapshots — the dataset-versioning
    * primitive: every doc id classified added / removed / changed /
    * unchanged by comparing content digests across a full-outer join on
    * the id. Each side reduces to (id, 16-byte digest) at the scan (the
    * text column never crosses the exchange), so the join ships ~24
    * bytes a row; with both snapshots bucketed by id ([[Bucketing]])
    * even that exchange disappears. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // NULL text digests to NULL (never coalesced to '') and the digests
    // compare NULL-SAFELY: a NULL→'' scrub is a real content transition
    // and must classify "changed", while NULL→NULL is "unchanged" —
    // conflating NULL with empty hid exactly that transition
    def digested(df: DataFrame, h: String, p: String) = df.select(
      col(idCol), md5(col(textCol)).as(h), lit(true).as(p))
    digested(oldSnap, "__ho", "__po")
      .join(digested(newSnap, "__hn", "__pn"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("__ho") <=> col("__hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Schema-level diff of two snapshots — the companion of [[corpusDiff]]
    * (content) for dataset versioning: every column name in either
    * schema classified added / removed / type_changed / unchanged, with
    * both type strings carried for the report. Pure driver-side metadata
    * (two `StructType`s — no scan, no job); the result is materialized
    * as a one-partition frame so it composes with the other gates.
    * A release gate asserts e.g. `diff.filter(status != 'unchanged')
    * .isEmpty` before publishing against a consumer contract. */
  def schemaDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val n = newSnap.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = (o.keySet ++ n.keySet).toSeq.sorted.map { c =>
      val status = (o.get(c), n.get(c)) match {
        case (None, Some(_))                  => "added"
        case (Some(_), None)                  => "removed"
        case (Some(a), Some(b)) if a == b     => "unchanged"
        case _                                => "type_changed"
      }
      (c, o.get(c).orNull, n.get(c).orNull, status)
    }
    import oldSnap.sparkSession.implicits._
    rows.toDF("column", "old_type", "new_type", "status")
  }

  /** Keys of `fact.fkCol` absent from `keys.pkCol` — referential
    * integrity against a dimension, or allowlist membership against a
    * licensed-source list. The key side reduces to its distinct set and
    * BROADCASTS into a left-anti join, so the fact side streams; the
    * violation aggregate runs over violating rows only. */
  def fkViolations(fact: DataFrame, keys: DataFrame,
      fkCol: String, pkCol: String): DataFrame =
    fact.filter(col(fkCol).isNotNull)
      .join(broadcast(keys.select(col(pkCol).as(fkCol)).distinct()),
        Seq(fkCol), "left_anti")
      .groupBy(col(fkCol))
      .agg(count(lit(1)).as("n_rows"))
      .select(col(fkCol), col("n_rows"))

  /** Embedding-distribution drift per group — the embedding-space analog
    * of [[histogramDrift]]: each group's MEAN VECTOR compared by round-6
    * cosine against the global mean vector, so a group (a source, a
    * label, a crawl day) whose embedding distribution shifted away from
    * the corpus scores visibly low — the monitor an embedding-producing
    * pipeline wants on every refresh (a silent encoder change or a
    * poisoned source moves its group mean first).
    *
    * Determinism across engines (the lloydCentroids discipline): each
    * per-coordinate sum runs in EXACT decimal — partition-order-proof —
    * then ONE double division and a 6 dp round; the global mean derives
    * from the SAME per-group partials re-aggregated (decimal sums add
    * exactly), so group and global means replay bit-for-bit in DuckDB.
    *
    * Scale shape: one posexplode pass → (group, coordinate) decimal
    * partials with map-side combine — the only corpus-keyed exchange
    * ships groups×dim rows; means reassemble in coordinate order on the
    * groups×dim frame; the global mean is ONE broadcast row; scoring is
    * the native double-array cosine per GROUP (result-sized). `n` is the
    * group's vector count (NULL vectors contribute nothing and are not
    * counted; dimensions are assumed uniform per the embeddings
    * contract — with ragged input, `n` reports the deepest coordinate's
    * count). Output (group, n, drift). */
  def embeddingGroupDrift(
      emb: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val parts = emb
      .select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col("grp"), col("__pos"))
      .agg(sum(col("__v").cast("decimal(38,10)")).as("__s"),
        count(lit(1)).as("__n"))
      // groups×dim rows, read twice (group means + global mean):
      // materialize so the corpus pass runs once
      .localCheckpoint()
    val assemble = expr(
      "transform(array_sort(collect_list(struct(__pos, __m))), s -> s.__m)")
    val grp = parts
      .withColumn("__m", round(col("__s").cast("double") / col("__n"), 6))
      .groupBy(col("grp"))
      .agg(assemble.as("__gv"), max(col("__n")).as("n"))
    val glob = broadcast(parts
      .groupBy(col("__pos"))
      .agg(round(sum(col("__s")).cast("double") / sum(col("__n")), 6).as("__m"))
      .agg(assemble.as("__glob")))
    grp.crossJoin(glob)
      .select(col("grp").as(groupCol), col("n"),
        round(GraftFunctions.cosineD(col("__gv"), col("__glob")), 6)
          .as("drift"))
  }

  /** The (group, token) count partials [[tokenKlDrift]] aggregates —
    * exposed because counts are MERGEABLE: the streaming leg sinks
    * per-batch partials and folds them post-drain, and the fold feeds
    * [[tokenKlFromCounts]] for a bit-exact batch-equivalent score. */
  def tokenCounts(
      df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("c"))

  /** Token-distribution drift per group vs the whole corpus — the TEXT
    * analog of [[histogramDrift]] (numeric columns) and
    * [[embeddingGroupDrift]] (vectors): smoothed KL divergence
    * `KL(Q_g ‖ P) = Σ_t q_t·ln(q_t/p_t)` over the top-`vocabSize`
    * corpus vocabulary, where q/p are add-one-smoothed in-vocab token
    * frequencies of the group / the corpus. The monitor a text
    * pipeline wants per source or per snapshot: a scraper change, a
    * boilerplate injection, or a language shift moves a group's token
    * distribution long before any numeric column notices. Vocabulary
    * restriction + add-one smoothing make the score total (a group
    * missing a vocab term contributes its smoothed floor, never ±∞ —
    * and a group missing EVERY vocab term keeps its row with ng = 0
    * and the uniform smoothed distribution, the maximally-drifted case
    * the monitor must surface, not drop); out-of-vocab tokens are
    * excluded from BOTH sides by definition (the vocabCoverage cut:
    * frequency desc, token asc — deterministic).
    *
    * Scale shape: one tokenize pass → a (group, token) wordcount
    * (map-side combine), materialized once and read three ways (vocab
    * cut, per-group in-vocab totals, the scored join); the vocab and
    * group-total frames are broadcast-sized by construction; the dense
    * groups×vocab scoring frame is model-sized, never corpus-sized.
    * Per-term contributions round-6 → decimal sum → one final round,
    * so the score replays exactly in the oracle. */
  def tokenKlDrift(
      df: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int): DataFrame =
    tokenKlFromCounts(tokenCounts(df, groupCol, textCol), groupCol,
      vocabSize)

  /** The KL tail over an already-aggregated `(grp, tok, c)` frame —
    * one row per (grp, tok) (callers folding streamed partials sum
    * them first; a duplicate key here would double-count its scored
    * contribution through the left join). */
  def tokenKlFromCounts(
      rawCounts: DataFrame, groupCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize=$vocabSize must be positive")
    val counts = rawCounts
      // groups×corpus-vocab rows, read three times — materialize so
      // the upstream lineage (a corpus tokenize, or the streamed
      // partial fold) runs once (the embeddingGroupDrift shape)
      .localCheckpoint()
    val vocab = counts.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("tok").asc).limit(vocabSize)
      .localCheckpoint()
    val tot = vocab.agg(count(lit(1)).cast("long"),
      coalesce(sum(col("ct")), lit(0L)).cast("long")).head()
    val (vEff, nGlob) = (tot.getLong(0), tot.getLong(1))
    require(vEff > 0, "tokenKlDrift: the corpus has no non-empty tokens")
    // group totals over IN-VOCAB tokens — but the row set is EVERY
    // group that produced any token at all: a group whose tokens are
    // ALL out-of-vocabulary (a broken scraper, a language switch — the
    // maximally-drifted group this monitor exists to flag) keeps its
    // row with ng = 0, where smoothing gives it the uniform 1/V
    // distribution and a large, finite KL, instead of silently
    // vanishing from the report
    val grpTotals = counts.select(col("grp")).distinct()
      .join(
        counts.join(broadcast(vocab.select(col("tok"))), Seq("tok"))
          .groupBy(col("grp")).agg(sum(col("c")).as("__ng0")),
        Seq("grp"), "left")
      .select(col("grp"), coalesce(col("__ng0"), lit(0L)).as("ng"))
    val q = (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
      (col("ng") + lit(vEff)).cast("double")
    val p = (col("ct") + lit(1L)).cast("double") /
      lit((nGlob + vEff).toDouble)
    vocab.crossJoin(broadcast(grpTotals))
      .join(counts, Seq("grp", "tok"), "left")
      .select(col("grp"), col("ng"),
        round(q * log(q / p), 6).cast("decimal(38,10)").as("w"))
      .groupBy(col("grp"))
      .agg(max(col("ng")).as("n_tokens"),
        round(sum(col("w")).cast("double"), 6).as("kl"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("kl"))
  }
}
