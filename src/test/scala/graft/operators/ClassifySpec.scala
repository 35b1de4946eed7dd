package graft.operators

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.functions._

/** Multinomial NB: the classifier must actually LEARN (not just run) —
  * disjoint class vocabularies separate, token multiplicity outvotes,
  * smoothing handles unseen-in-class tokens, OOV-only docs stay
  * unclassified, ties are deterministic. */
class ClassifySpec extends SparkSpec with TempDirs {

  private lazy val train = {
    import spark.implicits._
    Seq(
      ("pos", "good great good nice"),
      ("pos", "good fine great"),
      ("neg", "bad awful bad"),
      ("neg", "bad poor awful")
    ).toDF("label", "text")
  }

  private def predict(texts: (Long, String)*): Map[Long, String] = {
    import spark.implicits._
    val model = Classify.nbTrain(train, "label", "text")
    Classify.nbClassify(model, texts.toSeq.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("disjoint class vocabularies separate cleanly") {
    assert(predict(1L -> "good great", 2L -> "bad awful") ==
      Map(1L -> "pos", 2L -> "neg"))
  }

  test("token multiplicity outvotes a single opposing token") {
    // neg has bad:4/7 tokens; two 'bad's beat one 'good'
    assert(predict(3L -> "good bad bad") == Map(3L -> "neg"))
  }

  test("smoothing: a token unseen in one class still scores finitely and correctly") {
    // 'nice' appears only in pos; neg scores it via the smoothed default
    assert(predict(5L -> "nice") == Map(5L -> "pos"))
  }

  test("a document with only out-of-vocabulary tokens is absent, not mislabeled") {
    assert(predict(4L -> "zzz qqq", 1L -> "good") == Map(1L -> "pos"))
  }

  test("exact score tie breaks to the lexicographically smaller label") {
    import spark.implicits._
    val sym = Seq(("a", "x x"), ("b", "x x")).toDF("label", "text")
    val model = Classify.nbTrain(sym, "label", "text")
    val out = Classify.nbClassify(model,
        Seq((9L, "x")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "a")))
  }

  test("model store: served ≡ inline; retrain swaps atomically; pin replays v1") {
    import spark.implicits._
    val root = tempDir("graft_test_nbm_")
    val test = Seq((1L, "good great"), (2L, "bad awful"), (3L, "nice"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val v1 = Classify.buildNbModelM(train, "label", "text", root)
    assert(rows(Classify.nbClassifyM(spark, root, test, "doc_id", "text")) ==
      rows(Classify.nbClassify(
        Classify.nbTrain(train, "label", "text"), test, "doc_id", "text")))
    // retrain on a flipped seed: HEAD serves the new model, the pin
    // still replays v1's predictions
    val flipped = train.withColumn("label",
      org.apache.spark.sql.functions.when(col("label") === "pos", "neg")
        .otherwise("pos"))
    Classify.buildNbModelM(flipped, "label", "text", root)
    val atHead = Classify.nbClassifyM(spark, root, test, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(atHead == Map(1L -> "neg", 2L -> "pos", 3L -> "neg"))
    val atV1 = Classify.nbClassifyM(spark, root, test, "doc_id", "text",
        at = Some(v1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(atV1 == Map(1L -> "pos", 2L -> "neg", 3L -> "pos"))
  }

  test("predictions are stable under input re-partitioning") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, Sf0001, "documents")
    val model = Classify.nbTrain(
      docs.filter(col("doc_id") % 5 =!= 0), "source", "text")
    val test = docs.filter(col("doc_id") % 5 === 0)
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.nbClassify(model, d, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
    assert(run(test) == run(test.repartition(7, col("lang"))))
    assert(run(test).nonEmpty)
  }

  test("model store: the capped path is reachable — an over-cap seed commits via vocabCap") {
    import spark.implicits._
    val root = tempDir("graft_nbcap_model")
    // maxVocab=3 < the 9-term seed vocabulary: the uncapped store
    // build must fail loud, and vocabCap must be the working remedy
    // ON the store path itself
    val e = intercept[IllegalArgumentException] {
      Classify.buildNbModelM(train, "label", "text", root, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab=3"))
    Classify.buildNbModelM(train, "label", "text", root,
      vocabCap = Some(3))
    val out = Classify.nbClassifyM(spark, root,
        Seq((1L, "good bad")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // both kept terms vote; the stored model classifies
    assert(out.keySet == Set(1L))
  }

  test("an over-cap seed vocabulary fails loud with the cap named") {
    // the counted-cap discipline: the dense vocab×labels table is
    // broadcast-by-contract, so a seed vocabulary past maxVocab must
    // fail at train time naming the cap — never OOM at score time
    val e = intercept[IllegalArgumentException] {
      Classify.nbTrain(train, "label", "text", maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab=3"))
    assert(e.getMessage.contains("nbTrainCapped"))
    // the same seed trains fine through the sanctioned capped path
    assert(Classify.nbTrainCapped(train, "label", "text", vocabCap = 3)
      .count() > 0)
  }

  test("nbTrainCapped keeps top-V by total count (ties → smaller term) and drops the tail visibly") {
    import spark.implicits._
    // totals: bad=5, good=4, awful=2, then {fine,great:2,nice,poor}
    // cap=2 keeps {bad, good}; 'great' (count 2) drops — VISIBLY: no
    // model row, and a great-only doc becomes absent-unclassifiable
    val model = Classify.nbTrainCapped(
      train.union(Seq(("neg", "bad")).toDF("label", "text")),
      "label", "text", vocabCap = 2)
    assert(model.select("term").distinct().collect().map(_.getString(0))
      .toSet == Set("bad", "good"))
    val out = Classify.nbClassify(model,
        Seq((1L, "good great"), (2L, "great")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "pos"))
    // tie-break: cap=3 must pick 'awful' (count 2) over the equal-count
    // 'fine'/'great'... awful < fine < great lexicographically
    val m3 = Classify.nbTrainCapped(train, "label", "text", vocabCap = 3)
    assert(m3.select("term").distinct().collect().map(_.getString(0))
      .toSet == Set("bad", "good", "awful"))
  }

  test("duplicate (term, label) parameter rows sum their logliks on the fused path") {
    import spark.implicits._
    // A model frame with a duplicated (x, a) row but a constant per-label
    // prior — the r20 dense gate accepted it and the map_from_entries
    // pivot then THREW at runtime (default mapKeyDedupPolicy=EXCEPTION).
    // The conditional-sum pivot must instead SUM the duplicates, exactly
    // as the generic heap path (nbScores) sums them per token.
    val model = Seq(
      ("x", "a", -1.0, -0.5), ("x", "a", -0.25, -0.5),
      ("x", "b", -1.0, -0.5),
      ("y", "a", -2.0, -0.5), ("y", "b", -0.5, -0.5)
    ).toDF("term", "label", "loglik", "logprior")
    val docs = Seq((1L, "x"), (2L, "x y")).toDF("doc_id", "text")
    val out = Classify.nbClassify(model, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // doc 1 'x': a = (-1) + (-0.25) + (-0.5) = -1.75, b = -1 - 0.5 = -1.5
    // doc 2 'x y': a = -1 - 0.25 - 2 - 0.5 = -3.75, b = -1 - 0.5 - 0.5 = -2.0
    assert(out == Seq((1L, "b", -1.5), (2L, "b", -2.0)))
    // and the heap path agrees on the scores (the shared-semantics pin)
    val heap = Classify.nbScores(model, docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2))).toMap
    assert(heap == Map(
      (1L, "a") -> -1.75, (1L, "b") -> -1.5,
      (2L, "a") -> -3.75, (2L, "b") -> -2.0))
  }
}
