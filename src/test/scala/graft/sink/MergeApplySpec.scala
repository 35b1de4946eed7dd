package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MergeApplySpec extends SparkSpec {
  import spark.implicits._

  def base = Seq(("a", 1.0, "s1"), ("b", 2.0, "s2")).toDF("_id", "bal", "seg")

  def changes = Seq(
    // key a: two updates out of order — latest (ts=20) must win
    ("a", "update", 20L, 1, Some(100.0), None: Option[String]),
    ("a", "update", 10L, 2, Some(50.0), None: Option[String]),
    // key b: update then delete — delete wins
    ("b", "update", 10L, 3, Some(60.0), None: Option[String]),
    ("b", "delete", 20L, 4, None: Option[Double], None: Option[String]),
    // key c: fresh insert
    ("c", "insert", 5L, 5, Some(9.0), Some("s9")))
    .toDF("_id", "op", "ts", "seq", "bal", "seg")

  test("lastImage keeps exactly the latest row per key with tiebreak") {
    val last = MergeApply.lastImage(changes, Seq("_id"), Seq(col("ts"), col("seq")))
    val byId = last.collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(byId == Map("a" -> 1, "b" -> 4, "c" -> 5)) // seq of winning row
    // equal ts: higher tiebreak wins deterministically
    val tie = Seq(("k", 1L, 1, "first"), ("k", 1L, 2, "second")).toDF("_id", "ts", "seq", "v")
    val winner = MergeApply.lastImage(tie, Seq("_id"), Seq(col("ts"), col("seq")))
    assert(winner.select("v").as[String].head() == "second")
  }

  test("lastImage: default aggregate form ≡ windowed twin, row for row") {
    // lastImage is the skew-immune max_by aggregate; the window
    // row_number formulation is its reference twin and must stay
    // row-identical under a total ordering
    val ord = Seq(col("ts"), col("seq"))
    val agg = MergeApply.lastImage(changes, Seq("_id"), ord)
    val win = MergeApply.lastImageWindowed(changes, Seq("_id"), ord)
    assert(agg.columns.toSeq == changes.columns.toSeq,
      "aggregate form must preserve column order")
    assert(agg.orderBy("_id").collect().toSeq ==
      win.orderBy("_id").collect().toSeq)
    // the public plan is the aggregate — no window exchange
    assert(!agg.queryExecution.optimizedPlan.toString.contains("row_number"))
  }

  test("applyChanges: last-write-wins, partial update preserves untouched columns, delete removes") {
    val out = MergeApply.applyChanges(base, changes, "_id", "op",
      Seq(col("ts"), col("seq")), Seq("bal", "seg")).orderBy("_id").collect()
    assert(out.toSeq == Seq(
      Row("a", 100.0, "s1"), // updated bal, seg preserved from base
      Row("c", 9.0, "s9")))  // inserted; b deleted
  }

  test("applyChanges is idempotent under replay (C1 invariant, mysql.go:563-588)") {
    val once = MergeApply.applyChanges(base, changes, "_id", "op",
      Seq(col("ts"), col("seq")), Seq("bal", "seg"))
    val twice = MergeApply.applyChanges(once, changes, "_id", "op",
      Seq(col("ts"), col("seq")), Seq("bal", "seg"))
    assert(twice.orderBy("_id").collect().toSeq ==
      once.orderBy("_id").collect().toSeq)
  }

  // (op, partial, unsets, ts, seq, bal, seg) change rows for foldChanges
  def foldRow(id: String, op: String, partial: Boolean, unsets: Seq[String],
      ts: Long, seq: Int, bal: Option[Double], seg: Option[String]) =
    (id, op, partial, unsets, ts, seq, bal, seg)

  def runFold(rows: Seq[(String, String, Boolean, Seq[String], Long, Int, Option[Double], Option[String])]) =
    MergeApply.foldChanges(base,
      rows.toDF("_id", "op", "partial", "unsets", "ts", "seq", "bal", "seg"),
      "_id", "op", "partial", "unsets",
      Seq(col("ts"), col("seq")), Seq("bal", "seg"))
      .orderBy("_id").collect().toSeq

  test("foldChanges: two partials touching different columns BOTH survive (run.go:301-322)") {
    // the exact failure mode of applyChanges: partial(bal) then partial(seg)
    val out = runFold(Seq(
      foldRow("a", "update", partial = true, Nil, 10L, 1, Some(100.0), None),
      foldRow("a", "update", partial = true, Nil, 20L, 2, None, Some("sX"))))
    assert(out == Seq(Row("a", 100.0, "sX"), Row("b", 2.0, "s2")))
  }

  test("foldChanges: explicit unset yields NULL, distinct from not-touched") {
    val out = runFold(Seq(
      foldRow("a", "update", partial = true, Seq("seg"), 10L, 1, Some(7.0), None)))
    // seg explicitly unset → NULL (base "s1" must NOT survive); bal updated
    assert(out == Seq(Row("a", 7.0, null), Row("b", 2.0, "s2")))
  }

  test("foldChanges: full image resets columns it omits (mysql.go:381-407)") {
    val out = runFold(Seq(
      foldRow("a", "insert", partial = false, Nil, 10L, 1, Some(5.0), None)))
    // replace-style image without seg → seg NULL, not base's "s1"
    assert(out == Seq(Row("a", 5.0, null), Row("b", 2.0, "s2")))
  }

  test("foldChanges: delete then re-create — pre-delete values never leak") {
    val out = runFold(Seq(
      foldRow("a", "update", partial = true, Nil, 10L, 1, Some(99.0), Some("old")),
      foldRow("a", "delete", partial = false, Nil, 20L, 2, None, None),
      foldRow("a", "insert", partial = false, Nil, 30L, 3, Some(1.0), None)))
    // re-created row: bal from the insert, seg NULL (neither "old" nor "s1")
    assert(out == Seq(Row("a", 1.0, null), Row("b", 2.0, "s2")))
  }

  test("foldChanges: trailing delete removes the key; untouched base rows pass") {
    val out = runFold(Seq(
      foldRow("a", "update", partial = true, Nil, 10L, 1, Some(99.0), None),
      foldRow("a", "delete", partial = false, Nil, 20L, 2, None, None),
      foldRow("c", "insert", partial = false, Nil, 5L, 3, Some(9.0), Some("s9"))))
    assert(out == Seq(Row("b", 2.0, "s2"), Row("c", 9.0, "s9")))
  }

  test("foldChanges ≡ sequential per-op replay on a mixed history") {
    // interleaved partials, unsets, a full image, equal-ts tiebreaks
    val history = Seq(
      foldRow("a", "update", partial = true, Nil, 10L, 1, Some(10.0), None),
      foldRow("a", "update", partial = true, Seq("seg"), 10L, 2, None, None),
      foldRow("a", "update", partial = true, Nil, 20L, 3, None, Some("s3")),
      foldRow("b", "insert", partial = false, Nil, 15L, 4, Some(70.0), Some("n")),
      foldRow("b", "update", partial = true, Nil, 25L, 5, Some(80.0), None))
    val out = runFold(history)
    // sequential replay: a = base→bal 10→seg null→seg s3; b = full(70,n)→bal 80
    assert(out == Seq(Row("a", 10.0, "s3"), Row("b", 80.0, "n")))
  }

  test("deleteReconcile = left anti join (replaces per-row FindOne, run.go:256-279)") {
    val sink = Seq("a", "b", "c").toDF("_id")
    val source = Seq("b").toDF("_id")
    val gone = MergeApply.deleteReconcile(sink, source, "_id")
      .as[String].collect().sorted.toSeq
    assert(gone == Seq("a", "c"))
  }
}
