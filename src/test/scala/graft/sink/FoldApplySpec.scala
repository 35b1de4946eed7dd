package graft.sink

import java.sql.DriverManager
import java.util.Properties

import graft.{Replicator, SparkSpec, TempDirs}
import graft.config.{ColumnSpec, TableSpec}
import graft.sources.Json
import org.apache.spark.sql.functions.{col, get_json_object}

import scala.util.Random

/** The per-key fold of `Replicator.applyBatch`, checked differentially on
  * embedded Derby: applying a whole batch (each key's run folded to one
  * net write, writes batched by statement) must leave the same sink and
  * return the same offset as applying the same ops one per `applyBatch`
  * call — a one-op batch folds to itself, so that run is the per-op
  * reference. Both runs start from the same seeded sink rows. */
class FoldApplySpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftfold;create=true"
  private val props = new Properties()

  // `cfg.pub`/`cfg.lvl` flatten to cfg_pub/cfg_lvl; `status` and
  // `status_code` are distinct scalars that share a flattened prefix
  private val spec = TableSpec("fold_users", Seq(
    ColumnSpec("name", "varchar(100)"),
    ColumnSpec("visits", "bigint"),
    ColumnSpec("status", "varchar(20)"),
    ColumnSpec("status_code", "bigint"),
    ColumnSpec("cfg.pub", "bigint"),
    ColumnSpec("cfg.lvl", "bigint"),
    ColumnSpec("tags", "varchar(200)")))
  private val cols = spec.columns.map(_.sinkName)

  // (kind, tbl, ts, id, fields_json, partial, removed, seq): applyBatch's row contract
  private type Op = (String, String, Long, String, String, Boolean, Seq[String], Int)

  private def full(ts: Long, id: String, fields: Map[String, Any], seq: Int = 0): Op =
    ("upsert", spec.name, ts, id, Json.render(fields), false, Seq.empty, seq)
  private def partial(ts: Long, id: String, fields: Map[String, Any],
      removed: Seq[String] = Seq.empty, seq: Int = 0): Op =
    ("upsert", spec.name, ts, id, Json.render(fields), true, removed, seq)
  private def delete(ts: Long, id: String, seq: Int = 0): Op =
    ("delete", spec.name, ts, id, null, false, Seq.empty, seq)
  private def deadLetter(ts: Long): Op =
    ("dead_letter", spec.name, ts, null, "raw {", false, Seq.empty, 0)

  // k0 and k1 exist before every run; k2 and later keys do not
  private def seedSink(): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try {
      try conn.prepareStatement(s"""DROP TABLE "${spec.name}"""").executeUpdate()
      catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
      conn.prepareStatement(DerbyDialect.createTableSql(spec)).executeUpdate()
      conn.prepareStatement(
        s"""INSERT INTO "${spec.name}" VALUES """ +
          "('k0', 'zero', 10, 'ok', 200, 1, 3, '[\"a\"]'), " +
          "('k1', 'one', 11, 'bad', 500, 0, 4, NULL)").executeUpdate()
    } finally conn.close()
  }

  private def dump(): Map[String, Seq[Any]] = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.prepareStatement(
        s"""SELECT "_id", ${cols.map(c => s""""$c"""").mkString(", ")} FROM "${spec.name}"""")
        .executeQuery()
      val out = Map.newBuilder[String, Seq[Any]]
      while (rs.next()) out += rs.getString(1) -> cols.indices.map(i => rs.getObject(i + 2))
      out.result()
    } finally conn.close()
  }

  // admission rule: visits above 1000 is quarantined (NULL admits)
  private val rule = get_json_object(col("fields_json"), "$.visits").cast("long") <= 1000L

  private def apply(ops: Seq[Op], skipBelowTs: Long, quarantine: Boolean): Option[Long] = {
    val qDir = if (quarantine) Some(tempDir("graft_fold_q")) else None
    Replicator.applyBatch(ops.toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "seq"),
      Seq(spec), url, props, skipBelowTs = skipBelowTs, dialect = DerbyDialect,
      quarantineDir = qDir, quarantineRule = if (quarantine) Some(rule) else None)
  }

  /** Folded whole-batch apply ≡ one `applyBatch` per op, in (ts, seq) order:
    * same sink rows, same returned offset. */
  private def assertFoldMatchesPerOp(ops: Seq[Op], skipBelowTs: Long = Long.MinValue,
      quarantine: Boolean = false): Unit = {
    seedSink()
    val perOpTs = ops.sortBy(o => (o._3, o._8))
      .flatMap(o => apply(Seq(o), skipBelowTs, quarantine)).maxOption
    val perOp = dump()
    seedSink()
    val foldedTs = apply(ops, skipBelowTs, quarantine)
    val folded = dump()
    assert(folded == perOp, s"folded sink differs from the per-op sink for $ops")
    assert(foldedTs == perOpTs, "folded offset differs from the per-op offset")
  }

  test("delete then re-insert, and a trailing delete") {
    assertFoldMatchesPerOp(Seq(
      partial(1, "k0", Map("name" -> "pre")),
      delete(2, "k0"),
      full(3, "k0", Map("name" -> "back", "visits" -> 1L)),
      partial(4, "k0", Map("status" -> "new")),
      partial(1, "k1", Map("visits" -> 99L)),
      full(2, "k1", Map("name" -> "x")),
      delete(3, "k1")))
  }

  test("delete then partial re-creates the row from the partial's fields alone") {
    assertFoldMatchesPerOp(Seq(
      delete(5, "k0"),
      partial(6, "k0", Map("visits" -> 7L)),
      partial(7, "k0", Map("cfg_pub" -> 1L)),
      delete(5, "k2"),
      partial(6, "k2", Map.empty)))
    assert(dump()("k0") == Seq(null, 7L, null, null, 1L, null, null))
  }

  test("whole-subdocument unset against scalar siblings") {
    assertFoldMatchesPerOp(Seq(
      partial(1, "k0", Map("cfg_lvl" -> 9L), removed = Seq("cfg")),
      partial(2, "k0", Map("status_code" -> 201L), removed = Seq("status")),
      partial(3, "k1", Map.empty, removed = Seq("cfg.pub")),
      partial(4, "k1", Map("cfg_pub" -> 1L, "status" -> "fine")),
      partial(5, "k1", Map.empty, removed = Seq("cfg", "status"))))
    val t = dump()
    // cfg's whole-subdoc unset nulled cfg_pub but not status_code
    assert(t("k0") == Seq("zero", 10L, null, 201L, null, null, "[\"a\"]"))
    assert(t("k1") == Seq("one", 11L, null, 500L, null, null, null))
  }

  test("applyOps inner ops share one ts and apply in seq order") {
    assertFoldMatchesPerOp(Seq(
      full(8, "k2", Map("name" -> "a", "tags" -> Seq("x", "y")), seq = 0),
      partial(8, "k2", Map("name" -> "b"), seq = 1),
      delete(8, "k2", seq = 2),
      full(8, "k2", Map("name" -> "c", "visits" -> 3L), seq = 3),
      partial(8, "k0", Map("tags" -> Map("k" -> 1L)), seq = 0),
      partial(8, "k0", Map("name" -> null), seq = 1)))
    assert(dump()("k2") == Seq("c", 3L, null, null, null, null, null))
  }

  test("an empty-present partial creates an absent key and keeps an existing one") {
    assertFoldMatchesPerOp(Seq(
      partial(1, "k3", Map.empty),
      partial(2, "k3", Map.empty),
      partial(1, "k0", Map.empty)))
    val t = dump()
    assert(t("k3") == Seq.fill(cols.size)(null))
    assert(t("k0").head == "zero")
  }

  test("a quarantined op in the middle of a key's run is skipped, not folded") {
    assertFoldMatchesPerOp(Seq(
      full(1, "k2", Map("name" -> "a", "visits" -> 5L)),
      full(2, "k2", Map("name" -> "quarantined", "visits" -> 5000L)),
      partial(3, "k2", Map("status" -> "s")),
      partial(4, "k0", Map("visits" -> 9999L)),
      delete(5, "k1"),
      partial(6, "k1", Map("visits" -> 2000L))), quarantine = true)
    assert(dump()("k2") == Seq("a", 5L, "s", null, null, null, null))
  }

  test("boundary-ts replays at skipBelowTs: strictly older ops drop, the boundary applies") {
    val ops = Seq(
      full(9, "k0", Map("name" -> "old")),
      partial(10, "k0", Map("visits" -> 1L), seq = 0),
      partial(10, "k0", Map("status" -> "b"), seq = 1),
      delete(9, "k1"),
      partial(11, "k1", Map("name" -> "later")),
      partial(8, "k2", Map("name" -> "gone")),
      deadLetter(12))
    assertFoldMatchesPerOp(ops, skipBelowTs = 10L)
    val t = dump()
    assert(t("k0") == Seq("zero", 1L, "b", 200L, 1L, 3L, "[\"a\"]") && !t.contains("k2"))
    assert(apply(ops, 12L, quarantine = false).isEmpty, "a dead letter never moves the offset")
  }

  test("seeded random op streams fold to the per-op result") {
    val keys = Seq("k0", "k1", "k2", "k3")
    val paths = Seq("cfg", "cfg.pub", "status", "name", "tags")
    def value(rnd: Random, c: String): Any = c match {
      case "name" | "status" => if (rnd.nextInt(5) == 0) null else s"${c.head}${rnd.nextInt(50)}"
      case "tags"            => Seq(s"t${rnd.nextInt(9)}")
      case _                 => rnd.nextInt(3000).toLong // visits > 1000 is quarantined
    }
    def fields(rnd: Random, min: Int): Map[String, Any] =
      rnd.shuffle(cols).take(min + rnd.nextInt(cols.size - min + 1)).map(c => c -> value(rnd, c)).toMap
    for (seed <- Seq(7, 121, 122)) {
      val rnd = new Random(seed)
      var ts = 0L
      val ops = (0 until 36).map { _ =>
        if (rnd.nextInt(3) > 0) ts += 1 // a third share the previous ts (applyOps)
        val id = keys(rnd.nextInt(keys.size))
        val seq = rnd.nextInt(4)
        rnd.nextInt(10) match {
          case 0 | 1 => delete(ts, id, seq)
          case 2 | 3 => full(ts, id, fields(rnd, 1), seq)
          case 4     => partial(ts, id, Map.empty, seq = seq)
          case 5     => deadLetter(ts)
          case _     => partial(ts, id, fields(rnd, 1),
            removed = rnd.shuffle(paths).take(rnd.nextInt(2)), seq = seq)
        }
      }
      // (ts, seq) is unique per key, as in a decoded oplog
      val distinct = ops.groupBy(o => (o._4, o._3, o._8)).values.map(_.head).toSeq
      assertFoldMatchesPerOp(distinct, skipBelowTs = ts / 4, quarantine = seed != 7)
    }
  }
}
