package graft.sources

import graft.changelog.{Change, DeadLetter, Delete, OplogDecoder, RawOplog, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-feed source (reference S2, the tailable oplog cursor
  * `mongo.go:456-539`) re-expressed as Spark sources over durable oplog
  * segment files. A production deployment points the same code at a
  * connector-backed stream; the segment-file form is what a 100 TB replay
  * actually reads (oplog dumps land in object storage as JSONL segments).
  *
  * Layout: a directory of JSON-lines files, one oplog entry per line:
  * `{"op":"i|u|d|n|c","ns":"db.coll","ts":123,"o":{...},"o2":{...}}`.
  * `o`/`o2` are carried as raw JSON text (schema-free, like BSON) and
  * parsed inside the decode flatMap — the executors do all parsing; the
  * driver never touches a record.
  */
object ChangeFeed {

  val SegmentSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ns", StringType),
    StructField("ts", LongType),
    StructField("o", StringType),
    StructField("o2", StringType),
    // PERMISSIVE-mode capture of unparseable lines: the raw text lands
    // here so a dead letter carries the actual record, not nulls
    StructField("_corrupt_record", StringType)))

  /** Batch read of oplog segments via the [[OplogSourceProvider]] DSv2
    * source; the S2/F1 predicate (ns ∈ replicated AND ts > checkpoint)
    * pushes into the scan ([[OplogScanBuilder]]) so filtered lines are
    * dropped before a row materializes. */
  def readBatch(
      spark: SparkSession, dir: String,
      replicated: Set[String], afterTs: Long): DataFrame =
    spark.read.format("graft-oplog").load(dir)
      .filter(feedPredicate(replicated, afterTs))

  /** Streaming read of a growing segment directory — the tailable-cursor
    * analog: new files AND appended bytes of existing files are new
    * micro-batches ([[OplogMicroBatchStream]]). */
  def readStream(
      spark: SparkSession, dir: String,
      replicated: Set[String], afterTs: Long): DataFrame =
    spark.readStream.format("graft-oplog").load(dir)
      .filter(feedPredicate(replicated, afterTs))

  /** S2/F1 pushdown — with the null legs kept so corrupt segment lines
    * (all-null rows under PERMISSIVE json parsing) flow to [[decode]]'s
    * dead-letter path instead of vanishing at the source filter. On the
    * streaming path files are tracked by the source log so a corrupt line
    * is seen once; batch re-reads with a larger afterTs will re-surface
    * historical corrupt lines (their ts is null) — batch callers dedup
    * dead letters by content if they accumulate them. */
  private def feedPredicate(replicated: Set[String], afterTs: Long) =
    (col("ts") > lit(afterTs) || col("ts").isNull) &&
      (col("ns").isNull || col("ns").isin(replicated.toSeq: _*) ||
        col("ns") === "admin.$cmd")

  /** T1/T2 decode as a distributed flatMap: JSON rows → [[Change]]s,
    * flattened to a typed frame
    * (kind, table, ts, id, fields-as-JSON, partial, removed, reason, seq).
    * `seq` is the op's index within its oplog entry — applyOps transaction
    * inner ops all inherit the outer ts, so (ts, seq) is the total per-key
    * order the apply path must preserve. Malformed payloads (bad JSON,
    * null op/ns from corrupt lines) become dead-letter rows, never task
    * failures. */
  def decode(feed: DataFrame, replicated: Set[String]): DataFrame = {
    val spark = feed.sparkSession
    import spark.implicits._
    // A null ts is itself a defect (corrupt line OR a valid-looking op
    // missing its position): such rows must dead-letter, never be applied
    // with a fabricated position. The sentinel survives the primitive
    // encoder; dead letters carry ts=0 and are excluded from offsets.
    val TsMissing = Long.MinValue
    feed.select(col("op"), col("ns"),
        coalesce(col("ts"), lit(TsMissing)).as("ts"),
        col("o"), col("o2"), col("_corrupt_record"))
      .as[(String, String, Long, String, String, String)]
      .flatMap { case (op, ns, ts, o, o2, corrupt) =>
        def raw = Option(corrupt).orElse(Option(o)).getOrElse("")
        if (op == null || ns == null || ts == TsMissing)
          Seq(("dead_letter", Option(ns).getOrElse(""), 0L, null, raw, false,
            Seq.empty[String],
            if (ts == TsMissing && op != null) "missing ts" else "unparseable segment line",
            0))
        else try {
          val entry = RawOplog(op, ns, ts,
            Option(o).map(Json.parseObject).getOrElse(Map.empty),
            Option(o2).map(Json.parseObject))
          OplogDecoder.decode(entry, replicated).zipWithIndex
            .map { case (c, i) => toRow(c, i) }
        } catch {
          case e: Exception =>
            Seq(("dead_letter", ns.split('.').drop(1).mkString("."), ts, null,
              raw, false, Seq.empty[String],
              s"payload parse error: ${e.getMessage}", 0))
        }
      }
      .toDF("kind", "tbl", "ts", "id", "fields_json", "partial", "removed", "reason", "seq")
  }

  private def toRow(c: Change, seq: Int): (String, String, Long, String, String, Boolean, Seq[String], String, Int) =
    c match {
      case Upsert(t, ts, id, fields, partial, removed) =>
        ("upsert", t, ts, id, Json.render(fields), partial, removed.toSeq.sorted, null, seq)
      case Delete(t, ts, id) => ("delete", t, ts, id, null, false, Seq.empty, null, seq)
      case DeadLetter(t, ts, reason, raw) => ("dead_letter", t, ts, null, raw, false, Seq.empty, reason, seq)
    }
}

/** Minimal recursive-descent JSON for oplog payloads — executor-side only,
  * schema-free (objects → Map, arrays → Seq, numbers → Long/Double). No
  * external dependency (zero-egress build); not a general-purpose parser
  * (no surrogate-pair escapes beyond \\uXXXX pass-through).
  */
private[graft] object Json {
  def parseObject(s: String): Map[String, Any] =
    parse(s) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other        => throw new IllegalArgumentException(s"not a JSON object: $other")
    }

  def parse(s: String): Any = new P(s).value()

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws(); require(i < s.length && s.charAt(i) == c, s"expected $c at $i in $s"); i += 1
    }
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _   => num()
      }
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      if (s.charAt(i) == '}') { i += 1; return Map.empty }
      val b = Map.newBuilder[String, Any]
      var done = false
      while (!done) {
        ws(); val k = str(); expect(':'); b += (k -> value()); ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); done = true }
      }
      b.result()
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      if (s.charAt(i) == ']') { i += 1; return Seq.empty }
      val b = Seq.newBuilder[Any]
      var done = false
      while (!done) {
        b += value(); ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); done = true }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      // fast path: no escape before the closing quote — one substring
      val start = i
      while (s.charAt(i) != '"' && s.charAt(i) != '\\') i += 1
      if (s.charAt(i) == '"') { i += 1; return s.substring(start, i - 1) }
      val sb = new StringBuilder(s.substring(start, i))
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          sb += (s.charAt(i) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'; case 'f' => '\f'
            case 'u' => val c = Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4; c
            case other => other
          })
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }

  /** Deterministic (sorted-key) JSON rendering for flattened field maps.
    * Its bytes are persisted (`OplogOffset.json` in Spark's offset log),
    * so the output is pinned by `JsonRenderSpec`: keys sorted, integral
    * doubles as longs, the escapes of [[renderString]]. */
  def render(v: Any): String = {
    val sb = new java.lang.StringBuilder
    renderTo(sb, v)
    sb.toString
  }

  private def renderTo(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null            => sb.append("null")
    case m: Map[_, _]    =>
      sb.append('{')
      var first = true
      m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1).foreach { case (k, vv) =>
        if (!first) sb.append(',')
        first = false
        quoteTo(sb, k); sb.append(':'); renderTo(sb, vv)
      }
      sb.append('}')
    case xs: Seq[_]      =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; renderTo(sb, x) }
      sb.append(']')
    case s: String       => quoteTo(sb, s)
    case b: Boolean      => sb.append(b)
    case n: Long         => sb.append(n)
    case n: Int          => sb.append(n)
    case d: Double       =>
      if (d == d.floor && !d.isInfinite) sb.append(d.toLong) else sb.append(d.toString)
    case other           => quoteTo(sb, other.toString)
  }

  def renderString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    quoteTo(sb, s)
    sb.toString
  }

  /** `s` as a quoted JSON string: `"`, `\\`, newline, CR and tab as
    * two-character escapes, other control chars as `\\u00xx`, everything
    * else verbatim. A string with nothing to escape is one append. */
  private def quoteTo(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) sb.append(s)
    else {
      sb.append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' =>
            sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  private def needsEscape(c: Char): Boolean = c < ' ' || c == '"' || c == '\\'

  private val Hex = "0123456789abcdef"
}
