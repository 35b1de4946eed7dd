package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 `format("graft-oplog")`: the change feed (reference S2,
  * the tailable oplog cursor `mongo.go:456-539`) as a first-class Spark
  * source over JSONL oplog segments, batch AND micro-batch streaming.
  *
  * Why a custom source instead of `spark.read.json`:
  *   - the ns/ts checkpoint predicate (F1, `mongo.go:462-492`) pushes
  *     into the scan via [[sources.Filter]] — rows failing it are dropped
  *     while the segment line is still text, before any row materializes;
  *   - segments are byte-range splittable (Hadoop line-split semantics),
  *     so one 10 GB segment fans out across executors instead of pinning
  *     one task — the property that matters for a 100 TB replay;
  *   - the streaming side tracks per-file LENGTHS, not just file names:
  *     an appended segment yields a micro-batch over exactly the new
  *     bytes — the tailable-cursor behavior Spark's file source (which
  *     treats files as immutable) cannot express. Appends must be whole
  *     lines (the atomic-append contract every oplog segment writer
  *     honors); offsets are recorded at observed end-of-file.
  *
  * Schema and corrupt-line behavior mirror the PERMISSIVE JSON reader the
  * library used before: op/ns/o/o2 as strings (objects surface as their
  * raw JSON text), ts as long, unparseable lines land whole in
  * `_corrupt_record` with every other field null so the decode stage
  * dead-letters them (never a task failure).
  */
class OplogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-oplog"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeFeed.SegmentSchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "graft-oplog requires a path: .load(<segmentsDir>)")
    new OplogTable(path)
  }
}

class OplogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-oplog `$path`"
  override def schema(): StructType = ChangeFeed.SegmentSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OplogScanBuilder(path)
}

/** Accepts ns/ts/op predicates (incl. And/Or/Not/In/IsNull trees — the
  * feed predicate is `ts > ckpt ∨ ts IS NULL` ∧ `ns ∈ set ∨ …`);
  * anything it cannot evaluate exactly stays a post-scan filter. */
class OplogScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = ChangeFeed.SegmentSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (ok, rest) = filters.partition(SegmentFilterEval.supported)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new OplogScan(path, pushed, required)
}

class OplogScan(
    path: String,
    pushed: Array[sources.Filter],
    required: StructType) extends Scan {
  // The session's Hadoop configuration, captured at scan build (driver):
  // listings use it directly, readers read ONE broadcast copy per scan
  // (as Spark's own file scans do) — a blank `new Configuration()` on an
  // executor would drop every spark.hadoop.* and session-level Hadoop
  // setting (object-store credentials, endpoints, `fs.<scheme>.impl`)
  // and break any non-local segments path.
  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private lazy val readerConf =
    spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftOplogScan PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.map(_.name).mkString("[", ",", "]")}"
  override def toBatch: Batch = new OplogBatch(path, pushed, required, hadoopConf, readerConf)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OplogMicroBatchStream(path, pushed, required, hadoopConf, readerConf)
}

/** One split per `maxPartitionBytes` byte range with classic Hadoop
  * line-split semantics: a split with start > 0 discards its first
  * (possibly partial) line and reads through the line that STARTS at its
  * end offset — every line read by exactly one split, no coordination. */
class OplogBatch(
    path: String,
    pushed: Array[sources.Filter],
    required: StructType,
    hadoopConf: Configuration,
    readerConf: Broadcast[SerializableConfiguration]) extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = OplogFiles.maxSplitBytes()
    OplogFiles.list(path, hadoopConf).flatMap { case (p, len) =>
      (0L until len by maxSplit).map { s =>
        val l = math.min(maxSplit, len - s)
        // interior boundaries use Hadoop `<=` semantics; the FILE end is
        // exclusive — a line appended after the listing starts exactly at
        // `len` and belongs to no planned split (the batch stays a
        // consistent snapshot of the listed lengths)
        OplogInputPartition(p, s, l,
          skipFirstLine = s != 0, inclusiveEnd = s + l < len)
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed, required, readerConf)
}

/** Streaming offset: every known segment file → its observed length. */
case class OplogOffset(files: Map[String, Long]) extends Offset {
  override def json(): String = Json.render(files) // render sorts keys
}
object OplogOffset {
  def fromJson(s: String): OplogOffset =
    OplogOffset(Json.parseObject(s).map { case (k, v) =>
      k -> (v match { case l: Long => l; case d: Double => d.toLong })
    })
}

/** Micro-batches are the byte deltas since the last offset: new files
  * from 0, grown files from their previous length (append tailing). Batch
  * boundaries land on observed end-of-file, which the segment-writer
  * contract keeps at a line boundary — so delta starts never skip a line
  * and delta ends never read into the next batch's bytes. */
class OplogMicroBatchStream(
    path: String,
    pushed: Array[sources.Filter],
    required: StructType,
    hadoopConf: Configuration,
    readerConf: Broadcast[SerializableConfiguration]) extends MicroBatchStream {

  override def initialOffset(): Offset = OplogOffset(Map.empty)
  override def latestOffset(): Offset =
    OplogOffset(OplogFiles.list(path, hadoopConf).toMap)
  override def deserializeOffset(json: String): Offset = OplogOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[OplogOffset].files
    val to = end.asInstanceOf[OplogOffset].files
    val maxSplit = OplogFiles.maxSplitBytes()
    to.toSeq.sortBy(_._1).flatMap { case (p, e0) =>
      val s0 = from.getOrElse(p, 0L)
      (s0 until e0 by maxSplit).map { a =>
        val b = math.min(a + maxSplit, e0)
        // interior chunk boundaries use Hadoop semantics; the delta's own
        // endpoints are exact line boundaries (no skip at s0, stop at e0)
        OplogInputPartition(p, a, b - a,
          skipFirstLine = a != s0, inclusiveEnd = b != e0)
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed, required, readerConf)
}

case class OplogInputPartition(
    file: String,
    start: Long,
    length: Long,
    skipFirstLine: Boolean,
    inclusiveEnd: Boolean) extends InputPartition

class OplogReaderFactory(
    pushed: Array[sources.Filter],
    required: StructType,
    readerConf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OplogPartitionReader(
      partition.asInstanceOf[OplogInputPartition], pushed, required, readerConf.value.value)
}

class OplogPartitionReader(
    part: OplogInputPartition,
    pushed: Array[sources.Filter],
    required: StructType,
    hadoopConf: Configuration) extends PartitionReader[InternalRow] {

  private val fs = new Path(part.file).getFileSystem(hadoopConf)
  private val in = fs.open(new Path(part.file))
  private val reader = new LineReader(in)
  private val end = part.start + part.length
  private var pos = part.start
  private val text = new Text()
  private var current: InternalRow = _

  in.seek(part.start)
  if (part.skipFirstLine) pos += reader.readLine(text)

  override def next(): Boolean = {
    while (if (part.inclusiveEnd) pos <= end else pos < end) {
      val n = reader.readLine(text)
      if (n == 0) return false // EOF
      pos += n
      val line = text.toString
      if (line.exists(!_.isWhitespace)) { // blank lines are not records
        val parsed = SegmentLine.parse(line)
        if (SegmentFilterEval.passes(pushed, parsed)) {
          current = SegmentLine.project(parsed, required)
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = { reader.close(); in.close() }
}

private[sources] object OplogFiles {

  /** Deterministic (path-sorted) listing of visible segment files. */
  def list(path: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val statuses: Seq[FileStatus] =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
      else Seq(fs.getFileStatus(p))
    statuses
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.toString -> s.getLen)
      .sortBy(_._1)
  }

  def maxSplitBytes(): Long =
    SparkSession.getActiveSession
      .map(_.sessionState.conf.filesMaxPartitionBytes)
      .getOrElse(128L * 1024 * 1024)
}

/** A parsed segment line: the five declared fields plus the corrupt-line
  * capture. `o`/`o2` object or array values surface as their raw slice of
  * the original line (byte-exact, no re-serialization). */
private[sources] final case class SegmentRow(
    op: String, ns: String, ts: java.lang.Long,
    o: String, o2: String, corrupt: String)

private[sources] object SegmentLine {

  /** PERMISSIVE parse with partial results: a line that is not a JSON
    * object at all → all fields null + the line in `_corrupt_record`; a
    * well-formed line with one type-mismatched field → that field null,
    * the rest kept, line captured as corrupt. */
  def parse(line: String): SegmentRow =
    try {
      val slices = topLevelSlices(line)
      var corrupt = false
      def strField(name: String): String = slices.get(name) match {
        case None => null
        case Some((s, e)) =>
          val raw = line.substring(s, e)
          raw.charAt(0) match {
            case '"'       => Json.parse(raw).asInstanceOf[String]
            case 'n'       => null // JSON null
            case '{' | '[' => { corrupt = true; null } // type mismatch
            case _         => { corrupt = true; null }
          }
      }
      def jsonTextField(name: String): String = slices.get(name) match {
        case None => null
        case Some((s, e)) =>
          val raw = line.substring(s, e)
          raw.charAt(0) match {
            case '"' => Json.parse(raw).asInstanceOf[String] // string payload as-is
            case 'n' => null
            case _   => raw // object/array/number/bool: raw JSON text
          }
      }
      def longField(name: String): java.lang.Long = slices.get(name) match {
        case None => null
        case Some((s, e)) =>
          val raw = line.substring(s, e)
          Json.parse(raw) match {
            case l: Long   => l
            case d: Double => d.toLong
            case _         => { corrupt = true; null }
          }
      }
      val row = SegmentRow(strField("op"), strField("ns"), longField("ts"),
        jsonTextField("o"), jsonTextField("o2"), null)
      if (corrupt) row.copy(corrupt = line) else row
    } catch {
      case _: Exception => SegmentRow(null, null, null, null, null, line)
    }

  /** Top-level keys of a JSON object → [start, end) slice of each value. */
  private def topLevelSlices(s: String): Map[String, (Int, Int)] = {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg at $i")
    def skipString(): Unit = {
      i += 1 // opening quote
      while (s.charAt(i) != '"') { if (s.charAt(i) == '\\') i += 1; i += 1 }
      i += 1
    }
    def skipValue(): Unit = s.charAt(i) match {
      case '"' => skipString()
      case '{' | '[' =>
        var depth = 0
        var inStr = false
        var done = false
        while (!done) {
          val c = s.charAt(i)
          if (inStr) {
            if (c == '\\') i += 1 else if (c == '"') inStr = false
          } else c match {
            case '"'       => inStr = true
            case '{' | '[' => depth += 1
            case '}' | ']' => depth -= 1; if (depth == 0) done = true
            case _         => ()
          }
          i += 1
        }
      case _ =>
        while (i < s.length && ",}] \t\r\n".indexOf(s.charAt(i)) < 0) i += 1
    }
    ws()
    if (i >= s.length || s.charAt(i) != '{') fail("not a JSON object")
    i += 1
    val out = mutable.Map.empty[String, (Int, Int)]
    ws()
    if (i < s.length && s.charAt(i) == '}') return out.toMap
    var done = false
    while (!done) {
      ws()
      val keyStart = i
      skipString()
      val key = Json.parse(s.substring(keyStart, i)).asInstanceOf[String]
      ws()
      if (s.charAt(i) != ':') fail("expected :")
      i += 1
      ws()
      val vStart = i
      skipValue()
      out += key -> (vStart, i)
      ws()
      if (i < s.length && s.charAt(i) == ',') i += 1
      else if (i < s.length && s.charAt(i) == '}') done = true
      else fail("expected , or }")
    }
    out.toMap
  }

  /** Project a parsed row onto the pruned read schema as an InternalRow. */
  def project(r: SegmentRow, schema: StructType): InternalRow = {
    val values = schema.fields.map(_.name match {
      case "op"              => utf8(r.op)
      case "ns"              => utf8(r.ns)
      case "ts"              => r.ts
      case "o"               => utf8(r.o)
      case "o2"              => utf8(r.o2)
      case "_corrupt_record" => utf8(r.corrupt)
      case other             => throw new IllegalArgumentException(s"unknown column $other")
    })
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }
  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)
}

/** Exact evaluator for the pushable filter subset. Pushed filters are NOT
  * re-evaluated by Spark post-scan, so `supported` admits only shapes
  * `passes` evaluates with full SQL three-valued-logic fidelity. */
private[sources] object SegmentFilterEval {

  private val cols = Set("op", "ns", "ts", "o", "o2", "_corrupt_record")

  def supported(f: sources.Filter): Boolean = f match {
    case sources.EqualTo(a, v)            => cols(a) && scalar(v)
    case sources.GreaterThan(a, v)        => cols(a) && scalar(v)
    case sources.GreaterThanOrEqual(a, v) => cols(a) && scalar(v)
    case sources.LessThan(a, v)           => cols(a) && scalar(v)
    case sources.LessThanOrEqual(a, v)    => cols(a) && scalar(v)
    case sources.In(a, vs)                => cols(a) && vs.forall(scalar)
    case sources.IsNull(a)                => cols(a)
    case sources.IsNotNull(a)             => cols(a)
    case sources.StringStartsWith(a, _)   => cols(a)
    case sources.And(l, r)                => supported(l) && supported(r)
    case sources.Or(l, r)                 => supported(l) && supported(r)
    case sources.Not(c)                   => supported(c)
    case _                                => false
  }
  private def scalar(v: Any): Boolean = v match {
    case null                                      => true
    case _: String | _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float => true
    case _                                         => false
  }

  def passes(filters: Array[sources.Filter], r: SegmentRow): Boolean =
    filters.forall(f => eval(f, r).contains(true))

  /** Kleene three-valued evaluation; None = SQL NULL/unknown. */
  private def eval(f: sources.Filter, r: SegmentRow): Option[Boolean] = f match {
    case sources.EqualTo(a, v)            => cmp(col(r, a), v).map(_ == 0)
    case sources.GreaterThan(a, v)        => cmp(col(r, a), v).map(_ > 0)
    case sources.GreaterThanOrEqual(a, v) => cmp(col(r, a), v).map(_ >= 0)
    case sources.LessThan(a, v)           => cmp(col(r, a), v).map(_ < 0)
    case sources.LessThanOrEqual(a, v)    => cmp(col(r, a), v).map(_ <= 0)
    case sources.In(a, vs) =>
      if (col(r, a) == null) None
      else {
        val hits = vs.map(v => cmp(col(r, a), v))
        if (hits.exists(_.contains(0))) Some(true)
        else if (hits.exists(_.isEmpty)) None // null member, no match → unknown
        else Some(false)
      }
    case sources.IsNull(a)    => Some(col(r, a) == null)
    case sources.IsNotNull(a) => Some(col(r, a) != null)
    case sources.StringStartsWith(a, p) =>
      Option(col(r, a)).map { case s: String => s.startsWith(p); case _ => false }
    case sources.And(l, r2) => (eval(l, r), eval(r2, r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true))            => Some(true)
      case _                                   => None
    }
    case sources.Or(l, r2) => (eval(l, r), eval(r2, r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false))        => Some(false)
      case _                                 => None
    }
    case sources.Not(c) => eval(c, r).map(!_)
    case _              => None // unreachable for supported filters
  }

  private def col(r: SegmentRow, name: String): Any = name match {
    case "op"              => r.op
    case "ns"              => r.ns
    case "ts"              => r.ts
    case "o"               => r.o
    case "o2"              => r.o2
    case "_corrupt_record" => r.corrupt
  }

  private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (null, _) | (_, null)      => None
    case (a: java.lang.Long, b: Number) => Some(java.lang.Long.compare(a, b.longValue))
    case (a: String, b: String)     => Some(a.compareTo(b))
    case _                          => None
  }
}
