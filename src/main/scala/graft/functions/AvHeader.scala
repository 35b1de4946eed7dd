package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native audio/video container-header parse: `binary` payload →
  * `struct<format:string, channels:int, sample_rate:int,
  * duration_ms:bigint>` read from the container's actual magic bytes,
  * evaluated inside WholeStageCodegen — the audio/video sibling of
  * [[MediaHeader]] (images). Like that kernel this is REAL end to end:
  * WAV's RIFF chunk walk, FLAC's STREAMINFO bit-packed field, MP3's
  * ID3v2 skip + frame-header decode + Xing frame count, and the MP4
  * box walk to `moov/mvhd` are public, stable byte layouts that need no
  * codec library — the metadata a 100 TB media scan should extract
  * INSTEAD of decoding samples to answer format/rate/duration queries.
  * Unrecognized or truncated payloads yield NULL (classify, don't die);
  * a recognized container whose duration is genuinely not declared in
  * the header (MP3 without a Xing/Info frame, FLAC with total_samples
  * 0) yields a row with NULL duration — format/channels/rate are still
  * knowledge worth keeping.
  */
case class AvHeader(child: Expression) extends UnaryExpression with NullIntolerantKernel {

  override def dataType: DataType = AvHeaderKernel.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_av_header"

  override protected def nullSafeEval(input: Any): Any =
    AvHeaderKernel.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.AvHeaderKernel.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): AvHeader =
    copy(child = newChild)
}

/** Static parse kernel shared by generated Java and interpreted eval.
  * Formats (all public specifications):
  *  - WAV: "RIFF"+size+"WAVE", then a chunk walk (id(4) + le32 size,
  *    word-aligned) to "fmt " — channels le16 at +2, sample rate le32
  *    at +4, byte rate le32 at +8 — and "data", whose DECLARED le32
  *    size prices duration: `data_size * 1000 / byte_rate`. The walk
  *    must skip unknown chunks (JUNK/LIST/bext pad real files).
  *  - MP3: optional ID3v2 prefix ("ID3" + 4-byte SYNCSAFE length to
  *    skip), then the 4-byte frame header (11-bit sync, MPEG1 Layer
  *    III): sample rate from the 2-bit index {44100,48000,32000},
  *    channels from the mode field (mono=1 else 2). Duration comes
  *    from the Xing/Info VBR header that sits after the side info (17
  *    bytes mono / 32 stereo for MPEG1): frames × 1152 samples /
  *    rate — exactly how players price duration without scanning the
  *    stream. No Xing → NULL duration, not a guess.
  *  - FLAC: "fLaC", then the mandatory first STREAMINFO block whose
  *    bytes 10..17 pack big-endian: sample rate (20 bits), channels-1
  *    (3), bits-per-sample-1 (5), total samples (36). total=0 means
  *    "unknown" per spec → NULL duration.
  *  - MP4: big-endian box walk ("ftyp" first), then inside "moov" the
  *    "mvhd" box: version 0 → u32 timescale at +12 / u32 duration at
  *    +16 of the box body; version 1 → 64-bit times (timescale at
  *    +20, u64 duration at +24). duration_ms = duration×1000/timescale.
  */
object AvHeaderKernel {

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  private def row(fmt: String, ch: Any, sr: Any, durMs: Any): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), ch, sr, durMs))

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** Null if no known container signature matches or the header is
    * truncated/corrupt — public static, called from generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null

    // WAV: RIFF/WAVE then the chunk walk. A header-only scan sees the
    // DECLARED data size without the body, so the walk must tolerate
    // running off the end after it has what it needs.
    if (tag(b, 0, "RIFF") && tag(b, 8, "WAVE")) {
      var i = 12L
      var ch = -1; var sr = -1L; var byteRate = -1L; var dataSize = -1L
      while (i + 8 <= b.length && (ch < 0 || dataSize < 0)) {
        val p = i.toInt
        val size = le32(b, p + 4)
        if (tag(b, p, "fmt ")) {
          if (p + 20 > b.length || size < 16) return null
          ch = le16(b, p + 10); sr = le32(b, p + 12); byteRate = le32(b, p + 16)
        } else if (tag(b, p, "data")) {
          dataSize = size
        }
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (ch <= 0 || sr <= 0 || sr > Int.MaxValue || byteRate <= 0 || dataSize < 0)
        return null
      return row("wav", ch, sr.toInt, dataSize * 1000L / byteRate)
    }

    // MP3: skip an ID3v2 prefix (syncsafe 28-bit length), then decode
    // the first frame header; duration only from a Xing/Info block.
    {
      var off = 0
      if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
        val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
          ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
        // flags byte 5 bit 0x10 = ID3v2.4 footer: 10 more bytes after
        // the tag body that the syncsafe size does NOT cover — without
        // this, a legal footered file lands on the '3DI' marker and is
        // NULL-classified
        off = 10 + sz + (if ((b(5) & 0x10) != 0) 10 else 0)
      }
      if ((off > 0 || ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0)) &&
          off + 4 <= b.length &&
          (b(off) & 0xff) == 0xff && (b(off + 1) & 0xe0) == 0xe0) {
        val version = (b(off + 1) >> 3) & 3 // 3 = MPEG1
        val layer = (b(off + 1) >> 1) & 3   // 1 = Layer III
        if (version == 3 && layer == 1) {
          val srIdx = (b(off + 2) >> 2) & 3
          if (srIdx == 3) return null // reserved
          val sr = srIdx match { case 0 => 44100; case 1 => 48000; case _ => 32000 }
          val mode = (b(off + 3) >> 6) & 3
          val ch = if (mode == 3) 1 else 2
          val x = off + 4 + (if (ch == 1) 17 else 32) // side-info size, MPEG1
          if (x + 12 <= b.length &&
              (tag(b, x, "Xing") || tag(b, x, "Info")) &&
              (be32(b, x + 4) & 1L) != 0) {
            val frames = be32(b, x + 8)
            return row("mp3", ch, sr, frames * 1152L * 1000L / sr)
          }
          return row("mp3", ch, sr, null) // duration not declared in header
        }
      }
      if (off > 0) return null // ID3 prefix but no decodable frame after it
    }

    // FLAC: mandatory first STREAMINFO metadata block
    if (tag(b, 0, "fLaC")) {
      if (b.length < 26) return null
      val btype = b(4) & 0x7f
      val blen = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
      if (btype != 0 || blen < 18) return null
      val v = be64(b, 18) // sr(20) | ch-1(3) | bps-1(5) | total(36)
      val sr = (v >>> 44).toInt
      val ch = ((v >>> 41) & 0x7).toInt + 1
      val total = v & ((1L << 36) - 1)
      if (sr <= 0) return null
      return row("flac", ch, sr,
        if (total == 0) null else total * 1000L / sr)
    }

    // MP4: "ftyp" must be the first top-level box; walk to moov/mvhd.
    // Declared sizes may exceed the buffer (header-only scan) — every
    // read is bounds-guarded.
    if (tag(b, 4, "ftyp")) {
      var i = 0L
      while (i + 8 <= b.length) {
        val sz = be32(b, i.toInt)
        if (tag(b, (i + 4).toInt, "moov")) {
          var j = i + 8
          while (j + 8 <= b.length) {
            val csz = be32(b, j.toInt)
            if (tag(b, (j + 4).toInt, "mvhd")) {
              val p = (j + 8).toInt
              if (p >= b.length) return null
              (b(p) & 0xff) match {
                case 0 =>
                  if (p + 20 > b.length) return null
                  val ts = be32(b, p + 12); val dur = be32(b, p + 16)
                  if (ts <= 0) return null
                  return row("mp4", null, null, dur * 1000L / ts)
                case 1 =>
                  if (p + 32 > b.length) return null
                  val ts = be32(b, p + 20); val dur = be64(b, p + 24)
                  if (ts <= 0 || dur < 0) return null
                  return row("mp4", null, null, dur * 1000L / ts)
                case _ => return null
              }
            }
            if (csz < 8) return null
            j += csz
          }
          return null
        }
        if (sz < 8) return null // size 0 ("to end of file") carries no mvhd here
        i += sz
      }
      return null
    }

    null
  }
}
