package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star operator; absent from the
  * reference). Media payloads are opaque `binary` columns with a typed
  * metadata struct alongside; decode / feature-extraction runs over
  * `mapPartitions` with a deterministic STUB in place of the actual codec
  * (image/audio libraries are not in this container — see the builder
  * brief). The Spark-side contract — schema, batching, partitioning, the
  * shape a Pandas-UDF/`mapInPandas` stage would see — is real and tested.
  */
object Multimodal {

  /** Attach a binary payload + typed metadata. In production the payload
    * column arrives from the source (e.g. parquet `binary`); here the test
    * corpus is text, so the payload is its UTF-8 bytes. Metadata is
    * computed with built-ins only (codegen'd): byte length, sha256 digest,
    * and a leading-bytes "magic" tag — exactly what a 100 TB scan should
    * push down to instead of decoding media to answer metadata queries. */
  def attachPayload(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val payload = encode(col(textCol), "UTF-8")
    df.select(
      col(idCol),
      payload.as("payload"),
      struct(
        length(payload).as("byte_len"),
        sha2(payload, 256).as("sha256"),
        lower(hex(substring(payload, 1, 4))).as("magic")).as("meta"))
  }

  /** Deterministic frame sampling: one row per sampled frame index, stride
    * `frameStride` over a fake duration derived from payload size. Pure
    * generator (posexplode over sequence) — distributes with the data, no
    * driver loop. */
  def sampleFrames(withPayload: DataFrame, idCol: String, frameStride: Int): DataFrame = {
    val nFrames = greatest(lit(1), (col("meta.byte_len") / lit(frameStride)).cast("int"))
    withPayload
      .select(col(idCol), posexplode(sequence(lit(0), nFrames - 1)).as(Seq("frame_no", "__x")))
      .select(
        col(idCol), col("frame_no"),
        md5(concat(col(idCol).cast("string"), lit(":"), col("frame_no").cast("string"))).as("frame_hash"))
  }

  /** Parse each payload's container header into
    * `struct<format:string, width:int, height:int>` (NULL for payloads
    * that are not a recognized image container) — REAL byte parsing,
    * not the decode stub: PNG IHDR, the JPEG SOFn marker walk, GIF's
    * screen descriptor, and BMP's info header are public byte layouts
    * that need no codec library ([[graft.functions.MediaHeaderKernel]]).
    * Runs inside WholeStageCodegen like every graft kernel, so a
    * lake-wide "what formats/dimensions do we have" scan never leaves
    * Tungsten rows and never decodes a pixel. */
  def headerMeta(withPayload: DataFrame, idCol: String): DataFrame = {
    withPayload.withColumn("hdr",
      GraftFunctions.mediaHeader(col("payload")))
  }

  /** Deterministic synthetic image payloads for the test corpus (which
    * has no binary media): real PNG / JPEG / GIF byte streams — correct
    * signatures, chunk/segment structure, and dimension fields derived
    * from the doc id — plus a non-image garbage payload every 7th doc,
    * so [[headerMeta]] exercises every parser branch including the NULL
    * contract. The JPEG variant includes an APP0 segment before SOF0,
    * so the marker WALK (not just a fixed offset) is what recovers the
    * dimensions. */
  def synthesizeImagePayloads(df: DataFrame, idCol: String): DataFrame = {
    def be16(v: Column) = unhex(lpad(hex(v), 4, "0"))
    def be32(v: Column) = unhex(lpad(hex(v), 8, "0"))
    def le16(v: Column) = {
      val hx = lpad(hex(v), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val w = (col(idCol) % 1920 + 1).cast("int")
    val h = (col(idCol) % 1080 + 1).cast("int")
    val png = concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
      be32(w), be32(h), unhex(lit("0806000000")))
    val jpeg = concat(
      unhex(lit("FFD8" + "FFE00010" + "4A46494600010100000100010000" +
        "FFC00011" + "08")),
      be16(h), be16(w))
    val gif = concat(
      unhex(lit("474946383961")), le16(w), le16(h), unhex(lit("F70000")))
    val payload = when(col(idCol) % 7 === 3, unhex(lit("00112233445566778899AABBCC")))
      .when(col(idCol) % 3 === 0, png)
      .when(col(idCol) % 3 === 1, jpeg)
      .otherwise(gif)
    df.withColumn("payload", payload)
  }

  /** Parse each payload's AUDIO/VIDEO container header into
    * `struct<format:string, channels:int, sample_rate:int,
    * duration_ms:bigint>` (NULL for unrecognized payloads; NULL
    * duration for containers that genuinely don't declare one) — the
    * audio/video sibling of [[headerMeta]], same codegen'd-kernel
    * contract ([[graft.functions.AvHeaderKernel]]): WAV's RIFF chunk
    * walk, MP3's ID3-skip + Xing frame count, FLAC's STREAMINFO
    * bitfield, MP4's box walk to mvhd. A lake-wide "what rates/
    * durations do we have" scan never decodes a sample. */
  def avHeaderMeta(withPayload: DataFrame, idCol: String): DataFrame = {
    withPayload.withColumn("av",
      GraftFunctions.avHeader(col("payload")))
  }

  /** Deterministic synthetic audio/video payloads, mirroring
    * [[synthesizeImagePayloads]]: real WAV / MP3 / FLAC / MP4 byte
    * streams — correct signatures, chunk/box/bit-packed structure, and
    * rate/channel/duration fields derived from the doc id — plus
    * non-media garbage every 11th doc so [[avHeaderMeta]] exercises the
    * NULL contract. Each format's parser is forced to do its real
    * work: the WAV carries a JUNK chunk before `fmt ` (chunk WALK, not
    * a fixed offset), the MP3 hides its frame header behind an ID3v2
    * prefix and prices duration only through the Xing block after the
    * mode-dependent side info, the FLAC packs rate/channels/total into
    * the 64-bit STREAMINFO field, and the MP4 puts a `free` box between
    * `ftyp` and `moov`. Durations are chosen so every integer division
    * on the parse side is exact except MP3's (deliberately floor —
    * the oracle floors identically). */
  def synthesizeAvPayloads(df: DataFrame, idCol: String): DataFrame = {
    def b1(v: Column) = unhex(lpad(hex(v), 2, "0"))
    def be16(v: Column) = unhex(lpad(hex(v), 4, "0"))
    def be32(v: Column) = unhex(lpad(hex(v), 8, "0"))
    def be64(v: Column) = unhex(lpad(hex(v), 16, "0"))
    def le16(v: Column) = {
      val hx = lpad(hex(v), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le32(v: Column) = {
      val hx = lpad(hex(v), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def ascii(s: String) = lit(s).cast("binary")
    val id = col(idCol)
    val ch = (id % 2 + 1).cast("int")
    val sr = (lit(8000) + (id % 8) * 4000).cast("int") // all % 1000 == 0

    // WAV: RIFF/WAVE, JUNK (walk!), fmt (PCM 16-bit), data (size only —
    // a header scan prices duration off the declared size)
    val byteRate = (sr * ch * 2).cast("int")
    val durWav = (id % 50 + 1).cast("int")
    val dataSize = (byteRate * durWav / 1000).cast("int") // exact: byteRate % 1000 == 0
    val wav = concat(
      ascii("RIFF"), le32(lit(36) + dataSize), ascii("WAVE"),
      ascii("JUNK"), le32(lit(4)), unhex(lit("00000000")),
      ascii("fmt "), le32(lit(16)),
      le16(lit(1)), le16(ch), le32(sr), le32(byteRate),
      le16((ch * 2).cast("int")), le16(lit(16)),
      ascii("data"), le32(dataSize))

    // MP3: ID3v2 (10-byte tag body), MPEG1 Layer III frame header
    // (bitrate idx 9, sample-rate idx from id, mono/stereo from id),
    // side info, then Xing with the frame count
    val srIdx = (id % 3).cast("int") // 0→44100 1→48000 2→32000
    val mp3Sr = when(srIdx === 0, 44100).when(srIdx === 1, 48000).otherwise(32000)
    val frames = (id % 200 + 1).cast("int")
    val sideInfo = when(ch === 1, unhex(lit("00" * 17))).otherwise(unhex(lit("00" * 32)))
    val mp3 = concat(
      ascii("ID3"), unhex(lit("0400" + "00" + "0000000A")), unhex(lit("00" * 10)),
      unhex(lit("FFFB")), b1(lit(0x90) + srIdx * 4),
      b1(when(ch === 1, 0xc0).otherwise(0x00)),
      sideInfo,
      ascii("Xing"), be32(lit(1)), be32(frames))

    // FLAC: STREAMINFO with the bit-packed sr/ch/bps/total u64
    val durFlac = (id % 60 + 1).cast("long")
    val total = (sr.cast("long") * durFlac / 1000).cast("long") // exact
    val packed = sr.cast("long") * lit(1L << 44) +
      (ch.cast("long") - 1) * lit(1L << 41) + lit(15L << 36) + total
    val flac = concat(
      ascii("fLaC"), unhex(lit("80" + "000022")),
      unhex(lit("1000" + "1000" + "000000" + "000000")),
      be64(packed), unhex(lit("00" * 16)))

    // MP4: ftyp, a free box, then moov/mvhd v0 (timescale 1000 →
    // duration field IS milliseconds); mvhd declares its true 108-byte
    // size but the scan only materializes through the duration field
    val durMp4 = (id % 9000 + 1).cast("int")
    val mp4 = concat(
      be32(lit(16)), ascii("ftyp"), ascii("isom"), be32(lit(0x200)),
      be32(lit(16)), ascii("free"), unhex(lit("00" * 8)),
      be32(lit(116)), ascii("moov"),
      be32(lit(108)), ascii("mvhd"),
      unhex(lit("00000000")), be32(lit(0)), be32(lit(0)),
      be32(lit(1000)), be32(durMp4))

    val payload =
      when(id % 11 === 5, unhex(lit("DEADBEEF00112233445566778899AABB")))
        .when(id % 4 === 0, wav)
        .when(id % 4 === 1, mp3)
        .when(id % 4 === 2, flac)
        .otherwise(mp4)
    df.withColumn("payload", payload)
  }

  val FeatureDim: Int = graft.functions.DecodeKernel.FeatureDim

  /** Decode the binary payload to a fixed-width feature vector — the
    * PRODUCTION path: a native codegen'd Catalyst expression
    * ([[graft.functions.DecodeFeatures]]), so scan → decode → downstream
    * stays in ONE WholeStageCodegen span with every column in Tungsten
    * format (no DeserializeToObject / object-space round trip). The
    * decode body is the sanctioned deterministic STUB; a real deployment
    * swaps the kernel for a JNI/FFM codec binding and this plan shape is
    * exactly what it compiles to. */
  def decodeFeatures(withPayload: DataFrame, idCol: String): DataFrame = {
    withPayload.select(
      col(idCol).cast("long").as(idCol),
      GraftFunctions.decodeFeatures(col("payload")).as("features"))
  }

  /** The per-partition BATCH-CONTRACT twin of [[decodeFeatures]]: typed
    * `mapPartitions` over (id, payload) → (id, features) — the shape a
    * PySpark `mapInPandas`/`mapInArrow` deployment (or a codec that wants
    * amortized per-batch init, e.g. one decoder context per partition)
    * plugs into. Costs the object-space boundary the expression path
    * avoids; kept because the partition-iterator contract, not the plan
    * shape, is what a Python/Arrow integration must match. Produces
    * identical rows to [[decodeFeatures]]. */
  def decodeFeaturesTyped(withPayload: DataFrame, idCol: String): DataFrame = {
    val spark = withPayload.sparkSession
    import spark.implicits._
    withPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, fakeFeatures(bytes)) })
      .toDF(idCol, "features")
  }

  /** Deterministic stand-in features — delegates to the shared kernel so
    * both decode paths produce bit-identical vectors. */
  private[operators] def fakeFeatures(bytes: Array[Byte]): Array[Float] = {
    val a = graft.functions.DecodeKernel.decode(bytes)
    a.toFloatArray()
  }

  /** Deterministic 24-bpp BMP payloads ([[graft.functions
    * .BmpSynthKernel]]) — the corpus's REAL-pixel media stand-in:
    * actual file bytes (headers, padded BGR rows, top-down and
    * gap-offset encoding variants, a garbage row every 13th doc) whose
    * pixel values derive from `(doc_id, x, y)` so the oracle predicts
    * the decoded plane from the formula alone. */
  def synthesizeBmpPayloads(df: DataFrame, idCol: String): DataFrame = {
    df.withColumn("payload",
      GraftFunctions.synthBmp(col(idCol).cast("long")))
  }

  /** Decode each BMP payload's 8×8 luminance tile
    * ([[graft.functions.BmpLumaTile]] — real pixel extraction, pure
    * byte arithmetic, one codegen projection; NULL for payloads that
    * are not parseable 24-bpp BMPs). The stage between
    * [[headerMeta]]'s dimensions-only parse and [[decodeFeatures]]'s
    * stubbed codec: for THIS format the pipeline is real end to end. */
  def bmpLumaTiles(withPayload: DataFrame, idCol: String): DataFrame = {
    withPayload.withColumn("tile",
      GraftFunctions.bmpTile(col("payload")))
  }
}
