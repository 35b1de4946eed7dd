package graft.operators

import graft.SparkSpec
import graft.functions.{BmpKernel, BmpSynthKernel, PHashKernel}
import org.apache.spark.sql.functions._

/** Real BMP pixel extraction: GOLDEN hand-written file bytes anchor the
  * parser to the published layout (so a generator/parser slip can't
  * cancel), the synthetic round trip proves every encoding variant
  * decodes to the same formula plane, and the pHash-over-pixels path
  * shares the DCT with the stride-sample flavor. */
class BmpSpec extends SparkSpec {

  // ---- golden bytes: hand-built files, nothing from the generator ----

  private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** 3×2 24-bpp bottom-up BMP, row stride 12 (3·3 = 9 → padded to 12).
    * Image (top-down): row 0 = red, green, blue; row 1 = white, black,
    * mid-gray. Stored bottom-up: file row 0 is IMAGE row 1. */
  private val golden3x2: Array[Byte] = {
    def px(r: Int, g: Int, b: Int) = Array[Byte](b.toByte, g.toByte, r.toByte)
    val pad = Array[Byte](0, 0, 0)
    Array[Byte]('B', 'M') ++ le32(54 + 24) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(24) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      // file row 0 = image BOTTOM row: white, black, gray(128)
      px(255, 255, 255) ++ px(0, 0, 0) ++ px(128, 128, 128) ++ pad ++
      // file row 1 = image TOP row: red, green, blue
      px(255, 0, 0) ++ px(0, 255, 0) ++ px(0, 0, 255) ++ pad
  }

  private def lum(r: Int, g: Int, b: Int) = (77 * r + 150 * g + 29 * b) >> 8

  test("golden: bottom-up 3×2 decodes to the top-down luminance plane") {
    val (w, h, p) = BmpKernel.lumaPlane(golden3x2)
    assert(w == 3 && h == 2)
    assert(p.toSeq == Seq(
      lum(255, 0, 0), lum(0, 255, 0), lum(0, 0, 255),
      lum(255, 255, 255), lum(0, 0, 0), lum(128, 128, 128)))
    assert(p.toSeq == Seq(76, 149, 28, 255, 0, 128))
  }

  test("golden: top-down (negative height) stores the same image in file order") {
    // same logical image as golden3x2, height = -2, rows top-first
    def px(r: Int, g: Int, b: Int) = Array[Byte](b.toByte, g.toByte, r.toByte)
    val pad = Array[Byte](0, 0, 0)
    val topDown = Array[Byte]('B', 'M') ++ le32(54 + 24) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(-2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(24) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      px(255, 0, 0) ++ px(0, 255, 0) ++ px(0, 0, 255) ++ pad ++
      px(255, 255, 255) ++ px(0, 0, 0) ++ px(128, 128, 128) ++ pad
    val (w, h, p) = BmpKernel.lumaPlane(topDown)
    assert(w == 3 && h == 2)
    assert(p.toSeq == BmpKernel.lumaPlane(golden3x2)._3.toSeq)
  }

  test("golden: the declared pixel offset is honored, not assumed 54") {
    // insert 6 junk bytes between headers and pixels; offset says 60
    val moved = golden3x2.take(54) ++ Array.fill[Byte](6)(0x77) ++
      golden3x2.drop(54)
    System.arraycopy(le32(60), 0, moved, 10, 4)
    assert(BmpKernel.lumaPlane(moved)._3.toSeq ==
      BmpKernel.lumaPlane(golden3x2)._3.toSeq)
  }

  test("golden: null contract — magic, bpp, compression, truncation") {
    assert(BmpKernel.lumaPlane(null) == null)
    assert(BmpKernel.lumaPlane(Array[Byte](1, 2, 3)) == null)
    val notBm = golden3x2.clone(); notBm(0) = 'X'
    assert(BmpKernel.lumaPlane(notBm) == null)
    val bpp8 = golden3x2.clone(); bpp8(28) = 8
    assert(BmpKernel.lumaPlane(bpp8) == null)
    val rle = golden3x2.clone(); rle(30) = 1 // BI_RLE8
    assert(BmpKernel.lumaPlane(rle) == null)
    val truncated = golden3x2.take(golden3x2.length - 4)
    assert(BmpKernel.lumaPlane(truncated) == null)
    // a parseable-but-tiny image has no 8×8 tile
    assert(BmpKernel.lumaTile(golden3x2) == null)
  }

  // ---- synthetic round trip: every encoding variant → formula plane --

  private def formulaTile(id: Long): Seq[Long] = {
    val w = BmpSynthKernel.width(id); val h = BmpSynthKernel.height(id)
    val sum = new Array[Long](64); val cnt = new Array[Long](64)
    for (y <- 0 until h; x <- 0 until w) {
      val cell = 8 * (y * 8 / h) + x * 8 / w
      sum(cell) += (77 * BmpSynthKernel.red(id, x, y) +
        150 * BmpSynthKernel.green(id, x, y) +
        29 * BmpSynthKernel.blue(id, x, y)) >> 8
      cnt(cell) += 1
    }
    (0 until 64).map(k => sum(k) / cnt(k))
  }

  test("round trip: bottom-up, top-down, and gap-offset variants all decode to the formula tile") {
    // ids chosen to hit every variant: 0 canonical, 1 gap-offset,
    // 2 top-down, 7 top-down+canonical-offset, 17 gap, 22 top-down
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 9L, 17L, 22L, 37L, 100L)) {
      val t = BmpKernel.lumaTile(BmpSynthKernel.bmp(id))
      assert(t != null, s"id=$id failed to parse")
      assert(t.toSeq == formulaTile(id), s"id=$id tile mismatch")
    }
    // the garbage row is the NULL contract
    assert(BmpKernel.lumaTile(BmpSynthKernel.bmp(6L)) == null)
    assert(BmpKernel.lumaTile(BmpSynthKernel.bmp(19L)) == null)
  }

  test("phash over pixels = hashTile of the decoded tile; sentinel for garbage") {
    val b = BmpSynthKernel.bmp(5L)
    assert(BmpKernel.phash(b) == PHashKernel.hashTile(BmpKernel.lumaTile(b)))
    assert(BmpKernel.phash(b) >= 0L)
    assert(BmpKernel.phash(BmpSynthKernel.bmp(6L)) == Long.MinValue)
  }

  test("expressions: tile + phash flow through codegen with the NULL contract") {
    import spark.implicits._
    val df = Multimodal.synthesizeBmpPayloads(
      (0L until 40L).toDF("doc_id"), "doc_id")
    val tiles = Multimodal.bmpLumaTiles(df, "doc_id")
      .select(col("doc_id"), col("tile"))
      .orderBy("doc_id").collect()
    assert(tiles.length == 40)
    tiles.foreach { r =>
      val id = r.getLong(0)
      if (id % 13 == 6) assert(r.isNullAt(1), s"id=$id should be null")
      else assert(r.getSeq[Long](1) == formulaTile(id), s"id=$id")
    }
    val hashes = df.select(col("doc_id"),
        call_function("graft_phash_bmp", col("payload")).as("ph"))
      .orderBy("doc_id").collect()
    hashes.foreach { r =>
      val id = r.getLong(0)
      if (id % 13 == 6) assert(r.isNullAt(1))
      else assert(r.getLong(1) == BmpKernel.phash(BmpSynthKernel.bmp(id)))
    }
  }
}
