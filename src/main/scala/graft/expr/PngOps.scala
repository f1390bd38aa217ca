package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * From-scratch PNG byte encoder for the raster sink — the artifact-parity
 * analog of the reference's per-hole `plt.savefig(..., format="png",
 * transparent=True)` (plot_courses.py:309-316). The engine emits the real
 * binary the reference's output folder holds: an RGBA PNG whose opaque
 * pixels are the polygon-covered samples of the hole's envelope raster.
 *
 * Determinism is the design constraint (the driver grades blob bytes):
 * the zlib stream uses STORED (uncompressed) deflate blocks, so every
 * byte of the file is a pure function of the pixel flags — no dependence
 * on a compressor's match heuristics — and the whole file is replayable
 * in ANSI SQL (CRC-32 and Adler-32 are table/modular folds; see q95's
 * oracle). Compression is the parquet/zstd layer's job in this engine;
 * the PNG container is for artifact compatibility, not size.
 */
object PngOps {

  /** Standard CRC-32 (reflected, poly 0xEDB88320) table — the same table
    * the q95 oracle embeds as a 256-entry literal list. */
  private val CrcTable: Array[Long] = {
    val t = new Array[Long](256)
    var n = 0
    while (n < 256) {
      var c = n.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0L) 0xEDB88320L ^ (c >>> 1) else c >>> 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  private def crc32(bytes: Array[Byte], from: Int, until: Int): Long = {
    var crc = 0xFFFFFFFFL
    var i = from
    while (i < until) {
      crc = CrcTable(((crc ^ (bytes(i) & 0xFFL)) & 0xFFL).toInt) ^ (crc >>> 8)
      i += 1
    }
    crc ^ 0xFFFFFFFFL
  }

  private def adler32(bytes: Array[Byte], from: Int, until: Int): Long = {
    var a = 1L; var b = 0L
    var i = from
    while (i < until) {
      a = (a + (bytes(i) & 0xFFL)) % 65521L
      b = (b + a) % 65521L
      i += 1
    }
    (b << 16) | a
  }

  private def putBe4(out: Array[Byte], at: Int, v: Long): Unit = {
    out(at) = ((v >>> 24) & 0xFF).toByte
    out(at + 1) = ((v >>> 16) & 0xFF).toByte
    out(at + 2) = ((v >>> 8) & 0xFF).toByte
    out(at + 3) = (v & 0xFF).toByte
  }

  /**
   * Encode row-major covered flags as a width × (n/width) RGBA-8 PNG:
   * covered pixels are (r, g, b, 255), uncovered fully transparent —
   * the reference's `transparent=True` background. Scanline filter 0,
   * no interlace, one IDAT with STORED deflate blocks.
   */
  def encode(pixels: ArrayData, width: Int, rgb: Int): Array[Byte] = {
    val n = pixels.numElements()
    require(width > 0 && n % width == 0,
      s"png_encode: $n pixels do not tile a width-$width raster")
    require(!(0 until n).exists(pixels.isNullAt),
      "png_encode: null pixel flag")
    val h = n / width
    val r = ((rgb >>> 16) & 0xFF).toByte
    val g = ((rgb >>> 8) & 0xFF).toByte
    val b = (rgb & 0xFF).toByte

    // raw scanlines: per row a filter-0 byte then width RGBA quads
    val rawLen = h * (1 + 4 * width)
    val raw = new Array[Byte](rawLen)
    var i = 0
    var o = 0
    var row = 0
    while (row < h) {
      raw(o) = 0 // filter: None
      o += 1
      var col = 0
      while (col < width) {
        if (pixels.getBoolean(i)) {
          raw(o) = r; raw(o + 1) = g; raw(o + 2) = b; raw(o + 3) = -1 // 255
        } // else: already zeroed (fully transparent)
        i += 1; o += 4
        col += 1
      }
      row += 1
    }

    // zlib stream: 2-byte header, STORED blocks of <= 65535, adler32
    val nBlocks = (rawLen + 65534) / 65535
    val zlibLen = 2 + nBlocks * 5 + rawLen + 4
    val idatLen = 4 + 4 + zlibLen + 4 // len + "IDAT" + stream + crc
    val total = 8 + (4 + 4 + 13 + 4) + idatLen + 12
    val out = new Array[Byte](total)
    // signature
    val sig = Array[Int](137, 80, 78, 71, 13, 10, 26, 10)
    var k = 0
    while (k < 8) { out(k) = sig(k).toByte; k += 1 }
    // IHDR
    putBe4(out, 8, 13L)
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    putBe4(out, 16, width.toLong)
    putBe4(out, 20, h.toLong)
    out(24) = 8 // bit depth
    out(25) = 6 // color type: RGBA
    out(26) = 0; out(27) = 0; out(28) = 0 // compression/filter/interlace
    putBe4(out, 29, crc32(out, 12, 29))
    // IDAT
    var p = 33
    putBe4(out, p, zlibLen.toLong)
    out(p + 4) = 'I'; out(p + 5) = 'D'; out(p + 6) = 'A'; out(p + 7) = 'T'
    val idatStart = p + 4
    p += 8
    out(p) = 0x78; out(p + 1) = 0x01 // zlib: deflate, 32K window, no dict
    p += 2
    var off = 0
    while (off < rawLen) {
      val len = math.min(65535, rawLen - off)
      val last = off + len >= rawLen
      out(p) = if (last) 1 else 0 // BFINAL + BTYPE=00
      out(p + 1) = (len & 0xFF).toByte
      out(p + 2) = ((len >>> 8) & 0xFF).toByte
      out(p + 3) = (~len & 0xFF).toByte
      out(p + 4) = ((~len >>> 8) & 0xFF).toByte
      p += 5
      System.arraycopy(raw, off, out, p, len)
      p += len
      off += len
    }
    putBe4(out, p, adler32(raw, 0, rawLen))
    p += 4
    putBe4(out, p, crc32(out, idatStart, p))
    p += 4
    // IEND (fixed bytes incl. its CRC)
    val iend = Array[Int](0, 0, 0, 0, 'I', 'E', 'N', 'D', 174, 66, 96, 130)
    k = 0
    while (k < 12) { out(p + k) = iend(k).toByte; k += 1 }
    out
  }
}
