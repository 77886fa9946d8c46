package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Real-bytes decode for the multimodal ingest story (q144): extract the
  * IHDR header fields from a PNG `binary` column in one bounds-checked
  * pass over the first 26 bytes — no imaging library, no UDF, a codegen
  * Catalyst expression like every other custom function in the repo. The
  * PNG wire format is public and fixed: 8-byte signature, then the IHDR
  * chunk (4-byte length=13, 4-byte tag, 4-byte big-endian width, 4-byte
  * big-endian height, 1-byte bit depth, 1-byte color type). Anything that
  * fails the signature/tag/length checks decodes to null, never garbage —
  * the DROPMALFORMED discipline of the 1BRC parsers applied to binary.
  */
object PngHeader {
  private val Sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  /** Decoded-scanline allocation cap (256 MiB ≈ a 9k×9k RGBA frame):
    * dims past this are treated as malformed, not allocated. */
  private val MaxDecodedBytes = 256L * 1024 * 1024

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  /** struct(width, height, bit_depth, color_type) or null when the bytes
    * are not a PNG (short buffer, bad signature, IHDR not first or not
    * 13 bytes — the spec-mandated layout). */
  def ihdr(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 26) return null
    var i = 0
    while (i < 8) { if (b(i) != Sig(i)) return null; i += 1 }
    if (be32(b, 8) != 13L) return null
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return null
    InternalRow(be32(b, 16), be32(b, 20),
      (b(24) & 0xFF).toLong, (b(25) & 0xFF).toLong)
  }

  /** Full pixel-stream decode (q167) — the step PAST the header: walk the
    * chunk list collecting every IDAT payload, zlib-INFLATE the scanline
    * stream (java.util.zip.Inflater — in the JDK, not an imaging
    * library), reverse the per-scanline filter (all five spec filter
    * types: None/Sub/Up/Average/Paeth — the committed fixture set
    * exercises each), and reduce the reconstructed channel samples to
    * struct(n_samples, px_min, px_max, px_sum, px_sumsq) — the 1BRC-style
    * mergeable state, exact BIGINTs (sumsq ≤ 2^16 per 8-bit sample). The
    * payload never leaves the scan as rows: ~40 bytes per image cross the
    * shuffle, never the pixels. Scope: 8-bit depth, truecolor RGB(A)
    * (color types 2/6), non-interlaced — null for anything else or any
    * malformed byte (bad CRC length walk, short inflate, bad filter
    * tag), never garbage. */
  /** Decoded 8-bit RGB(A) scanline stream: samples reconstructed IN
    * PLACE in `raw` (index y*(1+width*nchan) keeps the filter tag, the
    * unfiltered samples follow it) — shared by [[pixelStats]] and
    * [[ahash64]]. */
  private[functions] final class Decoded(
      val width: Int, val height: Int, val nchan: Int, val raw: Array[Byte])

  /** Chunk walk + zlib inflate + in-place unfilter; null for any
    * malformed input (the decode-to-null contract both consumers share). */
  private def decodeUnfiltered(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 33) return null
    val h = ihdr(b)
    if (h == null) return null
    val width = h.getLong(0).toInt
    val height = h.getLong(1).toInt
    val depth = h.getLong(2)
    val colorType = h.getLong(3)
    // compression(26)=deflate, filter(27)=adaptive, interlace(28)=none
    if (depth != 8L || b(26) != 0 || b(27) != 0 || b(28) != 0) return null
    val nchan = colorType match {
      case 2L => 3
      case 6L => 4
      case _ => return null
    }
    if (width <= 0 || height <= 0) return null
    // chunk walk from the first post-IHDR chunk, concatenating IDAT
    // payloads (the spec allows the stream split across many chunks)
    var pos = 33
    val idat = new java.io.ByteArrayOutputStream()
    var ended = false
    while (!ended && pos + 8 <= b.length) {
      val size = be32(b, pos)
      if (size < 0 || pos + 12 + size > b.length) return null
      if (b(pos + 4) == 'I' && b(pos + 5) == 'D' &&
        b(pos + 6) == 'A' && b(pos + 7) == 'T')
        idat.write(b, pos + 8, size.toInt)
      else if (b(pos + 4) == 'I' && b(pos + 5) == 'E' &&
        b(pos + 6) == 'N' && b(pos + 7) == 'D')
        ended = true
      pos += 12 + size.toInt // length + tag + payload + crc
    }
    if (idat.size() == 0) return null
    // size the scanline buffer in LONG first: a hostile IHDR with large
    // 32-bit dims would overflow an Int product (negative allocation or
    // a wrong-but-positive size) — and even a valid product must clear a
    // sanity cap before we allocate multi-GB for what claims to be an
    // image (decode-to-null, never decode-to-OOM)
    val strideL = width.toLong * nchan
    val expectedL = height.toLong * (1L + strideL)
    if (expectedL <= 0L || expectedL > MaxDecodedBytes) return null
    val stride = strideL.toInt
    val expected = expectedL.toInt
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(raw, off, expected - off)
        // zero progress while unfinished = truncated input, a
        // preset-dictionary stream (needsDictionary — inflate would
        // return 0 forever), or a stall: all decode to null
        if (n == 0 && !inf.finished()) return null
        off += n
      }
      if (off != expected) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // unfilter scanline-by-scanline IN PLACE; bpp = nchan for 8-bit
    val cur = new Array[Int](stride)
    val prior = new Array[Int](stride)
    var y = 0
    while (y < height) {
      val base = y * (1 + stride)
      val f = raw(base) & 0xFF
      if (f > 4) return null
      var i = 0
      while (i < stride) {
        val x = raw(base + 1 + i) & 0xFF
        val left = if (i >= nchan) cur(i - nchan) else 0
        val up = prior(i)
        val upLeft = if (i >= nchan) prior(i - nchan) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => // Paeth
            val p = left + up - upLeft
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
        }
        val v = (x + pred) & 0xFF
        cur(i) = v
        raw(base + 1 + i) = v.toByte
        i += 1
      }
      System.arraycopy(cur, 0, prior, 0, stride)
      y += 1
    }
    new Decoded(width, height, nchan, raw)
  }

  def pixelStats(b: Array[Byte]): InternalRow = {
    val dec = decodeUnfiltered(b)
    if (dec == null) return null
    val stride = dec.width * dec.nchan
    var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumsq = 0L
    var y = 0
    while (y < dec.height) {
      val base = y * (1 + stride) + 1
      var i = 0
      while (i < stride) {
        val vl = (dec.raw(base + i) & 0xFF).toLong
        if (vl < mn) mn = vl
        if (vl > mx) mx = vl
        sum += vl; sumsq += vl * vl; n += 1
        i += 1
      }
      y += 1
    }
    InternalRow(n, mn, mx, sum, sumsq)
  }

  /** 64-bit average-hash (q200): integer luma (299R+587G+114B)/1000 per
    * pixel, box-averaged into an 8×8 grid (cell of pixel (x,y) is
    * (y·8 div h, x·8 div w) — exact integer geometry, no resampling
    * library), bit k = gy·8+gx set iff the cell average exceeds the
    * integer mean of the 64 cell averages. Every step is integer
    * division, so the committed fixture generator reproduces the hash
    * bit-for-bit — ground truth by construction, the q144/q167
    * contract. Null below 8×8 (a grid cell would be empty) or for any
    * malformed input. Alpha is ignored: perceptual identity lives in
    * the color channels. */
  def ahash64(b: Array[Byte]): java.lang.Long = {
    val dec = decodeUnfiltered(b)
    if (dec == null || dec.width < 8 || dec.height < 8) return null
    val w = dec.width; val h = dec.height; val nc = dec.nchan
    val stride = w * nc
    val csum = new Array[Long](64)
    val ccnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val base = y * (1 + stride) + 1
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val o = base + x * nc
        val r = dec.raw(o) & 0xFF
        val g = dec.raw(o + 1) & 0xFF
        val bl = dec.raw(o + 2) & 0xFF
        val c = (gy << 3) | (x * 8 / w)
        csum(c) += (299 * r + 587 * g + 114 * bl) / 1000
        ccnt(c) += 1
        x += 1
      }
      y += 1
    }
    val avg = new Array[Long](64)
    var mean = 0L
    var c = 0
    while (c < 64) { avg(c) = csum(c) / ccnt(c); mean += avg(c); c += 1 }
    mean /= 64
    var hh = 0L
    c = 0
    while (c < 64) { if (avg(c) > mean) hh |= 1L << c; c += 1 }
    java.lang.Long.valueOf(hh)
  }

  /** q266: 2×2 box-downsample of the integer-luma grid — the thumbnail
    * step every multimodal ingest runs, kept exact: per-pixel luma is
    * q200's (299R+587G+114B)/1000, each output pixel the floor-mean of
    * its 2×2 block (odd edge rows/columns truncate — out dims w/2 ×
    * h/2), and the thumbnail reduces IN-EXPRESSION to the mergeable
    * stats plus a POSITION-WEIGHTED checksum Σ v·(idx+1) (row-major
    * idx), which pins every output pixel's value AND position — two
    * thumbnails with permuted pixels share sums but never the
    * checksum. Null for anything [[pixelStats]] rejects or smaller
    * than 2×2 (an empty block must not fabricate pixels). */
  def box2Stats(b: Array[Byte]): InternalRow = {
    val dec = decodeUnfiltered(b)
    if (dec == null || dec.width < 2 || dec.height < 2) return null
    val w = dec.width; val h = dec.height; val nc = dec.nchan
    val stride = w * nc
    def luma(x: Int, y: Int): Long = {
      val o = y * (1 + stride) + 1 + x * nc
      (299L * (dec.raw(o) & 0xFF) + 587L * (dec.raw(o + 1) & 0xFF) +
        114L * (dec.raw(o + 2) & 0xFF)) / 1000L
    }
    val ow = w / 2; val oh = h / 2
    var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumsq = 0L; var chk = 0L
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val v = (luma(2 * ox, 2 * oy) + luma(2 * ox + 1, 2 * oy) +
          luma(2 * ox, 2 * oy + 1) + luma(2 * ox + 1, 2 * oy + 1)) / 4L
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v; sumsq += v * v
        chk += v * (oy.toLong * ow + ox + 1)
        n += 1
        ox += 1
      }
      oy += 1
    }
    InternalRow(ow.toLong, oh.toLong, n, mn, mx, sum, sumsq, chk)
  }
}

/** png_ihdr(content) -> struct<width, height, bit_depth, color_type: long>,
  * null for non-PNG bytes. */
case class PngIhdr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType), StructField("height", LongType),
    StructField("bit_depth", LongType), StructField("color_type", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "png_ihdr"

  override def nullSafeEval(v: Any): Any =
    PngHeader.ihdr(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.PngHeader.ihdr($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** png_pixels(content) -> struct<n_samples, px_min, px_max, px_sum,
  * px_sumsq: long>, null for non-PNG bytes or unsupported layouts
  * (see [[PngHeader.pixelStats]]). */
case class PngPixels(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", LongType), StructField("px_min", LongType),
    StructField("px_max", LongType), StructField("px_sum", LongType),
    StructField("px_sumsq", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "png_pixels"

  override def nullSafeEval(v: Any): Any =
    PngHeader.pixelStats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.PngHeader.pixelStats($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** png_ahash(content) -> 64-bit perceptual average-hash (long), null for
  * malformed bytes or images below the 8×8 grid. */
case class PngAhash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "png_ahash"

  override def nullSafeEval(v: Any): Any =
    PngHeader.ahash64(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |java.lang.Long ah = graft.functions.PngHeader.ahash64($b);
         |${ev.isNull} = (ah == null);
         |if (!${ev.isNull}) ${ev.value} = ah.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** png_box2(content) -> struct<out_w, out_h, n_px, px_min, px_max,
  * px_sum, px_sumsq, checksum: long> — the 2×2 luma box-downsample
  * reduced in-expression (q266), null for non-decodable bytes or
  * images under 2×2. */
case class PngBox2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("out_w", LongType), StructField("out_h", LongType),
    StructField("n_px", LongType), StructField("px_min", LongType),
    StructField("px_max", LongType), StructField("px_sum", LongType),
    StructField("px_sumsq", LongType), StructField("checksum", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "png_box2"

  override def nullSafeEval(v: Any): Any =
    PngHeader.box2Stats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.PngHeader.box2Stats($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
