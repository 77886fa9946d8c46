package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** JPEG segment walk (q315) — the missing crawl image format (round-11
  * verdict #4): PNG/WAV/AVI/PDF are decoded by this family already, but
  * >70% of real crawl images are JPEG. Scope is the exactly-specifiable
  * SEGMENT layer of ISO/IEC 10918-1 + JFIF/EXIF app markers (the q283
  * wire-format discipline — structure, tiling and checksums; no DCT):
  *
  *  - SOI → EOI marker tiling: the byte range must START with SOI, every
  *    segment's 2-byte big-endian length must land inside the file, the
  *    walk must reach EOI, and NOTHING may follow it — truncation and
  *    trailing garbage both void the file (DROPMALFORMED blast radius =
  *    one file, never a scan failure).
  *  - SOF0 (baseline) / SOF2 (progressive): precision, height, width,
  *    component count (1–4) with per-component quant-table refs ≤ 3 and
  *    the exact 8+3·n segment length. Any OTHER SOF type (arithmetic,
  *    lossless, differential — C1/C3/C5–CB/CD–CF) is out of scope and
  *    voids the file rather than mis-reporting it.
  *  - DQT/DHT INTERNAL tiling: quant segments must tile into (Pq,Tq)+64
  *    or +128-byte entries (Pq ≤ 1, Tq ≤ 3), Huffman segments into
  *    (Tc,Th)+16 counts+Σcounts symbols (Tc ≤ 1, Th ≤ 3), each consuming
  *    its payload EXACTLY; table payloads fold into per-kind CRC32s so
  *    the oracle pins table BYTES, not just counts.
  *  - SOS entropy walk: 0xFF is stuffed as FF 00, RST0–7 pass through
  *    (counted), FF-fill before a marker is legal; the scan ends at the
  *    first real marker. Multi-scan progressive files walk DHT/SOS
  *    sequences until EOI. RST outside a scan, a second SOI, or any
  *    reserved marker (0x02–0xBF) voids the file.
  *  - APP0 "JFIF\0" and APP1 "Exif\0\0" signatures surface as booleans.
  *
  * Ground truth: the committed fixture set's manifest records what the
  * files were BUILT with (tools/gen_jpeg_fixtures.py), re-validated by
  * the generator's own independent segment parser; JpegLawsSpec
  * round-trips an independent Scala builder against this decoder with
  * truncation/flip/trailing corruption properties. At 100 TB the walk
  * runs inside the scan projection over a binaryFile source: ~100 bytes
  * of dimensions/counts/CRCs per image cross the shuffle, never pixels.
  */
object JpegInfo {

  private final class Malformed extends Exception(null, null, false, false)
  private def fail(): Nothing = throw new Malformed

  /** struct(width, height, precision, n_components, progressive,
    * n_segments, n_dqt, dqt_crc32, n_dht, dht_crc32, jfif, exif,
    * n_scans, scan_bytes, n_rst) or null for malformed bytes (keep in
    * sync with tools/gen_jpeg_fixtures.py `walk`). */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    val n = b.length
    var i = 2
    var nSegments = 1L // SOI
    var nDqt = 0L; var nDht = 0L; var nScans = 0L
    var scanBytes = 0L; var nRst = 0L
    var width = -1L; var height = -1L; var precision = -1L; var nComp = -1L
    var progressive = false
    var jfif = false; var exif = false
    var sofSeen = false
    var eoi = false
    val dqtCrc = new java.util.zip.CRC32
    val dhtCrc = new java.util.zip.CRC32
    def u8(k: Int): Int = { if (k >= n) fail(); b(k) & 0xFF }
    def be16(k: Int): Int = { if (k + 1 >= n) fail(); (u8(k) << 8) | u8(k + 1) }
    try {
      while (!eoi) {
        if (u8(i) != 0xFF) fail()
        while (u8(i) == 0xFF) i += 1 // marker prefix + optional FF fill
        val m = u8(i); i += 1
        m match {
          case 0xD9 =>
            nSegments += 1; eoi = true
          case 0xD8 => fail() // second SOI
          case x if x <= 0x01 || (x >= 0xD0 && x <= 0xD7) =>
            fail() // TEM/reserved/RST outside a scan
          case x if x >= 0x02 && x <= 0xBF =>
            fail() // reserved marker range
          case _ =>
            val len = be16(i)
            if (len < 2 || i + len > n) fail()
            val p = i + 2
            val plen = len - 2
            m match {
              case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
                if (sofSeen) fail()
                sofSeen = true
                progressive = m == 0xC2
                if (plen < 6) fail()
                precision = u8(p)
                height = be16(p + 1)
                width = be16(p + 3)
                nComp = u8(p + 5)
                if (width < 1 || height < 1 || nComp < 1 || nComp > 4) fail()
                if (plen != 6 + 3 * nComp) fail()
                var c = 0
                while (c < nComp) {
                  if ((u8(p + 6 + 3 * c + 2) & 0xFF) > 3) fail() // Tq ref
                  c += 1
                }
              case 0xC4 => // DHT: (Tc,Th) + 16 counts + symbols, exact tile
                var off = 0
                while (off < plen) {
                  val tcth = u8(p + off)
                  if ((tcth >> 4) > 1 || (tcth & 0x0F) > 3) fail()
                  if (off + 17 > plen) fail()
                  var sum = 0
                  var k = 0
                  while (k < 16) { sum += u8(p + off + 1 + k); k += 1 }
                  if (off + 17 + sum > plen) fail()
                  nDht += 1
                  off += 17 + sum
                }
                if (off != plen) fail()
                dhtCrc.update(b, p, plen)
              case 0xDB => // DQT: (Pq,Tq) + 64/128 bytes, exact tile
                var off = 0
                while (off < plen) {
                  val pqtq = u8(p + off)
                  val pq = pqtq >> 4
                  if (pq > 1 || (pqtq & 0x0F) > 3) fail()
                  val sz = 1 + 64 * (pq + 1)
                  if (off + sz > plen) fail()
                  nDqt += 1
                  off += sz
                }
                if (off != plen) fail()
                dqtCrc.update(b, p, plen)
              case 0xDD => // DRI
                if (plen != 2) fail()
              case 0xDA => // SOS header, then the entropy-coded walk
                if (!sofSeen) fail()
                if (plen < 1) fail()
                val ns = u8(p)
                if (ns < 1 || ns > 4 || plen != 1 + 2 * ns + 3) fail()
                nScans += 1
                var j = i + len
                var done = false
                while (!done) {
                  if (j >= n) fail() // truncated mid-scan
                  if (u8(j) != 0xFF) { scanBytes += 1; j += 1 }
                  else {
                    val nx = u8(j + 1) // u8 bounds-checks
                    if (nx == 0x00) { scanBytes += 2; j += 2 }
                    else if (nx >= 0xD0 && nx <= 0xD7) {
                      nRst += 1; scanBytes += 2; j += 2
                    } else if (nx == 0xFF) { scanBytes += 1; j += 1 } // fill
                    else done = true
                  }
                }
                i = j - len // so the shared `i += len` lands on the marker
              case x if x >= 0xE0 && x <= 0xEF => // APPn
                if (x == 0xE0 && plen >= 5 &&
                    u8(p) == 'J' && u8(p + 1) == 'F' && u8(p + 2) == 'I' &&
                    u8(p + 3) == 'F' && u8(p + 4) == 0x00) jfif = true
                if (x == 0xE1 && plen >= 6 &&
                    u8(p) == 'E' && u8(p + 1) == 'x' && u8(p + 2) == 'i' &&
                    u8(p + 3) == 'f' && u8(p + 4) == 0x00 &&
                    u8(p + 5) == 0x00) exif = true
              case 0xFE => () // COM
              case _ => fail()
            }
            nSegments += 1
            i += len
        }
      }
      if (i != n) fail() // trailing bytes after EOI break the tiling
      if (!sofSeen || nScans < 1) fail()
    } catch { case _: Malformed => return null }
    InternalRow(width, height, precision, nComp, progressive, nSegments,
      nDqt, dqtCrc.getValue, nDht, dhtCrc.getValue, jfif, exif,
      nScans, scanBytes, nRst)
  }
}

/** Full BASELINE JPEG decode (q316) — the layer past q315's segment
  * walk: canonical Huffman tables built from the file's own DHT
  * segments (Annex C), Annex-F DC-difference/AC-run-length entropy
  * decode with byte unstuffing and restart-marker sequence validation,
  * zigzag dequantization against the file's DQT, and a FIXED-POINT
  * integer IDCT whose 8×8 cosine matrix is embedded as the same
  * literals in tools/gen_jpeg_decode_fixtures.py — integer-only
  * arithmetic end to end, so the decoder and the fixture generator
  * cannot drift by a ULP (the q246 shared-constant discipline applied
  * to a whole transform).
  *
  * Supported profile (anything else decodes to null, never garbage):
  * SOF0 baseline, 8-bit precision, ONE component (grayscale), 1×1
  * sampling, single full scan (Ss=0, Se=63, Ah=Al=0), dimensions in
  * whole 8×8 blocks, optional DRI. Malformed entropy data — a Huffman
  * code outside the table, an AC run past index 63, a restart marker
  * out of sequence, EOF mid-block — voids the file (corrupt_acrun.jpg
  * plants the run-overflow case). Output is the decoded pixel surface
  * as exact statistics + CRC32 over the row-major bytes, so the oracle
  * pins every pixel without shipping pixels through the shuffle.
  */
object JpegPixels {

  /** round(1024·c(u)·cos((2x+1)uπ/16)), c(0)=1/√2 — keep byte-identical
    * with tools/gen_jpeg_decode_fixtures.py K. `private[graft]` so
    * JpegScale's expected-side pixel math provably uses the SAME matrix
    * (the writer's entropy/Huffman layer stays fully independent). */
  private[graft] val K: Array[Array[Int]] = Array(
    Array(724, 1004, 946, 851, 724, 569, 392, 200),
    Array(724, 851, 392, -200, -724, -1004, -946, -569),
    Array(724, 569, -392, -1004, -724, 200, 946, 851),
    Array(724, 200, -946, -569, 724, 851, -392, -1004),
    Array(724, -200, -946, 569, 724, -851, -392, 1004),
    Array(724, -569, -392, 1004, -724, -200, 946, -851),
    Array(724, -851, 392, 200, -724, 1004, -946, 569),
    Array(724, -1004, 946, -851, 724, -569, 392, -200))

  private[graft] val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26,
    33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56,
    57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45, 38,
    31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val MaxPixels = 16L * 1024 * 1024 // allocation cap

  private[functions] final class Malformed
      extends Exception(null, null, false, false)
  private def fail(): Nothing = throw new Malformed

  /** Canonical Huffman decode table (Annex C/F): symbol by (len, code). */
  private[functions] final class Huff(counts: Array[Int], syms: Array[Int]) {
    // mincode/maxcode/valptr per code length 1..16 (Annex F.2.2.3)
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var ln = 1
      while (ln <= 16) {
        if (counts(ln - 1) == 0) maxCode(ln) = -1
        else {
          valPtr(ln) = k
          minCode(ln) = code
          code += counts(ln - 1)
          k += counts(ln - 1)
          maxCode(ln) = code - 1
        }
        code <<= 1
        ln += 1
      }
    }
    def decode(br: BitReader): Int = {
      var ln = 1
      var code = br.bit()
      while (ln <= 16 && (maxCode(ln) < 0 || code > maxCode(ln))) {
        code = (code << 1) | br.bit()
        ln += 1
      }
      if (ln > 16) fail()
      syms(valPtr(ln) + code - minCode(ln))
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with FF00
    * unstuffing; any other marker inside bit-reading is malformed. */
  private[functions] final class BitReader(b: Array[Byte], var i: Int, n: Int) {
    private var acc = 0
    private var nb = 0
    def alignToMarker(): Unit = { acc = 0; nb = 0 }
    def bit(): Int = {
      if (nb == 0) {
        if (i >= n) fail()
        val v = b(i) & 0xFF; i += 1
        if (v == 0xFF) {
          if (i >= n || (b(i) & 0xFF) != 0x00) fail()
          i += 1
        }
        acc = v; nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def bits(k: Int): Int = {
      var v = 0; var j = 0
      while (j < k) { v = (v << 1) | bit(); j += 1 }
      v
    }
  }

  private[functions] def extend(r: Int, s: Int): Int =
    if (s == 0) 0 else if (r >= (1 << (s - 1))) r else r - (1 << s) + 1

  /** Shared pixel surface + stats accumulator: ONE fixed-point IDCT
    * serves the baseline (q316) and progressive (q326) entropy layers —
    * the layers differ only in how the coefficient matrix is assembled,
    * never in how it renders. */
  private[functions] final class Surface(val width: Int, val height: Int) {
    val px = new Array[Byte](width * height)
    var pMin = 255L; var pMax = 0L; var pSum = 0L; var pSq = 0L
    /** Render one DEQUANTIZED 8×8 block (natural order) at block (by, bx)
      * — the q316 integer IDCT verbatim. */
    def idct(m: Array[Array[Long]], by: Int, bx: Int): Unit = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0L
          var a = 0
          while (a < 8) {
            if (K(y)(a) != 0) {
              var inner = 0L
              var c = 0
              while (c < 8) { inner += K(x)(c) * m(a)(c); c += 1 }
              acc += K(y)(a) * inner
            }
            a += 1
          }
          var v = 128L + ((acc + (1L << 21)) >> 22)
          if (v < 0) v = 0
          if (v > 255) v = 255
          px((by * 8 + y) * width + bx * 8 + x) = v.toByte
          if (v < pMin) pMin = v
          if (v > pMax) pMax = v
          pSum += v
          pSq += v * v
          x += 1
        }
        y += 1
      }
    }
    def crc32: Long = {
      val c = new java.util.zip.CRC32
      c.update(px)
      c.getValue
    }
  }

  /** struct(width, height, n_blocks, n_rst, px_min, px_max, px_sum,
    * px_sqsum, px_crc32) or null (keep in sync with
    * tools/gen_jpeg_decode_fixtures.py). */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    val n = b.length
    def u8(k: Int): Int = { if (k >= n) fail(); b(k) & 0xFF }
    def be16(k: Int): Int = { if (k + 1 >= n) fail(); (u8(k) << 8) | u8(k + 1) }
    try {
      var i = 2
      var width = -1; var height = -1
      val qtables = new Array[Array[Int]](4) // DQT tables by id
      var qt: Array[Int] = null // single-component profile: one table id
      var qtId = -1
      val huffDc = new Array[Huff](4)
      val huffAc = new Array[Huff](4)
      var rstInterval = 0
      var sofSeen = false
      // ---- header segment walk up to SOS --------------------------------
      var sosAt = -1
      var dcSel = -1; var acSel = -1
      while (sosAt < 0) {
        if (u8(i) != 0xFF) fail()
        while (u8(i) == 0xFF) i += 1
        val m = u8(i); i += 1
        if (m == 0xD9 || m == 0xD8 || m <= 0xBF) fail() // EOI/SOI/reserved pre-scan
        val len = be16(i)
        if (len < 2 || i + len > n) fail()
        val p = i + 2
        val plen = len - 2
        m match {
          case 0xC0 =>
            if (sofSeen || plen != 9) fail() // 1 component only
            sofSeen = true
            if (u8(p) != 8) fail()
            height = be16(p + 1); width = be16(p + 3)
            if (u8(p + 5) != 1) fail()
            if (u8(p + 7) != 0x11) fail() // 1x1 sampling
            qtId = u8(p + 8)
            if (width < 1 || height < 1 || width % 8 != 0 || height % 8 != 0)
              fail()
            if (width.toLong * height > MaxPixels) fail()
          case 0xC4 =>
            var off = 0
            while (off < plen) {
              val tcth = u8(p + off)
              val tc = tcth >> 4; val th = tcth & 0x0F
              if (tc > 1 || th > 3 || off + 17 > plen) fail()
              val counts = new Array[Int](16)
              var sum = 0
              var k = 0
              while (k < 16) { counts(k) = u8(p + off + 1 + k); sum += counts(k); k += 1 }
              if (off + 17 + sum > plen) fail()
              val syms = new Array[Int](sum)
              k = 0
              while (k < sum) { syms(k) = u8(p + off + 17 + k); k += 1 }
              val h = new Huff(counts, syms)
              if (tc == 0) huffDc(th) = h else huffAc(th) = h
              off += 17 + sum
            }
            if (off != plen) fail()
          case 0xDB =>
            var off = 0
            while (off < plen) {
              val pqtq = u8(p + off)
              if ((pqtq >> 4) > 1 || (pqtq & 0x0F) > 3) fail()
              val sz = 64 * ((pqtq >> 4) + 1)
              if (off + 1 + sz > plen) fail()
              if ((pqtq >> 4) == 0) { // 8-bit table (the supported profile)
                val t = new Array[Int](64)
                var k = 0
                while (k < 64) { t(k) = u8(p + off + 1 + k); k += 1 }
                // stored by id: DQT legally arrives before OR after SOF,
                // so the SOF's table ref resolves after the header walk
                qtables(pqtq & 0x0F) = t
              }
              off += 1 + sz
            }
            if (off != plen) fail()
          case 0xDD =>
            if (plen != 2) fail()
            rstInterval = be16(p)
          case 0xDA =>
            if (!sofSeen || plen != 6) fail()
            if (u8(p) != 1) fail()
            dcSel = u8(p + 2) >> 4; acSel = u8(p + 2) & 0x0F
            if (u8(p + 3) != 0 || u8(p + 4) != 63 || u8(p + 5) != 0) fail()
            sosAt = i + len
          case x if x >= 0xE0 && x <= 0xEF => ()
          case 0xFE => ()
          case _ => fail()
        }
        i += len
      }
      qt = qtables(qtId)
      if (qt == null) fail()
      val dcH = huffDc(dcSel); val acH = huffAc(acSel)
      if (dcH == null || acH == null) fail()
      // ---- entropy decode + IDCT ----------------------------------------
      val bw = width / 8; val bh = height / 8
      val nBlocks = bw * bh
      val surf = new Surface(width, height)
      var br = new BitReader(b, sosAt, n)
      var pred = 0
      var nRst = 0L
      val m = Array.ofDim[Long](8, 8)
      var bi = 0
      while (bi < nBlocks) {
        if (rstInterval > 0 && bi > 0 && bi % rstInterval == 0) {
          val at = br.i
          if (u8(at) != 0xFF || u8(at + 1) != 0xD0 + (nRst % 8)) fail()
          br = new BitReader(b, at + 2, n)
          nRst += 1
          pred = 0
        }
        var r = 0
        while (r < 8) { java.util.Arrays.fill(m(r), 0L); r += 1 }
        val s0 = dcH.decode(br)
        if (s0 > 11) fail()
        pred += extend(br.bits(s0), s0)
        // a legal 8-bit baseline DC never leaves ±(255·16)·... keep the
        // IDCT accumulator far from Long range under adversarial drift
        if (pred < -65536 || pred > 65536) fail()
        m(0)(0) = pred.toLong * qt(0)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val sym = acH.decode(br)
          if (sym == 0x00) eob = true
          else if (sym == 0xF0) { k += 16; if (k > 64) fail() }
          else {
            k += sym >> 4
            val s = sym & 0x0F
            if (s == 0 || k > 63) fail()
            val v = extend(br.bits(s), s)
            m(ZZ(k) / 8)(ZZ(k) % 8) = v.toLong * qt(k)
            k += 1
          }
        }
        // fixed-point IDCT — identical integer ops to the generator
        surf.idct(m, bi / bw, bi % bw)
        bi += 1
      }
      // ---- trailer: byte-align, then EOI must close the file exactly ----
      var j = br.i
      if (u8(j) != 0xFF) fail()
      while (u8(j) == 0xFF) j += 1
      if (u8(j) != 0xD9) fail()
      if (j + 1 != n) fail()
      InternalRow(width.toLong, height.toLong, nBlocks.toLong, nRst,
        surf.pMin, surf.pMax, surf.pSum, surf.pSq, surf.crc32)
    } catch { case _: Malformed => null }
  }
}

/** jpeg_info(content) -> struct<...> or null (see [[JpegInfo.decode]]). */
case class JpegInfoExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("precision", LongType, nullable = false),
    StructField("n_components", LongType, nullable = false),
    StructField("progressive", BooleanType, nullable = false),
    StructField("n_segments", LongType, nullable = false),
    StructField("n_dqt", LongType, nullable = false),
    StructField("dqt_crc32", LongType, nullable = false),
    StructField("n_dht", LongType, nullable = false),
    StructField("dht_crc32", LongType, nullable = false),
    StructField("jfif", BooleanType, nullable = false),
    StructField("exif", BooleanType, nullable = false),
    StructField("n_scans", LongType, nullable = false),
    StructField("scan_bytes", LongType, nullable = false),
    StructField("n_rst", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_info"

  override def nullSafeEval(v: Any): Any =
    JpegInfo.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.JpegInfo.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** EXIF IFD walk (q319) — the metadata layer crawl pipelines actually
  * consult before pixels (orientation decides whether width/height swap
  * at render): locate the APP1 "Exif\0\0" segment with a light marker
  * walk, then parse the embedded TIFF structure — byte order (II/MM —
  * every multi-byte field swaps with it), magic 42, IFD0 entry walk
  * (tag, type, count, value-or-offset with the ≤4-bytes-inline rule),
  * extracting Orientation (0x0112 SHORT), ImageWidth/ImageLength
  * (0x0100/0x0101 SHORT or LONG) and Make (0x010F ASCII, offset-stored
  * when longer than 4 bytes, trailing NUL stripped). All offsets are
  * TIFF-header-relative and bounds-checked against the SEGMENT — a
  * malformed IFD voids the result, it can never read past the APP1
  * payload. Missing tags surface as null FIELDS (an IFD without an
  * orientation is common and valid); a file without a valid Exif APP1
  * returns null. Oracle = the generator's builder-intent manifest
  * (manifest_exif.csv), both byte orders committed. */
object JpegExif {

  private final class Malformed extends Exception(null, null, false, false)
  private def fail(): Nothing = throw new Malformed

  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    val n = b.length
    def u8(k: Int): Int = { if (k < 0 || k >= n) fail(); b(k) & 0xFF }
    try {
      // light marker walk to the APP1 Exif segment (stop at SOS/EOI)
      var i = 2
      var p0 = -1
      var plen = -1
      while (p0 < 0) {
        if (u8(i) != 0xFF) fail()
        while (u8(i) == 0xFF) i += 1
        val m = u8(i); i += 1
        if (m == 0xD9 || m == 0xDA) return null // no EXIF before scan
        if (m == 0xD8 || m <= 0xBF) fail()
        val len = ((u8(i) << 8) | u8(i + 1))
        if (len < 2 || i + len > n) fail()
        if (m == 0xE1 && len >= 8 + 6 &&
            u8(i + 2) == 'E' && u8(i + 3) == 'x' && u8(i + 4) == 'i' &&
            u8(i + 5) == 'f' && u8(i + 6) == 0 && u8(i + 7) == 0) {
          p0 = i + 8 // TIFF header start
          plen = len - 2 - 6
        }
        i += len
      }
      // TIFF parse, all offsets relative to p0, bounded by plen
      def tu8(k: Int): Int = { if (k < 0 || k + 1 > plen) fail(); b(p0 + k) & 0xFF }
      val little = (tu8(0), tu8(1)) match {
        case (0x49, 0x49) => true
        case (0x4D, 0x4D) => false
        case _ => fail()
      }
      def u16(k: Int): Int =
        if (little) tu8(k) | (tu8(k + 1) << 8) else (tu8(k) << 8) | tu8(k + 1)
      def u32(k: Int): Long =
        if (little)
          tu8(k).toLong | (tu8(k + 1).toLong << 8) |
            (tu8(k + 2).toLong << 16) | (tu8(k + 3).toLong << 24)
        else
          (tu8(k).toLong << 24) | (tu8(k + 1).toLong << 16) |
            (tu8(k + 2).toLong << 8) | tu8(k + 3).toLong
      if (u16(2) != 42) fail()
      val ifd = u32(4)
      if (ifd < 8 || ifd + 2 > plen) fail()
      val cnt = u16(ifd.toInt)
      if (ifd + 2 + 12L * cnt + 4 > plen) fail()
      var orientation: java.lang.Long = null
      var widthTag: java.lang.Long = null
      var heightTag: java.lang.Long = null
      var make: org.apache.spark.unsafe.types.UTF8String = null
      var e = 0
      while (e < cnt) {
        val at = ifd.toInt + 2 + 12 * e
        val tag = u16(at)
        val typ = u16(at + 2)
        val c = u32(at + 4)
        val f = at + 8
        def intVal(): java.lang.Long =
          if (typ == 3 && c == 1) java.lang.Long.valueOf(u16(f).toLong)
          else if (typ == 4 && c == 1) java.lang.Long.valueOf(u32(f))
          else null
        tag match {
          case 0x0100 => widthTag = intVal()
          case 0x0101 => heightTag = intVal()
          case 0x0112 => orientation = intVal()
          case 0x010F if typ == 2 && c >= 1 && c <= 4096 =>
            val off = if (c <= 4) f.toLong else u32(f)
            if (off + c > plen) fail()
            var len = c.toInt
            while (len > 0 && tu8((off + len - 1).toInt) == 0) len -= 1
            val s = new Array[Byte](len)
            var k = 0
            while (k < len) { s(k) = b(p0 + off.toInt + k); k += 1 }
            make = org.apache.spark.unsafe.types.UTF8String.fromBytes(s)
          case _ => ()
        }
        e += 1
      }
      InternalRow(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(if (little) "II" else "MM"),
        cnt.toLong, orientation, widthTag, heightTag, make)
    } catch { case _: Malformed => null }
  }
}

/** COLOR baseline JPEG decode (q325) — the YCbCr 4:2:0 profile that
  * covers the vast majority of real photographic JPEGs, built on
  * q316's machinery (same canonical-Huffman build, same bit reader,
  * same fixed-point IDCT constants): interleaved MCU decode (16×16
  * pixels = 4 Y blocks in 2×2 raster + 1 Cb + 1 Cr), one DC predictor
  * PER COMPONENT (reset together at restart markers), per-component
  * quant tables, nearest-neighbor chroma upsampling (the decoder and
  * the generator define the SAME rule — the spec leaves interpolation
  * open, parity requires pinning one), and integer JFIF color
  * conversion with 2^16-scaled constants shared as literals with the
  * generator (91881/22554/46802/116130 — round(1.402/0.344136/
  * 0.714136/1.772 · 65536)), so the RGB surface is bit-exact by
  * construction. Supported profile: SOF0, 8-bit, EXACTLY (Y 2×2, Cb
  * 1×1, Cr 1×1), single interleaved scan, dimensions in whole MCUs,
  * optional DRI; anything else — including q316's grayscale files —
  * voids here (and color files void under jpeg_pixels: the two
  * profiles split exactly, spec-pinned). Output: RGB pixel statistics
  * + CRC32 over the row-major (r,g,b) bytes — every subpixel pinned,
  * none shuffled. */
object JpegRgb {

  // JFIF YCbCr→RGB in 2^16 fixed point — keep byte-identical with
  // tools/gen_jpeg_decode_fixtures.py color constants. private[functions]
  // so the progressive color layer (JpegProgColor) provably converts
  // through the SAME literals.
  private[functions] val CrR = 91881
  private[functions] val CbG = 22554
  private[functions] val CrG = 46802
  private[functions] val CbB = 116130

  private def fail(): Nothing = throw new JpegPixels.Malformed

  /** struct(width, height, n_mcus, n_rst, px_min, px_max, px_sum,
    * px_sqsum, px_crc32) or null (keep in sync with the generator's
    * color path — all nine fields). */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    val n = b.length
    def u8(k: Int): Int = { if (k >= n) fail(); b(k) & 0xFF }
    def be16(k: Int): Int = { if (k + 1 >= n) fail(); (u8(k) << 8) | u8(k + 1) }
    try {
      var i = 2
      var width = -1; var height = -1
      val qtables = new Array[Array[Int]](4)
      val huffDc = new Array[JpegPixels.Huff](4)
      val huffAc = new Array[JpegPixels.Huff](4)
      val tqOf = new Array[Int](3)
      val dcSel = new Array[Int](3)
      val acSel = new Array[Int](3)
      var rstInterval = 0
      var sofSeen = false
      var sosAt = -1
      while (sosAt < 0) {
        if (u8(i) != 0xFF) fail()
        while (u8(i) == 0xFF) i += 1
        val m = u8(i); i += 1
        if (m == 0xD9 || m == 0xD8 || m <= 0xBF) fail()
        val len = be16(i)
        if (len < 2 || i + len > n) fail()
        val p = i + 2
        val plen = len - 2
        m match {
          case 0xC0 =>
            if (sofSeen || plen != 15) fail() // exactly 3 components
            sofSeen = true
            if (u8(p) != 8) fail()
            height = be16(p + 1); width = be16(p + 3)
            if (u8(p + 5) != 3) fail()
            // Y must be 2x2, chroma 1x1 — the 4:2:0 profile
            if (u8(p + 7) != 0x22 || u8(p + 10) != 0x11 ||
              u8(p + 13) != 0x11) fail()
            tqOf(0) = u8(p + 8); tqOf(1) = u8(p + 11); tqOf(2) = u8(p + 14)
            if (tqOf.exists(_ > 3)) fail()
            if (width < 1 || height < 1 || width % 16 != 0 ||
              height % 16 != 0) fail()
            if (width.toLong * height > 16L * 1024 * 1024) fail()
          case 0xC4 =>
            var off = 0
            while (off < plen) {
              val tcth = u8(p + off)
              val tc = tcth >> 4; val th = tcth & 0x0F
              if (tc > 1 || th > 3 || off + 17 > plen) fail()
              val counts = new Array[Int](16)
              var sum = 0
              var k = 0
              while (k < 16) { counts(k) = u8(p + off + 1 + k); sum += counts(k); k += 1 }
              if (off + 17 + sum > plen) fail()
              val syms = new Array[Int](sum)
              k = 0
              while (k < sum) { syms(k) = u8(p + off + 17 + k); k += 1 }
              val h = new JpegPixels.Huff(counts, syms)
              if (tc == 0) huffDc(th) = h else huffAc(th) = h
              off += 17 + sum
            }
            if (off != plen) fail()
          case 0xDB =>
            var off = 0
            while (off < plen) {
              val pqtq = u8(p + off)
              if ((pqtq >> 4) > 1 || (pqtq & 0x0F) > 3) fail()
              val sz = 64 * ((pqtq >> 4) + 1)
              if (off + 1 + sz > plen) fail()
              if ((pqtq >> 4) == 0) {
                val t = new Array[Int](64)
                var k = 0
                while (k < 64) { t(k) = u8(p + off + 1 + k); k += 1 }
                qtables(pqtq & 0x0F) = t
              }
              off += 1 + sz
            }
            if (off != plen) fail()
          case 0xDD =>
            if (plen != 2) fail()
            rstInterval = be16(p)
          case 0xDA =>
            if (!sofSeen || plen != 10) fail() // 1 + 2*3 + 3
            if (u8(p) != 3) fail()
            var c = 0
            while (c < 3) {
              dcSel(c) = u8(p + 2 + 2 * c) >> 4
              acSel(c) = u8(p + 2 + 2 * c) & 0x0F
              c += 1
            }
            if (u8(p + 7) != 0 || u8(p + 8) != 63 || u8(p + 9) != 0) fail()
            sosAt = i + len
          case x if x >= 0xE0 && x <= 0xEF => ()
          case 0xFE => ()
          case _ => fail()
        }
        i += len
      }
      val qt = tqOf.map(q => { val t = qtables(q); if (t == null) fail(); t })
      val dcH = dcSel.map(s => { val h = huffDc(s); if (h == null) fail(); h })
      val acH = acSel.map(s => { val h = huffAc(s); if (h == null) fail(); h })
      // ---- interleaved MCU decode ---------------------------------------
      val K = JpegPixels.K
      val ZZ = JpegPixels.ZZ
      val mcuW = width / 16; val mcuH = height / 16
      val nMcus = mcuW * mcuH
      var br = new JpegPixels.BitReader(b, sosAt, n)
      val pred = new Array[Int](3)
      var nRst = 0L
      val m = Array.ofDim[Long](8, 8)
      val blk = new Array[Int](64)
      // decode one 8x8 block of component c into `blk` (natural order px)
      def decodeBlock(c: Int): Unit = {
        var r = 0
        while (r < 8) { java.util.Arrays.fill(m(r), 0L); r += 1 }
        val s0 = dcH(c).decode(br)
        if (s0 > 11) fail()
        pred(c) += JpegPixels.extend(br.bits(s0), s0)
        if (pred(c) < -65536 || pred(c) > 65536) fail()
        m(0)(0) = pred(c).toLong * qt(c)(0)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val sym = acH(c).decode(br)
          if (sym == 0x00) eob = true
          else if (sym == 0xF0) { k += 16; if (k > 64) fail() }
          else {
            k += sym >> 4
            val s = sym & 0x0F
            if (s == 0 || k > 63) fail()
            val v = JpegPixels.extend(br.bits(s), s)
            m(ZZ(k) / 8)(ZZ(k) % 8) = v.toLong * qt(c)(k)
            k += 1
          }
        }
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            var acc = 0L
            var a = 0
            while (a < 8) {
              var inner = 0L
              var cc = 0
              while (cc < 8) { inner += K(x)(cc) * m(a)(cc); cc += 1 }
              acc += K(y)(a) * inner
              a += 1
            }
            var v = 128L + ((acc + (1L << 21)) >> 22)
            if (v < 0) v = 0
            if (v > 255) v = 255
            blk(y * 8 + x) = v.toInt
            x += 1
          }
          y += 1
        }
      }
      val rgb = new Array[Byte](width * height * 3)
      val yTile = new Array[Int](256)
      val cbT = new Array[Int](64)
      val crT = new Array[Int](64)
      var pMin = 255L; var pMax = 0L; var pSum = 0L; var pSq = 0L
      var mi = 0
      while (mi < nMcus) {
        if (rstInterval > 0 && mi > 0 && mi % rstInterval == 0) {
          val at = br.i
          if (u8(at) != 0xFF || u8(at + 1) != 0xD0 + (nRst % 8)) fail()
          br = new JpegPixels.BitReader(b, at + 2, n)
          nRst += 1
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        // 4 Y blocks in 2x2 raster, then Cb, Cr
        var t = 0
        while (t < 4) {
          decodeBlock(0)
          val oy = (t / 2) * 8; val ox = (t % 2) * 8
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              yTile((oy + y) * 16 + ox + x) = blk(y * 8 + x)
              x += 1
            }
            y += 1
          }
          t += 1
        }
        decodeBlock(1); System.arraycopy(blk, 0, cbT, 0, 64)
        decodeBlock(2); System.arraycopy(blk, 0, crT, 0, 64)
        val my = mi / mcuW; val mx = mi % mcuW
        var py = 0
        while (py < 16) {
          var px = 0
          while (px < 16) {
            val yv = yTile(py * 16 + px)
            val cb = cbT((py / 2) * 8 + px / 2) - 128
            val cr = crT((py / 2) * 8 + px / 2) - 128
            var r = yv + ((CrR * cr + 32768) >> 16)
            var g = yv - ((CbG * cb + CrG * cr + 32768) >> 16)
            var bl = yv + ((CbB * cb + 32768) >> 16)
            if (r < 0) r = 0; if (r > 255) r = 255
            if (g < 0) g = 0; if (g > 255) g = 255
            if (bl < 0) bl = 0; if (bl > 255) bl = 255
            val base = ((my * 16 + py) * width + mx * 16 + px) * 3
            rgb(base) = r.toByte; rgb(base + 1) = g.toByte
            rgb(base + 2) = bl.toByte
            var q = 0
            while (q < 3) {
              val v = (rgb(base + q) & 0xFF).toLong
              if (v < pMin) pMin = v
              if (v > pMax) pMax = v
              pSum += v; pSq += v * v
              q += 1
            }
            px += 1
          }
          py += 1
        }
        mi += 1
      }
      // trailer: byte-align, EOI closes the file exactly
      var j = br.i
      if (u8(j) != 0xFF) fail()
      while (u8(j) == 0xFF) j += 1
      if (u8(j) != 0xD9) fail()
      if (j + 1 != n) fail()
      val crc = new java.util.zip.CRC32
      crc.update(rgb)
      InternalRow(width.toLong, height.toLong, nMcus.toLong, nRst,
        pMin, pMax, pSum, pSq, crc.getValue)
    } catch { case _: JpegPixels.Malformed => null }
  }
}

/** jpeg_rgb(content) -> struct<width, height, n_mcus, n_rst, px_min,
  * px_max, px_sum, px_sqsum, px_crc32> or null (see [[JpegRgb.decode]]). */
case class JpegRgbExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_mcus", LongType, nullable = false),
    StructField("n_rst", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_sqsum", LongType, nullable = false),
    StructField("px_crc32", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_rgb"

  override def nullSafeEval(v: Any): Any =
    JpegRgb.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.JpegRgb.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** jpeg_exif(content) -> struct<byte_order, n_entries, orientation,
  * width_tag, height_tag, make> or null (see [[JpegExif.decode]]). */
case class JpegExifExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("byte_order", StringType, nullable = false),
    StructField("n_entries", LongType, nullable = false),
    StructField("orientation", LongType, nullable = true),
    StructField("width_tag", LongType, nullable = true),
    StructField("height_tag", LongType, nullable = true),
    StructField("make", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_exif"

  override def nullSafeEval(v: Any): Any =
    JpegExif.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.JpegExif.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** jpeg_pixels(content) -> struct<width, height, n_blocks, n_rst,
  * px_min, px_max, px_sum, px_sqsum, px_crc32> or null
  * (see [[JpegPixels.decode]]). */
case class JpegPixelsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_rst", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_sqsum", LongType, nullable = false),
    StructField("px_crc32", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_pixels"

  override def nullSafeEval(v: Any): Any =
    JpegPixels.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.JpegPixels.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
