package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass parser for a 1BRC line `station;d?d.d` -> struct(station,
  * measure): one scan over the bytes, fixed-point digit parse — the
  * Spark-expression form of the reference's byte tokenizers
  * (rust_1brc/src/thebracket.rs:46-110, rangnargrootkeorkamp.rs:80-107).
  *
  * The composed formulation (`substring_index` twice + cast) walks each
  * line three times and allocates two intermediate strings; this walks it
  * once and allocates only the station slice. Value domain: optional '-',
  * 1-3 integer digits, '.', one decimal digit. FIXTURES.md §1 documents
  * 1-2 integer digits, but the generator's Normal tails genuinely exceed
  * ±100 (e.g. "Chittagong;103.4" at 1e9 rows — mean up to ~31 plus a
  * ~17-sd tail), so the honest domain is |v| < 1000; R5's 2-digit byte
  * shapes (rangnargrootkeorkamp.rs:29-31) are a known reference bet, not
  * the contract. Malformed measures yield null (DROPMALFORMED-style).
  */
object BrcParse {
  /** @return measure in integer tenths, or Long.MinValue if malformed.
    * Accepted domain: optional '-', 1-3 integer digits, then either
    * nothing (integer form, scaled ×10) or '.' plus exactly one decimal
    * digit. A trailing dot ("12.") and 4+ integer digits are malformed —
    * they'd otherwise coerce silently. */
  def parseTenths(bytes: Array[Byte], from: Int): Long =
    parseTenthsRange(bytes, from, bytes.length)

  def sepIndex(bytes: Array[Byte]): Int = {
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ';') return i; i += 1 }
    -1
  }

  /** parseTenths over an explicit [from, until) byte window — the form the
    * buffer-at-a-time DataSource V2 reader needs (graft.sources.Brc). */
  def parseTenthsRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var i = from
    if (i >= until) return Long.MinValue
    var neg = false
    if (bytes(i) == '-') { neg = true; i += 1 }
    var v = 0L; var digits = 0; var seenDot = false; var frac = 0
    while (i < until) {
      val b = bytes(i)
      if (b >= '0' && b <= '9') {
        v = v * 10 + (b - '0'); digits += 1
        if (seenDot) frac += 1
      } else if (b == '.' && !seenDot) seenDot = true
      else return Long.MinValue
      i += 1
    }
    if (digits == 0 || frac > 1) return Long.MinValue
    if (seenDot && frac == 0) return Long.MinValue
    if (digits - frac < 1 || digits - frac > 3) return Long.MinValue
    if (!seenDot) v *= 10
    if (neg) -v else v
  }

  // --- zero-copy variants over UTF8String (no getBytes line copy) ---------

  def sepIndexU(s: UTF8String): Int = {
    val n = s.numBytes; var i = 0
    while (i < n) { if (s.getByte(i) == ';') return i; i += 1 }
    -1
  }

  /** Same domain as parseTenthsRange, reading the UTF8String bytes in
    * place (getByte accessor, no array copy). Kept as a parallel body
    * because it is the codegen hot path; any domain change here must also
    * land in parseTenthsRange — divergence is caught by the exhaustive
    * OneBrcSpec domain test plus BrcScale's full-scale cross-path check. */
  def parseTenthsU(s: UTF8String, from: Int): Long = {
    val n = s.numBytes
    var i = from
    if (i >= n) return Long.MinValue
    var neg = false
    if (s.getByte(i) == '-') { neg = true; i += 1 }
    var v = 0L; var digits = 0; var seenDot = false; var frac = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= '0' && b <= '9') {
        v = v * 10 + (b - '0'); digits += 1
        if (seenDot) frac += 1
      } else if (b == '.' && !seenDot) seenDot = true
      else return Long.MinValue
      i += 1
    }
    if (digits == 0 || frac > 1) return Long.MinValue
    if (seenDot && frac == 0) return Long.MinValue
    if (digits - frac < 1 || digits - frac > 3) return Long.MinValue
    if (!seenDot) v *= 10
    if (neg) -v else v
  }

  /** station prefix as an exact-size single copy (the ONE allocation a
    * hash-agg key fundamentally needs — the reference borrows slices,
    * rust_1brc/src/rangnargrootkeorkamp.rs:92-99; Spark's agg map copies
    * keys into its own memory, so a transient exact-size copy is the
    * Spark-safe equivalent). null when no ';' is present. */
  def stationOfU(s: UTF8String): UTF8String = {
    val sep = sepIndexU(s)
    if (sep < 0) return null
    val dst = new Array[Byte](sep)
    org.apache.spark.unsafe.Platform.copyMemory(
      s.getBaseObject, s.getBaseOffset, dst,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, sep.toLong)
    UTF8String.fromBytes(dst)
  }

  /** measure in integer tenths after the first ';', or Long.MinValue. */
  def tenthsOfU(s: UTF8String): Long = {
    val sep = sepIndexU(s)
    if (sep < 0) Long.MinValue else parseTenthsU(s, sep + 1)
  }

  /** station slice, or null when no ';' is present */
  def station(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val sep = sepIndex(bytes)
    if (sep < 0) null else UTF8String.fromBytes(bytes, 0, sep)
  }

  /** measure as double, or null (boxed) when malformed */
  def measure(s: UTF8String): java.lang.Double = {
    val bytes = s.getBytes
    val sep = sepIndex(bytes)
    if (sep < 0) return null
    val t = parseTenths(bytes, sep + 1)
    if (t == Long.MinValue) null else java.lang.Double.valueOf(t / 10.0)
  }
}

/** brc_parse(line) -> struct<station string, measure double>. */
case class BrcParseLine(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("station", StringType), StructField("measure", DoubleType)))
  override def prettyName: String = "brc_parse"

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val sep = BrcParse.sepIndex(bytes)
    if (sep < 0) return InternalRow(null, null)
    val t = BrcParse.parseTenths(bytes, sep + 1)
    InternalRow(UTF8String.fromBytes(bytes, 0, sep),
      if (t == Long.MinValue) null else (t / 10.0): java.lang.Double)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes"); val sep = ctx.freshName("sep")
      val t = ctx.freshName("t"); val row = ctx.freshName("row")
      s"""
         |byte[] $bytes = $s.getBytes();
         |int $sep = graft.functions.BrcParse.sepIndex($bytes);
         |Object[] $row = new Object[2];
         |if ($sep >= 0) {
         |  $row[0] = org.apache.spark.unsafe.types.UTF8String.fromBytes($bytes, 0, $sep);
         |  long $t = graft.functions.BrcParse.parseTenths($bytes, $sep + 1);
         |  if ($t != Long.MIN_VALUE) { $row[1] = (Double) ($t / 10.0); }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($row);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** brc_station(line) -> string: the key slice, one exact-size allocation,
  * no struct row and no full-line byte copy (vs brc_parse: the measure
  * side of the hot path allocates nothing at all — see BrcTenths). */
case class BrcStation(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "brc_station"

  override def nullSafeEval(v: Any): Any =
    BrcParse.stationOfU(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.BrcParse.stationOfU($s);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** brc_tenths(line) -> long: the measure in integer tenths (R4/R5
  * fixed-point semantics) as a PRIMITIVE — zero allocation, no boxing, no
  * intermediate struct, reading the UTF8String bytes in place. Feeds the
  * pure-integer aggregation path (OneBrc.brcAggTenths). */
case class BrcTenths(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "brc_tenths"

  override def nullSafeEval(v: Any): Any = {
    val t = BrcParse.tenthsOfU(v.asInstanceOf[UTF8String])
    if (t == Long.MinValue) null else t
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.BrcParse.tenthsOfU($s);
         |${ev.isNull} = (${ev.value} == Long.MIN_VALUE);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
