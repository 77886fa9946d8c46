package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one table of graft's SQL functions. Two readers:
  *
  *  - [[graft.GraftExtensions]] injects every entry, so a session built
  *    with `spark.sql.extensions=graft.GraftExtensions` has them from
  *    config alone;
  *  - [[install]] puts every entry into one live session's registry. It
  *    runs in `graft.Sessions.local`, in `Tables.sessionClone` (a clone
  *    starts with a fresh registry) and around each `SparkEntry.queries`
  *    body (a caller's own session may have none).
  *
  * `lsh_bands` is not here: it binds a concrete hyperplane matrix, so it
  * stays programmatic (`VectorExpressions.registerLsh`). */
object Functions {

  /** `cls` names the expression for `DESCRIBE FUNCTION`. */
  final case class Entry(name: String, cls: Class[_],
      build: Seq[Expression] => Expression)

  val table: Seq[Entry] = Seq(
    Entry("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    Entry("rolling_hash", classOf[RollingHash], e => RollingHash(e(0))),
    Entry("rolling_window_hashes", classOf[RollingWindowHashes],
      VectorExpressions.rollingWindowHashes),
    Entry("nfc_normalize", classOf[NfcNormalize], e => NfcNormalize(e(0))),
    Entry("brc_parse", classOf[BrcParseLine], e => BrcParseLine(e(0))),
    Entry("brc_station", classOf[BrcStation], e => BrcStation(e(0))),
    Entry("brc_tenths", classOf[BrcTenths], e => BrcTenths(e(0))),
    Entry("brc_stats", classOf[BrcStatsAgg], e => BrcStatsAgg(e(0))),
    Entry("kmv_sketch", classOf[KmvSketchAgg], e => KmvSketchAgg(e(0))),
    Entry("freq_sketch", classOf[FreqSketchAgg], e => FreqSketchAgg(e(0))),
    Entry("topk_rows", classOf[TopKRowsAgg], e => TopKRowsAgg(e(0), e(1))),
    // Spark's own runtime-filter bloom pair, exposed as SQL (see
    // BloomFunctions for why they aren't already)
    Entry("bloom_agg", classOf[BloomFilterAggregate], BloomFunctions.bloomAgg),
    Entry("might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    Entry("png_ihdr", classOf[PngIhdr], e => PngIhdr(e(0))),
    Entry("png_pixels", classOf[PngPixels], e => PngPixels(e(0))),
    Entry("png_ahash", classOf[PngAhash], e => PngAhash(e(0))),
    Entry("png_box2", classOf[PngBox2], e => PngBox2(e(0))),
    Entry("png_full", classOf[PngFullExpr], e => PngFullExpr(e(0))),
    Entry("wav_fmt", classOf[WavFmt], e => WavFmt(e(0))),
    Entry("wav_pcm", classOf[WavPcmStats], e => WavPcmStats(e(0))),
    Entry("wav_fingerprint", classOf[WavFingerprint], e => WavFingerprint(e(0))),
    Entry("wav_samples", classOf[WavSamples],
      e => WavSamples(e(0), e(1).eval().asInstanceOf[Number].intValue())),
    Entry("jpeg_info", classOf[JpegInfoExpr], e => JpegInfoExpr(e(0))),
    Entry("jpeg_pixels", classOf[JpegPixelsExpr], e => JpegPixelsExpr(e(0))),
    Entry("jpeg_exif", classOf[JpegExifExpr], e => JpegExifExpr(e(0))),
    Entry("jpeg_rgb", classOf[JpegRgbExpr], e => JpegRgbExpr(e(0))),
    Entry("jpeg_prog_pixels", classOf[JpegProgExpr], e => JpegProgExpr(e(0))),
    Entry("jpeg_prog_rgb", classOf[JpegProgRgbExpr], e => JpegProgRgbExpr(e(0))),
    Entry("gif_info", classOf[GifInfoExpr], e => GifInfoExpr(e(0))),
    Entry("gif_pixels", classOf[GifPixelsExpr], e => GifPixelsExpr(e(0))),
    Entry("gif_frames", classOf[GifFramesExpr], e => GifFramesExpr(e(0))),
    Entry("avi_hdr", classOf[AviHdr], e => AviHdr(e(0))),
    Entry("avi_sample_ahash", classOf[AviSampleAhash], e => AviSampleAhash(e(0))),
    Entry("avi_frame_ahashes", classOf[AviFrameAhashes], e => AviFrameAhashes(e(0))),
    Entry("pdf_text", classOf[PdfTextExpr], e => PdfTextExpr(e(0))),
    Entry("tar_entries", classOf[TarEntriesExpr], e => TarEntriesExpr(e(0))),
    Entry("zip_entries", classOf[ZipEntriesExpr], e => ZipEntriesExpr(e(0))),
    Entry("gzip_members", classOf[GzipMembersExpr], e => GzipMembersExpr(e(0))),
    Entry("warc_records", classOf[WarcRecordsExpr], e => WarcRecordsExpr(e(0))),
    Entry("utf8_stats", classOf[Utf8StatsExpr], e => Utf8StatsExpr(e(0))))

  /** Put every entry into `s`'s function registry. Idempotent, and cheap
    * enough (one registry put per entry) to run on every query. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    table.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}
