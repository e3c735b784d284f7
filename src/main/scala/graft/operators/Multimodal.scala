package graft.operators

import graft.model.Page
import graft.sources.PageSynth
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, exactly like the `html` column of
  * the pages table. The Spark-side machinery is real and tested — schema,
  * partition-preserving typed map, bounded per-row memory, batch shape.
  *
  * Real computations: content sniffing, byte count, xxhash64 content
  * hash, byte-histogram Shannon entropy, and — for raster containers
  * (png/jpg/gif/tiff/bmp) — HEADER-parsed width/height/decode_ok via
  * kernel.ImageHeader (pure-JVM, no codec). These are the triage columns
  * a 100 TB media crawl partitions and filters on before spending decode
  * cycles.
  *
  * Pixel decode: ALL FIVE raster formats decode for REAL
  * (kernel.PixelDecode — JDK zlib for PNG, raw BMP rows, from-scratch
  * GIF LZW, raw TIFF strips, and a from-scratch baseline-JPEG Huffman +
  * IDCT in kernel.JpegDecode), so thumbnails are genuine resampled
  * luma. The remaining seam is exotic variants (progressive JPEG,
  * compressed TIFF) and audio/video payloads — a real build plugs a
  * JNI/FFI codec or a Pandas UDF over mapInPandas into the same typed
  * map.
  */
object Multimodal {

  final case class MediaMeta(
      url: String,
      media_type: String, // sniffed: html | pdf | zip | empty | png | jpg | gif | tiff | bmp | bin
      n_bytes: Long,
      content_hash: Long, // xxhash64 of payload (dedup/triage key)
      entropy_m: Long,    // Shannon entropy of byte histogram, millibits
      width: Int,         // header-parsed (ImageHeader); 0 = not a raster / unparseable
      height: Int,        // header-parsed (ImageHeader)
      decode_ok: Boolean) // header parsed successfully

  /** The payload's type in the kernel's own dispatch order
    * (`ExtractKernel.extractRaw`): BOM strip, then empty → pdf → html with
    * the kernel's own tests, then the extension label the kernel names an
    * unsupported payload by (`ExtractKernel.sniffExtLabel`: zip, the
    * raster magic table, short `BM`). Html goes before the raster magics,
    * so a payload that matches a weak image magic but carries html markers
    * sniffs as the branch that extracts it; triage and extraction never
    * disagree about a payload.
    */
  def sniffType(raw: Array[Byte]): String = {
    import graft.kernel.ExtractKernel.{isPdf, looksHtml, sniffExtLabel, stripBom}
    val b = if (raw == null) Array.emptyByteArray else stripBom(raw)
    if (b.isEmpty) "empty"
    else if (isPdf(b)) "pdf"
    else if (looksHtml(b)) "html"
    else sniffExtLabel(b).drop(1)
  }

  /** Shannon entropy of the byte histogram, in millibits (integer → exact
    * cross-engine comparison; real triage metric: encrypted/compressed
    * payloads sit near 8000, text near 4500).
    */
  def entropyMillibits(b: Array[Byte]): Long = {
    if (b == null || b.isEmpty) return 0L
    val hist = new Array[Long](256)
    var i = 0
    while (i < b.length) { hist(b(i) & 0xff) += 1; i += 1 }
    var h = 0.0
    val n = b.length.toDouble
    i = 0
    while (i < 256) {
      if (hist(i) > 0) { val p = hist(i) / n; h -= p * math.log(p) }
      i += 1
    }
    math.round(h / math.log(2.0) * 1000.0)
  }

  /** Header decode: real width/height for raster containers, parsed from
    * the container header by kernel.ImageHeader. Non-raster payloads (or
    * malformed headers) get (0, 0, false). Pixel decode — the part that
    * needs a codec — is the documented seam in the object scaladoc.
    */
  def decodeDims(b: Array[Byte]): (Int, Int, Boolean) =
    graft.kernel.ImageHeader.parse(b)
      .map(d => (d.width, d.height, true))
      .getOrElse((0, 0, false))

  def metaOf(p: Page): MediaMeta = {
    val b = if (p.html == null) Array.emptyByteArray else p.html
    val (w, h, ok) = decodeDims(b)
    MediaMeta(p.url, sniffType(b), b.length.toLong,
      XxHash.hashBytes(b, 42L), entropyMillibits(b), w, h, ok)
  }

  /** Per-payload metadata extraction — narrow typed map, no shuffle. */
  def mediaMeta(s: SparkSession, dir: String): Dataset[MediaMeta] = {
    import s.implicits._
    PageSynth.pages(s, dir).map(metaOf)
  }

  /** Triage rollup: corpus composition by media type (the query a crawl
    * operator runs before scheduling decode budgets), from an
    * already-computed (or materialized) meta frame.
    */
  def mediaTriageFrom(meta: DataFrame): DataFrame =
    meta
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        round(avg(col("entropy_m")) / 1000.0, 2).as("avg_entropy_bits"),
        countDistinct(col("content_hash")).as("n_distinct_payloads"))
      .orderBy(col("media_type"))

  // ------------------------------------------------------------------
  // Resize (thumbnail) plumbing
  // ------------------------------------------------------------------

  /** Thumbnail long edge (pixels). */
  val ThumbMax = 8

  final case class Thumb(
      url: String, fmt: String, width: Int, height: Int,
      thumb_w: Int, thumb_h: Int, thumb: Array[Byte])

  /** Resize plumbing over raster payloads: aspect-correct thumbnail
    * dimensions computed from the REAL header-parsed width/height
    * (integer math, long edge = ThumbMax, short edge floor-scaled with a
    * 1px minimum), an exact-size grayscale output buffer, and a
    * partition-preserving typed map — the schema, batch shape, and
    * memory bound a production resize stage has.
    *
    * PIXEL SOURCE: all five raster formats decode for REAL
    * (kernel.PixelDecode — pure-JVM zlib + PNG filters, raw BMP rows,
    * from-scratch GIF LZW, raw + LZW TIFF strips, baseline AND
    * progressive JPEG Huffman+IDCT) and the thumbnail is genuine
    * box-resampled BT.601 luma. Payloads outside decode scope
    * (arithmetic-coded JPEG, JPEG-in-TIFF, malformed streams) get a
    * DETERMINISTIC FAKE byte (xxhash64 of the payload hash and pixel
    * index) standing in for the resampled value. The resize GEOMETRY is
    * real for every format and is independently recomputed by the
    * DuckDB oracle from the header dims.
    */
  private val RasterTypes = Set("png", "jpg", "gif", "tiff", "bmp")

  def thumbOf(p: Page): Option[Thumb] = {
    val b = if (p.html == null) Array.emptyByteArray else p.html
    // gate on the SAME sniff as mediaMeta so thumbs and media_type can
    // never disagree about what counts as a raster payload
    val fmt = sniffType(b)
    if (!RasterTypes(fmt)) None
    else graft.kernel.ImageHeader.parse(b).map { d =>
      // Long arithmetic: header-claimed dims go up to Int.MaxValue, so
      // width * ThumbMax overflows Int for widths > ~268M (DuckDB's oracle
      // recompute is wider and would diverge on the overflowed geometry)
      val long = math.max(d.width.toLong, d.height.toLong)
      val tw = math.max(1L, d.width.toLong * ThumbMax / long).toInt
      val th = math.max(1L, d.height.toLong * ThumbMax / long).toInt
      // real decode where the JDK suffices (png/bmp); decoded dims must
      // agree with the header or the payload is treated as undecodable
      val px = graft.kernel.PixelDecode.decodeLuma(b) match {
        case Some(img) if img.width == d.width && img.height == d.height =>
          graft.kernel.PixelDecode.boxResample(img, tw, th)
        case _ =>
          val seed = XxHash.hashBytes(b, 42L)
          val fake = new Array[Byte](tw * th)
          var i = 0
          while (i < fake.length) {
            // FAKE pixel — the jpg/gif/tiff codec seam: a codec would
            // resample the decoded raster here
            fake(i) = (XxHash.hashBytes(Array(
              (i & 0xff).toByte, ((i >> 8) & 0xff).toByte), seed) & 0xff).toByte
            i += 1
          }
          fake
      }
      Thumb(p.url, fmt, d.width, d.height, tw, th, px)
    }
  }

  /** Per-image thumbnails — narrow typed map, raster payloads only. */
  def mediaThumbs(s: SparkSession, dir: String): Dataset[Thumb] = {
    import s.implicits._
    PageSynth.pages(s, dir).flatMap(thumbOf(_).iterator)
  }

  // ------------------------------------------------------------------
  // Frame-sample plumbing
  // ------------------------------------------------------------------

  /** Frames sampled per payload (uniform temporal sampling shape). */
  val FramesPerDoc = 4

  final case class FrameSample(
      url: String, n_bytes: Long, frame_no: Int, byte_off: Long, frame_hash: Long)

  /** Frame-sample plumbing: for every payload large enough to play the
    * "video" role, emit FramesPerDoc evenly spaced sample offsets
    * (`floor(i * n / k)`) with a hash of a bounded byte window at each —
    * the row-expansion shape of uniform video frame sampling, one
    * output row per (payload, frame). A production build seeks a real
    * container demuxer to these offsets; the offsets themselves are
    * exact and independently recomputed by the DuckDB oracle.
    */
  // ------------------------------------------------------------------
  // Audio (RIFF/WAVE → PCM samples → features) — kernel.WavParse
  // ------------------------------------------------------------------

  /** Frames per synthetic audio payload. */
  val AudioFrames = 1024
  /** Nominal fixture sample rate. */
  val AudioRate = 8000

  /** Deterministic integer waveform for doc `id` (sawtooth + square mix,
    * amplitude well inside Short) — the fixture side of the audio path.
    */
  private[graft] def audioSampleAt(id: Long, i: Int): Int = {
    val saw = ((i * ((id % 17) + 3)) % 200 - 100).toInt * 80
    val sq = if ((i / ((id % 7) + 10)) % 2 == 0) 3000 else -3000
    saw + sq
  }

  /** Audio decode: per doc, synthesize a REAL WAV payload (mono or
    * stereo, some with LIST chunks — the container-variant sweep), then
    * run the full parse chain on the opaque bytes (kernel.WavParse) and
    * explode the DECODED samples. The materialized (doc_id, idx,
    * sample) frame is the oracle input: DuckDB recomputes the windowed
    * features below from the same samples with SQL window functions.
    *
    * Scale shape: narrow typed flatMap; the payload lives and dies in
    * its task. The exploded sample frame is the analysis-ready shape a
    * real audio pipeline lands on (and what downstream featurizers
    * aggregate with ordinary relational ops).
    */
  def audioSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Relational.table(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .flatMap { id =>
        val wav = graft.sources.ImageGen.wavReal(
          AudioFrames, AudioRate, channels = 1 + (id % 2).toInt,
          withListChunk = id % 3 == 0, oddList = id % 6 == 0)(
          i => audioSampleAt(id, i), i => audioSampleAt(id, i + 7))
        graft.kernel.WavParse.parse(wav) match {
          case Some(w) => w.samples.iterator.zipWithIndex.map {
            case (v, i) => (id, i, v.toInt, w.sampleRate)
          }
          case None => Iterator.empty // malformed-by-construction: none
        }
      }
      .toDF("doc_id", "idx", "sample", "sample_rate")
  }

  /** Per-doc audio features over the decoded samples: total energy
    * (Σ sample², integer-exact) and zero-crossing count — the classic
    * cheap audio-triage pair (speech/music/silence discrimination).
    */
  def audioFeatures(samples: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("idx"))
    samples
      .withColumn("flip",
        when((col("sample") < 0) =!= (lag(col("sample"), 1).over(w) < 0), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"), col("sample_rate"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("sample").cast("long") * col("sample")).as("sum_energy"),
        sum(col("flip")).as("n_zero_crossings"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Video (ISO BMFF / MP4 → container metadata) — kernel.Mp4Parse
  // ------------------------------------------------------------------

  /** Video-container triage: per doc, synthesize a REAL MP4 whose
    * timing/track parameters are pure functions of doc_id (mvhd v0 and
    * v1 both exercised), then run the full box-walk parse on the opaque
    * bytes and emit the metadata — duration in exact integer ms. The
    * oracle re-derives every output column from doc_id with SQL
    * arithmetic, so the whole generate→serialize→parse chain must be
    * value-exact. Narrow typed map; payload never leaves the task.
    */
  def videoMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Relational.table(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val timescale = 1000L + (id % 9) * 100L
        val duration = 1000L + id % 50000L
        val nAudio = (id % 3).toInt
        val handlers = Seq("vide") ++ Seq.fill(nAudio)("soun") ++
          (if (id % 4 == 0) Seq("text") else Seq.empty)
        val payload = graft.sources.ImageGen.mp4(
          timescale, duration, handlers, mvhdV1 = id % 5 == 0)
        graft.kernel.Mp4Parse.parse(payload) match {
          case Some(m) =>
            (id, m.timescale, m.duration, m.durationMs,
              m.nVideoTracks, m.nAudioTracks, m.nOtherTracks, payload.length)
          case None => (id, -1L, -1L, -1L, -1, -1, -1, payload.length)
        }
      }
      .toDF("doc_id", "timescale", "duration", "duration_ms",
        "n_video_tracks", "n_audio_tracks", "n_other_tracks", "n_payload_bytes")
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // OCR (image → text) — kernel.GlyphOcr
  // ------------------------------------------------------------------

  final case class OcrResult(
      doc_id: Long, expected: String, recognized: String, n_payload_bytes: Long)

  /** The image→text branch the reference serves with Tesseract / a
    * vision LLM, with the glyph model swapped for the from-scratch
    * exact recognizer (kernel.GlyphOcr scaladoc — the model, not the
    * pipeline, is the seam). Per document: render its normalized text
    * prefix as a REAL PNG page image (the corpus side), then run the
    * full OCR chain on the opaque payload — pixel decode → binarize →
    * segment → classify — and emit expected vs recognized.
    *
    * Scale shape: one narrow typed map; the image payload lives and
    * dies inside its task (never shuffled, never collected) — exactly
    * the per-row OCR kernel shape a Tesseract-backed executor batch
    * would have, minus the native call.
    */
  def ocrResults(s: SparkSession, dir: String): Dataset[OcrResult] = {
    import s.implicits._
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val expected = graft.kernel.GlyphOcr.normalize(text.take(64)).take(24).trim
        val payload = graft.sources.ImageGen.textImageReal(Seq(expected), scale = 2)
        val recognized = graft.kernel.PixelDecode.decodeLuma(payload)
          .flatMap(graft.kernel.GlyphOcr.recognize).getOrElse("")
        OcrResult(id, expected, recognized, payload.length.toLong)
      }
  }

  def frameSamples(s: SparkSession, dir: String): Dataset[FrameSample] = {
    import s.implicits._
    PageSynth.pages(s, dir).flatMap { p =>
      val b = if (p.html == null) Array.emptyByteArray else p.html
      val n = b.length.toLong
      if (n < 16) Iterator.empty
      else (0 until FramesPerDoc).iterator.map { i =>
        val off = i * n / FramesPerDoc
        val win = math.min(64L, n - off).toInt
        val h = XxHash.hashBytes(
          java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + win), 7L)
        FrameSample(p.url, n, i, off, h)
      }
    }
  }
}
