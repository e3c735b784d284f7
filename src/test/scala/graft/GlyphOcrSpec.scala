package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.{GlyphOcr, PixelDecode}
import graft.sources.ImageGen

/** From-scratch glyph OCR: render → decode → recognize must round-trip
  * EXACTLY for the font alphabet at any integer scale, refuse (None)
  * rather than misread on corruption, and drive the mm_ocr operator to
  * zero mismatches over the smoke corpus.
  */
class GlyphOcrSpec extends AnyFunSuite {

  private def roundTrip(lines: Seq[String], scale: Int): Option[String] =
    PixelDecode.decodeLuma(ImageGen.textImageReal(lines, scale))
      .flatMap(GlyphOcr.recognize)

  test("round-trip: full alphabet, words, multi-line, scales 1-4") {
    val cases = Seq(
      Seq("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "0123456789"),
      Seq("THE QUICK BROWN FOX JUMPS", "OVER THE LAZY DOG 42"),
      Seq("A"),
      Seq("I1I1 0O0O 8B8B"), // the classic confusable pairs stay distinct
      Seq(""))
    for (lines <- cases; scale <- 1 to 4) {
      val want = lines.map(_.trim).mkString("\n").trim
      assert(roundTrip(lines, scale).contains(want), s"scale=$scale lines=$lines")
    }
  }

  test("normalize: case fold, out-of-alphabet to single spaces, trim") {
    assert(GlyphOcr.normalize("Hello, World! 42") == "HELLO WORLD 42")
    assert(GlyphOcr.normalize("  a\t\nb  ") == "A B")
    assert(GlyphOcr.normalize("中文 mixed 中文 text") == "MIXED TEXT")
    assert(GlyphOcr.normalize("") == "")
    assert(GlyphOcr.normalize("!!!") == "")
  }

  test("pipeline text round-trips through normalize + render + recognize") {
    val texts = Seq(
      "Best practices for data pipelines, part 7.",
      "QUOTA: 95 percent (cap 4096)",
      "the 13-gram rule")
    for (t <- texts) {
      val norm = GlyphOcr.normalize(t)
      assert(roundTrip(Seq(norm), 2).contains(norm), t)
    }
  }

  test("corruption refuses rather than misreads") {
    val want = "REFUSE DONT GUESS"
    val png = ImageGen.textImageReal(Seq(want), 2)
    val img = PixelDecode.decodeLuma(png).get
    // flip every pixel in a horizontal stripe: segmentation or matching
    // must fail closed — the result is None or the exact original, never
    // a DIFFERENT string
    for (row <- Seq(0, img.height / 2, img.height - 1)) {
      val mut = PixelDecode.Luma(img.width, img.height, img.luma.clone())
      for (x <- 0 until img.width)
        mut.luma(row * img.width + x) = (255 - (mut.luma(row * img.width + x) & 0xff)).toByte
      val got = GlyphOcr.recognize(mut)
      assert(got.isEmpty || got.contains(want), s"row=$row got=$got")
    }
    // random pixel noise: total, never throws
    val rnd = new java.util.Random(7)
    val noisy = PixelDecode.Luma(img.width, img.height,
      Array.fill(img.width * img.height)(rnd.nextInt(256).toByte))
    GlyphOcr.recognize(noisy) // no throw
  }

  test("graft-ocr engine profile: raster payloads extract to Completed OCR text") {
    import graft.kernel.{ExtractKernel, MergeSpec}
    import graft.model.PageRaw
    val prof = ExtractKernel.Profile("graft-ocr")
    // a real rendered image extracts to a Completed single-unit doc
    val want = "PAGE 42 CONTENT"
    val r = ExtractKernel.extractRaw(
      PageRaw("img://a", ImageGen.textImageReal(Seq(want), 2)), 0, prof)
    assert(r.status == "completed" && r.text == want && r.engine == "graft-ocr")
    assert(r.n_pages == 1 && r.n_failed_pages == 0)
    // an undecodable (header-only) image falls through to the default
    // unsupported-type row — opting in never fabricates text
    val r2 = ExtractKernel.extractRaw(PageRaw("img://b", ImageGen.png(40, 30)), 0, prof)
    assert(r2.status == "failed" && r2.error == MergeSpec.unsupportedType(".png"))
    // the DEFAULT engines are byte-for-byte unchanged on the same payload
    val r3 = ExtractKernel.extractRaw(
      PageRaw("img://c", ImageGen.textImageReal(Seq(want), 2)), 0, ExtractKernel.Standard)
    assert(r3.status == "failed" && r3.error == MergeSpec.unsupportedType(".png"))
    // the resolution cap still fires FIRST under graft-ocr
    val r4 = ExtractKernel.extractRaw(PageRaw("img://d", ImageGen.png(5000, 5000)), 0, prof)
    assert(r4.status == "failed" && r4.error == MergeSpec.resolutionTooLarge(5000, 5000))
    // the engine whitelist admits the extension and still rejects junk
    assert(MergeSpec.ValidEngines("graft-ocr") && !MergeSpec.ValidEngines("tesseract"))
  }

  test("extract_ocr_engine: full-kernel OCR run over rendered pages, all exact") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val (nDocs, nCompleted, nExact, nTagged) =
      TestSpark.queries("extract_ocr_engine")(spark, sf0001)
        .as[(Long, Long, Long, Long)].head()
    assert(nDocs == 500L && nCompleted == 500L && nExact == 500L && nTagged == 500L)
  }

  test("mm_ocr: zero mismatches over the smoke corpus, oracle-shaped summary") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val row = TestSpark.queries("mm_ocr")(spark, sf0001)
      .as[(Long, Long, Long, Long)].head()
    val (nImages, nExact, nMismatched, payloadBytes) = row
    assert(nImages == 500L)
    assert(nExact == 500L)
    assert(nMismatched == 0L)
    assert(payloadBytes > 0L)
  }
}
