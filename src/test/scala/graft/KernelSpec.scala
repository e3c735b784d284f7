package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{DomArena, ExtractKernel, HtmlTokenizer, MainContent, MergeSpec, PdfParser}
import graft.model.Page
import graft.sources.{PageSynth, PdfGen}

/** Pure-kernel tests: no SparkSession needed. */
class KernelSpec extends AnyFunSuite {

  // ---- A8 merge byte-identity (pdf_utils.py:140-172) ----

  test("merge: all pages succeed") {
    val (txt, nf) = MergeSpec.mergePages(Seq(Right("hello"), Right("world")))
    assert(nf == 0)
    assert(txt ==
      "--- 第1页 ---\nhello\n\n--- 第2页 ---\nworld" +
      "\n\n--- 处理摘要 ---\n总页数: 2\n所有页面处理成功")
  }

  test("merge: some pages fail (full-width parens, 1-based page nums, ', ' join)") {
    val (txt, nf) = MergeSpec.mergePages(Seq(Right("a"), Left("boom"), Left("x"), Right("d")))
    assert(nf == 2)
    assert(txt ==
      "--- 第1页 ---\na\n\n--- 第2页（处理失败）---\n\n--- 第3页（处理失败）---\n\n--- 第4页 ---\nd" +
      "\n\n--- 处理摘要 ---\n总页数: 4\n成功页数: 2\n失败页数: 2\n失败页码: 2, 3")
  }

  test("merge: all pages fail") {
    val (txt, nf) = MergeSpec.mergePages(Seq(Left("e1")))
    assert(nf == 1)
    assert(txt ==
      "--- 第1页（处理失败）---" +
      "\n\n--- 处理摘要 ---\n总页数: 1\n成功页数: 0\n失败页数: 1\n失败页码: 1")
  }

  // ---- tokenizer / DOM ----

  test("tokenizer: entities, rawtext, comments, malformed") {
    val toks = HtmlTokenizer.tokenize(
      "<p class=\"X\">a &amp; b &lt;c&gt; &#65; &unknown; < 3</p><!-- hidden --><script>if(a<b){}</script>")
    val texts = toks.collect { case HtmlTokenizer.Text(s) => s }
    assert(texts.head == "a & b <c> A &unknown; < 3")
    assert(texts.exists(_.contains("if(a<b)"))) // rawtext verbatim
  }

  test("dom arena: parent/child indices well-formed; implied </p>") {
    val a = DomArena.build("<div><p>one<p>two</div>")
    // every non-root node's parent is an earlier node; children linked
    (1 until a.size).foreach { i =>
      assert(a.parent(i) >= 0 && a.parent(i) < i)
    }
    val pNodes = (0 until a.size).filter(i => a.tag(i) == "p")
    assert(pNodes.size == 2)
    // second p must NOT be a child of the first (implied close)
    assert(a.parent(pNodes(1)) != pNodes(0))
  }

  test("main content: strips chrome, keeps article, decodes entities") {
    val html =
      """<html><head><title>T</title><style>x{}</style></head><body>
        |<nav><a href="/">Home</a></nav>
        |<div class="sidebar"><a>L1</a><a>L2</a></div>
        |<article><h1>Title</h1><p>Hello &amp; goodbye</p>
        |<p>Second <a href="/x">linked</a> para</p></article>
        |<div class="k"><a>p</a> <a>q</a> <a>r</a></div>
        |<footer>(c) me</footer></body></html>""".stripMargin
    val r = MainContent.extract(html)
    assert(r.text == "Title\n\nHello & goodbye\n\nSecond linked para")
    assert(r.spans.map(_.kind) == Seq("h1", "p", "p"))
    // span invariant: slices reassemble the text
    val slices = r.spans.map(s => r.text.substring(s.start.toInt, s.end.toInt))
    assert(slices.mkString("\n\n") == r.text)
  }

  test("main content: hand-written expectations for tricky structures") {
    // table cells are blocks; comments and title never leak; rawtext pruned
    val t1 = MainContent.extract(
      """<html><head><title>NOT CONTENT</title></head><body><main>
        |<table><tr><td>cell one</td><td>cell two</td></tr>
        |<tr><td>cell three</td></tr></table>
        |<!-- <p>commented out</p> --><p>after table</p>
        |<script>var x = "<p>not text either</p>";</script>
        |</main></body></html>""".stripMargin)
    assert(t1.text == "cell one\n\ncell two\n\ncell three\n\nafter table")

    // nested list items are separate blocks; implied </li> closes
    val t2 = MainContent.extract(
      "<article><ul><li>first item<li>second item</ul><ol><li>third</li></ol></article>")
    assert(t2.text == "first item\n\nsecond item\n\nthird")
    assert(t2.spans.map(_.kind) == Seq("li", "li", "li"))

    // blockquote + pre are blocks; inline code is not
    val t3 = MainContent.extract(
      "<article><p>intro with <code>inline()</code> code</p>" +
        "<blockquote>quoted words</blockquote><pre>preformatted body</pre></article>")
    assert(t3.text == "intro with inline() code\n\nquoted words\n\npreformatted body")

    // entity edge cases mid-content: numeric, hex, named, bare ampersand
    val t4 = MainContent.extract(
      "<p>&#72;i &amp; bye &#x4E2D; caf&eacute; 5 &lt; 6 &notanentity x</p>")
    assert(t4.text == "Hi & bye 中 caf&eacute; 5 < 6 &notanentity x")

    // adjacent text around an inline element joins without extra spaces
    val t5 = MainContent.extract("<p>dis<b>connect</b>ed</p>")
    assert(t5.text == "disconnected")

    // a heading survives even when fully linked (headings exempt from
    // link-density); a paragraph that is one big link does not
    val t6 = MainContent.extract(
      "<article><h2><a href='/x'>Linked Heading</a></h2>" +
        "<p><a href='/y'>entirely a link paragraph</a></p>" +
        "<p>normal text paragraph here</p></article>")
    assert(t6.text == "Linked Heading\n\nnormal text paragraph here")
  }

  // ---- PDF round-trip ----

  test("pdf: generator → parser round-trips page texts (ascii + CJK)") {
    val pages = Seq("line one\nline two", "中文段落1：你好 world", "third (page) \\ done")
    val bytes = PdfGen.build(pages)
    val got = PdfParser.parse(bytes)
    assert(got == pages.map(Right(_)))
  }

  test("pdf: merged spans slice back to exactly the page texts") {
    val pages = Seq(Right("alpha beta"), Left("x"), Right("gamma\ndelta"))
    val (txt, nf, spans) = MergeSpec.mergePagesWithSpans(pages)
    assert(nf == 1)
    assert(spans.map(_.kind) == Seq("page", "page"))
    val slices = spans.map(s => txt.substring(s.start.toInt, s.end.toInt))
    assert(slices == Seq("alpha beta", "gamma\ndelta"))
    // and the text remains byte-identical to the span-less merge
    assert(txt == MergeSpec.mergePages(pages)._1)
  }

  test("pdf: corrupt middle page isolated (A9)") {
    val pages = Seq("p1", "p2", "p3")
    val bytes = PdfGen.build(pages, corruptPages = Set(1))
    val got = PdfParser.parse(bytes)
    assert(got(0) == Right("p1"))
    assert(got(1).isLeft)
    assert(got(2) == Right("p3"))
  }

  test("pdf: structural garbage throws (whole-doc failure)") {
    intercept[Exception] {
      PdfParser.parse("%PDF-1.4 not really a pdf at all".getBytes("UTF-8"))
    }
  }

  // ---- kernel dispatch (A1) ----

  private def mkPage(b: Array[Byte]) =
    Page("https://h/x", new java.sql.Timestamp(0L), b, "", "en")

  test("dispatch: empty / oversize / unsupported / pdf / html") {
    val e = ExtractKernel.extractOne(mkPage(Array.emptyByteArray), 0)
    assert(e.status == "failed" && e.error == "文件内容为空")

    val big = ExtractKernel.extractOne(mkPage(new Array[Byte](MergeSpec.MaxContentLength + 1)), 0)
    assert(big.status == "failed" && big.error == "文件大小超过限制")

    val zip = ExtractKernel.extractOne(
      mkPage("PK".getBytes ++ Array[Byte](3, 4) ++ "junk".getBytes), 0)
    assert(zip.status == "failed" && zip.error == "不支持的文件类型: .zip")

    val pdf = ExtractKernel.extractOne(mkPage(PdfGen.build(Seq("pg"))), 0)
    assert(pdf.status == "completed" && pdf.n_pages == 1 &&
      pdf.text.startsWith("--- 第1页 ---\npg"))

    val html = ExtractKernel.extractOne(mkPage("<p>hi</p>".getBytes("UTF-8")), 0)
    assert(html.status == "completed" && html.text == "hi")
  }

  test("dispatch: image payloads — within-cap unsupported, over-cap resolution literal (API.md:473)") {
    // within the 4096x4096 cap: raster payloads are unsupported-by-design
    // (no OCR codec), labeled with the sniffed extension
    val png = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.png(640, 480)), 0)
    assert(png.status == "failed" && png.error == "不支持的文件类型: .png")
    val jpg = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.jpeg(100, 80)), 0)
    assert(jpg.status == "failed" && jpg.error == "不支持的文件类型: .jpg")
    val tif = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.tiff(4096, 4096)), 0)
    assert(tif.status == "failed" && tif.error == "不支持的文件类型: .tiff")
    // over the cap (either axis): the resolution-cap validation fires with
    // the exact literal, carrying the header-parsed dimensions
    val wide = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.png(5000, 4200)), 0)
    assert(wide.status == "failed" && wide.error == "图片分辨率超过限制: 5000x4200")
    val tall = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.jpeg(100, 4097)), 0)
    assert(tall.status == "failed" && tall.error == "图片分辨率超过限制: 100x4097")
    // a corrupt raster header falls through to unsupported, never throws
    val broken = graft.sources.ImageGen.png(640, 480).take(14)
    val bad = ExtractKernel.extractOne(mkPage(broken), 0)
    assert(bad.status == "failed" && bad.error == "不支持的文件类型: .png")
    // a claimed dimension beyond Int range CLAMPS so the clearest cap
    // violation still hits the resolution literal, not unsupported-type
    val absurd = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.png(-1, 100)), 0)
    assert(absurd.status == "failed" &&
      absurd.error == s"图片分辨率超过限制: ${Int.MaxValue}x100")
    // real BMP within cap: unsupported with the sniffed label; 'BM' TEXT
    // (weak magic, no valid DIB header) keeps the label but NEVER a
    // garbage resolution error
    val realBmp = ExtractKernel.extractOne(mkPage(graft.sources.ImageGen.bmp(320, 200)), 0)
    assert(realBmp.status == "failed" && realBmp.error == "不支持的文件类型: .bmp")
    val bmText = ExtractKernel.extractOne(
      mkPage("BM revenue was flat quarter over quarter".getBytes), 0)
    assert(bmText.status == "failed" && bmText.error == "不支持的文件类型: .bmp")
  }

  test("sniff: Multimodal.sniffType names the branch the kernel takes") {
    // whitespace-led and BOM-led pages extract as html (looksHtml skips
    // leading whitespace; the BOM is stripped first)
    val wsHtml = "  <p>hi</p>".getBytes("UTF-8")
    val bomHtml = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "<p>hi</p>".getBytes("UTF-8")
    for (b <- Seq(wsHtml, bomHtml)) {
      val e = ExtractKernel.extractOne(mkPage(b), 0)
      assert(e.status == "completed" && e.text == "hi")
      assert(graft.operators.Multimodal.sniffType(b) == "html")
    }
    // "%PDF" without the '-' is not the pdf branch: an unknown payload
    val notPdf = "%PDFx 1.4 not a pdf header".getBytes("UTF-8")
    val e = ExtractKernel.extractOne(mkPage(notPdf), 0)
    assert(e.status == "failed" && e.error == "不支持的文件类型: .bin")
    assert(graft.operators.Multimodal.sniffType(notPdf) == "bin")
    // a `BM` payload shorter than a BMP header: the kernel names it .bmp
    val shortBmp = "BM short".getBytes("UTF-8")
    val eb = ExtractKernel.extractOne(mkPage(shortBmp), 0)
    assert(eb.status == "failed" && eb.error == "不支持的文件类型: .bmp")
    assert(graft.operators.Multimodal.sniffType(shortBmp) == "bmp")
  }

  // ---- engine profiles (A5-A7: llm defensive literals, ollama serializers) ----

  test("profiles: llm response ladder; ollama serializers (all 5 formats)") {
    import ExtractKernel.Profile
    // a page that is ALL chrome → main content empty → the llm profile's
    // response ladder hits the falsy-content check (llm_service.py:288-290)
    // and returns its fixed literal AS the text, status completed, never an
    // exception
    val chromeOnly = "<html><body><nav><a href='/'>home</a></nav></body></html>".getBytes("UTF-8")
    val llm = ExtractKernel.extractOne(mkPage(chromeOnly), 0, Profile("llm"))
    assert(llm.status == "completed" && llm.text == "API响应中没有找到文本内容")
    // standard profile on the same page: empty text, still completed
    val std = ExtractKernel.extractOne(mkPage(chromeOnly), 0)
    assert(std.status == "completed" && std.text == "")

    val article = ("<html><body><article><h1>Title Here</h1>" +
      "<p>Body text one</p><p>Body \"two\"</p></article></body></html>").getBytes("UTF-8")
    val md = ExtractKernel.extractOne(mkPage(article), 0, Profile("ollama", "markdown"))
    assert(md.text == "**Title Here**\n\nBody text one\n\nBody \"two\"")
    val js = ExtractKernel.extractOne(mkPage(article), 0, Profile("ollama", "json"))
    assert(js.text ==
      """{"blocks":[{"kind":"h1","text":"Title Here"},{"kind":"p","text":"Body text one"},{"kind":"p","text":"Body \"two\""}]}""")
    // structured: element labels in the reference template's vocabulary
    // (标题/段落/表格/列表, ollama_ocr_service.py:44)
    val st = ExtractKernel.extractOne(mkPage(article), 0, Profile("ollama", "structured"))
    assert(st.text == "[标题] Title Here\n\n[段落] Body text one\n\n[段落] Body \"two\"")
    // key_value: '键: 值' lines (ollama_ocr_service.py:45)
    val kv = ExtractKernel.extractOne(mkPage(article), 0, Profile("ollama", "key_value"))
    assert(kv.text == "h1_1: Title Here\np_2: Body text one\np_3: Body \"two\"")

    // llm PDF branch: empty page text → per-page :290 literal in the merge
    val llmPdf = ExtractKernel.extractOne(mkPage(PdfGen.build(Seq(""))), 0, Profile("llm"))
    assert(llmPdf.text.startsWith("--- 第1页 ---\nAPI响应中没有找到文本内容"))
  }

  test("A6 ladder: every reference literal reachable, exact strings (llm_service.py:272-317)") {
    import graft.kernel.LlmResponseModel._
    // each row = (envelope shape, reference line, exact literal)
    assert(extractText(NotDict) == "API响应格式无效，无法提取文本内容") // :272
    assert(extractText(NoChoices) == "API响应中没有找到文本内容") // :278
    assert(extractText(NoMessage) == "API响应中没有找到文本内容") // :284
    assert(extractText(NoContent) == "API响应中没有找到文本内容") // :290
    assert(extractText(Content("")) == "API响应中没有找到文本内容") // "" is falsy → :288-290
    assert(extractText(NonStringContent("")) == "API响应中提取到的文本内容为空") // :302
    assert(extractText(NonStringContent("[1, 2]")) == "[1, 2]") // str() coercion passthrough
    assert(extractText(Content("real text")) == "real text")
    assert(extractFailed("boom") == "提取文本内容失败: boom") // :317

    // kernel integration: extraction exception under the llm profile maps
    // to the :317 catch-all AS the result text (completed, not failed)
    // — pinned via the ladder function, and the faulty profile makes the
    // envelope shapes reachable as pipeline data:
    val urls = (0 until 2000).map(i => s"https://ex.com/d$i")
    val byLit = urls.groupBy(u => extractText(envelope(u, 0, "body", faulty = true)))
    assert(byLit.keySet == Set(
      "API响应格式无效，无法提取文本内容",
      "API响应中没有找到文本内容",
      "API响应中提取到的文本内容为空",
      "body"))
    // determinism: same url/unit → same envelope
    urls.take(50).foreach { u =>
      assert(envelope(u, 3, "x", faulty = true) == envelope(u, 3, "x", faulty = true))
    }
  }

  // ---- synth → kernel golden equality (the byte contract) on handmade docs ----

  test("golden: synthesized html extracts byte-identically") {
    val docs = Seq(
      PageSynth.Doc(0, "the quick brown fox jumps over the lazy dog again and again and more words here to fill", "en", "src0"),
      PageSynth.Doc(4, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma", "fr", "src1"),
      PageSynth.Doc(12, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce trece catorce quince", "zh", "src2"),
      PageSynth.Doc(56, "mixed words and some more content for the malformed sidebar case with enough words to chunk", "de", "src3"),
      PageSynth.Doc(9, "short doc body here with a handful of words only", "es", "src4")
    )
    docs.foreach { d =>
      val golden = PageSynth.goldenFor(d)
      val got = ExtractKernel.extractOne(PageSynth.pageFor(d), 0)
      assert(got.status == golden.expected_status, s"doc ${d.doc_id} status")
      val gotB = got.text.getBytes("UTF-8")
      val expB = golden.expected_text.getBytes("UTF-8")
      assert(java.util.Arrays.equals(gotB, expB),
        s"doc ${d.doc_id}:\n---got---\n${got.text}\n---want---\n${golden.expected_text}")
    }
  }

  test("golden: synthesized pdf (incl. corrupt page + zh) extracts byte-identically") {
    val docs = Seq(
      PageSynth.Doc(7, "pdf words go here in a medium sized document with several chunks of text to split into pages and lines", "en", "src0"),
      PageSynth.Doc(17, "another pdf document body with plenty of words so that we get at least two pages of content out of it for the merge format check", "zh", "src1"),
      PageSynth.Doc(47 + 101, "corrupt page doc with sufficient words to make three or more paragraphs so the middle page failure marker shows up in the merged output for sure yes really", "en", "src2"),
      PageSynth.Doc(13, "", "en", "src3"),          // empty payload
      PageSynth.Doc(29, "unsupported", "en", "src4") // zip magic
    )
    docs.foreach { d =>
      val golden = PageSynth.goldenFor(d)
      val got = ExtractKernel.extractOne(PageSynth.pageFor(d), 0)
      assert(got.status == golden.expected_status, s"doc ${d.doc_id} status")
      assert(got.error == golden.expected_error, s"doc ${d.doc_id} error")
      assert(got.n_pages == golden.expected_n_pages, s"doc ${d.doc_id} n_pages")
      assert(got.n_failed_pages == golden.expected_n_failed, s"doc ${d.doc_id} n_failed")
      assert(java.util.Arrays.equals(
        got.text.getBytes("UTF-8"), golden.expected_text.getBytes("UTF-8")),
        s"doc ${d.doc_id}:\n---got---\n${got.text}\n---want---\n${golden.expected_text}")
    }
  }
}
