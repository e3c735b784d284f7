package graft.kernel

import graft.model.{Extracted, Page, PageRaw, Span}
import org.apache.spark.TaskContext

/** The per-document extract kernel: pure Scala, runs inside
  * `Dataset[Page].mapPartitions`, one call per row, no I/O.
  *
  * Re-expresses the reference's dispatch → split → per-unit extract →
  * ordered merge dataflow (ocr_service.py:255-289 dispatch,
  * pdf_utils.py:119-172 split+merge) with content sniffing instead of
  * file-extension dispatch (there are no filenames in a pages table):
  *
  *   - empty payload            → failed, "文件内容为空" (routes.py:93-95)
  *   - payload > 10 MB          → failed, "文件大小超过限制" (routes.py:63-68)
  *   - "%PDF-" magic            → PDF branch: page split + per-page text
  *                                extract + A8 merge; page errors isolated
  *                                (A9: doc still completes, failures appear
  *                                only in the merged footer)
  *   - HTML-looking bytes       → single-unit branch: main-content extract
  *                                (the process_image analogue — no merge
  *                                headers, exactly like the single-image
  *                                path ocr_service.py:277-278)
  *   - anything else            → failed, "不支持的文件类型: {ext}"
  *                                (ocr_service.py:280) with the sniffed
  *                                magic's extension label
  *
  * Engine profiles mirror the reference's three engines as deterministic
  * kernel variants (no external calls in this engine):
  *   - "standard": plain extraction (the tesseract path)
  *   - "llm":      A6 semantics — every per-unit result passes through the
  *                 defensive response ladder (LlmResponseModel, an
  *                 executable spec of llm_service.py:255-317): empty
  *                 extraction → "API响应中没有找到文本内容" (:290),
  *                 extraction exception → "提取文本内容失败: {msg}" (:317),
  *                 never a thrown error. Profile("llm", "faulty") adds
  *                 deterministic envelope-degradation so the remaining
  *                 ladder literals (:272 bad-format, :302 empty-after-
  *                 coercion) are reachable as pipeline data.
  *   - "ollama":   output_format serializers over the same extraction —
  *                 all 5 reference templates (ollama_ocr_service.py:40-46):
  *                 plain_text / markdown / json / structured / key_value
  */
object ExtractKernel {

  val Completed = "completed"
  val Failed = "failed"

  /** sniffed magic → the extension label used in the A1 error string.
    * Raster magics delegate to ImageHeader.formatOf — ONE magic table,
    * so the dispatcher and the multimodal sniffer can't drift apart.
    */
  def sniffExtLabel(b: Array[Byte]): String = {
    def is(prefix: Int*): Boolean =
      b.length >= prefix.length && prefix.zipWithIndex.forall { case (v, i) => (b(i) & 0xff) == v }
    if (is('P', 'K', 3, 4)) ".zip"
    else ImageHeader.formatOf(b).map("." + _).getOrElse {
      // 'BM' shorter than formatOf's 26-byte floor still labels as bmp
      if (is('B', 'M')) ".bmp" else ".bin"
    }
  }

  private[graft] def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' && b(4) == '-'

  /** HTML sniff: first non-whitespace byte is '<', or "<html" / "<!doctype"
    * appears in the first 256 bytes (case-insensitive).
    */
  private[graft] def looksHtml(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    if (i < b.length && b(i) == '<') return true
    val lim = math.min(b.length, 256)
    val head = new String(b, 0, lim, "ISO-8859-1").toLowerCase(java.util.Locale.ROOT)
    head.contains("<html") || head.contains("<!doctype")
  }

  final case class Profile(engine: String, outputFormat: String = "plain_text")
  val Standard: Profile = Profile("standard")

  def extractOne(p: Page, bucket: Int, profile: Profile = Standard,
      arena: DomArena = null): Extracted =
    extractRaw(PageRaw(p.url, p.html), bucket, profile, arena)

  def extractRaw(p: PageRaw, bucket: Int, profile: Profile = Standard,
      arena: DomArena = null): Extracted = {
    val b = stripBom(if (p.html == null) Array.emptyByteArray else p.html)
    if (b.isEmpty)
      Extracted(p.url, Failed, "", Seq.empty, MergeSpec.EmptyFile, 0, 0, profile.engine, bucket)
    else if (b.length > MergeSpec.MaxContentLength)
      Extracted(p.url, Failed, "", Seq.empty, MergeSpec.FileTooLarge, 0, 0, profile.engine, bucket)
    else if (isPdf(b)) extractPdf(p, b, bucket, profile)
    else if (looksHtml(b)) extractHtml(p, b, bucket, profile, arena)
    else ImageHeader.parse(b) match {
      // resolution cap (API.md:473, max 4096x4096) — checked from the
      // header-parsed dimensions, like the size cap checks length: an
      // oversize image is rejected with its own validation error, not
      // the generic unsupported-type one
      case Some(d) if d.width > MergeSpec.MaxImageDim || d.height > MergeSpec.MaxImageDim =>
        Extracted(p.url, Failed, "", Seq.empty,
          MergeSpec.resolutionTooLarge(d.width, d.height), 0, 0, profile.engine, bucket)
      case _ =>
        // "graft-ocr" profile (engine EXTENSION, not in the reference):
        // raster payloads run the in-sandbox OCR chain — pixel decode
        // (kernel.PixelDecode) → glyph recognition (kernel.GlyphOcr).
        // Recognition refusal falls through to the default row below, so
        // opting in never converts a failure into wrong text.
        val ocr =
          if (profile.engine == "graft-ocr")
            PixelDecode.decodeLuma(b).flatMap(GlyphOcr.recognize)
          else None
        ocr match {
          case Some(txt) =>
            // single-unit image doc: recognized text verbatim (like the
            // single-unit HTML branch); no source spans — OCR text has no
            // byte offsets into the payload
            Extracted(p.url, Completed, txt, Seq.empty, "", 1, 0, profile.engine, bucket)
          case None =>
            // raster within cap (default engines): unsupported-by-design
            // (documented divergence — the reference OCRs here via
            // Tesseract/vision LLM; byte-matching their models is
            // impossible); everything else is a genuinely unknown payload
            Extracted(p.url, Failed, "", Seq.empty,
              MergeSpec.unsupportedType(sniffExtLabel(b)), 0, 0, profile.engine, bucket)
        }
    }
  }

  private def extractHtml(p: PageRaw, b: Array[Byte], bucket: Int, profile: Profile,
      arena: DomArena): Extracted = {
    try {
      val res = MainContent.extractBytes(b,
        if (arena == null) new DomArena() else arena)
      val text = serialize(p.url, res, profile)
      // spans are char offsets INTO the emitted text — they are only valid
      // when the serializer emitted the plain extraction verbatim; a
      // transformed rendering (markdown/json/structured/key_value, or an
      // llm-ladder literal) gets no spans rather than wrong ones
      val spans = if (text == res.text) res.spans else Seq.empty
      Extracted(p.url, Completed, text, spans, "", 1, 0, profile.engine, bucket)
    } catch {
      case e: Exception =>
        // A3 contract: never die on a bad unit — fall back like
        // preprocess_image's "use original image" (ocr_service.py:110-112).
        // llm profile: the ladder's catch-all literal IS the result text
        // (llm_service.py:312-317) — the task completes.
        if (profile.engine == "llm")
          Extracted(p.url, Completed, LlmResponseModel.extractFailed(e.getMessage),
            Seq.empty, "", 1, 0, profile.engine, bucket)
        else
          Extracted(p.url, Failed, "", Seq.empty,
            s"图片OCR处理失败: ${e.getMessage}", 1, 1, profile.engine, bucket)
    }
  }

  private def extractPdf(p: PageRaw, b: Array[Byte], bucket: Int, profile: Profile): Extracted = {
    val pagesE =
      try PdfParser.parse(b)
      catch {
        case e: Exception =>
          return Extracted(p.url, Failed, "", Seq.empty,
            s"PDF处理失败: ${e.getMessage}", 0, 0, profile.engine, bucket)
      }
    // llm profile: each page's text passes through the A6 response ladder
    // (empty page → :290 literal; faulty profile → per-unit envelope faults)
    val withProfile =
      if (profile.engine != "llm") pagesE
      else pagesE.zipWithIndex.map {
        case (Right(t), i) => Right(llmUnitText(p.url, i, t, profile))
        case (other, _) => other
      }
    val (merged, nFailed, spans) = MergeSpec.mergePagesWithSpans(withProfile)
    Extracted(p.url, Completed, merged, spans, "", pagesE.length, nFailed,
      profile.engine, bucket)
  }

  /** llm-profile per-unit text: wrap the extraction result in the modeled
    * response envelope and run the A6 ladder (llm_service.py:255-317).
    */
  private def llmUnitText(url: String, unit: Int, extracted: String, profile: Profile): String =
    LlmResponseModel.extractText(
      LlmResponseModel.envelope(url, unit, extracted,
        faulty = profile.outputFormat == "faulty"))

  private def serialize(url: String, res: MainContent.Result, profile: Profile): String =
    profile.outputFormat match {
      case _ if profile.engine == "llm" => llmUnitText(url, 0, res.text, profile)
      case "markdown" =>
        // ollama markdown template: headings bolded (ollama_ocr_service.py:42)
        val sb = new java.lang.StringBuilder(res.text.length + 16)
        res.spans.zipWithIndex.foreach { case (s, i) =>
          if (i > 0) sb.append("\n\n")
          val piece = res.text.substring(s.start.toInt, s.end.toInt)
          if (s.kind.length == 2 && s.kind.charAt(0) == 'h') sb.append("**").append(piece).append("**")
          else sb.append(piece)
        }
        sb.toString
      case "json" =>
        val sb = new java.lang.StringBuilder(res.text.length + 32)
        sb.append("{\"blocks\":[")
        res.spans.zipWithIndex.foreach { case (s, i) =>
          if (i > 0) sb.append(',')
          sb.append("{\"kind\":\"").append(s.kind).append("\",\"text\":")
          sb.append(jsonQuote(res.text.substring(s.start.toInt, s.end.toInt)))
          sb.append('}')
        }
        sb.append("]}")
        sb.toString
      case "structured" =>
        // ollama structured template (ollama_ocr_service.py:44): identify
        // 标题/段落/表格/列表 elements, keep original layout — rendered as a
        // per-block element label in the reference's own vocabulary
        val sb = new java.lang.StringBuilder(res.text.length + 32)
        res.spans.zipWithIndex.foreach { case (s, i) =>
          if (i > 0) sb.append("\n\n")
          sb.append('[').append(structLabel(s.kind)).append("] ")
            .append(res.text.substring(s.start.toInt, s.end.toInt))
        }
        sb.toString
      case "key_value" =>
        // ollama key_value template (ollama_ocr_service.py:45): "键: 值"
        // lines — key = element kind + 1-based block index, value = the
        // block text with internal newlines collapsed (one pair per line)
        val sb = new java.lang.StringBuilder(res.text.length + 32)
        res.spans.zipWithIndex.foreach { case (s, i) =>
          if (i > 0) sb.append('\n')
          sb.append(s.kind).append('_').append(i + 1).append(": ")
            .append(res.text.substring(s.start.toInt, s.end.toInt)
              .replace('\n', ' ').replace('\r', ' '))
        }
        sb.toString
      case _ => res.text
    }

  /** structured-format element label (the reference template's own element
    * vocabulary: 标题/段落/表格/列表, ollama_ocr_service.py:44).
    */
  private def structLabel(kind: String): String = kind match {
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" | "title" => "标题"
    case "li" | "ul" | "ol" | "dt" | "dd" => "列表"
    case "td" | "th" | "tr" | "table" | "caption" => "表格"
    case _ => "段落"
  }

  private def jsonQuote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  private[graft] def stripBom(b: Array[Byte]): Array[Byte] =
    if (b.length >= 3 && (b(0) & 0xff) == 0xEF && (b(1) & 0xff) == 0xBB && (b(2) & 0xff) == 0xBF)
      java.util.Arrays.copyOfRange(b, 3, b.length)
    else b

  /** Partition-level runner for mapPartitions: cooperative cancellation via
    * TaskContext interruption checks between documents (A10 analogue —
    * the reference checks its in-memory cancel set between pages,
    * ocr_service.py:35-45; Spark's unit of cooperative cancel is the task).
    */
  def run(bucketOf: PageRaw => Int, profile: Profile = Standard)(
      it: Iterator[PageRaw]): Iterator[Extracted] = {
    val ctx = TaskContext.get()
    val arena = new DomArena() // reused across the partition's documents
    it.map { p =>
      if (ctx != null && ctx.isInterrupted())
        throw new org.apache.spark.TaskKilledException()
      extractRaw(p, bucketOf(p), profile, arena)
    }
  }
}
