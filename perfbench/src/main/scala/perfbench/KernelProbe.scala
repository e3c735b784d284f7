package perfbench

import graft.kernel.{DomArena, ExtractKernel, HtmlTokenizer, MainContent, MergeSpec, PdfParser, PerfbenchPhases}
import graft.model.PageRaw
import graft.sources.PageSynth

/** Single-threaded kernel phases over a fixed seeded sample of a
  * workload's payloads, in nanoseconds per sampled doc. Each kernel
  * function is timed as a whole over the sample; a phase's self time is
  * its function minus the functions it calls, so
  *   utf8 + tokenize + dom + select + pdf + merge + other == extract.
  */
object KernelProbe {

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def run(docs: Seq[PageSynth.Doc], minSeconds: Double): Map[String, Double] = {
    val pages = docs.map(PageSynth.pageFor)
    val kinds = docs.map(d => Corpus.kindLabel(d.doc_id))
    val html = pages.zip(kinds).collect { case (p, "html") => p.html }.toArray
    val pdf = pages.zip(kinds).collect { case (p, "pdf") => p.html }.toArray
    val raw = pages.map(p => PageRaw(p.url, p.html)).toArray
    val n = raw.length.toDouble
    // the constructor is kernel-private; an arena built from "" is a fresh one
    val arena = DomArena.build("")
    val parsed = pdf.map(b => try PdfParser.parse(b) catch { case _: Exception => Seq.empty })
    var sink = 0L

    val phases: Seq[() => Unit] = Seq(
      () => html.foreach(b => if (HtmlTokenizer.isValidUtf8(b)) sink += 1),
      () => html.foreach(b => sink += PerfbenchPhases.tokenizeHeap(arena, b)),
      () => html.foreach(b => sink += DomArena.buildIntoBytes(arena, b).size),
      () => html.foreach(b => sink += MainContent.extractBytes(b, arena).text.length),
      () => pdf.foreach(b => sink += (try PdfParser.parse(b).length catch { case _: Exception => 0 })),
      () => parsed.foreach(p => sink += MergeSpec.mergePagesWithSpans(p)._1.length),
      () => raw.foreach(p => sink += ExtractKernel.extractRaw(p, 0, ExtractKernel.Standard, arena).text.length))
    // Rounds run every phase once, so all phases warm up together; the
    // first two rounds only warm. Each phase keeps its best round.
    val best = Array.fill(phases.size)(Long.MaxValue)
    val t0 = System.nanoTime()
    var round = 0
    while (round < 5 || System.nanoTime() - t0 < minSeconds * 1e9) {
      phases.zipWithIndex.foreach { case (f, i) =>
        val t = System.nanoTime()
        f()
        if (round >= 2) best(i) = math.min(best(i), System.nanoTime() - t)
      }
      round += 1
    }
    val Array(utf8, tok, build, select, pdfNs, merge, extract) = best.map(_ / n)

    val a0 = threads.getCurrentThreadAllocatedBytes
    raw.foreach(p => sink += ExtractKernel.extractRaw(p, 0, ExtractKernel.Standard, arena).text.length)
    val alloc = (threads.getCurrentThreadAllocatedBytes - a0) / n
    if (sink == 42L) System.err.print("") // keep the timed results live

    val self = Map(
      "kernel.utf8_ns" -> utf8,
      "kernel.tokenize_ns" -> tok,
      "kernel.dom_ns" -> (build - utf8 - tok),
      "kernel.select_ns" -> (select - build),
      "kernel.pdf_ns" -> pdfNs,
      "kernel.merge_ns" -> merge)
    self ++ Map(
      "kernel.extract_ns" -> extract,
      "kernel.other_ns" -> (extract - self.values.sum),
      "kernel.alloc_bytes_per_doc" -> alloc)
  }

  /** the metric names `run` reports */
  val Names: Seq[String] = Seq("kernel.utf8_ns", "kernel.tokenize_ns", "kernel.dom_ns",
    "kernel.select_ns", "kernel.pdf_ns", "kernel.merge_ns", "kernel.extract_ns",
    "kernel.other_ns", "kernel.alloc_bytes_per_doc")
}
