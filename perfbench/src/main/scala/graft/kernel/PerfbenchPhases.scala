package graft.kernel

/** Kernel-path entry point for the benchmark's kernel probe: the byte
  * tokenizer that `DomArena.buildIntoBytes` runs (after its UTF-8 check)
  * is kernel-private, and the public `tokenizeBytes` adds a String decode
  * per text node that the arena build never does.
  */
object PerfbenchPhases {
  def tokenizeHeap(arena: DomArena, b: Array[Byte]): Int = {
    arena.heap.clear()
    HtmlTokenizer.tokenizeBytesHeap(b, arena.heap).length
  }
}
