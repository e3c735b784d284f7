package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Page

import java.io.EOFException
import java.util.zip.{CRC32, DataFormatException, Inflater, ZipException}

/** WARC/1.0 source — the container Common-Crawl-style corpora actually
  * arrive in (the north rule's input shape). From-scratch writer and
  * reader for response records, in both plain and per-record
  * gzip-member framing (the standard `.warc.gz` layout: each record its
  * own gzip member, members concatenated; the reader chains members
  * explicitly, `GzipMembers`).
  *
  * Scale shape: WARC gzip members are NOT splittable mid-file, so the
  * unit of parallelism is the file — exactly how production crawls are
  * processed (many ~1 GB files, one task each). `pages()` lists files
  * via the binaryFile source (paths only) and STREAMS records off each
  * open handle inside the task: memory is bounded by `MaxRecordPayload`
  * per record, not by file size, so a production ~1 GB `.warc.gz`
  * (3-4 GB decompressed) parses instead of tripping a whole-file buffer
  * bound. Payload bytes never leave the task until the downstream
  * operator (e.g. the extract kernel) consumes them.
  *
  * Parsing is total, bounded, and COUNTED (`drops`): a malformed header
  * or torn/short payload ends the file's record stream (records before
  * it are kept, `warc_torn_tails` increments); a parseable
  * Content-Length over the per-record cap skips just that record
  * (`warc_oversize_records_dropped` increments) and parsing continues —
  * never a throw, never a silent drop.
  */
object Warc {

  /** Per-record payload bound: the engine's content cap plus header
    * slack — a forged Content-Length cannot force a huge allocation.
    */
  val MaxRecordPayload: Int = graft.kernel.MergeSpec.MaxContentLength + 65536

  /** Fixed WARC-Date for deterministic fixtures (the field is required
    * by the spec but carries no engine semantics here).
    */
  val FixtureDate = "2024-01-01T00:00:00Z"

  final case class WarcRecord(url: String, warcType: String, payload: Array[Byte])

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Shields the shared output from per-member close(): closing a
    * GZIPOutputStream is the only way to release its native Deflater,
    * but it must not close the underlying file between members.
    */
  private final class NonClosing(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def close(): Unit = out.flush()
  }

  /** Serialize records; `gzipMembers` wraps EACH record in its own gzip
    * member (the `.warc.gz` convention that keeps files seekable per
    * record index).
    */
  def write(records: Iterator[WarcRecord], out: java.io.OutputStream,
      gzipMembers: Boolean): Unit = {
    records.foreach { r =>
      val sink =
        if (gzipMembers)
          new java.util.zip.GZIPOutputStream(new NonClosing(out), 8192, true)
        else out
      val hdr = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: ").append(r.warcType).append("\r\n")
        .append("WARC-Target-URI: ").append(r.url).append("\r\n")
        .append("WARC-Date: ").append(FixtureDate).append("\r\n")
        .append("Content-Length: ").append(r.payload.length).append("\r\n")
        .append("\r\n")
      sink.write(hdr.toString.getBytes("US-ASCII"))
      sink.write(r.payload)
      sink.write(Crlf); sink.write(Crlf) // record separator
      sink match {
        // close() ends the member AND releases the native Deflater —
        // finish() alone leaks ~256 KB of zlib state per record until GC
        case g: java.util.zip.GZIPOutputStream => g.close()
        case _ => ()
      }
    }
    out.flush()
  }

  /** Header-size bound: a record header past this is malformed. */
  val MaxHeaderBytes: Int = 65536

  /** Concatenated gzip members chained to true EOF, one raw `Inflater` each
    * (input read past a member's end is pushed back); a malformed or torn
    * member throws. `GZIPInputStream` ends the chain silently at a torn next
    * header, and before JDK-7036144 whenever `available()` reports 0.
    */
  private final class GzipMembers(in: java.io.PushbackInputStream) extends java.io.InputStream {
    private val buf = new Array[Byte](65536)
    private var bufLen = 0
    private val inf = new Inflater(true)
    private val crc = new CRC32()
    private val one = new Array[Byte](1)
    private var eof = !nextMember()

    private def u8(): Int = { val b = in.read(); if (b < 0) throw new EOFException("truncated gzip"); b }
    private def u16(): Int = u8() | (u8() << 8)
    private def u32(): Long = u16().toLong | (u16().toLong << 16)

    /** Consume the next member's RFC 1952 header; false at true EOF. */
    private def nextMember(): Boolean = {
      val b0 = in.read()
      if (b0 >= 0) {
        if (b0 != 0x1f || u8() != 0x8b || u8() != 8) throw new ZipException("not a gzip member")
        val flg = u8()
        in.skipNBytes(6) // MTIME, XFL, OS
        if ((flg & 4) != 0) in.skipNBytes(u16().toLong) // FEXTRA
        if ((flg & 8) != 0) while (u8() != 0) ()        // FNAME
        if ((flg & 16) != 0) while (u8() != 0) ()       // FCOMMENT
        if ((flg & 2) != 0) in.skipNBytes(2)            // FHCRC
        inf.reset(); crc.reset()
      }
      b0 >= 0
    }

    override def read(): Int = if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      while (!eof && len > 0) {
        val n = try inf.inflate(b, off, len)
          catch { case e: DataFormatException => throw new ZipException(e.getMessage) }
        if (n > 0) { crc.update(b, off, n); return n }
        if (inf.finished()) {
          in.unread(buf, bufLen - inf.getRemaining, inf.getRemaining)
          if (u32() != crc.getValue || u32() != (inf.getBytesWritten & 0xffffffffL))
            throw new ZipException("corrupt gzip trailer")
          eof = !nextMember()
        } else { // raw inflate: no dictionary, so 0 bytes out means it needs input
          bufLen = in.read(buf)
          if (bufLen < 0) throw new EOFException("truncated gzip")
          inf.setInput(buf, 0, bufLen)
        }
      }
      if (len == 0) 0 else -1
    }

    override def close(): Unit = { inf.end(); in.close() }
  }

  /** Streaming record iterator over a WARC byte stream (plain or
    * gzip-member framed — the gzip sniff reads two bytes through a
    * pushback wrapper; `GzipMembers` walks the member chain). Memory
    * is O(MaxRecordPayload) PER RECORD, never O(file). Totality
    * contract (every branch counted, never silent):
    *   - torn tail / malformed header / unparsable or negative
    *     Content-Length / corrupt gzip → iteration ends, intact prefix
    *     kept, `onTorn` fired once;
    *   - parseable Content-Length over `MaxRecordPayload` → the payload
    *     is SKIPPED (no allocation), `onOversize` fired, iteration
    *     continues with the next record.
    */
  def recordIterator(raw: java.io.InputStream,
      onOversize: () => Unit = () => (),
      onTorn: () => Unit = () => ()): Iterator[WarcRecord] = {
    val in: java.io.InputStream =
      try {
        // capacity: GzipMembers pushes back up to one buffer of input
        val pb = new java.io.PushbackInputStream(raw, 65536)
        val b0 = pb.read()
        val b1 = pb.read()
        if (b1 >= 0) pb.unread(b1)
        if (b0 >= 0) pb.unread(b0)
        if (b0 == 0x1f && b1 == 0x8b) new GzipMembers(pb)
        else pb
      } catch { case _: java.io.IOException => onTorn(); null }
    if (in == null) return Iterator.empty

    new scala.collection.AbstractIterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false
      private val hdrBuf = new Array[Byte](MaxHeaderBytes)

      private def torn(): Null = { onTorn(); done = true; null }

      /** Read the header block (after skipping inter-record CRLFs) into
        * hdrBuf up to the \r\n\r\n terminator; returns its length, -1 on
        * clean EOF before any header byte, -2 on torn/malformed.
        */
      private def readHeader(): Int = {
        var c = in.read()
        // skip inter-record blank lines (writer emits \r\n\r\n after
        // each payload)
        while (c == '\r' || c == '\n') c = in.read()
        if (c < 0) return -1
        var n = 0
        // pattern scan for \r\n\r\n while filling hdrBuf
        var state = 0 // matched prefix length of \r\n\r\n
        while (c >= 0 && n < MaxHeaderBytes) {
          hdrBuf(n) = c.toByte
          n += 1
          state = (state, c) match {
            case (0, '\r') => 1
            case (1, '\n') => 2
            case (2, '\r') => 3
            case (3, '\n') => 4
            case (_, '\r') => 1
            case _         => 0
          }
          if (state == 4) return n - 4
          c = in.read()
        }
        -2 // EOF mid-header or header over the bound
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null && !done) {
          val hn =
            try readHeader()
            catch { case _: java.io.IOException => -2 }
          if (hn == -1) { done = true }
          else if (hn == -2) { torn(); () }
          else {
            val header = new String(hdrBuf, 0, hn, "US-ASCII")
            val lines = header.split("\r\n")
            if (lines.isEmpty || !lines(0).startsWith("WARC/")) { torn(); () }
            else {
              var url = ""
              var wtype = ""
              var clen = -1L
              lines.iterator.drop(1).foreach { l =>
                val i = l.indexOf(':')
                if (i > 0) {
                  val k = l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
                  val v = l.substring(i + 1).trim
                  k match {
                    case "warc-target-uri" => url = v
                    case "warc-type"       => wtype = v
                    case "content-length" =>
                      clen = try v.toLong catch { case _: NumberFormatException => -1L }
                    case _ => ()
                  }
                }
              }
              if (clen < 0) { torn(); () }
              else if (clen > MaxRecordPayload) {
                // skip the payload without allocating it; a short skip is
                // a torn tail
                try {
                  in.skipNBytes(clen)
                  onOversize()
                } catch { case _: java.io.IOException | _: java.io.EOFException => torn(); () }
              } else {
                try {
                  val payload = in.readNBytes(clen.toInt)
                  if (payload.length < clen) { torn(); () }
                  else nextRec = WarcRecord(url, wtype, payload)
                } catch { case _: java.io.IOException => torn(); () }
              }
            }
          }
        }
      }

      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec
        advance()
        r
      }
    }
  }

  /** Parse a WARC file's bytes (plain or gzip-member framed) — the
    * in-memory convenience form of `recordIterator` (specs, small
    * fixtures). The distributed read path streams instead.
    */
  def parse(bytes: Array[Byte]): Vector[WarcRecord] = {
    if (bytes == null || bytes.length < 4) return Vector.empty
    recordIterator(new java.io.ByteArrayInputStream(bytes)).toVector
  }

  /** Driver-set Hadoop conf carried to executors (a fresh executor-side
    * `new Configuration()` would drop fs.defaultFS / object-store credentials).
    */
  private final class SerConf(@transient private var conf: org.apache.hadoop.conf.Configuration)
      extends java.io.Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Shared distributed staging core: `toRecord` rows of any frame
    * (already url-keyed by the caller's repartition) as gzip-member WARC
    * files, one per partition, written through the Hadoop filesystem
    * (NOT executor-local java.io — on a real cluster the staged files
    * must land where every reader task can list them; overwrite=true
    * keeps re-staging idempotent; task-side Configuration resolves the
    * default FS from the classpath's core-site, the standard pattern).
    * ONE implementation so the staging contract snapshotIdOf depends on
    * (fixed part names + fresh length/mtime) cannot diverge per caller.
    */
  private[graft] def stageRecords[T](ds: Dataset[T], dir: String, parts: Int,
      key: org.apache.spark.sql.Column)(toRecord: T => WarcRecord): Unit = {
    val hconf = ds.sparkSession.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(hconf).mkdirs(dirPath): Unit
    val bcConf = ds.sparkSession.sparkContext.broadcast(new SerConf(hconf))
    ds.repartition(parts, key).foreachPartition { (it: Iterator[T]) =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val fin = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.warc.gz")
      // attempt-unique temp + rename-on-success: a retried or speculated
      // attempt can never interleave bytes with another attempt's file
      val tmpPrefix = f".part-$pid%05d.warc.gz.inprogress-"
      val tmp = new org.apache.hadoop.fs.Path(dir, s"$tmpPrefix${tc.taskAttemptId()}")
      val fs = fin.getFileSystem(bcConf.value.value)
      try {
        val out = new java.io.BufferedOutputStream(fs.create(tmp, true))
        try write(it.map(toRecord), out, gzipMembers = true)
        finally out.close()
        if (fs.exists(fin)) fs.delete(fin, false): Unit
        if (!fs.rename(tmp, fin))
          throw new java.io.IOException(s"rename $tmp -> $fin failed")
      } catch {
        // a failed attempt removes its own temp file
        case e: Throwable =>
          try fs.delete(tmp, false): Unit
          catch { case d: Exception => e.addSuppressed(d) }
          throw e
      }
      // the partition is committed: sweep temp files of earlier attempts
      // that died before cleaning up (a killed executor). Sweeping after
      // the commit, not before the write, never removes the file of an
      // attempt that could still win.
      fs.listStatus(fin.getParent).iterator
        .filter(_.getPath.getName.startsWith(tmpPrefix))
        .foreach(st => fs.delete(st.getPath, false): Unit)
    }
  }

  /** Write a pages frame as `parts` gzip-member WARC files under `dir`
    * (distributed: one file per output partition, payloads never
    * collect to the driver).
    */
  def stagePages(pages: Dataset[Page], dir: String, parts: Int): Unit =
    stageRecords(pages, dir, parts, col("url"))(p =>
      WarcRecord(p.url, "response",
        if (p.html == null) Array.emptyByteArray else p.html))

  /** True when `dir` holds WARC files (the crawl arrival layout) rather
    * than parquet — lets the runner accept either input format.
    */
  def isWarcDir(s: SparkSession, dir: String): Boolean = {
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        n.endsWith(".warc.gz") || n.endsWith(".warc")
      }
    } catch { case _: java.io.IOException => false }
  }

  /** Snapshot id over the WARC file listing — same stable-hash contract
    * as ExtractJob.snapshotIdOf for parquet inputs, so lineage/resume
    * semantics are input-format-independent. Length and mtime fold in
    * alongside the path: stagePages reuses fixed part-NNNNN names, so a
    * dir re-staged IN PLACE with new content must produce a NEW
    * snapshot id — otherwise resume would silently skip the fresh data
    * (the same in-place-rewrite hazard Similarity.embeddingsFingerprint
    * guards its codebook memo against).
    */
  def snapshotIdOf(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).sortBy(_.getPath.toString).foldLeft(17L) { (acc, st) =>
      ((acc * 31L + st.getPath.toString.hashCode.toLong) * 31L + st.getLen) * 31L +
        st.getModificationTime
    }
  }

  /** Per-SparkContext drop counters for the WARC read path — the
    * no-silent-caps rule (Dedup.DropCounter's role): oversize-skipped
    * records and torn tails are counted into accumulators visible on the
    * driver and in the UI.
    */
  final class DropCounters(
      val oversizeRecords: org.apache.spark.util.LongAccumulator,
      val tornTails: org.apache.spark.util.LongAccumulator)
  private val dropsByCtx =
    scala.collection.concurrent.TrieMap.empty[org.apache.spark.SparkContext, DropCounters]
  def drops(sc: org.apache.spark.SparkContext): DropCounters =
    dropsByCtx.getOrElseUpdate(sc, new DropCounters(
      sc.longAccumulator("warc_oversize_records_dropped"),
      sc.longAccumulator("warc_torn_tails")))

  /** Read a directory of WARC files as records of one type: one task
    * per file (the non-splittable-member reality), records STREAMED off
    * the open file handle in-task — memory bounded per record, not per file.
    */
  def records(s: SparkSession, dir: String,
      warcType: String): Dataset[(String, Array[Byte])] = {
    import s.implicits._
    val bcConf = s.sparkContext.broadcast(new SerConf(s.sparkContext.hadoopConfiguration))
    val ctrs = drops(s.sparkContext)
    val (oversize, torn) = (ctrs.oversizeRecords, ctrs.tornTails)
    s.read.format("binaryFile").load(dir)
      .select(col("path"))
      .as[String]
      .flatMap { path =>
        val p = new org.apache.hadoop.fs.Path(path)
        val in = p.getFileSystem(bcConf.value.value).open(p)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        recordIterator(in,
          onOversize = () => oversize.add(1L),
          onTorn = () => torn.add(1L))
          .filter(_.warcType == warcType)
          .map(r => (r.url, r.payload))
      }
  }

  /** Crawl-input view: `response` records as pages. */
  def pages(s: SparkSession, dir: String): Dataset[Page] = {
    import s.implicits._
    records(s, dir, "response").map { case (url, payload) =>
      Page(url, null, payload, "", "")
    }
  }

  /** WET-style OUTPUT: completed extracted docs written as WARC
    * `conversion` records (the Common-Crawl WET convention — extracted
    * text riding the same container as the crawl itself), gzip-member
    * files, one per partition, through the Hadoop filesystem.
    */
  def stageExtracted(extracted: Dataset[graft.model.Extracted], dir: String,
      parts: Int): Unit =
    stageRecords(extracted.filter(col("status") === "completed"), dir, parts,
      col("url"))(e => WarcRecord(e.url, "conversion", e.text.getBytes("UTF-8")))
}
