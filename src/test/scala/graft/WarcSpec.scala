package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.sources.Warc
import graft.sources.Warc.WarcRecord

/** WARC container layer: record round-trips in both framings, payloads
  * that embed header-like byte sequences, torn/forged/corrupt inputs
  * staying total, and the staged directory reading back through the
  * Spark source.
  */
class WarcSpec extends AnyFunSuite {

  private def rt(records: Seq[WarcRecord], gz: Boolean): Vector[WarcRecord] = {
    val out = new java.io.ByteArrayOutputStream()
    Warc.write(records.iterator, out, gz)
    Warc.parse(out.toByteArray)
  }

  private val samples = Seq(
    WarcRecord("https://h/a", "response", "plain text".getBytes("UTF-8")),
    // payload embedding CRLFCRLF and a fake WARC header: Content-Length
    // framing must not resynchronize inside payloads
    WarcRecord("https://h/b", "response",
      "x\r\n\r\nWARC/1.0\r\nContent-Length: 9999\r\n\r\ny".getBytes("US-ASCII")),
    WarcRecord("https://h/c", "response", Array.emptyByteArray), // empty payload
    WarcRecord("https://h/d", "response", Array.tabulate(4096)(i => (i * 31).toByte)),
    WarcRecord("https://h/e", "metadata", "not a response".getBytes("UTF-8")))

  test("round-trip: plain and gzip-member framing preserve every byte") {
    for (gz <- Seq(false, true)) {
      val got = rt(samples, gz)
      assert(got.length == samples.length, s"gz=$gz")
      got.zip(samples).foreach { case (g, w) =>
        assert(g.url == w.url && g.warcType == w.warcType, s"gz=$gz ${w.url}")
        assert(g.payload.sameElements(w.payload), s"gz=$gz ${w.url}")
      }
    }
  }

  test("torn tail keeps the intact prefix; forged lengths stop cleanly") {
    val out = new java.io.ByteArrayOutputStream()
    Warc.write(samples.iterator, out, gzipMembers = false)
    val full = out.toByteArray
    // cut mid-way through the LAST record's payload
    val torn = Warc.parse(java.util.Arrays.copyOf(full, full.length - 8))
    assert(torn.length == samples.length - 1)
    // forged Content-Length far past the actual bytes: the skip runs off
    // the end of the stream → torn tail, nothing kept
    val s2 = Seq(WarcRecord("https://h/x", "response",
      ("Content-Length: " + (Warc.MaxRecordPayload + 1)).getBytes("US-ASCII")))
    val o2 = new java.io.ByteArrayOutputStream()
    Warc.write(s2.iterator, o2, gzipMembers = false)
    val forged = new String(o2.toByteArray, "US-ASCII")
      .replaceFirst("Content-Length: \\d+", "Content-Length: 99999999999")
    assert(Warc.parse(forged.getBytes("US-ASCII")).isEmpty)
    // corrupt gzip stream: total, empty
    val gzOut = new java.io.ByteArrayOutputStream()
    Warc.write(samples.iterator, gzOut, gzipMembers = true)
    val corrupt = gzOut.toByteArray
    for (i <- 20 until math.min(200, corrupt.length)) corrupt(i) = 0x55
    Warc.parse(corrupt) // no throw; result content irrelevant
    assert(Warc.parse(null).isEmpty)
    assert(Warc.parse("WARC/1.0 but no headers".getBytes("US-ASCII")).isEmpty)
  }

  test("oversize record mid-file is skipped and counted; the rest is kept") {
    // a REAL over-cap payload between two intact records: the streaming
    // reader must skip exactly that record (no allocation of its
    // payload) and keep parsing — round 5 discarded everything after it
    val big = new Array[Byte](Warc.MaxRecordPayload + 1)
    java.util.Arrays.fill(big, 'x'.toByte)
    val recs = Seq(
      WarcRecord("https://h/before", "response", "kept before".getBytes("UTF-8")),
      WarcRecord("https://h/big", "response", big),
      WarcRecord("https://h/after", "response", "kept after".getBytes("UTF-8")))
    for (gz <- Seq(false, true)) {
      val out = new java.io.ByteArrayOutputStream()
      Warc.write(recs.iterator, out, gz)
      var oversize = 0
      var torn = 0
      val got = Warc.recordIterator(new java.io.ByteArrayInputStream(out.toByteArray),
        onOversize = () => oversize += 1, onTorn = () => torn += 1).toVector
      assert(got.map(_.url) == Vector("https://h/before", "https://h/after"), s"gz=$gz")
      assert(oversize == 1 && torn == 0, s"gz=$gz oversize=$oversize torn=$torn")
    }
  }

  test("torn tail fires the torn callback exactly once; clean EOF fires none") {
    val out = new java.io.ByteArrayOutputStream()
    Warc.write(samples.iterator, out, gzipMembers = false)
    val full = out.toByteArray
    var torn = 0
    val cut = Warc.recordIterator(
      new java.io.ByteArrayInputStream(java.util.Arrays.copyOf(full, full.length - 8)),
      onTorn = () => torn += 1).toVector
    assert(cut.length == samples.length - 1 && torn == 1)
    torn = 0
    val clean = Warc.recordIterator(new java.io.ByteArrayInputStream(full),
      onTorn = () => torn += 1).toVector
    assert(clean.length == samples.length && torn == 0)
  }

  test("gzip members chain to true EOF on a stream whose available() is 0") {
    // one member per read() and available() == 0: member sniffing that
    // asks available() stops after the first member and drops the rest
    // with no torn-tail count
    val members = samples.map { r =>
      val o = new java.io.ByteArrayOutputStream()
      Warc.write(Iterator.single(r), o, gzipMembers = true)
      o.toByteArray
    }
    final class MemberPerRead(ms: Seq[Array[Byte]]) extends java.io.InputStream {
      private var m = 0
      private var pos = 0
      override def available(): Int = 0
      override def read(): Int = {
        val b = new Array[Byte](1)
        if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (len == 0) 0
        else if (m == ms.length) -1
        else {
          val n = math.min(len, ms(m).length - pos)
          System.arraycopy(ms(m), pos, b, off, n)
          pos += n
          if (pos == ms(m).length) { m += 1; pos = 0 }
          n
        }
    }
    var torn = 0
    val got = Warc.recordIterator(new MemberPerRead(members), onTorn = () => torn += 1).toVector
    assert(got.map(_.url) == samples.map(_.url) && torn == 0, s"torn=$torn got=${got.map(_.url)}")
    got.zip(samples).foreach { case (g, w) => assert(g.payload.sameElements(w.payload), w.url) }
    // a torn last member through the same stream: intact prefix, one count
    val cut = members.init :+ members.last.take(members.last.length / 2)
    torn = 0
    val prefix = Warc.recordIterator(new MemberPerRead(cut), onTorn = () => torn += 1).toVector
    assert(prefix.map(_.url) == samples.init.map(_.url) && torn == 1, s"torn=$torn")
    // a member torn inside its 10-byte header: every record kept, one
    // count (GZIPInputStream reads a malformed next header as clean EOF)
    torn = 0
    val headTorn = Warc.recordIterator(new MemberPerRead(members :+ members.head.take(5)),
      onTorn = () => torn += 1).toVector
    assert(headTorn.map(_.url) == samples.map(_.url) && torn == 1, s"torn=$torn")
  }

  test("drop counters surface through the distributed read path") {
    import TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("warcdrops").toString
    try {
      val big = new Array[Byte](Warc.MaxRecordPayload + 1)
      val out = new java.io.ByteArrayOutputStream()
      Warc.write(Iterator(
        WarcRecord("https://h/ok1", "response", "one".getBytes("UTF-8")),
        WarcRecord("https://h/huge", "response", big),
        WarcRecord("https://h/ok2", "response", "two".getBytes("UTF-8"))), out, true)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part-00000.warc.gz"), out.toByteArray)
      val ctrs = Warc.drops(spark.sparkContext)
      val before = ctrs.oversizeRecords.value
      val urls = Warc.pages(spark, dir).collect().map(_.url).sorted
      assert(urls.toSeq == Seq("https://h/ok1", "https://h/ok2"))
      assert(ctrs.oversizeRecords.value == before + 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("staged directory reads back through the Spark source, one task per file") {
    import TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcspec").toString
    try {
      val pages = (0 until 97).map(i =>
        graft.model.Page(f"https://w/p$i%03d", null,
          s"payload number $i with some body text".getBytes("UTF-8"), "", ""))
      Warc.stagePages(spark.createDataset(pages), dir, parts = 4)
      val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".warc.gz"))
      assert(files.nonEmpty && files.length <= 4)
      val got = Warc.pages(spark, dir).collect().sortBy(_.url)
      assert(got.length == 97)
      got.zip(pages.sortBy(_.url)).foreach { case (g, w) =>
        assert(g.url == w.url && g.html.sameElements(w.html), w.url)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("staging leaves no .inprogress- temp files: failed attempts and dead leftovers") {
    import TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcspec_tmp").toString
    def temps = new java.io.File(dir).list().filter(_.contains(".inprogress-")).toSeq
    try {
      val ids = spark.range(0, 50).as[Long]
      val record = (i: Long) => WarcRecord(s"https://w/t$i", "response", s"body $i".getBytes("UTF-8"))
      // one partition, one attempt: the record mapper throws mid-stream
      intercept[Exception] {
        Warc.stageRecords(ids, dir, parts = 1, col("id")) { i =>
          if (i == 17L) throw new IllegalStateException("mapper failed") else record(i)
        }
      }
      assert(temps.isEmpty, s"a failed attempt left its temp file: $temps")
      // a temp file an earlier, killed attempt never cleaned up
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, ".part-00000.warc.gz.inprogress-999999"), Array[Byte](1, 2))
      Warc.stageRecords(ids, dir, parts = 1, col("id"))(record)
      assert(temps.isEmpty, s"a committed partition kept an earlier attempt's temp file: $temps")
      assert(Warc.pages(spark, dir).count() == 50)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("ExtractRunner accepts a WARC input dir: output identical to the parquet path") {
    import TestSpark.spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("warcrun").toString
    try {
      val pages = (0 until 60).map { i =>
        val html = s"<html><body><p>Body text for page $i, long enough to keep.</p></body></html>"
        graft.model.Page(f"https://w/r$i%03d", null, html.getBytes("UTF-8"), "", "en")
      }
      val ds = spark.createDataset(pages)
      ds.write.mode("overwrite").parquet(s"$base/pages_parquet")
      Warc.stagePages(ds, s"$base/pages_warc", parts = 3)
      val r1 = graft.operators.ExtractRunner.run(spark, s"$base/pages_parquet",
        s"$base/out_parquet", buckets = 8)
      val r2 = graft.operators.ExtractRunner.run(spark, s"$base/pages_warc",
        s"$base/out_warc", buckets = 8)
      assert(r1.docsProcessed == 60 && r2.docsProcessed == 60)
      def rows(out: String) =
        spark.read.parquet(s"$out/extracted")
          .select("url", "status", "text", "error").as[(String, String, String, String)]
          .collect().sortBy(_._1).toSeq
      assert(rows(s"$base/out_parquet") == rows(s"$base/out_warc"))
      // resume over the SAME warc input is a no-op (lineage sees the
      // identical snapshot id for the file listing)
      val r3 = graft.operators.ExtractRunner.run(spark, s"$base/pages_warc",
        s"$base/out_warc", buckets = 8)
      assert(r3.docsProcessed == 0, "resume over unchanged WARC input must be a no-op")
      // RE-STAGING the same dir with new content reuses the fixed
      // part-NNNNN names — the snapshot id must still change (it folds
      // length+mtime, not just paths), so the fresh data is processed
      val pages2 = pages.map(p => p.copy(
        html = (new String(p.html, "UTF-8") + "<p>updated body</p>").getBytes("UTF-8")))
      Warc.stagePages(spark.createDataset(pages2), s"$base/pages_warc", parts = 3)
      val r4 = graft.operators.ExtractRunner.run(spark, s"$base/pages_warc",
        s"$base/out_warc", buckets = 8)
      assert(r4.snapshotId != r3.snapshotId, "re-staged WARC dir must get a new snapshot id")
      assert(r4.docsProcessed == 60, "re-staged content must be re-extracted")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
  }

  test("a run over WARC input decodes the input once: a torn tail counts once") {
    import TestSpark.spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("warctorn").toString
    try {
      val pages = (0 until 60).map { i =>
        val html = s"<html><body><p>Body text for page $i, long enough to keep.</p></body></html>"
        graft.model.Page(f"https://w/t$i%03d", null, html.getBytes("UTF-8"), "", "en")
      }
      Warc.stagePages(spark.createDataset(pages), s"$base/pages", parts = 3)
      val files = new java.io.File(s"$base/pages").listFiles
        .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
      assert(files.length == 3)
      // cut into the last gzip member's deflate data, past its 8-byte
      // trailer; drop the local filesystem's checksum sidecar, which
      // would otherwise fail the whole file rather than its tail
      val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
      java.nio.file.Files.write(files.head.toPath, bytes.take(bytes.length - 20))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$base/pages/.${files.head.getName}.crc"))
      val torn = Warc.drops(spark.sparkContext).tornTails
      val before = torn.value
      val r = graft.operators.ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8)
      assert(torn.value - before == 1,
        s"one run must decode each WARC file once, counted ${torn.value - before} torn tails")
      assert(r.docsProcessed == 59, s"the torn record alone is lost, got ${r.docsProcessed}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
  }

  test("a file whose checksum no longer matches fails the read, naming it; no torn tail counts") {
    import TestSpark.spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("warccrc").toString
    try {
      val pages = (0 until 60).map { i =>
        val html = s"<html><body><p>Body text for page $i, long enough to keep.</p></body></html>"
        graft.model.Page(f"https://w/c$i%03d", null, html.getBytes("UTF-8"), "", "en")
      }
      Warc.stagePages(spark.createDataset(pages), s"$base/pages", parts = 3)
      val files = new java.io.File(s"$base/pages").listFiles
        .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
      assert(files.length == 3)
      // shorten the first file under its local-filesystem checksum sidecar
      val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
      java.nio.file.Files.write(files.head.toPath, bytes.take(bytes.length - 20))
      assert(new java.io.File(s"$base/pages/.${files.head.getName}.crc").exists())
      val torn = Warc.drops(spark.sparkContext).tornTails
      val before = torn.value
      val e = intercept[Exception](Warc.pages(spark, s"$base/pages").count())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(16).toSeq
      assert(causes.exists(c => c.isInstanceOf[org.apache.hadoop.fs.ChecksumException] &&
        c.getMessage.contains(files.head.getName)), causes.map(_.toString).mkString("\n"))
      assert(torn.value == before, s"corruption counted as ${torn.value - before} torn tails")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
  }

  test("q_wet_sink: extracted text round-trips as conversion records, byte-exact") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val got = TestSpark.queries("q_wet_sink")(spark, sf0001)
      .as[(String, Int, String)].collect()
    assert(got.nonEmpty)
    // every completed doc appears exactly once with its exact text bytes
    val want = TestSpark.queries("extract_main")(spark, sf0001)
      .filter(col("status") === "completed")
      .select(col("url"), col("text")).as[(String, String)].collect()
      .map { case (u, t) => (u, t.getBytes("UTF-8").length) }.sortBy(_._1)
    assert(got.map(r => (r._1, r._2)).toSeq == want.toSeq)
    // failed/cancelled docs are never emitted as conversion records
    assert(got.length == want.length)
  }

  test("q_warc_source: full-corpus container round-trip matches the no-WARC frame") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val got = TestSpark.queries("q_warc_source")(spark, sf0001)
      .as[(String, Int, Long)].collect()
    assert(got.length == 500)
    val want = graft.sources.PageSynth.pages(spark, sf0001)
      .map(p => (p.url, p.html.length, graft.operators.XxHash.hashBytes(p.html, 42L)))
      .collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2)).toSeq == want.map(r => (r._1, r._2)).toSeq)
  }
}
