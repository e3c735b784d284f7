package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, ExtractJob, Multimodal, Similarity, TextAnalysis, XxHash}
import graft.sources.PageSynth
import graft.streaming.{Drain, StreamingExtract}
import graft.streaming.StreamingExtract.withTempDir

/** Spark-backed operator tests: the distributed byte contract, resume
  * semantics, and the dedup/similarity/text suites' invariants that the
  * DuckDB oracle can't express.
  */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  // ---- driver smoke: the flagship entry must produce rows ----

  test("entry: flagship query returns per-(lang,status) rows") {
    import spark.implicits._
    val rows = SparkEntry.entry(spark)
      .as[(String, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._3).sum == 500) // all docs accounted for
    assert(rows.exists(r => r._1 == "zh" && r._2 == "completed"))
  }

  // ---- bucket key parity: kernel-side hash == Catalyst xxhash64 ----

  test("bucket: XxHash.hashUtf8 matches Spark's xxhash64 expression") {
    import spark.implicits._
    val urls = PageSynth.pages(spark, sf0001).select(col("url")).limit(200)
      .withColumn("h", xxhash64(col("url")))
      .as[(String, Long)].collect()
    assert(urls.nonEmpty)
    urls.foreach { case (u, h) => assert(XxHash.hashUtf8(u) == h, s"url $u") }
    // the kernel's and the lookup's bucket equals the Catalyst-side bucket
    for (b <- Seq(1, 8, 64, 1000)) {
      val buckets = PageSynth.pages(spark, sf0001).select(col("url")).limit(200)
        .withColumn("b", ExtractJob.bucketCol(b)).as[(String, Int)].collect()
      buckets.foreach { case (u, bc) => assert(ExtractJob.bucketOf(u, b) == bc, s"url $u, buckets=$b") }
    }
  }

  // ---- distributed golden byte-identity (the north-rule contract) ----

  test("extract: distributed run is byte-identical to golden per url") {
    import spark.implicits._
    val extracted = ExtractJob.extract(spark, PageSynth.pages(spark, sf0001), buckets = 8)
    val golden = PageSynth.golden(spark, sf0001)
    val joined = extracted.toDF().join(golden.toDF(), Seq("url"))
      .select(col("url"), col("text"), col("expected_text"),
        col("status"), col("expected_status"), col("error"), col("expected_error"))
      .as[(String, String, String, String, String, String, String)]
      .collect()
    assert(joined.length == 500)
    joined.foreach { case (url, text, expText, st, expSt, err, expErr) =>
      assert(st == expSt, s"$url status")
      assert(err == expErr, s"$url error")
      assert(java.util.Arrays.equals(
        text.getBytes("UTF-8"), expText.getBytes("UTF-8")), s"$url bytes")
    }
  }

  // ---- resume + idempotent dynamic partition overwrite (A12/§4.4) ----

  test("resume: anti-join skips done buckets; rerun is idempotent") {
    import spark.implicits._
    val buckets = 8
    val pages = PageSynth.pages(spark, sf0001)
    val full = ExtractJob.extract(spark, pages, buckets)
    val outDir = java.nio.file.Files.createTempDirectory("graft_resume").toString

    // full run → reference output
    ExtractJob.writeExtracted(full, outDir)
    val refRows = spark.read.parquet(outDir)
      .select(col("url"), md5(col("text")).as("h")).as[(String, String)]
      .collect().sortBy(_._1).toSeq

    // simulate a crash after buckets 0..3: only those are done
    val remaining = ExtractJob.resumeFilter(spark, pages, 0 until 4, buckets)
    val remBuckets = remaining
      .withColumn("b", ExtractJob.bucketCol(buckets))
      .select(col("b")).distinct().as[Int].collect().toSet
    assert(remBuckets.nonEmpty && remBuckets.forall(_ >= 4), s"got $remBuckets")
    val expectRemaining = pages.withColumn("b", ExtractJob.bucketCol(buckets))
      .filter(col("b") >= 4).count()
    assert(remaining.count() == expectRemaining)

    // re-extract the remainder and dynamic-overwrite those partitions only:
    // final table must equal the reference run exactly
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ExtractJob.extract(spark, remaining, buckets).toDF()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(outDir)
    val afterRows = spark.read.parquet(outDir)
      .select(col("url"), md5(col("text")).as("h")).as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(afterRows == refRows)
  }

  // ---- minhash LSH vs exact jaccard ----

  test("dedup: minhash LSH is sound (all pairs >= threshold) and catches high-jaccard pairs") {
    import spark.implicits._
    val exact = Dedup.dedupNgramJaccard(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.dedupMinhashLsh(spark, sf0001)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    // soundness: LSH output is verified with exact jaccard, so it must be
    // a subset of the exact pair set
    assert(lsh.subsetOf(exact), s"unsound pairs: ${lsh.diff(exact).take(5)}")
    // completeness on the planted near-dups (jaccard ≈ 0.97 ≫ threshold):
    val planted = exact.filter { case (a, b) => b == a + 1000000 }
    assert(planted.nonEmpty)
    assert(planted.subsetOf(lsh), s"missed planted: ${planted.diff(lsh).take(5)}")
    // overall recall at this band config should be high
    assert(lsh.size.toDouble / exact.size >= 0.8, s"recall ${lsh.size}/${exact.size}")
  }

  // ---- the kernels' shingles must equal the SQL shingles ----

  test("dedup: TokenGrams.ofUtf8 3-grams equal tokensCol+shinglesExpr") {
    import spark.implicits._
    val sqlShingles = Dedup.corpus(spark, sf0001)
      .select(col("doc_id"), Dedup.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.shinglesExpr.as("shs"))
      .as[(Long, Seq[String])].collect().map { case (id, shs) => id -> shs.toSet }.toMap
    val kernelShingles = Dedup.corpus(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, text) =>
        val grams = graft.functions.TokenGrams.ofUtf8(UTF8String.fromString(text), 3)
        id -> Seq.tabulate(grams.numElements)(grams.getUTF8String(_).toString).toSet
      }.toMap
    assert(sqlShingles.keySet == kernelShingles.keySet)
    sqlShingles.foreach { case (id, shs) =>
      assert(kernelShingles(id) == shs, s"doc $id shingle mismatch")
    }
  }

  // ---- simhash: banding is pigeonhole-complete for hamming <= 3 ----

  test("dedup: simhash banded pairs equal brute-force hamming<=3 pairs") {
    import spark.implicits._
    val sigs = Dedup.corpus(spark, sf0001)
      .select(col("doc_id"), Dedup.tokensCol(col("text")).as("t"))
      .as[(Long, Seq[String])]
      .collect()
      .map { case (id, toks) => (id, Dedup.simhash(toks)) }
    val brute = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= Dedup.SimhashMaxHamming
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val banded = Dedup.dedupSimhash(spark, sf0001)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(banded == brute, s"diff: ${banded.diff(brute).take(3)} / ${brute.diff(banded).take(3)}")
    // planted near-dups must be found (suffix mutation flips few bits)
    assert(brute.exists { case (a, b) => b == a + 1000000 })
  }

  // ---- native simhash64 expression (codegen) ----

  test("simhash64: native expression equals the scala path; SQL-callable; codegen'd") {
    import spark.implicits._
    graft.functions.SimHash64.register(spark)
    // SQL surface
    val viaSql = spark.sql(
      "SELECT simhash64('Hello, WORLD 42!') AS h").as[Long].collect()(0)
    assert(viaSql == Dedup.simhash(Seq("hello", "world", "42")))
    // column surface over real data — compare against the scala path over
    // the SQL tokenizer
    val exprSide = Dedup.corpus(spark, sf0001)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val scalaSide = Dedup.corpus(spark, sf0001)
      .select(col("doc_id"), Dedup.tokensCol(col("text"))).as[(Long, Seq[String])].collect()
      .map { case (id, toks) => id -> Dedup.simhash(toks) }.toMap
    assert(exprSide == scalaSide)
    // null safety
    assert(spark.sql("SELECT simhash64(CAST(NULL AS STRING)) IS NULL AS n")
      .as[Boolean].collect()(0))
    // the plan stays inside whole-stage codegen: the projection carrying
    // simhash64 must be inside a codegen stage ("*(n) Project"). Execute
    // first — with AQE in the plan the codegen markers only exist in the
    // finalized physical plan.
    val df = Dedup.corpus(spark, sf0001)
      .select(call_function("simhash64", col("text")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[simhash64".r.findFirstIn(plan).isDefined, plan)
  }

  // ---- ANN: LSH recall vs brute force; expression/scala signature parity ----

  test("ann: lsh signature expression matches scala; recall@5 acceptable") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val parity = e.select(col("vec_id"),
        Similarity.lshSignatureCol(col("e"), Similarity.Dims).as("sigc"), col("e"))
      .as[(Long, Int, Seq[Double])].collect()
    parity.foreach { case (id, sigc, v) =>
      assert(sigc == Similarity.lshSignature(v), s"vec $id")
    }
    val bf = Similarity.annBruteForce(spark, sf0001)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.annLsh(spark, sf0001)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bf.nonEmpty)
    val recalls = bf.map { case (q, n) =>
      lsh.getOrElse(q, Set.empty).intersect(n).size.toDouble / n.size
    }
    val avgRecall = recalls.sum / recalls.size
    info(s"ann_lsh recall@5 = $avgRecall over ${bf.size} queries")
    // measured 1.0 with 2-bit multi-probe (was 0.64 with 1-bit); floor set
    // below the measurement to absorb query-set sensitivity, above the
    // old config so a probe regression fails
    assert(avgRecall >= 0.8, s"recall too low: $avgRecall")

    val ivf = Similarity.annIvf(spark, sf0001)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfRecalls = bf.map { case (q, n) =>
      ivf.getOrElse(q, Set.empty).intersect(n).size.toDouble / n.size
    }
    val ivfRecall = ivfRecalls.sum / ivfRecalls.size
    info(s"ann_ivf recall@5 = $ivfRecall over ${bf.size} queries")
    // measured 0.80 with the k-means++ codebook at sf0.001 (0.48 with
    // the round-1 fixed sample, 0.84 with round-2 stride init); floor
    // catches a codebook regression
    assert(ivfRecall >= 0.7, s"ivf recall too low: $ivfRecall")
  }

  // ---- end-to-end corpus pipeline ----

  test("pipeline: funnel is monotone; keep flag consistent; survivors unique by text") {
    import spark.implicits._
    val c = graft.operators.CorpusPipeline.corpus(spark, sf0001).cache()
    try {
      val funnel = graft.operators.CorpusPipeline.funnel(spark, sf0001)
        .as[(String, Long)].collect().toMap
      assert(funnel("1_extracted_ok") >= funnel("2_after_exact_dedup"))
      assert(funnel("2_after_exact_dedup") >= funnel("3_after_near_dedup"))
      assert(funnel("3_after_near_dedup") >= funnel("4_after_repetition_filter"))
      assert(funnel("4_after_repetition_filter") >= funnel("5_after_quality_filter"))
      assert(funnel("5_after_quality_filter") > 0)
      // natural near-dups exist in the synthetic corpus → stage 3 < stage 2
      assert(funnel("3_after_near_dedup") < funnel("2_after_exact_dedup"))
      // paragraph scrub removed cross-document boilerplate somewhere
      assert(c.agg(sum(col("n_paras_dropped"))).head().getLong(0) > 0)
      // kept rows: no dup/repetition flags, quality above threshold
      val bad = c.filter(col("keep") &&
        (col("is_exact_dup") || col("is_near_dup") || col("repetition_flagged") ||
          col("quality") < graft.operators.CorpusPipeline.QualityThreshold)).count()
      assert(bad == 0)
      // kept texts are pairwise distinct (exact dedup held)
      val kept = c.filter(col("keep")).count()
      val keptDistinct = c.filter(col("keep")).select(md5(col("text"))).distinct().count()
      assert(kept == keptDistinct)
    } finally { c.unpersist(): Unit }
  }

  // ---- multimodal resize / frame-sample plumbing ----

  test("thumbs: aspect-correct geometry, exact buffers, deterministic fake pixels, rasters only") {
    import graft.operators.Multimodal
    val t1 = Multimodal.mediaThumbs(spark, sf0001).collect()
    assert(t1.nonEmpty)
    t1.foreach { t =>
      assert(Set("png", "jpg", "gif", "tiff", "bmp")(t.fmt))
      assert(t.thumb.length == t.thumb_w * t.thumb_h, t.url)
      assert(math.max(t.thumb_w, t.thumb_h) == Multimodal.ThumbMax ||
        math.min(t.thumb_w, t.thumb_h) == 1, t.url) // long edge pinned (or 1px floor)
      // aspect preserved under integer floor
      assert(t.thumb_w == math.max(1, t.width * Multimodal.ThumbMax / math.max(t.width, t.height)))
      assert(t.thumb_h == math.max(1, t.height * Multimodal.ThumbMax / math.max(t.width, t.height)))
    }
    val t2 = Multimodal.mediaThumbs(spark, sf0001).collect()
    assert(t1.map(t => (t.url, t.thumb.toSeq)).sortBy(_._1)
      .sameElements(t2.map(t => (t.url, t.thumb.toSeq)).sortBy(_._1))) // fake decode is deterministic
  }

  test("frames: k evenly spaced in-bounds offsets per payload, deterministic window hashes") {
    import graft.operators.Multimodal
    val f1 = Multimodal.frameSamples(spark, sf0001).collect()
    assert(f1.nonEmpty)
    f1.groupBy(_.url).foreach { case (u, fs) =>
      assert(fs.length == Multimodal.FramesPerDoc, u)
      val sorted = fs.sortBy(_.frame_no)
      sorted.foreach(f => assert(f.byte_off >= 0 && f.byte_off < f.n_bytes, u))
      assert(sorted.map(_.byte_off).distinct.length == sorted.length ||
        sorted.head.n_bytes < Multimodal.FramesPerDoc, u) // offsets distinct for non-tiny payloads
    }
    val h1 = f1.map(f => (f.url, f.frame_no) -> f.frame_hash).toMap
    val h2 = Multimodal.frameSamples(spark, sf0001).collect()
      .map(f => (f.url, f.frame_no) -> f.frame_hash).toMap
    assert(h1 == h2)
  }

  // ---- salted aggregation equivalence ----

  test("metricsByHost: salted two-phase agg equals naive groupBy") {
    import spark.implicits._
    val extracted = ExtractJob.extract(spark, PageSynth.pages(spark, sf0001), 8)
    val salted = ExtractJob.metricsByHost(extracted)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val naive = extracted.toDF()
      .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("doc_count"),
        sum(when(col("status") === "completed", 1L).otherwise(0L)).as("ok_count"),
        sum(length(col("text")).cast("long")).as("char_count"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(salted == naive)
  }

  // ---- embedding quantization fidelity ----

  test("quantize: int8 per-dim symmetric keeps cosine fidelity >= 0.999; values in range") {
    import spark.implicits._
    val q = graft.operators.Quantize.quantized(spark, sf0001).cache()
    try {
      val stats = graft.operators.Quantize.quantizeStatsFrom(q)
        .as[(Long, Double, Double, Double)].collect()(0)
      assert(stats._1 == 500)
      assert(stats._3 >= 0.999, s"min cosine fidelity ${stats._3}") // int8 on 64-dim
      // quantized values must fit int8
      val outOfRange = q.select(explode(col("q")).as("v"))
        .filter(col("v") > 127 || col("v") < -127).count()
      assert(outOfRange == 0)
    } finally { q.unpersist(): Unit }
  }

  // ---- language id ----

  test("langid: script + stopword heuristics on extracted text") {
    assert(TextAnalysis.langIdOf("中文段落1：这是 一段 中文 文本 的 示例") == "zh")
    assert(TextAnalysis.langIdOf("the cat sat on the mat and it was good for the dog") == "en")
    assert(TextAnalysis.langIdOf("der hund und die katze ist nicht mit einem ball zu sehen") == "de")
    assert(TextAnalysis.langIdOf("el perro y la casa que es un una por como para del") == "es")
    assert(TextAnalysis.langIdOf("le chien et les chats dans une maison pour qui est sur") == "fr")
    assert(TextAnalysis.langIdOf("") == "und")
    assert(TextAnalysis.langIdOf("9999 8888 7777") == "und")
    // corpus-level: every zh doc detected (CJK paragraph markers survive
    // extraction); en majority-correct
    import spark.implicits._
    val conf = TextAnalysis.langidConfusion(TextAnalysis.langidPairs(spark, sf0001))
      .as[(String, String, Long)].collect()
    val zhTotal = conf.filter(_._1 == "zh").map(_._3).sum
    val zhHit = conf.filter(r => r._1 == "zh" && r._2 == "zh").map(_._3).sum
    assert(zhTotal > 0 && zhHit == zhTotal, s"zh: $zhHit/$zhTotal")
    val enTotal = conf.filter(_._1 == "en").map(_._3).sum
    val enHit = conf.filter(r => r._1 == "en" && r._2 == "en").map(_._3).sum
    assert(enHit.toDouble / enTotal >= 0.9, s"en: $enHit/$enTotal")
  }

  // ---- fingerprint ----

  test("fingerprint: whitespace-normalized, order-sensitive, deterministic") {
    val a = TextAnalysis.fingerprintOf("hello   world\n\tfoo")
    assert(a == TextAnalysis.fingerprintOf("hello world foo"))
    assert(a == TextAnalysis.fingerprintOf("  hello world foo  "))
    assert(a != TextAnalysis.fingerprintOf("world hello foo")) // order matters
    assert(a != TextAnalysis.fingerprintOf("hello world bar"))
  }

  // ---- multimodal plumbing ----

  test("multimodal: sniff, entropy, header-parsed dimensions") {
    assert(Multimodal.sniffType("<!DOCTYPE html><p>x</p>".getBytes) == "html")
    assert(Multimodal.sniffType("%PDF-1.4".getBytes) == "pdf")
    assert(Multimodal.sniffType("PK".getBytes ++ Array[Byte](3, 4)) == "zip")
    assert(Multimodal.sniffType(Array.emptyByteArray) == "empty")
    assert(Multimodal.sniffType(graft.sources.ImageGen.png(3, 5)) == "png")
    assert(Multimodal.sniffType(graft.sources.ImageGen.jpeg(3, 5)) == "jpg")
    assert(Multimodal.sniffType(graft.sources.ImageGen.tiff(3, 5)) == "tiff")
    // uniform byte histogram → exactly 8 bits of entropy
    val uniform = Array.tabulate(256 * 4)(i => (i % 256).toByte)
    assert(Multimodal.entropyMillibits(uniform) == 8000L)
    assert(Multimodal.entropyMillibits("aaaa".getBytes) == 0L)
    // real header decode: dims round-trip through each fixture builder
    assert(Multimodal.decodeDims(graft.sources.ImageGen.png(640, 480)) == ((640, 480, true)))
    assert(Multimodal.decodeDims(graft.sources.ImageGen.jpeg(1920, 1080)) == ((1920, 1080, true)))
    assert(Multimodal.decodeDims(graft.sources.ImageGen.tiff(800, 600)) == ((800, 600, true)))
    assert(Multimodal.decodeDims("not an image".getBytes) == ((0, 0, false)))
    // truncated header must not throw
    assert(Multimodal.decodeDims(graft.sources.ImageGen.png(640, 480).take(12)) == ((0, 0, false)))
    // BMP: real BITMAPINFOHEADER parses; top-down (negative height) reports
    // the magnitude; 'BM' TEXT (weak magic, unknown DIB size) yields no dims
    assert(Multimodal.sniffType(graft.sources.ImageGen.bmp(320, 200)) == "bmp")
    assert(Multimodal.decodeDims(graft.sources.ImageGen.bmp(320, 200)) == ((320, 200, true)))
    assert(Multimodal.decodeDims(graft.sources.ImageGen.bmp(320, -200)) == ((320, 200, true)))
    assert(Multimodal.decodeDims("BM revenue was flat quarter over quarter".getBytes)
      == ((0, 0, false)))
    // html markers take precedence over a coincidental raster magic — same
    // ordering as the kernel dispatch (a real raster header never sniffs html)
    assert(Multimodal.sniffType("BM <!doctype html> quarterly report".getBytes) == "html")
    import spark.implicits._
    val triage = Multimodal.mediaTriageFrom(Multimodal.mediaMeta(spark, sf0001).toDF())
      .select(col("media_type"), col("n_docs")).as[(String, Long)].collect().toMap
    assert(triage.keySet == Set("html", "pdf", "zip", "empty", "png", "jpg", "tiff"))
    assert(triage.values.sum == 500)
    // raster rows carry real dims in the distributed meta path too
    val pngMeta = Multimodal.mediaMeta(spark, sf0001)
      .filter(col("media_type") === "png").collect()
    assert(pngMeta.nonEmpty && pngMeta.forall(m => m.decode_ok && m.width > 0 && m.height > 0))
  }

  // ---- streaming parity + checkpoint exactly-once ----

  test("streaming: availableNow equals batch; checkpoint resume processes nothing") {
    import spark.implicits._
    withTempDir("graft_stream_spec") { base =>
      PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")

      val streamed = Drain.rows(StreamingExtract.extractStream(spark, s"$base/pages"), "append")
        .select(col("url"), md5(col("text")).as("h")).as[(String, String)]
        .collect().sortBy(_._1).toSeq
      val batch = ExtractJob.extract(spark, PageSynth.pages(spark, sf0001), 8)
        .select(col("url"), md5(col("text")).as("h")).as[(String, String)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)

      // checkpointed parquet sink: first run writes everything, a second run
      // against the same checkpoint finds nothing new (exactly-once resume)
      Drain.toParquet(StreamingExtract.extractStream(spark, s"$base/pages"),
        s"$base/ckpt", s"$base/out")
      val n1 = spark.read.parquet(s"$base/out").count()
      assert(n1 == batch.size)
      Drain.toParquet(StreamingExtract.extractStream(spark, s"$base/pages"),
        s"$base/ckpt", s"$base/out")
      assert(spark.read.parquet(s"$base/out").count() == n1)
    }
  }
}
