package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Page, PageRaw}
import graft.operators.{Dedup, ExtractJob, ExtractRunner}
import graft.sources.{PageSynth, Warc}

/** One timed call of the closed loop. */
final case class CallRec(key: String, items: Long, seconds: Double, span: SpanRec)

/** A workload: seeded inputs staged in set-up, then a closed loop of calls
  * at `hiCores`, then the output check. Traced runs add the per-layer
  * numbers and a loop at one core.
  */
abstract class Workload(val run: Run) {
  def name: String
  protected def s: SparkSession = run.session
  protected def smoke: Boolean = run.opts.smoke
  protected def seed: Long = run.opts.seed

  /** stage the inputs under `dir` (timed as set-up, repeated) */
  def setup(dir: String): Unit
  /** one call; returns (key, items) — items are docs, or queries for the suite */
  def call(k: Int): (String, Long)
  /** untimed work after each call: output checks, cleanup */
  def afterCall(): Unit = ()
  /** wrong outputs seen since the last check */
  def check(): Long
  /** per-layer numbers of this workload's own layers (traced runs) */
  def layers(calls: Seq[CallRec], tracer: SparkTrace): Map[String, Double]
  /** input facts for the trace record (page size, kind mix, ...) */
  def inputRecord: Map[String, String]

  /** a warm call's nominal length on a 4-core host; sizes the loop */
  def nominalCallS: Double
  /** untimed warm-up after the cold call, in nominal seconds: the calls
    * still speeding up as the JIT finishes with the workload's path
    */
  def warmupS: Double
  /** throughput of a set of calls, in items per second */
  def rate(calls: Seq[CallRec]): Double = Check.median(calls.map(c => c.items / c.seconds))

  private var failedCalls = 0L

  /** Closed loop: one call at a time. The call count is `budgetS` over the
    * nominal call length (at least one), fixed for a workload and budget,
    * so every run times the same calls at the same JIT age however fast
    * the host is that minute.
    */
  private def loop(budgetS: Double): Seq[CallRec] = {
    val out = mutable.ArrayBuffer.empty[CallRec]
    val calls = if (smoke) 1 else math.max(1, math.round(budgetS / nominalCallS).toInt)
    val (t0, steal0) = (System.nanoTime(), Harness.stealS())
    var k = 0
    while (k < calls) {
      val ((key, items), rec) = run.spans.span("call") { _ =>
        try call(k) catch {
          case e: Exception =>
            failedCalls += 1
            System.err.println(s"[perfbench] call $k of $name failed: $e")
            ("failed", 0L)
        }
      }
      rec.attrs("items") = items.toDouble
      if (key != "failed") out += CallRec(key, items, rec.seconds, rec)
      afterCall()
      k += 1
    }
    val stealFrac = (Harness.stealS() - steal0) /
      (Runtime.getRuntime.availableProcessors * (System.nanoTime() - t0) / 1e9)
    System.err.println(s"[perfbench] $name loop at ${run.cores} cores: " +
      out.map(c => f"${c.seconds}%.3f").mkString("calls_s=[", ",", "]") + f" steal_frac=$stealFrac%.3f")
    out.toSeq
  }

  /** Untraced: set-up (several times), a cold first call, an untimed
    * warm-up, then the timed loop at `hiCores`. Traced runs go on with
    * shorter loops under the listener and without it, the workload's layer
    * probes and a loop at one core.
    */
  def execute(): Outcome = {
    run.open(run.hiCores)
    System.err.println("[perfbench] host " + Json.obj(Harness.hostRecord(run)))

    // ---- set-up, several times; the last staging is the one measured on
    val reps = if (smoke) 1 else 3
    val setupS = (1 to reps).map { k =>
      val d = run.dir(s"input-$k")
      val (_, t) = run.spans.time("setup")(setup(d))
      if (k > 1) Harness.rmrf(new File(run.dir(s"input-${k - 1}")))
      t
    }
    System.err.println("[perfbench] inputs " + Json.obj(inputRecord.toSeq))

    val (_, coldS) = run.spans.time("cold")(call(0))
    afterCall()
    val warm = if (smoke) Seq.empty else loop(warmupS)
    var wrong = check()
    run.heapWatch = true
    val hi = loop(run.opts.seconds)
    run.heapWatch = false
    wrong += check()

    if (!run.opts.trace)
      finish(hi.size + warm.size + 1, wrong, Seq(
        ("items_per_s", rate(hi), "1/s"),
        ("setup_s", Check.median(setupS), "s")))
    else {
      // listener on for one loop, then off again: the untraced loops on
      // either side of it give the tracing overhead. The traced-only loops
      // are shorter than the timed one, to keep a traced run within its
      // time limit on a busy host.
      val tracer = run.trace()
      val traced = loop(run.opts.seconds / 2)
      tracer.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(tracer)
      val untraced = loop(run.opts.seconds / 4)
      val callSpans = traced.flatMap(c => run.spans.subtree(c.span)).toSet
      val spark = tracer.summary(callSpans, traced.map(_.seconds).sum, traced.size)
      val own = layers(traced, tracer)
      wrong += check()
      val attempts = tracer.tasksIn(callSpans).size + traced.size
      // the same calls on a one-core session: the N -> 4N scaling pair
      run.open(1)
      s.range(1).count() // first job of a fresh context
      val lo = loop(run.opts.seconds / 4)
      wrong += check()
      val base = Map(
        "scale.items_per_s_1core" -> rate(lo),
        "scale.eff" -> rate(hi) / rate(lo) / run.hiCores,
        "trace.items_per_s" -> rate(traced),
        "trace.overhead_frac" -> (1 - rate(traced) / rate(hi ++ untraced)),
        "check.wrong_outputs" -> wrong.toDouble,
        "jvm.live_heap_peak_mb" -> run.heapPeak / 1048576.0,
        "jvm.cold_call_s" -> coldS,
        "check.op_fail_share" ->
          (failedCalls + spark("spark.task_attempts_failed") * traced.size) / attempts)
      val all = PerLayer.defaults ++ spark ++ base ++ own
      require(all.keySet == PerLayer.defaults.keySet,
        s"unlisted per-layer metrics: ${(all.keySet -- PerLayer.defaults.keySet).mkString(", ")}")
      finish(hi.size + warm.size + traced.size + untraced.size + lo.size + 1, wrong,
        PerLayer.Names.map { case (n, u) => (n, all(n), u) })
    }
  }

  private def finish(calls: Int, wrong: Long, metrics: Seq[(String, Double, String)]): Outcome =
    Outcome(calls + failedCalls, failedCalls, wrong, metrics)

  // ---- helpers shared by the workloads ----
  protected def medianTime(reps: Int)(f: => Any): Double =
    Check.median((1 to reps).map(_ => run.spans.time("probe")(f)._2))

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Every per-layer metric with its unit; a workload whose path skips a
  * layer reports 0 for it.
  */
object PerLayer {
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_revenue", "q_window_topk",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_bruteforce", "ann_lsh", "ann_ivfpq", "text_stats", "text_quality",
    "para_scrub", "text_repetition", "text_pii", "text_chunks",
    "text_lm_score", "q_asof_join", "q_sessionize",
    "decontaminate", "substring_dedup", "substring_dedup_hashed",
    "corpus_pack", "bpe_pair_stats", "link_graph", "robots_filter")

  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_attempts_failed" -> "count", "spark.task_attempts_speculative" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.task_ms_p50" -> "ms", "spark.task_ms_p90" -> "ms",
    "spark.stage_tail_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_blocks" -> "count",
    "spark.spill_bytes" -> "bytes", "spark.scan_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "scale.items_per_s_1core" -> "1/s", "scale.eff" -> "ratio",
    "trace.items_per_s" -> "1/s", "trace.overhead_frac" -> "ratio",
    "check.wrong_outputs" -> "count", "check.op_fail_share" -> "ratio",
    "jvm.live_heap_peak_mb" -> "MB", "jvm.cold_call_s" -> "s") ++
    KernelProbe.Names.map(n => n -> (if (n.endsWith("_ns")) "ns" else "bytes")) ++
    Seq(
      "sources.scan_s" -> "s", "sources.warc_decode_s" -> "s",
      "sources.warc_bytes_in" -> "bytes", "sources.warc_dropped" -> "count",
      "extract.boundary_s" -> "s", "extract.kernel_s" -> "s", "extract.write_s" -> "s",
      "extract.out_files" -> "count", "extract.out_bytes_per_in_byte" -> "ratio",
      "runner.plan_s" -> "s", "runner.write_s" -> "s", "runner.lineage_s" -> "s",
      "runner.ledger_s" -> "s", "runner.resume_noop_s" -> "s", "runner.resume_jobs" -> "count",
      "runner.resume_scan_bytes" -> "bytes",
      "dedup.candidates" -> "count", "dedup.pairs" -> "count", "dedup.verify_useful_ratio" -> "ratio",
      "dedup.bucket_drops" -> "count", "dedup.planted_recall" -> "ratio",
      "functions.token_grams_s" -> "s",
      "query.suite_s" -> "s") ++
    Queries.flatMap(q => Seq(s"query.${q}_s" -> "s", s"query.${q}_jobs" -> "count"))

  val defaults: Map[String, Double] = Names.map(_._1 -> 0.0).toMap
}

/** `crawl_pages`: Common-Crawl-sized pages (text ×8) as a parquet table,
  * `ExtractRunner.run` into a fresh table, then a no-op resume.
  */
final class CrawlWorkload(run: Run) extends Workload(run) {
  val name = "crawl_pages"
  val nominalCallS = 3.0
  val warmupS = 9.0
  private val docs = Corpus.documents(seed, if (smoke) 300 else 6000, inflate = 8)
  private val golden = Corpus.goldenDigests(docs)
  private val files = if (smoke) 4 else run.hiCores * 4
  /** the kernel probe's fixed sample: the first docs of the seeded corpus */
  private val KernelSample = if (smoke) 60 else 300
  private var pagesDir = ""
  private var payloadBytes = 0L
  private var lastOut: Option[String] = None
  private var resumeNotNoop = 0L
  private var warcDropped = 0L

  def setup(dir: String): Unit = {
    val spark = s
    import spark.implicits._
    pagesDir = s"$dir/pages"
    s.createDataset(docs).map(PageSynth.pageFor).repartition(files).write.parquet(pagesDir)
  }

  private def pages(): Dataset[Page] = {
    val spark = s
    import spark.implicits._
    s.read.parquet(pagesDir).as[Page]
  }

  def inputRecord: Map[String, String] = {
    if (payloadBytes == 0L)
      payloadBytes = pages().agg(sum(length(col("html")))).collect()(0).getLong(0)
    val kinds = docs.groupBy(d => Corpus.kindLabel(d.doc_id)).map { case (k, v) => k -> v.size }
    Map("workload" -> Json.str(name), "docs" -> docs.size.toString,
      "payload_bytes_per_doc" -> Json.num(payloadBytes.toDouble / docs.size),
      "format" -> Json.str("parquet"), "files" -> files.toString,
      "kernel_sample_docs" -> KernelSample.toString) ++
      Corpus.KindLabels.map(k => s"share_$k" -> Json.num(kinds.getOrElse(k, 0).toDouble / docs.size)) ++
      Corpus.KindLabels.map(k => s"kernel_sample_$k" ->
        docs.take(KernelSample).count(d => Corpus.kindLabel(d.doc_id) == k).toString)
  }

  private var k = 0
  def call(i: Int): (String, Long) = {
    k += 1
    val out = run.dir(s"out-$k")
    val (first, _) = run.spans.span("runner.run")(_ => ExtractRunner.run(s, pagesDir, out))
    val (again, _) = run.spans.span("runner.resume")(_ => ExtractRunner.run(s, pagesDir, out))
    if (again.docsProcessed != 0) resumeNotNoop += 1
    lastOut.foreach(o => Harness.rmrf(new File(o)))
    lastOut = Some(out)
    ("run", first.docsProcessed)
  }

  def check(): Long = lastOut.fold(0L) { out =>
    val landed = s.read.parquet(s"$out/extracted").select(col("url"), Check.sparkDigest)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val wrong = Check.wrongAgainst(landed, golden) + resumeNotNoop + warcDropped
    if (wrong > 0) System.err.println(s"[perfbench] $name: $wrong wrong outputs " +
      s"(resume not a no-op: $resumeNotNoop, warc drops: $warcDropped)")
    resumeNotNoop = 0L
    warcDropped = 0L
    wrong
  }

  /** runner job classes by the first program frame of the job's call site */
  private def runnerClass(site: String): String = {
    val frame = site.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
    if (frame.contains("appendSnapshotRow")) "ledger"
    else if (frame.contains("writeExtracted")) "write"
    else if (frame.contains("writeAndFinalize")) "lineage"
    else "plan"
  }

  def layers(calls: Seq[CallRec], tracer: SparkTrace): Map[String, Double] = {
    val spark = s
    import spark.implicits._
    val n = calls.size.toDouble
    def childSpans(name: String) =
      calls.flatMap(c => run.spans.all.filter(x => x.parent == c.span.id && x.name == name))
    val runIds = childSpans("runner.run").flatMap(run.spans.subtree).toSet
    val resumeSpans = childSpans("runner.resume")
    val resumeIds = resumeSpans.flatMap(run.spans.subtree).toSet
    val byClass = tracer.jobsIn(runIds).groupBy(j => runnerClass(j.callSite))
      .map { case (c, js) => c -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum / n }
    val (outBytes, outFiles) = Harness.dirBytes(new File(s"${lastOut.get}/extracted"))

    // layer probes, each the median of three timed passes
    val reps = if (smoke) 1 else 3
    val scan = medianTime(reps)(s.read.parquet(pagesDir).select(col("url"), col("html"))
      .agg(sum(length(col("url")) + length(col("html")))).collect())
    val passThrough = medianTime(reps)(noop(pages().select(col("url"), col("html")).as[PageRaw]
      .mapPartitions(it => it).toDF()))
    val extractNoop = medianTime(reps)(noop(ExtractJob.extract(s, pages()).toDF()))
    val landed = ExtractJob.extract(s, pages()).localCheckpoint()
    var w = 0
    val write = medianTime(reps) { w += 1; ExtractJob.writeExtracted(landed, run.dir(s"write-$w")) }
    (1 to w).foreach(i => Harness.rmrf(new File(run.dir(s"write-$i"))))
    // the crawl arrival format: the same pages staged as .warc.gz, decoded
    val warcDir = run.dir("warc")
    Warc.stagePages(pages(), warcDir, parts = files)
    val drops = Warc.drops(s.sparkContext)
    val dropsBefore = drops.oversizeRecords.value + drops.tornTails.value
    val warcDecode = medianTime(reps)(Warc.pages(s, warcDir).count())
    warcDropped += drops.oversizeRecords.value + drops.tornTails.value - dropsBefore
    val warcBytes = Harness.dirBytes(new File(warcDir))._1
    Harness.rmrf(new File(warcDir))
    val kernel = KernelProbe.run(docs.take(KernelSample), if (smoke) 0.05 else 1.5)

    kernel ++ Map(
      "sources.scan_s" -> scan,
      "sources.warc_decode_s" -> warcDecode,
      "sources.warc_bytes_in" -> warcBytes.toDouble,
      "sources.warc_dropped" -> warcDropped.toDouble,
      "extract.boundary_s" -> (passThrough - scan),
      "extract.kernel_s" -> (extractNoop - passThrough),
      "extract.write_s" -> write,
      "extract.out_files" -> outFiles.toDouble,
      "extract.out_bytes_per_in_byte" -> outBytes.toDouble / payloadBytes,
      "runner.plan_s" -> byClass.getOrElse("plan", 0.0),
      "runner.write_s" -> byClass.getOrElse("write", 0.0),
      "runner.lineage_s" -> byClass.getOrElse("lineage", 0.0),
      "runner.ledger_s" -> byClass.getOrElse("ledger", 0.0),
      "runner.resume_noop_s" -> Check.median(resumeSpans.map(_.seconds)),
      "runner.resume_jobs" -> tracer.jobsIn(resumeIds).size / n,
      "runner.resume_scan_bytes" -> tracer.tasksIn(resumeIds).map(_.scan).sum / n)
  }
}

/** `near_dup`: MinHash-LSH pairs over a seeded, genuinely distinct
  * extracted corpus with 1 % planted near-duplicates (Bench's
  * construction); the extraction happens in set-up. Traced runs also
  * probe the 25 secondary queries (`QuerySuite`), the other zero-kernel
  * operator path.
  */
final class NearDupWorkload(run: Run) extends Workload(run) {
  val name = "near_dup"
  val nominalCallS = 1.2
  val warmupS = 12.0
  private val replicas = if (smoke) 2 else 8
  private val docs = Corpus.documents(seed, if (smoke) 300 else 600)
  private var idsDir = ""
  private var nIds = 0L
  /** the planted pairs (id_a < id_b), which every call must report */
  private var want = Set.empty[(Long, Long)]
  private var last: Option[(DataFrame, Long)] = None
  private var missed = 0L
  private var found = 0L
  private val suite = new QuerySuite(run)

  def setup(dir: String): Unit = {
    val spark = s
    import spark.implicits._
    val (sd, reps) = (seed, replicas)
    // a replica-specific marker after every 2nd token makes each replica a
    // distinct page (cross-replica Jaccard ~0), as Bench builds it
    val pages = s.createDataset(docs).flatMap { d =>
      (0 until reps).iterator.map { r =>
        val marker = s"zrep${sd}x${r}z"
        val toks = d.text.split(' ')
        val sb = new java.lang.StringBuilder(d.text.length * 2)
        toks.indices.foreach { i =>
          sb.append(toks(i)).append(' ')
          if (i % 2 == 1) sb.append(marker).append(' ')
        }
        d.copy(doc_id = d.doc_id * reps + r, text = sb.toString.trim)
      }
    }.map(PageSynth.pageFor).repartition(run.hiCores * 4)
    ExtractJob.extract(s, pages, buckets = 256).toDF()
      .filter(col("status") === "completed" && length(col("text")) > 200)
      .select(col("url"), col("text"))
      .write.parquet(s"$dir/extracted")
    val extracted = s.read.parquet(s"$dir/extracted")
    // plant a near-dup for ~1 % of docs: cut a ~5 % middle slice, insert a
    // marker. Only docs long enough that the edit keeps Jaccard well above
    // the 0.6 verify threshold are planted: on a short doc the same edit
    // makes a pair the operator rightly does not report.
    val origs = extracted.filter(length(col("text")) > 600 &&
      pmod(xxhash64(col("url")), lit(25L)) === 0)
    val planted = origs.select(
      concat(lit("dup://"), col("url")).as("url"),
      expr("concat(substring(text, 1, cast(length(text) * 0.45 AS int)), " +
        "' planted near duplicate marker tokens ', " +
        "substring(text, cast(length(text) * 0.5 AS int), length(text)))").as("text"))
    idsDir = s"$dir/ids"
    extracted.unionAll(planted).select(xxhash64(col("url")).as("doc_id"), col("text"))
      .repartition(run.hiCores * 4).write.parquet(idsDir)
    want = origs.select(xxhash64(col("url")).as("ha"), xxhash64(concat(lit("dup://"), col("url"))).as("hb"))
      .select(least(col("ha"), col("hb")), greatest(col("ha"), col("hb")))
      .as[(Long, Long)].collect().toSet
    nIds = s.read.parquet(idsDir).count()
    require(want.nonEmpty, s"near_dup corpus of $nIds docs planted no near-duplicate")
  }

  def inputRecord: Map[String, String] = Map("workload" -> Json.str(name),
    "base_docs" -> docs.size.toString, "replicas" -> replicas.toString,
    "docs" -> nIds.toString, "planted_pairs" -> want.size.toString)

  def call(k: Int): (String, Long) = {
    val pairs = Dedup.minhashLshPairsFrom(s, s.read.parquet(idsDir)).localCheckpoint()
    last = Some((pairs, pairs.count()))
    ("pairs", nIds)
  }

  override def afterCall(): Unit = last.foreach { case (pairs, _) =>
    val got = pairs.select(col("id_a"), col("id_b")).collect()
      .iterator.map(r => (r.getLong(0), r.getLong(1))).toSet
    found = want.count(got.contains)
    missed += want.size - found
  }

  def check(): Long = {
    val m = missed + suite.wrong
    if (missed > 0) System.err.println(s"[perfbench] near_dup: $missed planted pairs missed")
    missed = 0L
    suite.wrong = 0L
    m
  }

  def layers(calls: Seq[CallRec], tracer: SparkTrace): Map[String, Double] = {
    val pairs = last.get._2.toDouble
    val cands = Dedup.MinhashCandidates.get.toDouble
    val grams = medianTime(if (smoke) 1 else 3) {
      s.read.parquet(idsDir)
        .select(size(graft.functions.TokenGrams.tokenGrams(s, col("text"), 3)).as("n"))
        .agg(sum(col("n"))).collect()
    }
    Map(
      "dedup.candidates" -> cands,
      "dedup.pairs" -> pairs,
      "dedup.verify_useful_ratio" -> (if (cands > 0) pairs / cands else 0.0),
      "dedup.bucket_drops" -> Dedup.MinhashDrops.droppedBuckets.toDouble,
      "dedup.planted_recall" -> found.toDouble / want.size,
      "functions.token_grams_s" -> grams) ++ suite.probe(tracer)
  }
}

/** The 25 secondary `SparkEntry` queries over seeded sf0.001 tables, each
  * counted as `Bench` counts them: one cold pass, then one traced pass
  * that gives `query.<name>_s` and `query.<name>_jobs`. Row counts are
  * checked against query_rows.tsv on both passes.
  *
  * Raw-operator substitutions: Bench's (the LSH/simhash sketches and the
  * IVF-PQ index built once), plus the four queries whose registered form
  * memoizes its input under a fixed /tmp path — those run their operator
  * on the same extracted / html-page tables, memoized in the run's own
  * directory.
  */
final class QuerySuite(run: Run) {
  import graft.operators.{ParagraphDedup, Pq, Similarity, TextAnalysis, UrlDedup}
  private def s: SparkSession = run.session
  private val sf = 0.001
  private val dir = run.dir("suite")
  private val expected = QuerySuite.expectedRows
  var wrong = 0L

  /** derived tables, materialized on first use and read back after
    * (SparkEntry's memoized-materialization pattern)
    */
  private val mats = mutable.Set.empty[String]
  private def mat(name: String)(build: => DataFrame): DataFrame = {
    val path = s"$dir/_$name"
    if (mats.add(name)) build.write.parquet(path)
    s.read.parquet(path)
  }

  private def extracted: DataFrame = mat("extracted")(
    ExtractJob.extract(s, PageSynth.pages(s, dir), buckets = 32).toDF()
      .repartition(s.sparkContext.defaultParallelism))

  private def htmlPages: DataFrame = mat("html_pages") {
    val spark = s
    import spark.implicits._
    PageSynth.pages(s, dir)
      .filter(p => p.html != null && p.html.length > 0 && p.html(0) == '<'.toByte)
      .map(p => (p.url, new String(p.html, java.nio.charset.StandardCharsets.UTF_8)))
      .toDF("url", "html")
  }

  /** SparkEntry's link_graph body after its html_pages materialization */
  private def linkGraph(html: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    html.as[(String, String)]
      .flatMap { case (url, h) => graft.kernel.LinkExtract.hrefs(h).map(x => (url, x)) }
      .toDF("url", "href")
      .select(col("url"),
        when(col("href").startsWith("/"),
          concat(lit("https://"), regexp_extract(col("url"), "^https?://([^/]+)/", 1), col("href")))
          .otherwise(col("href")).as("dst"))
      .groupBy(col("dst"))
      .agg(countDistinct(col("url")).as("n_src_pages"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("dst"))
  }

  private def frame(q: String): DataFrame = q match {
    case "dedup_minhash_lsh" => Dedup.dedupMinhashLsh(s, dir)
    case "dedup_simhash" => Dedup.dedupSimhash(s, dir)
    case "ann_lsh" => Similarity.annLsh(s, dir)
    case "ann_ivfpq" => Similarity.annIvfPqFrom(s, dir,
      mat("ivf_cells")(Similarity.annIvfCells(s, dir)),
      mat("ivf_probes")(Similarity.annIvfProbes(s, dir)),
      mat("pq_pairs")(Pq.pqPairs(s, dir)))
    case "para_scrub" => ParagraphDedup.paragraphScrubFrom(s, extracted)
    case "text_repetition" => TextAnalysis.textRepetition(extracted)
    case "robots_filter" => UrlDedup.robotsFilter(extracted)
    case "link_graph" => linkGraph(htmlPages)
    case other => graft.SparkEntry.queries(other)(s, dir)
  }

  /** one pass over the 25 queries: (query, seconds, span) */
  private def pass(): Seq[(String, Double, SpanRec)] = PerLayer.Queries.map { q =>
    val (n, rec) = run.spans.span(s"query.$q")(_ => frame(q).agg(count(lit(1))).collect()(0).getLong(0))
    if (!expected.get(q).contains(n)) {
      wrong += 1
      System.err.println(s"[perfbench] query $q returned $n rows, " +
        s"recorded ${expected.get(q).fold("nothing")(_.toString)}")
    }
    (q, rec.seconds, rec)
  }

  /** stage the tables, run a cold pass, then a pass under `tracer` */
  def probe(tracer: SparkTrace): Map[String, Double] = {
    Corpus.writeSuiteTables(s, dir, sf, run.hiCores)
    pass()
    s.sparkContext.addSparkListener(tracer)
    val warm = try pass() finally {
      tracer.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(tracer)
    }
    Map("query.suite_s" -> warm.map(_._2).sum) ++ warm.flatMap { case (q, t, rec) =>
      Seq(s"query.${q}_s" -> t, s"query.${q}_jobs" -> tracer.jobsIn(run.spans.subtree(rec)).size.toDouble)
    }
  }
}

object QuerySuite {
  /** row count per query on the seeded sf0.001 tables: query_rows.tsv */
  def expectedRows: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/query_rows.tsv")
    require(in != null, "query_rows.tsv is missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.split('\t')).collect { case Array(q, n) => q -> n.toLong }.toMap
    finally src.close()
  }
}
