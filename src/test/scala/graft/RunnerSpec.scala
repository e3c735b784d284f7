package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Page, PartitionLineage, RunRecord}
import graft.operators.{ExtractJob, ExtractRunner, RunLog}
import graft.sources.{PageSynth, Warc}

import scala.jdk.CollectionConverters._

/** End-to-end runner: snapshot → resume → extract → bucketed write →
  * one run record. The kill-anywhere/rerun-idempotent contract of the
  * north rule at job granularity.
  */
class RunnerSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  /** The completed lineage rows a run wrote equal `ExtractJob.lineage`
    * over the read-back landed table (wall_ms excluded): lineage taken
    * from the rows the write consumed is exactly what landed.
    */
  private def assertLineageMatchesLanded(out: String, snapshotId: Long): Unit = {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("snapshot_id") === snapshotId && col("status") === "completed")
      .drop("wall_ms").orderBy(col("bucket")).collect().map(_.toSeq).toSeq
    val written = rows(ExtractRunner.lineage(spark, out))
    val landed = rows(ExtractJob.lineage(
      spark.read.parquet(s"$out/extracted").as[graft.model.Extracted], snapshotId))
    assert(written.nonEmpty && written == landed,
      s"lineage rows differ from the landed table:\n${written.mkString("\n")}\n--\n${landed.mkString("\n")}")
  }

  /** Commits one run record by hand, as a run would. */
  private def writeRecord(out: String, snapshotId: Long, lineage: Seq[PartitionLineage],
      status: String = "completed"): Unit = {
    val done = lineage.filter(_.status == "completed")
    RunLog.commit(spark, s"$out/runs", RunRecord(snapshotId, 8, "standard", status,
      done.map(_.doc_count).sum, done.size.toLong, 1L, java.time.Instant.now().toString, lineage))
  }

  private def filesUnder(root: String): Set[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    finally files.close()
  }

  /** The snapshot id of a pages table, through the inferred read. */
  private def snapshotOf(pages: String): Long = ExtractJob.snapshotIdOf(spark.read.parquet(pages))

  /** The snapshot id a run plans from: the table under the `Page` schema. */
  private def listedId(pages: String): Long = ExtractJob.snapshotIdOf(
    spark.read.schema(org.apache.spark.sql.Encoders.product[Page].schema).parquet(pages))

  /** Committed records under `runs/`. */
  private def recordFiles(out: String): Int = RunLog.entries(spark, s"$out/runs").size

  /** (url, text md5, status) of the landed table under `root`, by url. */
  private def tableOf(root: String): Seq[(String, String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$root/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
  }

  /** The `status` column of the `runs` view, sorted. */
  private def runStatuses(out: String): Seq[String] =
    ExtractRunner.runs(spark, out).select(col("status")).collect().map(_.getString(0)).sorted.toSeq

  /** Runs `pages` at 8 buckets into `out` through the `kill:` filesystem,
    * which fails the first file create or rename onto a path `at` accepts:
    * the run dies there, as a killed driver would.
    */
  private def killedRun(pages: String, out: String, at: org.apache.hadoop.fs.Path => Boolean): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.kill.impl", classOf[KillFs].getName)
    KillFs.at = at
    val e = try intercept[Exception](ExtractRunner.run(spark, pages, s"kill://$out", buckets = 8))
    finally KillFs.at = _ => false
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(16).map(_.getMessage).mkString("\n")
    assert(msgs.contains(KillFs.Killed), s"the run died elsewhere: $msgs")
  }

  /** After a killed run: `runs` shows it as started alone, it recorded no
    * lineage, and one rerun redoes every bucket and converges to the
    * uninterrupted table `ref`.
    */
  private def assertRerunConverges(pages: String, out: String, ref: String): Unit = {
    assert(runStatuses(out) == Seq("started"))
    assert(ExtractRunner.lineage(spark, out).count() == 0)
    val r = ExtractRunner.run(spark, pages, out, buckets = 8)
    assert(r.bucketsDone == 8 && r.docsProcessed == 500)
    assert(tableOf(out) == tableOf(ref), "the rerun must converge to the uninterrupted table")
    assert(runStatuses(out) == Seq("completed", "started"))
    assertLineageMatchesLanded(out, r.snapshotId)
  }

  test("runner: full run, then no-op rerun, then crash-resume equivalence") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_runner").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")

    // run 1: everything processed
    val r1 = ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8)
    assert(r1.docsProcessed == 500 && r1.bucketsDone == 8)
    val table1 = spark.read.parquet(s"$base/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table1.size == 500)
    assertLineageMatchesLanded(s"$base/out", r1.snapshotId)
    assert(spark.sharedState.cacheManager.isEmpty, "a run must not leave persisted data behind")
    // its start record and its end record
    assert(recordFiles(s"$base/out") == 2)

    // run 2 over the same input snapshot: every bucket is done, so the
    // no-op resume plans from the pages' file listing and the run log on
    // the driver — it starts no Spark job
    val (r2, resumeJobs) = TestSpark.countingJobs(
      ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8))
    assert(r2.snapshotId == r1.snapshotId)
    assert(r2.docsProcessed == 0 && r2.bucketsDone == 0)
    assert(resumeJobs == 0, s"a no-op resume must start no Spark job, started $resumeJobs")
    val table2 = spark.read.parquet(s"$base/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table2 == table1, "no-op rerun must not change the table")
    assert(ExtractRunner.lineage(spark, s"$base/out").count() == 8,
      "no duplicate lineage rows")
    // an out root holds the table and the run log: two committed files for
    // the run with work, one for the no-op resume
    assert(new java.io.File(s"$base/out").list().toSet == Set("extracted", "runs"))
    assert(recordFiles(s"$base/out") == 3)

    // crash simulation: fresh output with a record for only half the
    // buckets (as if the job died mid-write), then one resume run
    val crash = java.nio.file.Files.createTempDirectory("graft_crash").toString
    spark.read.parquet(s"$base/out/extracted")
      .filter(col("bucket") < 4)
      .write.partitionBy("bucket").parquet(s"$crash/out/extracted")
    writeRecord(s"$crash/out", r1.snapshotId, ExtractRunner.lineage(spark, s"$base/out")
      .filter(col("bucket") < 4).drop("snapshot_id").as[PartitionLineage].collect().toSeq)
    val r3 = ExtractRunner.run(spark, s"$base/pages", s"$crash/out", buckets = 8)
    assert(r3.bucketsDone == 4, s"resume should process exactly the 4 missing buckets, got ${r3.bucketsDone}")
    val table3 = spark.read.parquet(s"$crash/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table3 == table1, "crash-resume must converge to the uninterrupted result")
    assert(ExtractRunner.lineage(spark, s"$crash/out").count() == 8)
    assertLineageMatchesLanded(s"$crash/out", r3.snapshotId)

    // run ledger: one row per run
    assert(ExtractRunner.runs(spark, s"$base/out").count() == 2)

    // status point lookup (the GET /status/<id> analogue): one row,
    // bucket-pruned; and the lineage-only job status
    val someUrl = spark.read.parquet(s"$base/out/extracted")
      .select(col("url")).limit(1).as[String].collect()(0)
    val st = ExtractRunner.status(spark, s"$base/out", someUrl, buckets = 8).collect()
    assert(st.length == 1 && st(0).getAs[String]("url") == someUrl)
    // bucket count is a TABLE property: resolved from the run records when
    // the caller doesn't pass one (a wrong modulus would prune to the wrong
    // directory and silently return nothing)
    val stAuto = ExtractRunner.status(spark, s"$base/out", someUrl).collect()
    assert(stAuto.length == 1 && stAuto(0).getAs[String]("url") == someUrl)
    val js = ExtractRunner.jobStatus(spark, s"$base/out").collect()
    assert(js.length == 1 && js(0).getAs[Long]("docs") == 500)
    assert(js(0).getAs[Long]("buckets_cancelled") == 0)

    // batch status lookup (API.md:468 — up to 100 ids per request):
    // bucket-pruned isin scan, one row per requested url
    val someUrls = spark.read.parquet(s"$base/out/extracted")
      .select(col("url")).limit(7).as[String].collect().toSeq
    val bs = ExtractRunner.statusBatch(spark, s"$base/out", someUrls, buckets = 8).collect()
    assert(bs.length == 7 && bs.map(_.getAs[String]("url")).toSet == someUrls.toSet)
    assertThrows[IllegalArgumentException] {
      ExtractRunner.statusBatch(spark, s"$base/out", (1 to 101).map(i => s"u$i"), buckets = 8)
    }
  }

  test("runner: a second bucket count on an existing table fails at submission, writing nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_moduli").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    def rows() = Seq(spark.read.parquet(s"$out/extracted"), ExtractRunner.lineage(spark, out),
      ExtractRunner.runs(spark, out)).map(_.count())
    val (filesBefore, rowsBefore) = (filesUnder(out), rows())
    val e = intercept[IllegalArgumentException] {
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 4)
    }
    assert(e.getMessage.contains("buckets=8; running with buckets=4 would mix partition moduli"), e.getMessage)
    assert(rows() == rowsBefore && filesUnder(out) == filesBefore,
      "a rejected run must write no extracted, lineage or run rows")
    val someUrl = spark.read.parquet(s"$out/extracted").select(col("url")).head().getString(0)
    assert(ExtractRunner.status(spark, out, someUrl).count() == 1)
    assert(ExtractRunner.runs(spark, out).select(col("buckets")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(8))
  }

  test("runner: invalid engine rejected at submission with the reference literal (routes.py:39)") {
    val base = java.nio.file.Files.createTempDirectory("graft_engine").toString
    PageSynth.pages(spark, sf0001).limit(1).write.mode("overwrite").parquet(s"$base/pages")
    val e = intercept[IllegalArgumentException] {
      ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 2,
        profile = graft.kernel.ExtractKernel.Profile("tesseract5"))
    }
    assert(e.getMessage.contains("不支持的OCR类型: tesseract5"))
  }

  test("runner: a non-positive bucket count is rejected at submission") {
    val base = java.nio.file.Files.createTempDirectory("graft_buckets0").toString
    PageSynth.pages(spark, sf0001).limit(1).write.mode("overwrite").parquet(s"$base/pages")
    val e = intercept[IllegalArgumentException] {
      ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 0)
    }
    assert(e.getMessage.contains("buckets must be positive, got 0"))
  }

  test("runner: a pages table whose html is a string fails at analysis, writing nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_mistyped").toString
    PageSynth.pages(spark, sf0001).limit(5).withColumn("html", col("html").cast("string"))
      .write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    }
    assert(e.getMessage.contains("html"), e.getMessage)
    for (sub <- Seq("runs", "extracted"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/$sub")), s"$sub/ was written")
  }

  test("runner: resume skips completed record buckets, not cancelled ones") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_records").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")
    val snapId = snapshotOf(s"$base/pages")
    // one record claims buckets 0-3 completed, a second one holds a
    // cancelled mark for bucket 4
    writeRecord(s"$base/out", snapId,
      (0 until 4).map(b => PartitionLineage(b, 10L, 100L, 10L, 0L, Seq.empty, "completed")))
    writeRecord(s"$base/out", snapId,
      Seq(PartitionLineage(4, 0L, 0L, 0L, 0L, Seq.empty, "cancelled")), "cancelled")
    val js = ExtractRunner.jobStatus(spark, s"$base/out").collect()(0)
    assert(js.getAs[Long]("buckets_done") == 4 && js.getAs[Long]("buckets_cancelled") == 1)
    val r = ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8)
    assert(r.bucketsDone == 4, s"resume should process exactly buckets 4-7, got ${r.bucketsDone}")
    val landed = spark.read.parquet(s"$base/out/extracted")
      .select(col("bucket")).distinct().as[Int].collect().toSet
    assert(landed == Set(4, 5, 6, 7), s"got $landed")
  }

  test("runner: an unreadable run record fails the run at submission, writing nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    val bad = java.nio.file.Paths.get(s"$out/runs/x.parquet")
    java.nio.file.Files.createDirectories(bad.getParent)
    java.nio.file.Files.write(bad, "not a parquet file".getBytes("UTF-8"))
    val before = filesUnder(out)
    // a second run must fail the same way: nothing was recorded that
    // would let it skip the bad file
    for (attempt <- 1 to 2) {
      val e = intercept[IllegalStateException] {
        ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
      }
      assert(e.getMessage.contains(s"$out/runs"), s"run $attempt: ${e.getMessage}")
      assert(filesUnder(out) == before, s"run $attempt wrote under the out root")
    }
  }

  test("runner: an out root with extracted/ and no run record is a legacy root; every run fails at submission") {
    val base = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    ExtractRunner.run(spark, s"$base/pages", s"$base/ref", buckets = 8)
    // a root written before run records: extracted/ and no runs/
    val out = s"$base/out"
    spark.read.parquet(s"$base/ref/extracted").write.partitionBy("bucket").parquet(s"$out/extracted")
    val before = filesUnder(out)
    // every bucket count, the table's own included: nothing records the
    // modulus, and no run scans the landed rows to recover it
    val (errors, queries) = TestSpark.capturingQueries(Seq(4, 8, 16).map { b =>
      b -> intercept[IllegalArgumentException](ExtractRunner.run(spark, s"$base/pages", out, buckets = b))
    })
    for ((b, e) <- errors) {
      assert(e.getMessage.contains(s"no committed run record under $out/runs"), s"buckets=$b: ${e.getMessage}")
      assert(filesUnder(out) == before, s"a rejected buckets=$b run wrote under the out root")
    }
    assert(queries.isEmpty, s"a legacy root must be refused with no Spark query, ran ${queries.size}")
  }

  test("runner: a run killed after its start record, before its data commits, reads as started; the rerun converges") {
    val base = java.nio.file.Files.createTempDirectory("graft_kill_write").toString
    val pages = s"$base/pages"
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(pages)
    ExtractRunner.run(spark, pages, s"$base/ref", buckets = 8)
    val out = s"$base/out"
    killedRun(pages, out, _.toUri.getPath.contains("/extracted/"))
    assert(!filesUnder(out).exists(_.endsWith(".parquet")), "the killed write must commit no data")

    // the start record alone holds the modulus: another bucket count is
    // refused from the record names, with no Spark query, writing nothing
    val before = filesUnder(out)
    val (errors, queries) = TestSpark.capturingQueries(Seq(4, 16).map { b =>
      b -> intercept[IllegalArgumentException](ExtractRunner.run(spark, pages, out, buckets = b))
    })
    for ((b, e) <- errors)
      assert(e.getMessage.contains(s"buckets=8; running with buckets=$b would mix partition moduli"), e.getMessage)
    assert(queries.isEmpty, s"the modulus check must run no Spark query, ran ${queries.size}")
    assert(filesUnder(out) == before, "a rejected run wrote under the out root")

    assertRerunConverges(pages, out, s"$base/ref")
  }

  test("runner: a run killed after its data commits, before its end record, reads as started; the rerun converges") {
    val base = java.nio.file.Files.createTempDirectory("graft_kill_record").toString
    val pages = s"$base/pages"
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(pages)
    ExtractRunner.run(spark, pages, s"$base/ref", buckets = 8)
    val out = s"$base/out"
    // the end record of a run over all 8 buckets is the one published as
    // `s…_d8_….json`, renamed from its hidden temp file
    killedRun(pages, out, p => p.getName.startsWith("s") && p.getName.contains("_d8_"))
    assert(tableOf(out) == tableOf(s"$base/ref"), "the data write must have committed")
    // the end record was written in full under its hidden temp name, never
    // published: the log and the views skip it
    assert(new java.io.File(s"$out/runs").list().exists(n => n.startsWith(".") && n.contains("_d8_")))
    assertRerunConverges(pages, out, s"$base/ref")
  }

  test("runner: a table with empty buckets becomes a no-op after one run") {
    val base = java.nio.file.Files.createTempDirectory("graft_sparse").toString
    PageSynth.pages(spark, sf0001).limit(5).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    val r1 = ExtractRunner.run(spark, s"$base/pages", out, buckets = 64)
    assert(r1.docsProcessed == 5)

    val (r2, jobs) = TestSpark.countingJobs(
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 64))
    assert(r2.docsProcessed == 0)
    assert(jobs == 0, s"a rerun over a table with empty buckets must start no Spark job, started $jobs")

    // 5 pages fill at most 5 of 64 buckets: the rest are done with zero counts
    assert(r1.bucketsDone == 64)
    val lin = ExtractRunner.lineage(spark, out).filter(col("status") === "completed")
    assert(lin.count() == 64 && lin.filter(col("doc_count") > 0).count() ==
      spark.read.parquet(s"$out/extracted").select(col("bucket")).distinct().count())
  }

  test("runner: an empty pages table runs once, then resumes from the records; lookups find nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_empty").toString
    spark.emptyDataset[graft.model.Page].write.parquet(s"$base/pages")
    val out = s"$base/out"
    val r1 = ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    assert(r1.docsProcessed == 0 && recordFiles(out) == 2)

    val (r2, jobs) = TestSpark.countingJobs(
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 8))
    assert(r2.docsProcessed == 0 && recordFiles(out) == 3)
    assert(jobs == 0, s"a rerun over an empty table must start no Spark job, started $jobs")

    for (url <- Seq("https://e/a", "https://e/b", "https://e/c"))
      assert(ExtractRunner.status(spark, out, url).count() == 0, url)
  }

  test("runner: a lookup with no committed record asks for the bucket count, never guesses it") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_nomodulus").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    ExtractRunner.run(spark, s"$base/pages", s"$base/ref", buckets = 8)
    // a legacy root: extracted/ landed before run records existed
    val out = s"$base/out"
    spark.read.parquet(s"$base/ref/extracted").write.partitionBy("bucket").parquet(s"$out/extracted")
    // a url the old fallback modulus of 64 prunes to a directory a
    // buckets=8 table never has: that lookup returned 0 rows, silently
    val url = spark.read.parquet(s"$out/extracted").select(col("url")).as[String].collect()
      .find(u => java.lang.Math.floorMod(graft.operators.XxHash.hashUtf8(u), 64L) >= 8).get
    val e = intercept[IllegalArgumentException](ExtractRunner.status(spark, out, url))
    assert(e.getMessage.contains(s"$out/runs") && e.getMessage.contains("pass `buckets`"), e.getMessage)
    assert(ExtractRunner.status(spark, out, url, buckets = 8).count() == 1)
  }

  test("runner: a lookup over run records of two moduli fails, naming both") {
    import spark.implicits._
    graft.streaming.StreamingExtract.withTempDir("graft_twomoduli") { base =>
      PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
      val out = s"$base/out"
      val r = ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
      // the record a racing run at 16 buckets leaves on the same root
      RunLog.commit(spark, s"$out/runs", RunRecord(r.snapshotId, 16, "standard", "completed",
        0L, 0L, 1L, java.time.Instant.now().toString, Nil))
      assert(RunLog.entries(spark, s"$out/runs").map(_.buckets).toSet == Set(8, 16))
      val url = spark.read.parquet(s"$out/extracted").select(col("url")).as[String].head()
      val e = intercept[IllegalStateException](ExtractRunner.status(spark, out, url))
      assert(e.getMessage.contains(s"$out/runs") && e.getMessage.contains("moduli 8, 16"), e.getMessage)
      assert(ExtractRunner.status(spark, out, url, buckets = 8).count() == 1)
    }
  }

  test("runner: a default-buckets status lookup runs one query, the pruned extracted/ scan") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lookup").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    val url = spark.read.parquet(s"$out/extracted").select(col("url")).as[String].head()
    val (rows, queries) = TestSpark.capturingQueries(ExtractRunner.status(spark, out, url).collect())
    assert(rows.map(_.getAs[String]("url")).toSeq == Seq(url))
    assert(queries.size == 1 && TestSpark.pathsRead(queries) == Seq(s"$out/extracted"),
      s"expected one query over extracted/, got ${queries.size}: ${TestSpark.pathsRead(queries)}")
  }

  test("runner: a run record round-trips through the driver parser and the views") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_roundtrip").toString + "/out"
    val samples = Seq("say \"no\"", "line one\nline two", "C:\\pages\\a.pdf", "文件内容为空")
    val lineage = Seq(
      PartitionLineage(3, 5L, 40L, 1L, 4L, samples, "completed"),
      PartitionLineage(5, 0L, 0L, 0L, 0L, Seq.empty, "cancelled"))
    // a negative id: the name carries it as unsigned hex
    val rec = RunRecord(-42L, 8, "standard", "completed", 5L, 1L, 7L,
      java.time.Instant.now().toString, lineage)
    RunLog.commit(spark, s"$out/runs", rec)

    val entries = RunLog.entries(spark, s"$out/runs")
    assert(entries.map(e => (e.snapshotId, e.buckets)) == Seq((-42L, 8)))
    assert(RunLog.read(spark, entries.head) == rec)
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(entries.head.path.toUri)).size == 1,
      "a record is one line")
    assert(ExtractRunner.runs(spark, out).collect().map(_.toSeq).toSeq ==
      Seq(rec.productIterator.toSeq.init))
    assert(ExtractRunner.lineage(spark, out).orderBy(col("bucket")).as[(Long, Int, Long, Long,
        Long, Long, Seq[String], String)].collect().toSeq ==
      lineage.map(l => (rec.snapshot_id, l.bucket, l.doc_count, l.byte_count, l.ok_count,
        l.fail_count, l.failure_samples, l.status)))
  }

  test("runner: a run log entry that is not a record fails the run at submission, naming it") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_notrecord").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    val snapId = snapshotOf(s"$base/pages")
    val recordName = s"s${java.lang.Long.toHexString(snapId)}_b8_d8_1700000000000_" +
      s"${java.util.UUID.randomUUID()}.json"
    def put(out: String, name: String, content: String): Unit = {
      val f = java.nio.file.Paths.get(s"$out/runs/$name")
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    }
    val cases = Seq[(String, String => String)](
      "junk" -> { out => put(out, "notes.txt", "hello"); "notes.txt" },
      // a run record as a parquet-era run wrote it: a committed part file
      "parquet record" -> { out =>
        Seq(RunRecord(snapId, 8, "standard", "completed", 0L, 0L, 1L, "2024-01-01T00:00:00Z", Nil))
          .toDS().coalesce(1).write.parquet(s"$out/runs")
        new java.io.File(s"$out/runs").list().find(_.startsWith("part-")).get
      },
      "record name, not JSON" -> { out => put(out, recordName, "{\"snapshot_id\": "); recordName })
    for ((label, make) <- cases) {
      val out = s"$base/out-${label.replace(' ', '-')}"
      val bad = make(out)
      val before = filesUnder(out)
      val e = intercept[IllegalStateException] {
        ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
      }
      assert(e.getMessage.contains(s"$out/runs/$bad"), s"$label: ${e.getMessage}")
      assert(filesUnder(out) == before, s"$label: the failed run wrote under the out root")
      // the views fail on it too, never reading it as no runs
      for ((view, rows) <- Seq[(String, () => Any)](
          "runs" -> (() => ExtractRunner.runs(spark, out).collect()),
          "lineage" -> (() => ExtractRunner.lineage(spark, out).collect()),
          "jobStatus" -> (() => ExtractRunner.jobStatus(spark, out).collect()))) {
        val ve = intercept[Exception](rows())
        val msgs = Iterator.iterate[Throwable](ve)(_.getCause).takeWhile(_ != null).take(16).map(_.getMessage).mkString("\n")
        assert(msgs.contains(bad), s"$label, $view: $msgs")
      }
    }
  }

  test("runner: planning opens only this snapshot's records that completed a bucket") {
    val base = java.nio.file.Files.createTempDirectory("graft_opens").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    // scheduled reruns over the same snapshot: each appends a record that
    // completed nothing, as do cancelled runs and runs over other snapshots
    for (_ <- 1 to 20) assert(ExtractRunner.run(spark, s"$base/pages", out, buckets = 8).docsProcessed == 0)
    writeRecord(out, 12345L, Seq(PartitionLineage(0, 1L, 1L, 1L, 0L, Seq.empty, "completed")))
    // the first run's start and end records, 20 no-op records, the other snapshot's
    assert(recordFiles(out) == 23)

    spark.sparkContext.hadoopConfiguration.set("fs.opens.impl", classOf[OpenCountingFs].getName)
    OpenCountingFs.opened.clear()
    val r = ExtractRunner.run(spark, s"$base/pages", s"opens://$out", buckets = 8)
    assert(r.docsProcessed == 0 && recordFiles(out) == 24)
    val opened = OpenCountingFs.opened.asScala.toSeq
    assert(opened.size == 1 && opened.forall(_.contains("_d8_")),
      s"a no-op resume must open only the record of the run that did the work: ${opened.mkString(", ")}")
  }

  test("runner: the planned snapshot id is the inferred read's id, and a changed pages dir fails the run") {
    val base = java.nio.file.Files.createTempDirectory("graft_snapid").toString
    val pages = s"$base/pages"
    PageSynth.pages(spark, sf0001).limit(60).repartition(3).write.parquet(pages)
    val dir = new java.io.File(pages)
    // with Spark's _SUCCESS and .crc files, plus hidden files of our own
    java.nio.file.Files.write(new java.io.File(dir, ".hidden").toPath, Array[Byte](1))
    java.nio.file.Files.write(new java.io.File(dir, "_staging").toPath, Array[Byte](1))
    assert(listedId(pages) == snapshotOf(pages))
    // flat: part files alone
    dir.listFiles().filterNot(_.getName.startsWith("part-")).foreach(_.delete())
    assert(dir.list().forall(_.startsWith("part-")))
    assert(listedId(pages) == snapshotOf(pages))

    // a part file lands between the planning listing and the inferred read
    spark.sparkContext.hadoopConfiguration.set("fs.grow.impl", classOf[GrowingFs].getName)
    GrowingFs.pagesDir = pages
    val e = intercept[IllegalStateException] {
      ExtractRunner.run(spark, pages, s"grow://$base/out", buckets = 8)
    }
    assert(GrowingFs.grown, "the pages dir never grew")
    assert(e.getMessage.contains(s"pages at $pages changed while the run was planned"), e.getMessage)
    assert(!new java.io.File(s"$base/out").exists(), "a run over a changed pages dir must write nothing")
  }

  test("runner: a pages table rewritten in place under the same file names gets a new snapshot id") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_inplace").toString
    val pages = java.nio.file.Paths.get(base, "pages")
    java.nio.file.Files.createDirectories(pages)
    // one part file under a fixed name, as pyarrow's `part-{i}.parquet`
    // and DuckDB's `data_{i}.parquet` writers name theirs
    def writeInPlace(rows: Seq[Page], tag: String): Unit = {
      spark.createDataset(rows).coalesce(1).write.parquet(s"$base/$tag")
      val part = new java.io.File(s"$base/$tag").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, pages.resolve("part-0.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    val all = PageSynth.pages(spark, sf0001).collect().sortBy(_.url)
    val before = all.take(60).toSeq
    // the same urls with other pages' bodies
    val after = before.zip(all.slice(60, 120)).map { case (o, n) => n.copy(url = o.url) }
    def texts(out: String) = spark.read.parquet(s"$out/extracted")
      .select(col("url"), col("status"), col("text")).as[(String, String, String)]
      .collect().sortBy(_._1).toSeq

    writeInPlace(before, "v1")
    val r1 = ExtractRunner.run(spark, pages.toString, s"$base/out", buckets = 8)
    assert(r1.docsProcessed == 60)
    val texts1 = texts(s"$base/out")
    writeInPlace(after, "v2")
    assert(pages.toFile.list().toSeq == Seq("part-0.parquet"))
    val r2 = ExtractRunner.run(spark, pages.toString, s"$base/out", buckets = 8)
    assert(r2.snapshotId != r1.snapshotId, "a file rewritten in place must give a new snapshot id")
    assert(r2.docsProcessed == 60, s"the rewritten table must be re-extracted, got ${r2.docsProcessed}")
    // the new text landed: the table is a fresh run's over the rewritten file
    ExtractRunner.run(spark, pages.toString, s"$base/ref", buckets = 8)
    assert(texts(s"$base/out") == texts(s"$base/ref"))
    assert(texts(s"$base/out") != texts1)
  }

  test("runner: a WARC run's id and rows come from the same listing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_warcgrow").toString
    val pages = s"$base/pages"
    Warc.stagePages(PageSynth.pages(spark, sf0001).limit(60), pages, parts = 3)
    val planned = ExtractJob.snapshotIdOf(Warc.pages(spark, pages).toDF())

    // a .warc.gz lands after the run lists the pages for its plan
    spark.sparkContext.hadoopConfiguration.set("fs.grow.impl", classOf[GrowingFs].getName)
    GrowingFs.pagesDir = pages
    GrowingFs.grown = false
    val r = ExtractRunner.run(spark, pages, s"grow://$base/out", buckets = 8)
    assert(GrowingFs.grown, "the pages dir never grew")
    assert(r.docsProcessed == 60, s"only the planned files' pages may run, got ${r.docsProcessed}")
    assert(r.snapshotId == planned)
    assert(ExtractRunner.runs(spark, s"$base/out").select(col("snapshot_id")).as[Long]
      .collect().toSeq == Seq(planned))
    assert(spark.read.parquet(s"$base/out/extracted").count() == 60)

    val next = ExtractRunner.run(spark, pages, s"$base/out", buckets = 8)
    assert(next.snapshotId != planned, "the grown dir must be a new snapshot")
  }

  test("runner: the planning listing tells WARC from parquet; a no-op parquet resume lists the pages once") {
    val base = java.nio.file.Files.createTempDirectory("graft_lists").toString
    PageSynth.pages(spark, sf0001).limit(50).write.parquet(s"$base/pq")
    Warc.stagePages(PageSynth.pages(spark, sf0001).limit(50), s"$base/warc", parts = 2)
    spark.sparkContext.hadoopConfiguration.set("fs.lists.impl", classOf[ListCountingFs].getName)
    // (docs processed, listings of the pages dir) of one run
    def listings(pages: String, out: String): (Long, Int) = {
      ListCountingFs.dir = pages
      ListCountingFs.listings.set(0)
      val r = ExtractRunner.run(spark, s"lists://$pages", out, buckets = 8)
      (r.docsProcessed, ListCountingFs.listings.get)
    }
    // parquet: the planning listing, then the inferred read with work left
    assert(listings(s"$base/pq", s"$base/out_pq") == ((50L, 2)))
    assert(listings(s"$base/pq", s"$base/out_pq") == ((0L, 1)))
    // WARC: the planning listing, then the WARC frame the id comes from
    assert(listings(s"$base/warc", s"$base/out_warc") == ((50L, 2)))
    assert(listings(s"$base/warc", s"$base/out_warc") == ((0L, 2)))
  }

  test("runner: explicit cancel mid-run writes cancelled marks; rerun converges (A10)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global

    val base = java.nio.file.Files.createTempDirectory("graft_cancel").toString
    // a corpus big enough that the cancel reliably lands mid-write:
    // sf0.01 pages × 5 url-disambiguated copies (~27.5k docs)
    val p0 = PageSynth.pages(spark, "/root/testdata/sf0.01")
    (0 until 5).map { i =>
      p0.map(p => p.copy(url = p.url + s"?copy=$i"))
    }.reduce(_.unionAll(_)).write.mode("overwrite").parquet(s"$base/pages")

    val snapId = snapshotOf(s"$base/pages")
    val group = ExtractRunner.jobGroupFor(snapId)
    val fut = Future(ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8))
    // cancel as soon as the run's job group has a live job (the write job)
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 120000
    while (tracker.getJobIdsForGroup(group).isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(2)
    ExtractRunner.cancel(spark, snapId)
    val r = Await.result(fut, 180.seconds)
    assert(r.cancelled, "cancel must land while the write job is running")
    assert(spark.sharedState.cacheManager.isEmpty, "a cancelled run must not leave persisted data behind")

    // cancelled marks visible PRE-resume: status='cancelled' rows, zero
    // completed — distinguishable from a crash (which writes nothing)
    val lin = ExtractRunner.lineage(spark, s"$base/out")
    assert(lin.filter(col("status") === "cancelled").count() == 8)
    assert(lin.filter(col("status") === "completed").count() == 0)

    // rerun processes the cancelled buckets and converges byte-identically
    // to an uninterrupted run
    val r2 = ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8)
    assert(!r2.cancelled && r2.bucketsDone == 8)
    val ref = java.nio.file.Files.createTempDirectory("graft_cancel_ref").toString
    ExtractRunner.run(spark, s"$base/pages", s"$ref/out", buckets = 8)
    assert(tableOf(s"$base/out") == tableOf(s"$ref/out"),
      "cancel+resume must converge to the uninterrupted result")

    // jobStatus separates done from cancelled
    val js = ExtractRunner.jobStatus(spark, s"$base/out").collect()(0)
    assert(js.getAs[Long]("buckets_done") == 8 &&
      js.getAs[Long]("buckets_cancelled") == 8)
  }
}

/** The local filesystem under a `grow:` scheme: the first time a run
  * checks for the `runs/` dir of an out root on it, which it does after
  * listing the pages for its plan, one more part file lands in
  * `GrowingFs.pagesDir`.
  */
class GrowingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("grow:///")
  override def getScheme: String = "grow"
  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    if (f.getName == "runs") GrowingFs.grow()
    super.exists(f)
  }
}

object GrowingFs {
  @volatile var pagesDir: String = ""
  @volatile var grown = false
  def grow(): Unit = synchronized {
    if (!grown) {
      val part = new java.io.File(pagesDir).listFiles().find(_.getName.startsWith("part-")).get
      java.nio.file.Files.copy(part.toPath, new java.io.File(pagesDir, s"part-grown-${part.getName}").toPath)
      grown = true
    }
  }
}

/** The local filesystem under an `opens:` scheme, noting every file it
  * opens.
  */
class OpenCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("opens:///")
  override def getScheme: String = "opens"
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenCountingFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The local filesystem under a `lists:` scheme, counting the listings of
  * the directory `ListCountingFs.dir`.
  */
class ListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("lists:///")
  override def getScheme: String = "lists"
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.toUri.getPath.stripSuffix("/") == ListCountingFs.dir) ListCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object ListCountingFs {
  @volatile var dir: String = ""
  val listings = new java.util.concurrent.atomic.AtomicInteger()
}

/** The local filesystem under a `kill:` scheme: a file create, or a rename
  * onto a path, that `KillFs.at` accepts fails as if the process died there.
  */
class KillFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("kill:///")
  override def getScheme: String = "kill"
  private def check(f: org.apache.hadoop.fs.Path): Unit =
    if (KillFs.at(f)) throw new java.io.IOException(s"${KillFs.Killed} at $f")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    check(dst)
    super.rename(src, dst)
  }
}

object KillFs {
  val Killed = "injected kill"
  @volatile var at: org.apache.hadoop.fs.Path => Boolean = _ => false
}
