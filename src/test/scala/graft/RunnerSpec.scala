package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{PartitionLineage, RunRecord}
import graft.operators.{ExtractJob, ExtractRunner}
import graft.sources.PageSynth

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

  /** Appends one committed run record by hand, as a run would. */
  private def writeRecord(out: String, snapshotId: Long, lineage: Seq[PartitionLineage],
      status: String = "completed"): Unit = {
    import spark.implicits._
    val done = lineage.filter(_.status == "completed")
    Seq(RunRecord(snapshotId, 8, "standard", status, done.map(_.doc_count).sum,
        done.size.toLong, 1L, java.time.Instant.now().toString, lineage))
      .toDS().write.mode("append").parquet(s"$out/runs")
  }

  private def filesUnder(root: String): Set[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    finally files.close()
  }

  /** Committed record files under `runs/` (part files, not `_SUCCESS`). */
  private def recordFiles(out: String): Int =
    Option(new java.io.File(s"$out/runs").list()).fold(0)(_.count(_.startsWith("part-")))

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
    assert(recordFiles(s"$base/out") == 1)

    // run 2 over the same input snapshot: every bucket is done, so the
    // no-op resume reads the run records alone — no scan of the pages,
    // and never a read of the landed table
    val (r2, resumeQueries) = TestSpark.capturingQueries(
      ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8))
    assert(r2.snapshotId == r1.snapshotId)
    assert(r2.docsProcessed == 0 && r2.bucketsDone == 0)
    val resumeRead = TestSpark.pathsRead(resumeQueries)
    assert(resumeRead.contains(s"$base/out/runs") &&
        !resumeRead.exists(p => p == s"$base/pages" || p.startsWith(s"$base/out/extracted")),
      s"a no-op resume must read the run records, never pages or extracted/: $resumeRead")
    val table2 = spark.read.parquet(s"$base/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table2 == table1, "no-op rerun must not change the table")
    assert(ExtractRunner.lineage(spark, s"$base/out").count() == 8,
      "no duplicate lineage rows")
    // an out root holds the table and the run log, one committed file per run
    assert(new java.io.File(s"$base/out").list().toSet == Set("extracted", "runs"))
    assert(recordFiles(s"$base/out") == 2)

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

  test("runner: resume skips completed record buckets, not cancelled ones") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_records").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")
    val snapId = ExtractJob.snapshotIdOf(spark, s"$base/pages")
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

  test("runner: a record killed before its commit is invisible; the resume redoes every bucket") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_window").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")
    val ref = ExtractRunner.run(spark, s"$base/pages", s"$base/ref", buckets = 8)
    assert(ref.bucketsDone == 8)
    // the crash window: the data write committed, the record did not —
    // extracted/ is whole, runs/ holds only the committer's _temporary/
    // with a torn part file
    val out = s"$base/out"
    spark.read.parquet(s"$base/ref/extracted")
      .write.partitionBy("bucket").parquet(s"$out/extracted")
    val committed = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/ref/runs"))
      .iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    val bytes = java.nio.file.Files.readAllBytes(committed)
    val torn = java.nio.file.Paths.get(
      s"$out/runs/_temporary/0/_temporary/attempt_0/${committed.getFileName}")
    java.nio.file.Files.createDirectories(torn.getParent)
    java.nio.file.Files.write(torn, bytes.take(bytes.length / 2))

    // nothing records the modulus in this state, yet another bucket count
    // is refused from the landed rows' url hashes, writing nothing: 4
    // leaves rows in bucket dirs past its range, 16 keeps every dir in range
    val before = filesUnder(out)
    for (b <- Seq(4, 16)) {
      val e = intercept[IllegalArgumentException] {
        ExtractRunner.run(spark, s"$base/pages", out, buckets = b)
      }
      assert(e.getMessage.contains(s"running with buckets=$b would mix partition moduli"), e.getMessage)
      assert(filesUnder(out) == before, s"a rejected buckets=$b run wrote under the out root")
    }

    val r = ExtractRunner.run(spark, s"$base/pages", out, buckets = 8)
    assert(r.bucketsDone == 8 && r.docsProcessed == 500)
    def tableOf(root: String) = spark.read.parquet(s"$root/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(tableOf(out) == tableOf(s"$base/ref"), "the resume must converge to the uninterrupted table")
    assert(ExtractRunner.runs(spark, out).count() == 1)
    val lin = ExtractRunner.lineage(spark, out)
    assert(lin.count() == 8 && lin.filter(col("status") === "completed").count() == 8)
  }

  test("runner: a table with empty buckets becomes a no-op after one run") {
    val base = java.nio.file.Files.createTempDirectory("graft_sparse").toString
    PageSynth.pages(spark, sf0001).limit(5).write.mode("overwrite").parquet(s"$base/pages")
    val out = s"$base/out"
    val r1 = ExtractRunner.run(spark, s"$base/pages", out, buckets = 64)
    assert(r1.docsProcessed == 5)

    val (r2, queries) = TestSpark.capturingQueries(
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 64))
    assert(r2.docsProcessed == 0)
    val read = TestSpark.pathsRead(queries)
    assert(read.contains(s"$out/runs") &&
        !read.exists(p => p == s"$base/pages" || p.startsWith(s"$out/extracted")),
      s"a rerun over a table with empty buckets must read the run records alone: $read")

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
    assert(r1.docsProcessed == 0 && recordFiles(out) == 1)

    val (r2, queries) = TestSpark.capturingQueries(
      ExtractRunner.run(spark, s"$base/pages", out, buckets = 8))
    assert(r2.docsProcessed == 0 && recordFiles(out) == 2)
    val read = TestSpark.pathsRead(queries)
    assert(!read.contains(s"$base/pages"), s"a rerun over an empty table must not read the pages: $read")

    for (url <- Seq("https://e/a", "https://e/b", "https://e/c"))
      assert(ExtractRunner.status(spark, out, url).count() == 0, url)
  }

  test("runner: a lookup with no committed record asks for the bucket count, never guesses it") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_nomodulus").toString
    PageSynth.pages(spark, sf0001).limit(50).write.mode("overwrite").parquet(s"$base/pages")
    ExtractRunner.run(spark, s"$base/pages", s"$base/ref", buckets = 8)
    // a legacy root, or the crash window: extracted/ landed, no record
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

    val snapId = ExtractJob.snapshotIdOf(spark, s"$base/pages")
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
    def tableOf(root: String) = spark.read.parquet(s"$root/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(tableOf(s"$base/out") == tableOf(s"$ref/out"),
      "cancel+resume must converge to the uninterrupted result")

    // jobStatus separates done from cancelled
    val js = ExtractRunner.jobStatus(spark, s"$base/out").collect()(0)
    assert(js.getAs[Long]("buckets_done") == 8 &&
      js.getAs[Long]("buckets_cancelled") == 8)
  }
}
