package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExtractJob, ExtractRunner}
import graft.sources.PageSynth

/** End-to-end runner: snapshot → resume → extract → bucketed write →
  * lineage append → snapshots ledger. The kill-anywhere/rerun-idempotent
  * contract of the north rule at job granularity.
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
    val written = rows(spark.read.parquet(s"$out/lineage"))
    val landed = rows(ExtractJob.lineage(
      spark.read.parquet(s"$out/extracted").as[graft.model.Extracted], snapshotId))
    assert(written.nonEmpty && written == landed,
      s"lineage rows differ from the landed table:\n${written.mkString("\n")}\n--\n${landed.mkString("\n")}")
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

    // run 2 over the same input snapshot: every bucket is done, so the
    // no-op resume reads lineage alone — no scan of the pages, and never
    // a read of the landed table
    val (r2, resumeQueries) = TestSpark.capturingQueries(
      ExtractRunner.run(spark, s"$base/pages", s"$base/out", buckets = 8))
    assert(r2.snapshotId == r1.snapshotId)
    assert(r2.docsProcessed == 0 && r2.bucketsDone == 0)
    val resumeRead = TestSpark.pathsRead(resumeQueries)
    assert(resumeRead.contains(s"$base/out/lineage") &&
        !resumeRead.exists(p => p == s"$base/pages" || p.startsWith(s"$base/out/extracted")),
      s"a no-op resume must read lineage, never pages or extracted/: $resumeRead")
    val table2 = spark.read.parquet(s"$base/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table2 == table1, "no-op rerun must not change the table")
    assert(spark.read.parquet(s"$base/out/lineage").count() == 8,
      "no duplicate lineage rows")

    // crash simulation: fresh output with lineage for only half the
    // buckets (as if the job died mid-write), then one resume run
    val crash = java.nio.file.Files.createTempDirectory("graft_crash").toString
    spark.read.parquet(s"$base/out/extracted")
      .filter(col("bucket") < 4)
      .write.partitionBy("bucket").parquet(s"$crash/out/extracted")
    spark.read.parquet(s"$base/out/lineage")
      .filter(col("bucket") < 4)
      .write.parquet(s"$crash/out/lineage")
    val r3 = ExtractRunner.run(spark, s"$base/pages", s"$crash/out", buckets = 8)
    assert(r3.bucketsDone == 4, s"resume should process exactly the 4 missing buckets, got ${r3.bucketsDone}")
    val table3 = spark.read.parquet(s"$crash/out/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(table3 == table1, "crash-resume must converge to the uninterrupted result")
    assert(spark.read.parquet(s"$crash/out/lineage").count() == 8)
    assertLineageMatchesLanded(s"$crash/out", r3.snapshotId)

    // snapshots ledger: one row per run
    assert(spark.read.parquet(s"$base/out/snapshots").count() == 2)

    // status point lookup (the GET /status/<id> analogue): one row,
    // bucket-pruned; and the lineage-only job status
    val someUrl = spark.read.parquet(s"$base/out/extracted")
      .select(col("url")).limit(1).as[String].collect()(0)
    val st = ExtractRunner.status(spark, s"$base/out", someUrl, buckets = 8).collect()
    assert(st.length == 1 && st(0).getAs[String]("url") == someUrl)
    // bucket count is a TABLE property: resolved from table_meta when the
    // caller doesn't pass one (a wrong modulus would prune to the wrong
    // directory and silently return nothing)
    assert(ExtractRunner.tableBuckets(spark, s"$base/out") == 8)
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

  test("runner: bucketed ingest — same output as plain run; resume prunes done-bucket directories") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")

    // reference output from the classic (anti-join) path
    val refOut = s"$base/ref"
    ExtractRunner.run(spark, s"$base/pages", refOut, buckets = 8)

    // bucketed path: ingest once, run, must land the identical table
    val out = s"$base/out"
    val n = ExtractRunner.ingest(spark, s"$base/pages", out, buckets = 8)
    assert(n == 500)
    val r1 = ExtractRunner.runBucketed(spark, out, buckets = 8)
    assert(r1.docsProcessed == 500 && r1.bucketsDone == 8)
    def tableOf(root: String) = spark.read.parquet(s"$root/extracted")
      .select(col("url"), md5(col("text")).as("h"), col("status"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(tableOf(out) == tableOf(refOut),
      "bucketed path must produce the identical extracted table")

    // crash-resume: drop lineage for half the buckets, rerun — and the
    // resume scan must PRUNE the done-bucket directories, not read them
    val lin = spark.read.parquet(s"$out/lineage")
    lin.filter(col("bucket") < 4).write.mode("overwrite").parquet(s"$base/lin_half")
    spark.read.parquet(s"$base/lin_half").write.mode("overwrite").parquet(s"$out/lineage")
    val done = (0 until 4)
    val prunedScan = spark.read.parquet(s"$out/pages_bucketed")
      .filter(!col("bucket").isin(done: _*))
    val plan = prunedScan.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"resume scan must partition-prune:\n$plan")
    val r2 = ExtractRunner.runBucketed(spark, out, buckets = 8)
    assert(r2.bucketsDone == 4, s"resume should process the 4 missing buckets, got ${r2.bucketsDone}")
    assert(tableOf(out) == tableOf(refOut), "bucketed resume must converge")
    // no-op rerun
    val r3 = ExtractRunner.runBucketed(spark, out, buckets = 8)
    assert(r3.docsProcessed == 0 && r3.bucketsDone == 0)
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

  test("runner: legacy status-less lineage files mix safely with new rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$base/pages")
    val snapId = ExtractJob.snapshotIdOf(spark, s"$base/pages")
    // legacy 8-column lineage (pre-status) claims buckets 0-3 done...
    (0 until 4).map(b => (snapId, b, 10L, 100L, 10L, 0L, Seq.empty[String], 5L))
      .toDF("snapshot_id", "bucket", "doc_count", "byte_count",
        "ok_count", "fail_count", "failure_samples", "wall_ms")
      .write.parquet(s"$base/out/lineage")
    // ...and a NEW-format cancelled mark exists for bucket 4
    ExtractJob.cancelledLineage(spark, Seq(4), snapId, 1L)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$base/out/lineage")
    // the merged read must keep the status column: legacy rows backfill
    // 'completed', the cancelled mark survives, and resume reprocesses
    // bucket 4 (plus 5-7) but not 0-3
    val lin = ExtractRunner.readLineage(spark, s"$base/out/lineage")
    assert(lin.filter(col("status") === "cancelled").count() == 1)
    assert(lin.filter(col("status") === "completed").count() == 4)
    val todo = ExtractJob.resumeFilter(spark,
        spark.read.parquet(s"$base/pages").as[graft.model.Page], lin, snapId, buckets = 8)
      .select(ExtractJob.bucketCol(8).as("b")).distinct()
      .as[Int].collect().toSet
    assert(todo == Set(4, 5, 6, 7), s"got $todo")
    // jobStatus over the mixed dir works and reports both states
    val js = ExtractRunner.jobStatus(spark, s"$base/out").collect()(0)
    assert(js.getAs[Long]("buckets_done") == 4 && js.getAs[Long]("buckets_cancelled") == 1)
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
    val lin = spark.read.parquet(s"$base/out/lineage")
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
