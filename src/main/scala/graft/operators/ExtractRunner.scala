package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.ExtractKernel
import graft.model.{Extracted, Page, PartitionLineage, RunRecord}

/** The production job entry (spark-submit main): one resumable extraction
  * run over a pages table, with the Iceberg contract emulated on plain
  * parquet (SURVEY.md §1.2 "Iceberg note" — no Iceberg jar in this
  * sandbox; a real catalog binding is a config-only swap):
  *
  *   out/
  *     extracted/bucket=N/...   hash-bucketed output, dynamic-overwrite
  *     runs/                    the run log: one single-line JSON file per
  *                              run, one `RunRecord` each — what ran, over
  *                              which input snapshot, with which bucket
  *                              modulus and outcome, plus the lineage of
  *                              every bucket it covered
  *
  * A run with work commits a `started` record before its data write and
  * its end record, under the same run id, after it; a no-op resume
  * commits its end record alone. Each is written on the driver under a
  * hidden temp name and published by one rename (`RunLog`), so it is
  * recorded whole or not at all (Iceberg's snapshot log with the manifest
  * inlined, kept as Delta Lake keeps its commit log: the log entry first,
  * then the data). A record's name carries the snapshot id, the bucket
  * modulus and the number of completed buckets: the names alone hold the
  * table's modulus. `runs` and `lineage` are views over the records.
  *
  * Resume-from-checkpoint (north rule): a run plans from the records
  * alone, on the driver: the snapshot id from the pages' file listing,
  * every modulus from the record names, and the done buckets from this
  * snapshot's records that completed any (no-op and cancelled runs'
  * records are never opened). The buckets it covers are every bucket the
  * records do not hold as completed for this input snapshot. The pages
  * are read once, by the kernel, with the done buckets anti-joined away,
  * and dynamic-partition-overwrite makes the rerun idempotent. A completed run
  * records every covered bucket, an empty one as a zero-count row, so the
  * next run over the same snapshot stops after reading the records and
  * starts no Spark job. Kill it anywhere; run it again; the final table is
  * byte-identical to an uninterrupted run (asserted in OperatorsSpec /
  * RunnerSpec).
  *
  * Usage:
  *   spark-submit --class graft.operators.ExtractRunner <jar> \
  *     <pagesDir> <outRoot> [buckets] [engine]
  *
  * <pagesDir> is a parquet pages table OR a directory of .warc(.gz)
  * files (crawl arrival format, sources.Warc) — detected automatically;
  * lineage/resume semantics are identical either way.
  */
object ExtractRunner {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class RunReport(
      snapshotId: Long,
      docsProcessed: Long,
      bucketsDone: Long,
      wallMs: Long,
      cancelled: Boolean = false)

  /** Job-group name for a run — `cancel(spark, snapshotId)` (or any
    * cancelJobGroup on it) interrupts the run cooperatively; the kernel
    * checks the interrupt between documents (A10).
    */
  def jobGroupFor(snapshotId: Long): String = s"graft-extract-$snapshotId"

  /** The cancel endpoint analogue (routes.py:207-263): interrupt the run
    * for this snapshot. The running `run()` records status='cancelled'
    * lineage marks for its in-flight buckets before returning.
    */
  def cancel(spark: SparkSession, snapshotId: Long): Unit =
    spark.sparkContext.cancelJobGroup(jobGroupFor(snapshotId))

  /** True only for Spark's own job/task cancellation signals: a
    * SparkException whose message says the JOB was cancelled, or a
    * TaskKilledException. Deliberately narrow — an arbitrary failure whose
    * message merely contains "cancel" (e.g. an output committer reporting
    * 'pending uploads cancelled') must propagate as a crash, not be
    * recorded as a graceful A10 cancel. Cause-walk is depth-bounded (a
    * 2-cycle in the cause chain would otherwise loop forever).
    */
  private def isCancellation(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 16) {
      t match {
        case _: org.apache.spark.TaskKilledException => return true
        // a driver-thread interrupt during the write IS a cooperative
        // cancel of this run (the caller's future/executor cancelling us)
        case _: InterruptedException => return true
        case se: org.apache.spark.SparkException =>
          val m = se.getMessage
          if (m != null) {
            val lm = m.toLowerCase(java.util.Locale.ROOT)
            if (lm.contains("cancel") && (lm.contains("job") || lm.contains("stage")))
              return true
          }
        case _ => ()
      }
      t = if (t.getCause ne t) t.getCause else null
      depth += 1
    }
    false
  }

  def run(
      spark: SparkSession,
      pagesDir: String,
      outRoot: String,
      buckets: Int = ExtractJob.DefaultBuckets,
      profile: ExtractKernel.Profile = ExtractKernel.Standard): RunReport = {
    import spark.implicits._
    // the upload gate's ocr_type whitelist (routes.py:36-39): reject an
    // unknown engine at submission with the reference's exact literal
    require(graft.kernel.MergeSpec.ValidEngines(profile.engine),
      graft.kernel.MergeSpec.invalidOcrType(profile.engine))
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val t0 = System.currentTimeMillis()
    // input format: parquet table OR a directory of .warc(.gz) files —
    // crawls run in arrival format with identical lineage/resume
    // semantics. The pages table under the `Page` schema is declared with
    // no Spark job (no schema inference), and its listing tells the
    // format: any .warc or .warc.gz file makes it a WARC input. The
    // planned snapshot is the id of that frame, or of the WARC frame the
    // kernel reads
    val listed = spark.read.schema(Encoders.product[Page].schema).parquet(pagesDir).as[Page]
    val warcInput = listed.inputFiles.exists(f => f.endsWith(".warc.gz") || f.endsWith(".warc"))
    val planned = if (warcInput) graft.sources.Warc.pages(spark, pagesDir) else listed
    val snapshotId = ExtractJob.snapshotIdOf(planned.toDF())

    val logged = RunLog.entries(spark, runsPath(outRoot))
    // the modulus is a TABLE property: a lookup hashing with the wrong one
    // prunes to directories that don't contain the url, so a second
    // modulus on an existing table fails the run before anything is written
    val moduli = logged.map(_.buckets).distinct
    require(moduli.forall(_ == buckets),
      s"table at $outRoot was written with buckets=${moduli.mkString(",")}; " +
        s"running with buckets=$buckets would mix partition moduli")
    // every run that writes commits its start record first, so a table
    // that no record describes predates the run log
    require(logged.nonEmpty || !pathExists(spark, s"$outRoot/extracted"),
      s"table at $outRoot has no committed run record under ${runsPath(outRoot)}, so nothing " +
        "holds its bucket modulus: it was written before run records; extract into a new out root")

    // every bucket already completed for this snapshot → no page can be
    // left to do: a no-op resume reads this snapshot's records alone,
    // never the pages, and still gets its record. Only a record whose
    // name says it completed a bucket can add one; the rest (no-op
    // resumes, cancelled runs) stay unopened, so planning does not slow
    // as scheduled reruns pile up
    val doneBuckets = logged.filter(e => e.snapshotId == snapshotId && e.bucketsDone > 0)
      .flatMap(RunLog.read(spark, _).lineage.collect { case l if l.status == "completed" => l.bucket })
      .toSet
    if ((0 until buckets).forall(doneBuckets))
      return commitRun(spark, outRoot, snapshotId, buckets, profile, "completed", Nil, t0,
        java.util.UUID.randomUUID())

    val pages =
      if (warcInput) planned
      else {
        // the inferred read, so a mistyped table fails at analysis; it
        // lists the files again, and they must be the planned snapshot
        val df = spark.read.parquet(pagesDir)
        val seen = ExtractJob.snapshotIdOf(df)
        if (seen != snapshotId) throw new IllegalStateException(
          s"pages at $pagesDir changed while the run was planned (snapshot $snapshotId, " +
            s"now $seen); run again to plan the new snapshot")
        df.as[Page]
      }
    val todo =
      if (doneBuckets.isEmpty) pages
      else ExtractJob.resumeFilter(spark, pages, doneBuckets.toSeq, buckets)
    val extracted = ExtractJob.extract(spark, todo, buckets, profile)
    writeAndFinalize(spark, outRoot, snapshotId, buckets, doneBuckets, extracted, profile, t0)
  }

  /** The tail of a run with work left: commit the start record, write
    * under the cancel guard, then derive lineage from the rows that write
    * consumed, commit the end record, and report.
    *
    * The run covers every bucket not in `done`, decided on the driver
    * with no Spark job. Lineage is aggregated over the persisted
    * `extracted` rows, not over a re-read of the landed table: the write
    * commits the whole job or nothing, and dynamic overwrite replaces
    * exactly the buckets those rows fall in, so the landed rows of those
    * buckets ARE the persisted rows (a lost cache block is recomputed by
    * the deterministic kernel — the same rows). The counts still come from
    * a Spark action over those rows, never from accumulators. A covered
    * bucket with no pages in this snapshot is done too: it gets a
    * zero-count 'completed' row, so the next run over the same snapshot
    * is a no-op.
    *
    * A10 cancel semantics live here: cancel is a terminal STATE, not a
    * crash (task.py:8-12, routes.py:253). A cancelled write job committed
    * nothing (the parquet committer is job-atomic), so every covered
    * bucket gets a 'cancelled' mark — a resume reprocesses exactly those,
    * and an operator can see the run was cancelled rather than dead.
    */
  private def writeAndFinalize(
      spark: SparkSession,
      outRoot: String,
      snapshotId: Long,
      buckets: Int,
      done: Set[Int],
      extracted: org.apache.spark.sql.Dataset[Extracted],
      profile: ExtractKernel.Profile,
      t0: Long): RunReport = {
    import spark.implicits._
    def mark(bucket: Int, status: String) =
      PartitionLineage(bucket, 0L, 0L, 0L, 0L, Seq.empty, status)
    // plain driver data before the guarded write: the cancel handler
    // below must start no Spark job, which the still-pending interrupt
    // could kill
    val covered = (0 until buckets).filterNot(done)
    // before any data lands: a run killed from here on leaves its modulus
    // and a `started` row in the run log
    val runId = java.util.UUID.randomUUID()
    commitRun(spark, outRoot, snapshotId, buckets, profile, RunLog.Started, Nil, t0, runId)
    // the kernel runs once: the write fills the cache, lineage reads it
    extracted.persist()
    try {
      spark.sparkContext.setJobGroup(jobGroupFor(snapshotId),
        s"graft extraction snapshot=$snapshotId", interruptOnCancel = true)
      try {
        ExtractJob.writeExtracted(extracted, s"$outRoot/extracted")
      } catch {
        case e: Throwable if isCancellation(e) =>
          spark.sparkContext.clearJobGroup()
          // interruptOnCancel may have left the interrupt pending on THIS
          // driver thread — clear it, or a filesystem client that aborts
          // interruptible I/O cuts the mark write below and the cancel is
          // indistinguishable from a crash (the failure mode A10 exists
          // to prevent)
          val wasInterrupted = Thread.interrupted()
          // mark-write failures must not mask the graceful-cancel report:
          // resume correctness never depends on the marks (only 'completed'
          // rows skip buckets), so log and carry on
          val report = try commitRun(spark, outRoot, snapshotId, buckets, profile, "cancelled",
            covered.map(mark(_, "cancelled")), t0, runId)
          catch {
            case me: Exception =>
              log.warn(s"cancelled-mark write failed for snapshot=$snapshotId " +
                s"(resume unaffected; cancel-vs-crash distinction lost for this run)", me)
              RunReport(snapshotId, 0L, 0L, System.currentTimeMillis() - t0)
          }
          // the interrupt belongs to the CALLER (their cancellation signal)
          // — restore it so the enclosing executor/Future still sees it
          if (wasInterrupted) Thread.currentThread().interrupt()
          return report.copy(cancelled = true)
      } finally spark.sparkContext.clearJobGroup()

      // ≤ buckets rows, collected into the record; the report counts come
      // from the same rows
      val rows = ExtractJob.lineage(extracted, snapshotId)
        .drop("snapshot_id", "wall_ms").as[PartitionLineage].collect().toSeq
      val empty = covered.filterNot(rows.map(_.bucket).toSet).map(mark(_, "completed"))
      val lineage = (rows ++ empty).sortBy(_.bucket)
      commitRun(spark, outRoot, snapshotId, buckets, profile, "completed", lineage, t0, runId)
    } finally { extracted.unpersist(): Unit }
  }

  /** Commit one record of run `runId` to the run log — every run ends
    * with one, no-op resumes included, so operators can answer "did the
    * scheduled run happen". Written on the driver and published by one
    * rename, so lineage, ledger row and modulus land together or not at
    * all.
    */
  private def commitRun(spark: SparkSession, outRoot: String, snapshotId: Long,
      buckets: Int, profile: ExtractKernel.Profile, status: String,
      lineage: Seq[PartitionLineage], t0: Long, runId: java.util.UUID): RunReport = {
    val done = lineage.filter(_.status == "completed")
    val report = RunReport(snapshotId, done.map(_.doc_count).sum, done.size.toLong,
      System.currentTimeMillis() - t0)
    RunLog.commit(spark, runsPath(outRoot), RunRecord(snapshotId, buckets, profile.engine, status,
      report.docsProcessed, report.bucketsDone, report.wallMs, java.time.Instant.now().toString, lineage),
      runId)
    report
  }

  private def runsPath(outRoot: String): String = s"$outRoot/runs"

  /** The run ledger (Iceberg snapshot-log analogue): one row per run —
    * what ran, over which input snapshot, with which modulus and outcome.
    * A run with no end record reads `started`: it crashed or still runs.
    */
  def runs(spark: SparkSession, outRoot: String): DataFrame =
    RunLog.perRun(spark, runsPath(outRoot)).drop("lineage")

  /** Bucket lineage: one row per bucket per run, with its run's snapshot
    * id. A bucket completed twice (a rerun of a cancelled run, say) has a
    * row per run.
    */
  def lineage(spark: SparkSession, outRoot: String): DataFrame =
    RunLog.frame(spark, runsPath(outRoot))
      .select(col("snapshot_id"), explode(col("lineage")).as("l"))
      .select(col("snapshot_id"), col("l.*"))

  /** The table's bucket modulus for a lookup: the caller's value when
    * positive, else the one the run record names hold (one listing, no
    * Spark job). With no committed record (a root written before run
    * records), or records of more than one modulus (two runs that raced
    * on one root), the lookup fails: guessing a modulus would prune to
    * directories that may not hold the url and silently return nothing.
    */
  private def resolveBuckets(spark: SparkSession, outRoot: String, buckets: Int): Int =
    if (buckets > 0) buckets
    else RunLog.entries(spark, runsPath(outRoot)).map(_.buckets).distinct match {
      case Seq(b) => b
      case Seq() => throw new IllegalArgumentException(
        s"no committed run record under ${runsPath(outRoot)} holds the table's bucket " +
          "modulus; pass `buckets` to look up a url")
      case moduli => throw new IllegalStateException(
        s"the run records under ${runsPath(outRoot)} hold bucket moduli " +
          s"${moduli.sorted.mkString(", ")}; a lookup cannot tell which one partitions " +
          "extracted/")
    }

  /** Status point lookup — the `GET /api/file/status/<id>` analogue
    * (routes.py:138-204, task.py:60-84): the batch lookup for one url.
    */
  def status(spark: SparkSession, outRoot: String, url: String,
      buckets: Int = -1): DataFrame =
    statusBatch(spark, outRoot, Seq(url), buckets)

  /** Batch status lookup — the `POST /api/file/batch_status` analogue
    * (reference caps it at 100 ids/request, API.md:468). One scan pruned
    * to exactly the buckets the requested urls hash to (`isin` on the
    * partition column prunes directories; the url `isin` pushes down
    * within them). `buckets` ≤ 0 → resolved from the run records.
    */
  def statusBatch(spark: SparkSession, outRoot: String, urls: Seq[String],
      buckets: Int = -1): DataFrame = {
    require(urls.nonEmpty && urls.size <= 100,
      s"batch status lookup takes 1..100 urls (API.md:468), got ${urls.size}")
    val b = resolveBuckets(spark, outRoot, buckets)
    val wanted = urls.distinct
    val bucketIds = wanted.map(ExtractJob.bucketOf(_, b)).distinct
    // read with the `Extracted` schema: no inference job, and an
    // `extracted/` a run wrote from zero rows (no part file) reads as zero rows
    spark.read.schema(Encoders.product[Extracted].schema).parquet(s"$outRoot/extracted")
      .filter(col("bucket").isin(bucketIds: _*) && col("url").isin(wanted: _*))
      .select(col("url"), col("status"), col("error"), col("n_pages"),
        col("n_failed_pages"), col("engine"))
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Operational status — the status endpoint's aggregate view, from
    * the run records alone (never scans the data table).
    */
  def jobStatus(spark: SparkSession, outRoot: String): DataFrame =
    lineage(spark, outRoot)
      .groupBy(col("snapshot_id"))
      .agg(
        // distinct buckets per state: repeated cancel/resume records must
        // not inflate the counts (the run log is append-only)
        countDistinct(when(col("status") === "completed", col("bucket"))).as("buckets_done"),
        sum(col("doc_count")).as("docs"),
        sum(col("ok_count")).as("ok"),
        sum(col("fail_count")).as("failed"),
        countDistinct(when(col("status") === "cancelled", col("bucket"))).as("buckets_cancelled"))
      .orderBy(col("snapshot_id"))

  def main(args: Array[String]): Unit = {
    val pagesDir = args(0)
    val outRoot = args(1)
    val buckets = if (args.length > 2) args(2).toInt else ExtractJob.DefaultBuckets
    val engine = if (args.length > 3) args(3) else "standard"
    val builder = GraftConf(SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic"))
    // spark-submit injects spark.master; running the main directly
    // (sbt runMain) falls back to local
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    val report = run(spark, pagesDir, outRoot, buckets,
      ExtractKernel.Profile(engine))
    println(s"[extract-runner] snapshot=${report.snapshotId} " +
      s"docs=${report.docsProcessed} buckets=${report.bucketsDone} " +
      s"wall_ms=${report.wallMs}")
    spark.stop()
  }
}
