package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.ExtractKernel
import graft.model.Page
import graft.sources.PageSynth

import scala.jdk.CollectionConverters._

/** The production job entry (spark-submit main): one resumable extraction
  * run over a pages table, with the Iceberg contract emulated on plain
  * parquet (SURVEY.md §1.2 "Iceberg note" — no Iceberg jar in this
  * sandbox; a real catalog binding is a config-only swap):
  *
  *   out/
  *     extracted/bucket=N/...   hash-bucketed output, dynamic-overwrite
  *     lineage/                 one row per completed bucket per snapshot
  *     snapshots/               one row per run: what ran, over which
  *                              input snapshot, with what outcome
  *
  * Resume-from-checkpoint (north rule): a rerun reads `lineage`,
  * anti-joins the already-done buckets for this input snapshot, processes
  * only the remainder, and dynamic-partition-overwrite makes the rerun
  * idempotent. When every bucket is done the rerun stops after reading
  * lineage, without scanning the pages. Kill it anywhere; run it again;
  * the final table is byte-identical to an uninterrupted run (asserted in
  * OperatorsSpec / RunnerSpec).
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
    * for this snapshot. The running `run()` writes status='cancelled'
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
    // semantics (the snapshot id hashes the file listing either way)
    val warcInput = graft.sources.Warc.isWarcDir(spark, pagesDir)
    // parquet: ONE listing of the pages table serves both the snapshot id
    // and the scan the run reads
    val (snapshotId, pages) =
      if (warcInput)
        (graft.sources.Warc.snapshotIdOf(spark, pagesDir), graft.sources.Warc.pages(spark, pagesDir))
      else {
        val df = spark.read.parquet(pagesDir)
        (ExtractJob.snapshotIdOf(df), df.as[Page])
      }

    val lineage = priorLineage(spark, s"$outRoot/lineage")

    recordTableBuckets(spark, outRoot, buckets)

    // every bucket already completed for this snapshot → no page can be
    // left to do: a no-op resume reads lineage alone, never the pages
    val doneBuckets = lineage.fold(Set.empty[Int])(completedBuckets(_, snapshotId))
    if ((0 until buckets).forall(doneBuckets))
      return noopRun(spark, outRoot, snapshotId, profile, t0)

    val todo = lineage match {
      case Some(lin) => ExtractJob.resumeFilter(spark, pages, lin, snapshotId, buckets)
      case None      => pages
    }

    // Touched-bucket ids, EAGERLY and from a url-only projection:
    //  - eager: the A10 cancel handler needs the ids AFTER a cancel has
    //    landed; launching a fresh Spark job there could itself be killed
    //    by the still-pending interrupt. Computed here, the ids are plain
    //    driver data by the time the guarded write starts.
    //  - url-only: bucketCol is a pure function of url, so parquet column
    //    pruning keeps the payload (html) column unread — the payload is
    //    scanned exactly once per run, by the kernel (PlanShapeSpec
    //    asserts this).
    val todoBuckets = todo
      .select(ExtractJob.bucketCol(buckets).as("bucket")).distinct()
      .as[Int].collect().toSeq.sorted
    // no remaining work → don't spin up the kernel/write at all (mirrors
    // runBucketed's no-op resume); the run still gets its ledger row —
    // "one row per run" includes no-op resumes. A FIRST run over an
    // empty pages table therefore creates no extracted/ dir (nothing to
    // describe — a partitioned write of zero rows emits no schema to
    // read back anyway); status lookups against a never-written table
    // surface path-not-found, which is the honest answer.
    if (todoBuckets.isEmpty)
      return noopRun(spark, outRoot, snapshotId, profile, t0)

    val extracted = ExtractJob.extract(spark, todo, buckets, profile)
    writeAndFinalize(spark, outRoot, snapshotId, extracted, todoBuckets, profile, t0)
  }

  /** Shared tail of both run paths: write under the cancel guard, then
    * derive lineage from the rows that write consumed, append the
    * snapshots ledger row, and report.
    *
    * Lineage is aggregated over the persisted `extracted` rows, not over a
    * re-read of the landed table: the write commits the whole job or
    * nothing, and dynamic overwrite replaces exactly the buckets those
    * rows fall in, so the landed rows of the touched buckets ARE the
    * persisted rows (a lost cache block is recomputed by the
    * deterministic kernel — the same rows). The counts still come from a
    * Spark action over those rows, never from accumulators.
    *
    * A10 cancel semantics live here: cancel is a terminal STATE, not a
    * crash (task.py:8-12, routes.py:253). A cancelled write job committed
    * nothing (the parquet committer is job-atomic), so every todo bucket
    * gets a 'cancelled' mark — a resume reprocesses exactly those, and an
    * operator can see the run was cancelled rather than dead.
    */
  private def writeAndFinalize(
      spark: SparkSession,
      outRoot: String,
      snapshotId: Long,
      extracted: org.apache.spark.sql.Dataset[graft.model.Extracted],
      bucketIds: Seq[Int], // concrete — both run paths compute it before the guarded write
      profile: ExtractKernel.Profile,
      t0: Long): RunReport = {
    val lineagePath = s"$outRoot/lineage"
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
          // driver thread — clear it, or the mark-write job below is
          // immediately killed and the cancel is indistinguishable from a
          // crash (the exact failure mode A10 exists to prevent)
          val wasInterrupted = Thread.interrupted()
          // mark-write failures must not mask the graceful-cancel report:
          // resume correctness never depends on the marks (only 'completed'
          // rows skip buckets), so log and carry on
          try
            ExtractJob.cancelledLineage(spark, bucketIds, snapshotId,
                System.currentTimeMillis() - t0)
              .write.mode(SaveMode.Append).parquet(lineagePath)
          catch {
            case me: Exception =>
              log.warn(s"cancelled-mark write failed for snapshot=$snapshotId " +
                s"(resume unaffected; cancel-vs-crash distinction lost for this run)", me)
          }
          // the interrupt belongs to the CALLER (their cancellation signal)
          // — restore it so the enclosing executor/Future still sees it
          if (wasInterrupted) Thread.currentThread().interrupt()
          return RunReport(snapshotId, 0L, 0L,
            System.currentTimeMillis() - t0, cancelled = true)
      } finally spark.sparkContext.clearJobGroup()

      // ≤ buckets rows: collected, then appended as a local frame; the
      // report counts come from the same array
      val lineage = ExtractJob.lineage(extracted, snapshotId)
      val rows = lineage.collect()
      val wallMs = System.currentTimeMillis() - t0
      val wallIdx = lineage.schema.fieldIndex("wall_ms")
      spark.createDataFrame(
          rows.toSeq.map(r => Row.fromSeq(r.toSeq.updated(wallIdx, wallMs))).asJava,
          lineage.schema)
        .coalesce(1).write.mode(SaveMode.Append).parquet(lineagePath)
      val docsProcessed = rows.map(_.getAs[Long]("doc_count")).sum
      val bucketsDone = rows.length.toLong
      appendSnapshotRow(spark, outRoot, snapshotId, docsProcessed, bucketsDone,
        wallMs, profile.engine)

      RunReport(snapshotId, docsProcessed, bucketsDone, wallMs)
    } finally { extracted.unpersist(): Unit }
  }

  /** The end of a run with nothing left to do: no kernel, no write — but
    * the run still gets its ledger row ("one row per run" includes no-op
    * resumes).
    */
  private def noopRun(spark: SparkSession, outRoot: String, snapshotId: Long,
      profile: ExtractKernel.Profile, t0: Long): RunReport = {
    val wallMs = System.currentTimeMillis() - t0
    appendSnapshotRow(spark, outRoot, snapshotId, 0L, 0L, wallMs, profile.engine)
    RunReport(snapshotId, 0L, 0L, wallMs)
  }

  /** One row in the run ledger (Iceberg snapshot-log analogue) — appended
    * by EVERY run, including no-op resumes, so operators can answer "did
    * the scheduled run happen" from the ledger alone.
    */
  private def appendSnapshotRow(spark: SparkSession, outRoot: String,
      snapshotId: Long, docsProcessed: Long, bucketsDone: Long,
      wallMs: Long, engine: String): Unit = {
    import spark.implicits._
    Seq((snapshotId, docsProcessed, bucketsDone, wallMs,
        java.time.Instant.now().toString, engine))
      .toDF("snapshot_id", "docs_processed", "buckets_done", "wall_ms",
        "run_at", "engine")
      .write.mode(SaveMode.Append).parquet(s"$outRoot/snapshots")
  }

  /** One-time bucketed ingest: repartition pages by the stable url-hash
    * bucket and write partitioned by it. With the input laid out this
    * way, `runBucketed`'s resume prunes whole DIRECTORIES of done
    * buckets at the scan — rerun cost becomes proportional to the
    * REMAINING work, where the plain `run` path's anti-join still scans
    * (then discards) the full pages table. At 100 TB with 99% of buckets
    * done, that is the difference between re-reading 1 TB and 100 TB.
    * Returns the ingested doc count.
    */
  def ingest(spark: SparkSession, pagesDir: String, outRoot: String,
      buckets: Int = ExtractJob.DefaultBuckets): Long = {
    // the ingest FIXES the table's modulus — record it so runBucketed and
    // the lookups can never disagree with the directory layout
    recordTableBuckets(spark, outRoot, buckets)
    val pages = spark.read.parquet(pagesDir)
    pages
      .withColumn("bucket", ExtractJob.bucketCol(buckets))
      .repartition(math.max(spark.sparkContext.defaultParallelism, 1), col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$outRoot/pages_bucketed")
    spark.read.parquet(s"$outRoot/pages_bucketed").count()
  }

  /** Resumable run over a bucketed ingest (`ingest` must have run once).
    * Identical output contract to `run` — same kernel, same lineage,
    * same dynamic-overwrite idempotency — but the resume filter is a
    * partition-pruning scan over `pages_bucketed`, not an anti-join over
    * every row.
    */
  def runBucketed(
      spark: SparkSession,
      outRoot: String,
      buckets: Int = -1,
      profile: ExtractKernel.Profile = ExtractKernel.Standard): RunReport = {
    import spark.implicits._
    require(graft.kernel.MergeSpec.ValidEngines(profile.engine),
      graft.kernel.MergeSpec.invalidOcrType(profile.engine))
    val t0 = System.currentTimeMillis()
    val bucketedDir = s"$outRoot/pages_bucketed"
    // the modulus comes from the table the ingest laid out; an explicit
    // caller value must MATCH it (a mismatch would re-bucket rows with a
    // different modulus than the directory layout and corrupt the
    // dynamic-overwrite contract)
    val tb = tableBuckets(spark, outRoot)
    require(buckets <= 0 || buckets == tb,
      s"table at $outRoot was ingested with buckets=$tb, caller passed $buckets")
    val effBuckets = tb
    val snapshotId = ExtractJob.snapshotIdOf(spark, bucketedDir)
    val lineagePath = s"$outRoot/lineage"

    val doneBuckets: Set[Int] =
      try priorLineage(spark, lineagePath).fold(Set.empty[Int])(completedBuckets(_, snapshotId))
      catch { case _: Exception => Set.empty }

    // which buckets exist is directory metadata (partition values), not
    // data — a partition-column-only projection reads zero payload bytes
    val presentBuckets = spark.read.parquet(bucketedDir)
      .select(col("bucket")).distinct().as[Int].collect().toSet
    val todoBuckets = (presentBuckets -- doneBuckets).toSeq.sorted

    // no remaining work: a no-op resume must cost directory listings, not
    // a pass over the landed table — but it still gets its ledger row
    if (todoBuckets.isEmpty)
      return noopRun(spark, outRoot, snapshotId, profile, t0)

    // partition pruning: done-bucket directories are never opened
    val todo = spark.read.parquet(bucketedDir)
      .filter(col("bucket").isin(todoBuckets: _*))
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[Page]

    val extracted = ExtractJob.extract(spark, todo, effBuckets, profile)
    writeAndFinalize(spark, outRoot, snapshotId, extracted, todoBuckets, profile, t0)
  }

  /** The table's bucket count is a TABLE property, not a caller guess: a
    * lookup hashing with the wrong modulus prunes to directories that
    * don't contain the url and silently returns nothing. run()/ingest()
    * record the count in `table_meta`; lookups resolve it from there
    * unless the caller passes an explicit positive value.
    *
    * Absence (a legacy table) falls back to the default; an actual READ
    * failure propagates — falling back there would reintroduce the
    * silent-empty-lookup failure this property exists to prevent.
    */
  def tableBuckets(spark: SparkSession, outRoot: String): Int =
    if (!pathExists(spark, s"$outRoot/table_meta")) ExtractJob.DefaultBuckets
    else spark.read.parquet(s"$outRoot/table_meta")
      .select(col("buckets")).collect()(0).getInt(0)

  // the modulus is immutable per table — resolve once per outRoot so the
  // point-lookup hot path doesn't pay a parquet read per call
  private val bucketsCache = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def resolveBuckets(spark: SparkSession, outRoot: String, buckets: Int): Int =
    if (buckets > 0) buckets
    else bucketsCache.getOrElseUpdate(outRoot, tableBuckets(spark, outRoot))

  /** Record (or validate) the table's bucket modulus. Guards the property
    * the lookups depend on: writing a SECOND modulus into an existing
    * table would mix partition layouts and break every hash-pruned read,
    * so a mismatch fails the run at submission.
    */
  private def recordTableBuckets(spark: SparkSession, outRoot: String, buckets: Int): Unit = {
    import spark.implicits._
    val metaPath = s"$outRoot/table_meta"
    if (pathExists(spark, metaPath)) {
      val existing = tableBuckets(spark, outRoot)
      require(existing == buckets,
        s"table at $outRoot was written with buckets=$existing; " +
          s"running with buckets=$buckets would mix partition moduli")
    } else {
      Seq(buckets).toDF("buckets")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaPath)
    }
    bucketsCache.put(outRoot, buckets): Unit
  }

  /** Status point lookup — the `GET /api/file/status/<id>` analogue
    * (routes.py:138-204, task.py:60-84): one row for a url, served by
    * bucket-partition pruning + predicate pushdown (the scan touches one
    * bucket directory, not the table). `buckets` ≤ 0 → resolved from
    * table_meta.
    */
  def status(spark: SparkSession, outRoot: String, url: String,
      buckets: Int = -1): DataFrame = {
    val b = resolveBuckets(spark, outRoot, buckets)
    val bucket = java.lang.Math.floorMod(XxHash.hashUtf8(url), b.toLong).toInt
    spark.read.parquet(s"$outRoot/extracted")
      .filter(col("bucket") === bucket && col("url") === url)
      .select(col("url"), col("status"), col("error"), col("n_pages"),
        col("n_failed_pages"), col("engine"))
  }

  /** Batch status lookup — the `POST /api/file/batch_status` analogue
    * (reference caps it at 100 ids/request, API.md:468). One scan pruned
    * to exactly the buckets the requested urls hash to (`isin` on the
    * partition column prunes directories; the url `isin` pushes down
    * within them).
    */
  def statusBatch(spark: SparkSession, outRoot: String, urls: Seq[String],
      buckets: Int = -1): DataFrame = {
    require(urls.nonEmpty && urls.size <= 100,
      s"batch status lookup takes 1..100 urls (API.md:468), got ${urls.size}")
    val b = resolveBuckets(spark, outRoot, buckets)
    val wanted = urls.distinct
    val bucketIds = wanted
      .map(u => java.lang.Math.floorMod(XxHash.hashUtf8(u), b.toLong).toInt)
      .distinct
    spark.read.parquet(s"$outRoot/extracted")
      .filter(col("bucket").isin(bucketIds: _*) && col("url").isin(wanted: _*))
      .select(col("url"), col("status"), col("error"), col("n_pages"),
        col("n_failed_pages"), col("engine"))
  }

  /** Lineage reader tolerant of mixed schemas: a dir holding pre-status
    * (8-column) files plus new rows must NOT have parquet's
    * single-footer schema inference silently drop the status column —
    * that would make resumeFilter treat 'cancelled' marks as completed
    * and skip those buckets forever. mergeSchema unions the footers; a
    * fully-legacy dir gets status='completed' backfilled (every row a
    * legacy run wrote was a completed bucket).
    */
  def readLineage(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    if (df.columns.contains("status"))
      df.withColumn("status", coalesce(col("status"), lit("completed")))
    else df.withColumn("status", lit("completed"))
  }

  /** Prior lineage for a run. None on a first run — the missing dir is
    * checked, not caught, so no path-not-found stack trace is logged — and
    * None when an existing dir is unreadable (the run then treats every
    * bucket as not done).
    */
  private def priorLineage(spark: SparkSession, path: String): Option[DataFrame] =
    if (!pathExists(spark, path)) None
    else try Some(readLineage(spark, path)) catch { case _: Exception => None }

  /** Buckets with a 'completed' lineage row for this snapshot (≤ buckets
    * ids, collected to the driver).
    */
  private def completedBuckets(lineage: DataFrame, snapshotId: Long): Set[Int] = {
    import lineage.sparkSession.implicits._
    lineage
      .filter(col("snapshot_id") === snapshotId && col("status") === "completed")
      .select(col("bucket")).distinct().as[Int].collect().toSet
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Operational status — the status endpoint's aggregate view, from
    * lineage alone (never scans the data table).
    */
  def jobStatus(spark: SparkSession, outRoot: String): DataFrame =
    readLineage(spark, s"$outRoot/lineage")
      .groupBy(col("snapshot_id"))
      .agg(
        // distinct buckets per state: repeated cancel/resume appends must
        // not inflate the counts (lineage is an append-only ledger)
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
