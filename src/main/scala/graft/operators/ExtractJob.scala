package graft.operators

import graft.kernel.ExtractKernel
import graft.model.{Extracted, Page, PageRaw}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** The flagship pipeline: pages → extract kernel (narrow, shuffle-free) →
  * bucket-grouped write (+ per-bucket lineage, resume anti-join).
  *
  * Lineage is aggregated from the extracted rows the write consumed
  * (`ExtractRunner` persists them for the write and reuses them for
  * `lineage`), not from a re-read of the landed table: the write is
  * job-atomic and dynamic overwrite replaces exactly the touched buckets,
  * so those rows are exactly what landed.
  *
  * Spark restatement of the reference's upload→celery→worker lifecycle
  * (SURVEY.md §3.1): the Redis queue + worker pool becomes scan-partition
  * parallelism; the SQLite task upsert (task.py:39-58) becomes idempotent
  * dynamic-partition-overwrite keyed by a stable url-hash bucket; the
  * per-task retry ladder (ocr_task.py:13,92) becomes
  * spark.task.maxFailures at task granularity plus per-row error capture
  * at data granularity.
  *
  * Scale design (100 TB / 10^12 docs):
  *   - bucket = pmod(xxhash64(url), B) is STABLE across runs and cluster
  *     sizes → lineage and resume are cluster-size independent.
  *   - the kernel is a narrow mapPartitions over the scan: raw payload
  *     bytes never shuffle. The pipeline's only exchange moves EXTRACTED
  *     rows (5-20% of payload), inside writeExtracted. Filters on the
  *     pages scan (snapshot pruning, resume anti-join) push down to
  *     parquet; the scan reads only (url, html).
  *   - doc-size skew (a few huge payloads) is bounded by the 10 MB cap
  *     (config.py:15), so per-bucket cost is ~uniform once urls hash
  *     uniformly; host skew only matters for per-host aggregations, where
  *     metricsByHost() salts the hot keys.
  */
object ExtractJob {

  /** default bucket count — at 100 TB this would be O(100k); tests use
    * small values. Must be stable for a given output table.
    */
  val DefaultBuckets = 64

  def bucketCol(buckets: Int) =
    pmod(xxhash64(col("url")), lit(buckets.toLong)).cast("int")

  /** The bucket of one url, off Catalyst: equals `bucketCol` by
    * construction, since XxHash.hashUtf8 delegates to the XXH64 that Spark's
    * xxhash64 runs (seed 42, UTF-8 bytes); asserted in OperatorsSpec.
    */
  def bucketOf(url: String, buckets: Int): Int =
    java.lang.Math.floorMod(XxHash.hashUtf8(url), buckets.toLong).toInt

  /** pages → extracted. Deliberately shuffle-free: the kernel is a narrow
    * typed mapPartitions directly over the scan partitions, so the raw
    * payload bytes (the dominant data volume — at 100 TB, ~all of it)
    * NEVER cross the wire. Bucket grouping happens after extraction, on
    * the much smaller extracted text, inside `writeExtracted`.
    *
    * (v1 repartitioned pages on bucket before the kernel; benchmarking
    * showed the payload shuffle, not the kernel, capped throughput — the
    * fix is the classic "push work below the exchange" move.)
    */
  def extract(
      spark: SparkSession,
      pages: Dataset[Page],
      buckets: Int = DefaultBuckets,
      profile: ExtractKernel.Profile = ExtractKernel.Standard): Dataset[Extracted] = {
    import spark.implicits._
    val b = buckets
    val prof = profile
    pages
      // project to the two kernel columns BEFORE the typed boundary:
      // Parquet column pruning then skips warc_ts/text/lang at the scan
      // (.explain shows ReadSchema: struct<url,html> — at 100 TB the
      // unread text column alone is a ~40% scan saving)
      .select(col("url"), col("html"))
      .as[PageRaw]
      .mapPartitions(ExtractKernel.run(p => bucketOf(p.url, b), prof))
  }

  /** Per-bucket lineage metrics (replaces the SQLite status table's
    * operational role — SURVEY.md §4.4). One row per bucket per snapshot.
    * failure_samples: bounded top-k of error strings per bucket.
    *
    * `status` carries the bucket's terminal state, mirroring the
    * reference's 4-state task enum (task.py:8-12): rows written here are
    * 'completed' (even when individual docs failed — doc failures are
    * data, A9); an explicitly cancelled run records 'cancelled' marks
    * instead (routes.py:253 sets the same state); a crash records nothing
    * — so resume can distinguish cancel from crash. The runner nests these
    * rows in its `RunRecord` without `snapshot_id` (the record's own) and
    * `wall_ms` (stored once per run there).
    */
  def lineage(extracted: Dataset[Extracted], snapshotId: Long): DataFrame = {
    extracted.toDF()
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(length(col("text")).cast("long")).as("byte_count"),
        sum(when(col("status") === "completed", 1L).otherwise(0L)).as("ok_count"),
        sum(when(col("status") =!= "completed", 1L).otherwise(0L)).as("fail_count"),
        slice(sort_array(collect_set(when(col("status") =!= "completed", col("error")))), 1, 5)
          .as("failure_samples")
      )
      .withColumn("snapshot_id", lit(snapshotId))
      .withColumn("wall_ms", lit(-1L)) // a run's wall time is in its RunRecord
      .withColumn("status", lit("completed"))
      .select("snapshot_id", "bucket", "doc_count", "byte_count",
        "ok_count", "fail_count", "failure_samples", "wall_ms", "status")
  }

  /** Resume: drop pages whose bucket is already done (broadcast
    * anti-join — the done-bucket list is tiny relative to the data;
    * SURVEY.md §2 Table C "Joins"). The caller decides which buckets are
    * done: `ExtractRunner` passes this snapshot's completed ones, so
    * 'cancelled' marks (A10) leave their buckets eligible.
    */
  def resumeFilter(
      spark: SparkSession,
      pages: Dataset[Page],
      doneBuckets: Seq[Int],
      buckets: Int = DefaultBuckets): Dataset[Page] = {
    import spark.implicits._
    val done = doneBuckets.distinct.toDF("bucket")
    pages
      .withColumn("__bucket", bucketCol(buckets))
      .join(broadcast(done), col("__bucket") === done("bucket"), "left_anti")
      .drop("__bucket")
      .as[Page]
  }

  /** Write extracted partitioned by bucket with dynamic partition
    * overwrite: re-running any subset of buckets replaces exactly those
    * partitions (the INSERT OR REPLACE analogue, task.py:52-55).
    *
    * The only shuffle of the whole pipeline happens here, on EXTRACTED
    * rows (typically 5-20% of the raw payload bytes): each bucket goes
    * whole to write task `bucket mod n`, so the writer emits one file per
    * bucket instead of tasks×buckets fragments — at 100 TB, file-count
    * control is what keeps the output table listable — and every task
    * writes ⌊B/n⌋ or ⌈B/n⌉ buckets: the slowest task sets the length of
    * the write, and a hash of the bucket id spreads a few dozen buckets
    * unevenly over a few tasks.
    */
  def writeExtracted(extracted: Dataset[Extracted], outDir: String): Unit = {
    // explicit partition count: a bare repartition(col) is AQE-coalescible
    // and a small extracted shuffle collapses to ~1 task that then writes
    // every bucket directory serially (measured 15 s of a 20 s run)
    val parallelism = math.max(extracted.sparkSession.sparkContext.defaultParallelism, 1)
    extracted.toDF()
      .repartitionById(parallelism, pmod(col("bucket"), lit(parallelism)))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(outDir)
  }

  /** Snapshot id of an input (the Iceberg snapshot-id stand-in; SURVEY.md
    * §1.2 "Iceberg note"): a stable hash of the sorted path, length and
    * mtime of every file the frame reads, so a file rewritten in place
    * under its old name (writers that number their parts, or a re-staged
    * WARC dir) gets a new id. The statuses are the cached listing of the
    * frame's file relations, the listing its scan reads: no Spark job and
    * no filesystem call. The one snapshot id of the engine: run planning,
    * lineage and resume, and the trained-codebook memos key on it.
    */
  def snapshotIdOf(input: DataFrame): Long = {
    val relations = input.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }
    require(relations.nonEmpty, "a snapshot id needs a frame that reads files")
    relations.flatMap(_.location.listFiles(Nil, Nil).flatMap(_.files)).sortBy(_.getPath.toString)
      .foldLeft(17L) { (acc, f) =>
        ((acc * 31L + f.getPath.toString.hashCode.toLong) * 31L + f.getLen) * 31L + f.getModificationTime
      }
  }

  /** Per-host metrics with salting for the hot hosts: two-phase agg —
    * partial counts on (host, salt), then final on host — so a single hot
    * host (Common-Crawl reality) cannot pin one reducer (SURVEY.md §7.4
    * item 5). AQE skew handling complements this at shuffle level.
    */
  def metricsByHost(extracted: Dataset[Extracted], saltFanout: Int = 16): DataFrame = {
    val hostCol = regexp_extract(col("url"), "^https?://([^/]+)/", 1)
    extracted.toDF()
      .withColumn("host", hostCol)
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltFanout.toLong)))
      .groupBy(col("host"), col("salt"))
      .agg(
        count(lit(1)).as("c"),
        sum(when(col("status") === "completed", 1L).otherwise(0L)).as("ok"),
        sum(length(col("text")).cast("long")).as("chars"))
      .groupBy(col("host"))
      .agg(
        sum(col("c")).as("doc_count"),
        sum(col("ok")).as("ok_count"),
        sum(col("chars")).as("char_count"))
  }
}

/** Stable 64-bit hash of a UTF-8 string matching Spark's `xxhash64`
  * (seed 42) so the kernel-side bucket equals the Catalyst-side
  * `bucketCol` value. Delegates to Spark's own XXH64 over the UTF-8 bytes:
  * the code the XxHash64 expression runs for StringType input.
  */
object XxHash {
  def hashUtf8(s: String, seed: Long = 42L): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  def hashBytes(data: Array[Byte], seed: Long): Long =
    XXH64.hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET, data.length, seed)
}
