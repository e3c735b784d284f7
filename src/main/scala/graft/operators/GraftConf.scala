package graft.operators

import org.apache.spark.sql.SparkSession

/** The engine's cluster configuration profile — every knob here exists to
  * survive the 100 TB / 1000-executor case (north rule: "AQE-tuned
  * shuffle sizing", skew handling) and is harmless at local scale.
  */
object GraftConf {
  /** `file:` file systems that set modes in the JVM instead of forking one
    * `chmod` per file, `.crc` and directory (see NioLocalFileSystem):
    * `FileSystem` for batch writes, `FileContext` (which ignores
    * `fs.file.impl`) for streaming checkpoints and file-sink logs.
    */
  val LocalFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    // AQE: runtime re-planning — coalesce undersized shuffle partitions,
    // split skewed ones, and re-size joins from observed statistics.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // ~128 MB post-shuffle partitions: big enough to amortize task
    // startup, small enough to fit executor memory with the extract
    // kernel's ~10-20× per-byte amplification.
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "134217728")
    // scan splits: pages average ~10-100 KB payload, so 128 MB splits
    // hold ~1k-10k docs — enough rows per task for the per-partition
    // arena reuse to pay off, few enough that a task retry is cheap.
    .config("spark.sql.files.maxPartitionBytes", "134217728")
    // zstd for the extracted/lineage outputs: ~30% smaller than snappy
    // on extracted text at similar decode speed (matters when the
    // OUTPUT table is petabytes).
    .config("spark.sql.parquet.compression.codec", "zstd")
    // collect_list/collect_set aggregations (LSH bucket grouping, lineage
    // failure samples) fall back from hash to SORT-based aggregation
    // after a default of only 128 distinct keys — the banding group-bys
    // have ~10^5 groups per partition, and the fallback's per-task sort +
    // spill files dominated the dedup-at-scale profile (~25% of active
    // samples in shuffle-file opens/TimSort). 128k keys × ≤0.5 KB
    // cap-bounded bucket lists ≈ 64 MB per task worst-case — bounded, and
    // far cheaper than spilling every group.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    // allow shuffled hash join where its size conditions hold (guide §3.1
    // / §9): no sort on either side, graceful for the many small-dim
    // joins in the suite; sort-merge remains the planner's pick whenever
    // the build side could not fit.
    .config("spark.sql.join.preferSortMergeJoin", "false")
    // transient-failure budget per task (the reference's retry ladder at
    // task granularity, ocr_task.py:13; per-ROW failures are data, not
    // task failures — the kernel catches them).
    .config("spark.task.maxFailures", "4")
    // stragglers: re-launch slow tasks (the reference's 1800 s celery
    // time ceiling analogue is cluster-level speculation, not a kill).
    .config("spark.speculation", "true")
    .config(LocalFs)
}
