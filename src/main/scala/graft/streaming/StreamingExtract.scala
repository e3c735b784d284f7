package graft.streaming

import graft.model.{Extracted, Page}
import graft.operators.ExtractJob
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental extraction as a Structured Streaming job — the optional
  * wrapper SURVEY.md §2 Table C describes: the same batch kernel, driven by
  * `Trigger.AvailableNow` over a file source so each run processes exactly
  * the files that arrived since the last checkpoint and then exits
  * (the reference's "upload triggers one task" lifecycle, routes.py:121,
  * re-expressed as checkpointed micro-batches; no watermarks needed — the
  * kernel is stateless per row).
  *
  * At scale this is how you tail a landing zone of WARC-derived parquet:
  * `Drain.toParquet(extractStream(...), checkpointDir, outDir)` is the
  * resumable path, and the checkpoint directory is the resume state (same
  * role as the run log for batch runs). `Drain.rows` over the same stream
  * is the one-shot inspection path.
  */
object StreamingExtract {

  /** Streaming pages → extracted: the batch kernel (`ExtractJob.extract`)
    * over a file stream of the pages table.
    */
  def extractStream(
      spark: SparkSession,
      pagesDir: String,
      buckets: Int = 64): Dataset[Extracted] = {
    import spark.implicits._
    ExtractJob.extract(spark,
      spark.readStream.schema(Encoders.product[Page].schema).parquet(pagesDir).as[Page], buckets)
  }

  /** Event-time tumbling-window aggregation with a watermark over an
    * events stream: per-day counts and value sums. The one transform
    * behind both drains of the events table — complete mode into memory
    * (`eventWindowCounts`) and append mode to parquet (`Drain.toParquet`).
    */
  def eventWindows(events: DataFrame): DataFrame =
    events
      // the table stores TIMESTAMP_NTZ; event-time watermarks need
      // TIMESTAMP (session TZ is UTC, so values are unchanged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** `eventWindows` over the events table, drained with AvailableNow.
    * Complete output mode makes the final table batch-equivalent, so the
    * DuckDB oracle recomputes the same per-day counts relationally (the
    * driver-checked counterpart to the WatermarkSpec late-data/append-mode
    * tests).
    *
    * ORACLE-ONLY SHAPE: complete mode keeps every window in state
    * forever — fine here (AvailableNow over a bounded table), but
    * unbounded on a continuous stream. The production shape is
    * `Drain.toParquet` over `eventWindows`: append mode emits a window
    * once the watermark passes its end and drops it from state, and the
    * file sink gives exactly-once output across restarts. Windows still
    * open when the input drains are withheld; WatermarkSpec asserts
    * exactly this closed-window semantics against the batch answer.
    */
  def eventWindowCounts(spark: SparkSession, sfDir: String): DataFrame =
    withStagedParquet(s"$sfDir/events.parquet", "graft_events_stream") { eventsPath =>
      Drain.rows(eventWindows(Drain.files(spark, eventsPath)), "complete")
    }.orderBy(col("day"), col("event_type"))

  /** Runs `body` on a fresh local temp dir, then deletes the dir tree. */
  private[graft] def withTempDir[A](prefix: String)(body: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles).foreach(_.foreach(rm))
      x.delete(): Unit
    }
    try body(d) finally rm(new java.io.File(d))
  }

  /** Streaming file sources need a DIRECTORY; the testdata tables are
    * single parquet files. Stage the file into a temp dir for `body`,
    * then remove the staging copy; a directory input passes through.
    */
  private[graft] def withStagedParquet[A](file: String, prefix: String)(body: String => A): A = {
    val f = new java.io.File(file)
    if (f.isDirectory) body(file)
    else withTempDir(prefix) { d =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(d, f.getName))
      body(d)
    }
  }
}
