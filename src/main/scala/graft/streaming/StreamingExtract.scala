package graft.streaming

import graft.model.{Extracted, Page}
import graft.operators.ExtractJob
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental extraction as a Structured Streaming job — the optional
  * wrapper SURVEY.md §2 Table C describes: the same batch kernel, driven by
  * `Trigger.AvailableNow` over a file source so each run processes exactly
  * the files that arrived since the last checkpoint and then exits
  * (the reference's "upload triggers one task" lifecycle, routes.py:121,
  * re-expressed as checkpointed micro-batches; no watermarks needed — the
  * kernel is stateless per row).
  *
  * At scale this is how you tail a landing zone of WARC-derived parquet:
  * the checkpoint directory is the resume state (same role as the run
  * log for batch runs).
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

  /** One catch-up run into an in-memory sink table (debug/inspection path;
    * the memory sink cannot recover from a checkpoint, so this variant is
    * for one-shot runs — the production, resumable path is the parquet
    * variant below). Blocks until drained, returns the table name.
    */
  def runAvailableNow(
      spark: SparkSession,
      pagesDir: String,
      queryName: String,
      buckets: Int = 64): String = {
    val q = extractStream(spark, pagesDir, buckets)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    queryName
  }

  /** Event-time tumbling-window aggregation with a watermark over the
    * events table — the windowed-agg streaming shape, driven to
    * completion with AvailableNow. Complete output mode makes the final
    * table batch-equivalent, so the DuckDB oracle recomputes the same
    * per-day counts relationally (the driver-checked counterpart to the
    * WatermarkSpec late-data/append-mode tests).
    *
    * ORACLE-ONLY SHAPE: complete mode + memory sink keeps every window in
    * state forever — fine here (AvailableNow over a bounded table), but
    * unbounded on a continuous stream. The production shape is
    * `eventWindowCountsToParquet` below: append mode, watermark-bounded
    * state, exactly-once parquet sink.
    */
  def eventWindowCounts(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val eventsFile = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsFile).schema
    withStagedParquet(eventsFile, "graft_events_stream") { eventsPath =>
      // unique sink name: memory-sink names are session-global and a rerun
      // in the same JVM must not collide (output is deterministic either way)
      val name = "stream_event_windows_" + java.lang.Long.toHexString(System.nanoTime())
      val q = spark.readStream.schema(schema).parquet(eventsPath)
        // the table stores TIMESTAMP_NTZ; event-time watermarks need
        // TIMESTAMP (session TZ is UTC, so values are unchanged)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name)
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("day"), col("event_type"))
        // detach from the memory sink so the staged dir and sink table can
        // be released (repeat invocations must not accumulate /tmp copies
        // of the events table or session-catalog temp views)
        .localCheckpoint()
      spark.catalog.dropTempView(name)
      out
    }
  }

  /** Windowed aggregation in APPEND mode to a parquet sink — the
    * production shape of `eventWindowCounts`: the watermark bounds state
    * (a window is emitted once when the watermark passes its end, then
    * dropped from state), and the file sink's commit log + source
    * checkpoint give exactly-once across restarts. Windows still open at
    * the watermark when input drains are withheld — on a continuous
    * stream they'd finalize later; WatermarkSpec asserts exactly this
    * closed-window semantics against the batch answer.
    */
  def eventWindowCountsToParquet(
      spark: SparkSession,
      eventsDir: String,
      checkpointDir: String,
      outDir: String): Unit = {
    val schema = spark.read.parquet(eventsDir).schema
    val q = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** File-sink variant (the production shape: parquet out, exactly-once via
    * the sink's commit log + source checkpoint).
    */
  def runAvailableNowToParquet(
      spark: SparkSession,
      pagesDir: String,
      checkpointDir: String,
      outDir: String,
      buckets: Int = 64): Unit = {
    val q = extractStream(spark, pagesDir, buckets)
      .writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Recursive delete of a local temp tree. */
  private[graft] def rmTree(path: String): Unit = {
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles).foreach(_.foreach(rm))
      x.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Runs `body` on a fresh local temp dir, then deletes the dir. */
  private[graft] def withTempDir[A](prefix: String)(body: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(d) finally rmTree(d)
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
