package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The one way a streaming query here is read and run: every operator in
  * this package only builds its stream, and `Drain` owns the file source
  * and the two `Trigger.AvailableNow` sinks (the reference's "upload
  * triggers one task" lifecycle as one bounded catch-up run).
  */
object Drain {

  /** A parquet file stream over `dir`, with the schema a batch read of
    * `dir` infers. `maxFilesPerTrigger` splits the drain into several
    * micro-batches, so state really crosses batches.
    */
  def files(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(spark.read.parquet(dir).schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** Drains `stream` into a memory sink and returns its rows, detached
    * by an eager `localCheckpoint` so the source files may go once this
    * returns. The sink name is unique (memory-sink names are
    * session-global) and its view is dropped even when the drain throws.
    * The memory sink keeps no checkpoint, so this is the one-shot path.
    */
  def rows(stream: Dataset[_], outputMode: String): DataFrame = {
    val spark = stream.sparkSession
    val name = "drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      spark.table(name).localCheckpoint()
    } finally spark.catalog.dropTempView(name)
  }

  /** Drains `stream` into the append-mode parquet file sink at `outDir`:
    * the sink's commit log plus the source offsets in `checkpointDir`
    * give exactly-once output, and a rerun processes only new files.
    */
  def toParquet(stream: Dataset[_], checkpointDir: String, outDir: String): Unit =
    stream.writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
