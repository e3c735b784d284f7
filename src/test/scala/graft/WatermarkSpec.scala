package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Drain, StreamingExtract}
import graft.streaming.StreamingExtract.withTempDir

/** Event-time semantics over the events-stream shape (SURVEY.md Table C
  * "Streaming"): windowed aggregation with a watermark, late-data drop,
  * append-mode finalization. The reference has no streaming semantics at
  * all (celery gives async, not event time) — this is engine capability
  * beyond it, demonstrated on the same (ts, event_type) shape as the
  * `events` table.
  */
class WatermarkSpec extends AnyFunSuite {
  import TestSpark.spark

  private def ts(minutes: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1735689600000L + minutes * 60000L)

  test("windowed count with watermark: late event for a finalized window is dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val windowed = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("k"), col("n"))
    val q = windowed.writeStream
      .format("memory").queryName("wm_spec").outputMode("append").start()
    try {
      input.addData(ts(2) -> "a", ts(3) -> "a") // window [0,10), k=a
      q.processAllAvailable()
      // advance event time to minute 25 → watermark 15 → [0,10) finalizes
      input.addData(ts(25) -> "b")
      q.processAllAvailable()
      // LATE: minute 4 is behind the watermark — must be dropped
      input.addData(ts(4) -> "a")
      q.processAllAvailable()
      // advance far enough to finalize [20,30) too
      input.addData(ts(55) -> "c")
      q.processAllAvailable()

      val rows = spark.table("wm_spec")
        .as[(java.sql.Timestamp, String, Long)].collect()
        .map { case (w, k, n) => (w.getTime, k, n) }.toSet
      assert(rows.contains((ts(0).getTime, "a", 2L)),
        s"window [0,10) must finalize with exactly the 2 on-time events, got $rows")
      assert(!rows.exists { case (w, k, n) => w == ts(0).getTime && k == "a" && n != 2L },
        s"late event leaked into a finalized window: $rows")
      assert(rows.contains((ts(20).getTime, "b", 1L)), rows.toString)
    } finally q.stop()
  }

  test("stream_event_windows: streaming windowed agg equals the batch group-by") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.sf0001
    val streamed = StreamingExtract.eventWindowCounts(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("day"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming(${streamed.size}) != batch(${batch.size})")
  }

  test("event windows, append mode to parquet: exactly the watermark-closed windows land") {
    import spark.implicits._
    val dir = TestSpark.sf0001
    withTempDir("graft_wm_append") { base =>
      // stage the single-file events table into a directory for the stream source
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/events"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$base/events/events.parquet"))
      def drainToParquet(): Unit = Drain.toParquet(
        StreamingExtract.eventWindows(Drain.files(spark, s"$base/events")),
        s"$base/ckpt", s"$base/out")
      drainToParquet()
      val streamed = spark.read.parquet(s"$base/out")
        .collect().map(_.toString).sorted.toSeq

      // expected: the batch per-day aggregation restricted to windows whose
      // END the final watermark (max ts - 1 hour) has passed — append mode
      // withholds still-open windows when AvailableNow drains
      val events = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val maxTs = events.agg(max(col("ts"))).as[java.sql.Timestamp].collect()(0)
      val watermarkMs = maxTs.getTime - 3600L * 1000L
      val expected = events
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .filter(col("window.end").cast("long") * 1000L <= watermarkMs)
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value"))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty, "no closed windows emitted — corpus too short for the watermark?")
      assert(streamed == expected,
        s"append-mode output (${streamed.size}) != watermark-closed batch windows (${expected.size})")

      // second run over the same checkpoint: nothing new to process, sink unchanged
      drainToParquet()
      val rerun = spark.read.parquet(s"$base/out")
        .collect().map(_.toString).sorted.toSeq
      assert(rerun == streamed, "checkpoint resume must be a no-op on unchanged input")
    }
  }

  test("streaming dedup: dropDuplicatesWithinWatermark drops a re-crawled url") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = input.toDF().toDF("ts", "url")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("url")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(ts(1) -> "https://a/1", ts(2) -> "https://a/2")
      q.processAllAvailable()
      // the same url re-arrives within the watermark window → dropped
      input.addData(ts(3) -> "https://a/1", ts(4) -> "https://a/3")
      q.processAllAvailable()
      val urls = spark.table("dedup_stream").select(col("url"))
        .as[String].collect().sorted.toSeq
      assert(urls == Seq("https://a/1", "https://a/2", "https://a/3"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: stateful threshold alerts across batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val alerts = input.toDS()
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: String, it: Iterator[String], st: GroupState[Long]) =>
          val total = st.getOption.getOrElse(0L) + it.size
          st.update(total)
          if (total >= 3) Iterator((k, total)) else Iterator.empty
      }
    val q = alerts.toDF("k", "n").writeStream
      .format("memory").queryName("alert_stream").outputMode("update").start()
    try {
      input.addData("a", "a", "b")
      q.processAllAvailable()
      assert(spark.table("alert_stream").count() == 0) // nothing crossed 3 yet
      input.addData("a", "b")
      q.processAllAvailable()
      val rows = spark.table("alert_stream").as[(String, Long)].collect().toSet
      assert(rows == Set(("a", 3L))) // only 'a' crossed the threshold
    } finally q.stop()
  }

  test("mapGroupsWithState: per-key state persists across micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val counted = input.toDS()
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: String, it: Iterator[String], st: GroupState[Long]) =>
          val total = st.getOption.getOrElse(0L) + it.size
          st.update(total)
          (k, total)
      }
    val q = counted.toDF("k", "n").writeStream
      .format("memory").queryName("state_spec").outputMode("update").start()
    try {
      input.addData("a", "a", "b")
      q.processAllAvailable()
      input.addData("a", "c")
      q.processAllAvailable()
      val latest = spark.table("state_spec").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(latest == Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
        s"state must accumulate across batches: $latest")
    } finally q.stop()
  }
}
