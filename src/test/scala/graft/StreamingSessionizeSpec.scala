package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.StreamingSessionize
import graft.streaming.StreamingExtract.withTempDir

/** flatMapGroupsWithState sessionization: closed streaming sessions must
  * equal the batch operator's sessions (same floor-second arithmetic),
  * across forced micro-batches, and event-time timeouts must close idle
  * sessions once the watermark passes their gap horizon.
  */
class StreamingSessionizeSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  private def batchSessions(): Map[(Long, Long), (Long, Long)] =
    Relational.qSessionize(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, seq, n, d) => (u, seq) -> ((n, d)) }.toMap

  test("streaming sessions match batch across forced micro-batches, timeouts close idle sessions") {
    val batch = batchSessions()
    withTempDir("graft_sess_spec2") { d =>
      // two time-ordered halves → 2 micro-batches, sessions span batches
      val ev = spark.read.parquet(s"$sf0001/events.parquet").orderBy(col("ts"))
      val n = ev.count()
      val firstHalf = ev.limit((n / 2).toInt)
      val secondHalf = ev.exceptAll(firstHalf)
      firstHalf.coalesce(1).write.mode("overwrite").parquet(s"$d/p0")
      secondHalf.coalesce(1).write.mode("overwrite").parquet(s"$d/p1")
      val staged = s"$d/all"
      spark.read.parquet(s"$d/p0").coalesce(1).write.parquet(staged)
      spark.read.parquet(s"$d/p1").coalesce(1).write.mode("append").parquet(staged)
      val streamed = StreamingSessionize.sessions(spark, staged,
        maxFilesPerTrigger = Some(1), fireTimeouts = true)
        .as[(Long, Long, Long, Long)].collect()
        .map { case (u, seq, nn, dd) => (u, seq) -> ((nn, dd)) }.toMap
      // every emitted session is byte-identical to its batch counterpart
      streamed.foreach { case (k, v) =>
        assert(batch.contains(k), s"streamed session $k not in batch")
        assert(batch(k) == v, s"session $k: streamed $v vs batch ${batch(k)}")
      }
      // timeouts fired: more sessions closed than the gap-only lower bound
      val users = batch.keys.map(_._1).toSet.size
      val gapOnly = batch.size - users // every session except each user's last
      assert(streamed.size > gapOnly,
        s"expected event-time timeouts to close idle sessions beyond $gapOnly, got ${streamed.size}")
      assert(streamed.size <= batch.size)
    }
  }
}
