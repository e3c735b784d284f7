package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Drain, StreamingJoin}
import graft.streaming.StreamingExtract.withTempDir

/** Stream-stream interval join: the AvailableNow drain must equal the
  * batch interval join row-for-row — in one micro-batch AND across
  * forced time-ordered micro-batches (where watermark-driven state
  * purge is actually exercised between batches).
  */
class StreamingJoinSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  private def batchJoin(): Set[(Long, Long, Long, Long)] = {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    v.join(c, col("user_id") === col("cu") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL ${StreamingJoin.AttributionSeconds} SECONDS"))
      .select(col("view_id"), col("click_id"), col("user_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts"))).as("gap"))
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("interval join: streaming equals batch, single and multi micro-batch") {
    val batch = batchJoin()
    assert(batch.nonEmpty)
    withTempDir("graft_ivjoin_spec") { d =>
      // single-batch drain
      val staged1 = s"$d/one"
      spark.read.parquet(s"$sf0001/events.parquet").coalesce(1)
        .write.parquet(staged1)
      val one = Drain.rows(StreamingJoin.intervalJoin(spark, staged1), "append")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(one == batch, s"single-batch: ${one.size} vs batch ${batch.size}")

      // two time-ordered files, one per micro-batch: matches span batches
      // and view-side state must survive until the watermark passes
      val ev = spark.read.parquet(s"$sf0001/events.parquet").orderBy(col("ts"))
      val n = ev.count()
      val firstHalf = ev.limit((n / 2).toInt)
      val secondHalf = ev.exceptAll(firstHalf)
      val staged2 = s"$d/two"
      firstHalf.coalesce(1).write.parquet(staged2)
      secondHalf.coalesce(1).write.mode("append").parquet(staged2)
      val two = Drain.rows(
        StreamingJoin.intervalJoin(spark, staged2, maxFilesPerTrigger = Some(1)), "append")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(two == batch, s"multi-batch: ${two.size} vs batch ${batch.size}")
    }
  }
}
