package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Drain, StreamingDedup}
import graft.streaming.StreamingExtract.withTempDir

/** Stateful streaming dedup (mapGroupsWithState): the update-log fold
  * must equal batch exact-dedup even when the source is forced through
  * many micro-batches, because keep_id/n_copies are running min/count.
  */
class StreamingDedupSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  test("incremental dedup resumes state across RUNS from the checkpoint") {
    withTempDir("graft_sdedup_inc") { base =>
      import spark.implicits._
      // phase 1: three docs, one duplicate pair (A appears twice)
      Seq((10L, "doc A"), (11L, "doc B"), (12L, "doc A"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$base/docs")
      StreamingDedup.runIncremental(spark, s"$base/docs", s"$base/ckpt", s"$base/out")
      val after1 = StreamingDedup.resolve(spark.read.parquet(s"$base/out"))
        .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
      assert(after1 == Map(10L -> 2L, 11L -> 1L))
      // phase 2: two more files land — another copy of A (higher id) and
      // a new doc; the resumed run must CONTINUE A's state (count 3,
      // keep_id still 10), not restart it, and must not reprocess phase-1
      // files (checkpointed source offsets)
      Seq((13L, "doc A"), (14L, "doc C")).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$base/docs")
      StreamingDedup.runIncremental(spark, s"$base/docs", s"$base/ckpt", s"$base/out")
      val after2 = StreamingDedup.resolve(spark.read.parquet(s"$base/out"))
        .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
      assert(after2 == Map(10L -> 3L, 11L -> 1L, 14L -> 1L))
    }
  }

  test("streaming dedup across forced micro-batches equals batch exact dedup") {
    withTempDir("graft_sdedup_spec") { base =>
      StreamingDedup.exactDupCorpus(spark, sf0001).repartition(8)
        .write.mode("overwrite").parquet(s"$base/docs")
      // 1 file per trigger → 8 micro-batches: duplicate pairs land in
      // different batches, so state genuinely carries across triggers
      val updates = Drain.rows(StreamingDedup.dedupStream(spark, s"$base/docs", Some(1)), "update")
      val nGroups = updates.select(col("h")).distinct().count()
      // same group updated in more than one batch at least once
      assert(updates.count() > nGroups, "expected cross-batch state updates")
      val streamed = StreamingDedup.resolve(updates)
        .as[(String, Long, Long)].collect().sortBy(_._2)
      val batch = StreamingDedup.exactDupCorpus(spark, sf0001)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .as[(String, Long, Long)].collect().sortBy(_._2)
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
      assert(batch.exists(_._3 > 1), "corpus must contain duplicates for this to be meaningful")
    }
  }
}
