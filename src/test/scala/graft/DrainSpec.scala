package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Drain
import graft.streaming.StreamingExtract.withTempDir

/** `Drain.rows` returns rows that outlive their source files, and leaves
  * no memory-sink view behind, also when the stream fails mid-drain.
  */
class DrainSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("rows: drained rows are detached from the source and the sink view is gone") {
    val before = tempViews()
    val out = withTempDir("graft_drain_ok") { d =>
      (0L until 10L).toDF("id").coalesce(1).write.parquet(s"$d/src")
      Drain.rows(Drain.files(spark, s"$d/src"), "append")
    }
    assert(out.as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(tempViews() == before)
  }

  test("rows: a stream that fails mid-drain rethrows and leaves no sink view") {
    withTempDir("graft_drain_fail") { d =>
      (0L until 10L).toDF("id").coalesce(1).write.parquet(s"$d/src")
      (100L until 110L).toDF("id").coalesce(1).write.mode("append").parquet(s"$d/src")
      // one file per micro-batch: the first batch lands, the second throws
      val failOnSecondFile = udf { (id: Long) =>
        if (id >= 100L) throw new IllegalStateException("drain boom") else id
      }
      def failing() =
        Drain.files(spark, s"$d/src", maxFilesPerTrigger = Some(1)).select(failOnSecondFile(col("id")))
      val before = tempViews()
      val e = intercept[Exception](Drain.rows(failing(), "append"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("drain boom")), e.toString)
      assert(tempViews() == before)
      assert(spark.streams.active.isEmpty)

      // control: the same drain without the `finally` keeps its view
      val name = "drain_spec_bare"
      val q = failing().writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      intercept[Exception](q.awaitTermination())
      assert(tempViews() == before + name)
      spark.catalog.dropTempView(name)
    }
  }
}
