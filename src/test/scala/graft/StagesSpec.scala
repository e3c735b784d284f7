package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.FileUtil
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingExtract.withTempDir

/** The registry's materialized stages belong to the map of frames that
  * wrote them: a fresh `queries` map rewrites what it needs, and two
  * bases in one JVM never share files.
  */
class StagesSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  test("a fresh queries map rewrites a stage deleted under the live JVM") {
    // a dir of its own, so its stages sit under a base no other run uses
    val d = Files.createTempDirectory("graft_memo")
    val link = Files.createSymbolicLink(d.resolve("sf0.001"), Paths.get(sf0001))
    val base = new File(SparkEntry.oracleBase(link.toString))
    val root = base.getParentFile
    val rootExisted = root.exists
    try {
      assert(SparkEntry.queries("extract_main")(spark, link.toString).count() == 500)
      assert(new File(base, "extracted").isDirectory)
      assert(FileUtil.fullyDelete(base) && !base.exists)
      assert(SparkEntry.queries("extract_main")(spark, link.toString).count() == 500)
    } finally {
      // the link first, by itself: a recursive delete would follow it
      Files.delete(link)
      Files.delete(d)
      FileUtil.fullyDelete(base)
      if (!rootExisted) root.delete(): Unit
    }
  }

  test("link_graph under two bases in one JVM: each base holds its own html_pages, rows equal") {
    withTempDir("graft_stages_a") { a =>
      withTempDir("graft_stages_b") { b =>
        val key = "spark.sql.shuffle.partitions"
        val was = spark.conf.get(key)
        // the second base runs under another plan profile
        val rows = Seq(a -> was, b -> "7").map { case (base, parts) =>
          spark.conf.set(key, parts)
          try SparkEntry.queriesUnder(_ => base)("link_graph")(spark, sf0001).collect().toSeq
          finally spark.conf.set(key, was)
        }
        for (base <- Seq(a, b))
          assert(new File(base, "html_pages").list().exists(_.endsWith(".parquet")), base)
        assert(rows.head.nonEmpty && rows.head == rows(1))
      }
    }
  }
}
