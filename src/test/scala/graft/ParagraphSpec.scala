package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ParagraphDedup

/** Paragraph-level dedup (boilerplate scrub): threshold semantics, drop
  * completeness, order preservation, split/re-join round-trip, and the
  * end-to-end behavior on the extracted sf0.001 corpus (the merge-summary
  * chrome is exactly the cross-document boilerplate the stage removes).
  */
class ParagraphSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  private def frame(rows: (String, String, String)*) =
    rows.toDF("url", "status", "text")

  test("boilerplate: df >= MinDf across distinct docs, within-doc repeats don't inflate df") {
    val f = frame(
      ("u1", "completed", "BOILER\n\nunique one"),
      ("u2", "completed", "BOILER\n\nunique two"),
      ("u3", "completed", "BOILER\n\nunique three"),
      // TWICE appears twice in u4 and once in u5: df = 2 < MinDf
      ("u4", "completed", "TWICE\n\nmid\n\nTWICE"),
      ("u5", "completed", "TWICE\n\nother"))
    val boiler = ParagraphDedup.boilerplate(f).as[(String, Long)].collect().toMap
    assert(boiler == Map("BOILER" -> 3L))
  }

  test("scrub: drops every occurrence, preserves order, re-joins with the kernel separator") {
    val f = frame(
      ("u1", "completed", "BOILER\n\na\n\nBOILER\n\nb"),
      ("u2", "completed", "BOILER\n\nc"),
      ("u3", "completed", "BOILER\n\nd"),
      ("u4", "failed", "BOILER\n\nshould not appear"))
    val out = ParagraphDedup.paragraphScrubFrom(spark, f)
      .as[(String, Int, Int, String)].collect().toList
    assert(out == List(
      ("u1", 4, 2, "a\n\nb"),
      ("u2", 2, 1, "c"),
      ("u3", 2, 1, "d")))
  }

  test("scrub: documents with no boilerplate round-trip byte-identically") {
    val f = frame(
      ("u1", "completed", "alpha\n\nbeta\n\ngamma"),
      ("u2", "completed", "delta"),
      ("u3", "completed", ""))
    val out = ParagraphDedup.paragraphScrubFrom(spark, f)
      .as[(String, Int, Int, String)].collect()
      .map { case (u, n, d, t) => u -> ((n, d, t)) }.toMap
    assert(out("u1") == ((3, 0, "alpha\n\nbeta\n\ngamma")))
    assert(out("u2") == ((1, 0, "delta")))
    assert(out("u3") == ((1, 0, ""))) // empty text is one empty paragraph
  }

  test("scrub cap: overflow beyond maxBoilerplate is counted, worst offenders kept") {
    // five boilerplate paragraphs with distinct df: Bp appears in docs
    // 0..(2+p) -> df(Bp) = 3+p (B1=4 ... B5=8), all >= MinDf
    val f = frame((0 until 8).map { d =>
      val paras = (1 to 5).filter(p => d <= 2 + p).map(p => s"B$p") :+ s"unique $d"
      (s"u$d", "completed", paras.mkString(ParagraphDedup.Sep))
    }: _*)
    val out = ParagraphDedup.paragraphScrubFrom(spark, f, maxBoilerplate = 2)
      .as[(String, Int, Int, String)].collect()
    // cap keeps the df-descending top 2 (B5, B4); the other 3 overflow
    assert(ParagraphDedup.ScrubOverflow.get() == 3L)
    val u0 = out.find(_._1 == "u0").get
    assert(u0._4 == Seq("B1", "B2", "B3", "unique 0").mkString(ParagraphDedup.Sep))
    assert(out.forall(r => !r._4.contains("B4") && !r._4.contains("B5")))
    // under the cap the counter reads 0, not stale
    ParagraphDedup.paragraphScrubFrom(spark, f).collect()
    assert(ParagraphDedup.ScrubOverflow.get() == 0L)
  }

  test("paragraphStats: df counts distinct docs, n_occurrences counts all repeats") {
    val f = frame(
      ("u1", "completed", "P\n\nP\n\nx"),
      ("u2", "completed", "P\n\ny"),
      ("u3", "completed", "z"))
    val rows = ParagraphDedup.paragraphStats(f)
      .as[(String, Long, Long, Int)].collect().toList
    assert(rows == List(("P", 2L, 3L, 1)))
  }

  test("sf0.001: scrub removes the cross-document merge chrome, stats surface it") {
    val extracted = TestSpark.queries("extract_main")(spark, sf0001)
    val stats = ParagraphDedup.paragraphStats(extracted)
      .as[(String, Long, Long, Int)].collect()
    assert(stats.exists(_._1 == "Part 1"), "shared page header should be high-df")
    val scrubbed = ParagraphDedup.paragraphScrubFrom(spark, extracted)
    val dropped = scrubbed.agg(sum(col("n_dropped"))).as[Long].head()
    assert(dropped > 0)
    // no boilerplate paragraph survives in any scrubbed text
    val boiler = ParagraphDedup.boilerplate(extracted)
      .select(col("para")).as[String].collect().toSet
    assert(boiler.nonEmpty)
    val leaked = scrubbed.select(explode(split(col("clean_text"), ParagraphDedup.Sep, -1)).as("p"))
      .filter(col("p").isInCollection(boiler)).count()
    assert(leaked == 0L)
    // docs that dropped nothing are byte-identical to their input
    val untouched = scrubbed.join(extracted.select(col("url"), col("text")), Seq("url"))
      .filter(col("n_dropped") === 0)
      .filter(col("clean_text") =!= col("text")).count()
    assert(untouched == 0L)
  }
}
