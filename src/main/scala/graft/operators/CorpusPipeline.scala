package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.PageSynth

/** The end-to-end training-corpus pipeline — what this engine exists to
  * run at 100 TB: pages → main-content extraction → paragraph scrub →
  * exact + near dedup → repetition + quality filters → language ID →
  * training-ready corpus.
  *
  * Stage order is deliberate:
  *   1. extract           narrow kernel, no shuffle
  *   1.5 paragraph scrub  CCNet order: cross-document boilerplate out
  *                        BEFORE dedup — shared chrome otherwise inflates
  *                        both md5 collisions missed and shingle Jaccard
  *                        (one df shuffle + broadcast-set narrow map)
  *   2. exact dedup       one shuffle on md5(text) — kills byte-copies
  *                        before the costlier shingle pass
  *   3. near dedup        `Dedup.minhashLshPairsFrom` keyed by url (LSH
  *                        candidates verified by Jaccard, its bucket cap
  *                        counted in `Dedup.MinhashDrops`); keep the
  *                        smaller url of each near-dup pair
  *   4. repetition filter Gopher dup-line/top-2gram flag on scrubbed text
  *   5. quality filter    C4-style score over extracted text, no shuffle
  *   6. language ID       kernel heuristic, no shuffle
  *
  * `funnel` reports per-stage survivor counts — the number every corpus
  * job publishes next to its output.
  */
object CorpusPipeline {

  val QualityThreshold = 0.5

  /** Extracted docs annotated with every pipeline signal + keep flags. */
  def corpus(s: SparkSession, dir: String, buckets: Int = 32): DataFrame = {
    val extracted0 = ExtractJob.extract(s, PageSynth.pages(s, dir), buckets)
      .toDF()
      .filter(col("status") === "completed" && length(col("text")) > 0)

    // 1.5 paragraph scrub: remove cross-document boilerplate paragraphs
    // before any dedup sees the text (the CCNet stage order)
    val extracted = ParagraphDedup.paragraphScrubFrom(s,
        extracted0.select(col("url"), lit("completed").as("status"), col("text")))
      .select(col("url"), col("clean_text").as("text"),
        col("n_dropped").as("n_paras_dropped"))
      .filter(length(col("text")) > 0)

    // 4. repetition flag on the scrubbed text (joined back at the end)
    val repetition = TextAnalysis.textRepetition(
        extracted.select(col("url"), lit("completed").as("status"), col("text")))
      .select(col("url"), col("repetition_flagged"))

    // 2. exact dedup: keep min url per identical text
    val withHash = extracted.withColumn("h", md5(col("text")))
    val keepExact = withHash.groupBy(col("h")).agg(min(col("url")).as("keep_url"))
    val exactKept = withHash
      .join(keepExact, Seq("h"))
      .withColumn("is_exact_dup", col("url") =!= col("keep_url"))

    // 3. near dedup on the exact-kept set: Dedup's MinHash-LSH operator
    //    keyed by url; drop the lexicographically larger url of each pair
    val nearDupUrls = Dedup.minhashLshPairsFrom(s,
        exactKept.filter(!col("is_exact_dup")).select(col("url").as("doc_id"), col("text")))
      .select(col("id_b").as("url")) // keep the smaller url of each pair
      .distinct()

    // 5+6. quality + language over the survivors
    import s.implicits._
    val langOf = (t: String) => TextAnalysis.langIdOf(TextAnalysis.stripMergeChrome(t))
    val survivors = exactKept
      .join(nearDupUrls.withColumn("is_near_dup", lit(true)), Seq("url"), "left")
      .withColumn("is_near_dup", coalesce(col("is_near_dup"), lit(false)))
      .withColumn("quality", round(TextAnalysis.qualityCol(col("text")), 3))
    val withLang = survivors
      .select(col("url"), col("text"), col("n_paras_dropped"),
        col("is_exact_dup"), col("is_near_dup"), col("quality"))
      .as[(String, String, Int, Boolean, Boolean, Double)]
      .map { case (url, text, np, ed, nd, q) => (url, text, np, ed, nd, q, langOf(text)) }
      .toDF("url", "text", "n_paras_dropped", "is_exact_dup", "is_near_dup",
        "quality", "lang_pred")
    withLang
      .join(repetition, Seq("url"))
      .withColumn("keep",
        !col("is_exact_dup") && !col("is_near_dup") && !col("repetition_flagged") &&
          col("quality") >= QualityThreshold)
  }

  /** Per-stage funnel counts — the pipeline's publishable summary. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir).cache()
    try funnelFrom(s, c) finally { c.unpersist(): Unit }
  }

  /** Funnel counts from an already-computed (or materialized) corpus frame. */
  def funnelFrom(s: SparkSession, c: DataFrame): DataFrame = {
    val total = c.count()
    val afterExact = c.filter(!col("is_exact_dup")).count()
    val afterNear = c.filter(!col("is_exact_dup") && !col("is_near_dup")).count()
    val afterRep = c.filter(!col("is_exact_dup") && !col("is_near_dup") &&
      !col("repetition_flagged")).count()
    val kept = c.filter(col("keep")).count()
    import s.implicits._
    Seq(
      ("1_extracted_ok", total),
      ("2_after_exact_dedup", afterExact),
      ("3_after_near_dedup", afterNear),
      ("4_after_repetition_filter", afterRep),
      ("5_after_quality_filter", kept)
    ).toDF("stage", "n_docs").orderBy(col("stage"))
  }
}
