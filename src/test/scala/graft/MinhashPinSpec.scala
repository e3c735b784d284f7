package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusPipeline, Dedup}

/** The MinHash-LSH family's signatures and the corpus pipeline's rows,
  * pinned by value: SHA-256 digests over the sorted (doc_id, band, bucket)
  * rows of `Dedup.minhashBands` and the sorted (doc_id, sig) rows of
  * `Dedup.simhashSigs` at sf0.001 and at sf0.01, and over the sorted rows of
  * `CorpusPipeline.corpus` at sf0.001 in the columns `pipeline_corpus`
  * materializes. The oracles cannot catch a changed signature: the
  * `dedup_minhash_lsh` oracle replays banding from the materialized bands,
  * and the `pipeline_corpus` oracle reads its rows back. The pair rows of
  * `dedupMinhashLsh` and `dedupSimhash` are pinned the same way at both
  * scales.
  *
  * Also pins the Spark jobs that build and collect the three LSH outputs at
  * sf0.001, and those of the heaviest registered secondary queries after
  * one warm call, as upper bounds.
  */
class MinhashPinSpec extends AnyFunSuite {
  import TestSpark.{countingJobs, sf0001, spark}

  /** (digest of the sorted rows, row count); a double enters by its raw bits */
  private def rows(df: DataFrame): (String, Int) = {
    val lines = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (md.digest().map("%02x".format(_)).mkString, lines.length)
  }

  /** Digests taken from the code before the MinHash family shared one
    * tokenizer, Spark's XXH64 and one LSH operator: (bands, simhash sigs).
    */
  private val pins = Seq(
    sf0001 -> (
      ("00d18c1de75ef74a11016f29df6476a3823ad91c56d85e5f83f22421c190573b", 17600),
      ("6603b91cc27eb7c15942d0209ab17881592e40b752e6a91491930e0f81b6b330", 550)),
    "/root/testdata/sf0.01" -> (
      ("6ff877c4eb5a850cfd8c0d29497c57eebf94bdffb86a56cf0b369bad65c00b1b", 17600),
      ("9b64ad24316538dab95ce580210885addf92fd0fbc054a7c249ead00698fce4c", 550)))

  for ((dir, (bands, sigs)) <- pins) {
    val sf = dir.split('/').last
    test(s"$sf: minhash bands and simhash signatures keep their pinned rows") {
      val docs = Dedup.corpus(spark, dir)
      assert(rows(Dedup.minhashBands(spark, docs).select("doc_id", "band", "bucket")) == bands)
      assert(rows(Dedup.simhashSigs(spark, docs).select("doc_id", "sig")) == sigs)
    }
  }

  /** Digests of the pair rows the two banding operators return, taken from
    * the code before SimHash and MinHash-LSH shared one banding stage:
    * (dedupMinhashLsh, dedupSimhash).
    */
  private val pairPins = Seq(
    sf0001 -> (
      ("47ef9d0ad0bdaed28f4412b2d93a7b9e1efee1ba45bfbfce247e5fd81ebe0bde", 94),
      ("6acf8393cab16088df18108c1e14b85a061107097e9448f06f7cbc2e1190c7ab", 64)),
    "/root/testdata/sf0.01" -> (
      ("472ba2568955e3c3b6c2c032b42411fbc72ade55979fa04430b341786cda1c44", 81),
      ("8ff706a1005f5dc4d8adf7bee23ca4ce30cc817cecf46b66e943b49e293fd29e", 41)))

  for ((dir, (minhash, simhash)) <- pairPins) {
    val sf = dir.split('/').last
    test(s"$sf: minhash LSH and simhash pairs keep their pinned rows") {
      assert((rows(Dedup.dedupMinhashLsh(spark, dir)), rows(Dedup.dedupSimhash(spark, dir))) ==
        ((minhash, simhash)))
    }
  }

  test("sf0.001: the corpus pipeline keeps its pinned rows") {
    assert(rows(CorpusPipeline.corpus(spark, sf0001).select("url", "n_paras_dropped",
      "is_exact_dup", "is_near_dup", "repetition_flagged", "quality", "lang_pred", "keep")) ==
      ("5eca7128f732e40458420d8164fb84f7a4cfd30a97e1619f87556d9ac9662e2e", 483))
  }

  test("sf0.001: building and collecting the LSH outputs starts no more jobs than pinned") {
    val (_, minhash) = countingJobs(Dedup.dedupMinhashLsh(spark, sf0001).collect())
    val (_, simhash) = countingJobs(Dedup.dedupSimhash(spark, sf0001).collect())
    val (_, pipeline) = countingJobs(CorpusPipeline.corpus(spark, sf0001).collect())
    info(s"jobs: dedupMinhashLsh $minhash, dedupSimhash $simhash, CorpusPipeline.corpus $pipeline")
    // counted on the code the digests were taken from
    assert(minhash <= 12, s"dedupMinhashLsh: $minhash jobs")
    assert(simhash <= 8, s"dedupSimhash: $simhash jobs")
    assert(pipeline <= 24, s"CorpusPipeline.corpus: $pipeline jobs")
  }

  /** Jobs of a second `frame(spark, sf0.001).collect()`, the first having
    * built the memos and materializations the registry shares; counted on
    * the code before these ceilings (the two sketch dedups: before their
    * one banding stage).
    */
  private val jobPins = Seq(
    "ann_ivfpq" -> 16, "ann_lsh" -> 13, "decontaminate" -> 11,
    "substring_dedup" -> 10, "substring_dedup_hashed" -> 10,
    "dedup_minhash_lsh" -> 11, "dedup_simhash" -> 7)

  test("sf0.001: warm registered frames start no more jobs than pinned") {
    val counts = jobPins.map { case (name, pin) =>
      val frame = TestSpark.queries(name)
      frame(spark, sf0001).collect()
      (name, countingJobs(frame(spark, sf0001).collect())._2, pin)
    }
    info(s"jobs: ${counts.map { case (n, c, _) => s"$n $c" }.mkString(", ")}")
    for ((name, jobs, pin) <- counts) assert(jobs <= pin, s"$name: $jobs jobs")
  }
}
