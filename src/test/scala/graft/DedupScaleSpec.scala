package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, ExtractJob, XxHash}
import graft.sources.PageSynth

/** MinHash-LSH over the EXTRACTED corpus (the stage near-dedup actually
  * consumes in production), with planted near-duplicates: drop a ~5%
  * middle slice of each planted doc and insert a marker, giving shingle
  * Jaccard ≈ 0.85-0.95 — well above the 0.6 threshold, where the
  * 32-band × 4-row S-curve must catch essentially everything.
  * The bench runs the same construction at 160k docs; this spec pins the
  * recall floor the bench numbers are judged against.
  */
class DedupScaleSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  test("minhash LSH on extracted corpus: planted near-dup recall >= 0.9") {
    import spark.implicits._
    val extracted = ExtractJob.extract(spark, PageSynth.pages(spark, sf0001), buckets = 8)
      .toDF()
      .filter(col("status") === "completed" && length(col("text")) > 200)
      .select(col("url"), col("text"))
      .localCheckpoint()
    // plant a near-dup for every 5th doc (by url hash)
    val origs = extracted.filter(pmod(xxhash64(col("url")), lit(5L)) === 0)
    val planted = origs.select(
      concat(lit("dup://"), col("url")).as("url"),
      expr("concat(substring(text, 1, cast(length(text) * 0.45 AS int)), " +
        "' planted near duplicate marker tokens ', " +
        "substring(text, cast(length(text) * 0.5 AS int), length(text)))").as("text"))
    val ids = extracted.unionAll(planted)
      .select(xxhash64(col("url")).as("doc_id"), col("text"))

    val got = Dedup.minhashLshPairsFrom(spark, ids)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val want = origs.select(col("url")).as[String].collect().map { u =>
      val a = XxHash.hashUtf8(u)
      val b = XxHash.hashUtf8("dup://" + u)
      (math.min(a, b), math.max(a, b))
    }.toSet
    assert(want.nonEmpty, "planted set must not be empty")
    val found = want.count(got.contains)
    info(s"planted recall = $found/${want.size}; " +
      s"candidates = ${Dedup.MinhashCandidates.get}, pairs = ${got.size}")
    assert(found.toDouble / want.size >= 0.9,
      s"planted-pair recall $found/${want.size} below 0.9")
    // candidate-set observability: the counter must reflect this run
    assert(Dedup.MinhashCandidates.get >= got.size)
  }

  test("bucket-cap drop counter: degenerate corpus records dropped buckets") {
    import spark.implicits._
    // 40 identical docs → every band bucket holds all 40 → with cap 8,
    // every bucket is dropped and counted; result must be empty
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    val docs = (0 until 40).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsFrom(spark, docs, maxBucket = 8)
    assert(pairs.count() == 0, "all buckets over cap → no candidates")
    assert(Dedup.MinhashDrops.droppedBuckets > 0,
      "drop counter must record the capped buckets")
    assert(Dedup.MinhashDrops.droppedDocSlots >= 40L)
    // and with the cap lifted the same corpus yields the full clique
    val full = Dedup.minhashLshPairsFrom(spark, docs, maxBucket = 64)
    assert(full.count() == 40L * 39 / 2)
    assert(Dedup.MinhashDrops.droppedBuckets == 0)
  }

  test("bucket-cap drop counter: identical simhash signatures record dropped buckets") {
    import spark.implicits._
    // 40 docs with one signature → each of the 4 chunk buckets holds all
    // 40 → with cap 8 all 4 are dropped (160 doc slots); no pairs survive
    val sigs = (0 until 40).map(i => (i.toLong, 0x0123456789abcdefL)).toDF("doc_id", "sig")
    assert(Dedup.dedupSimhashFromSigs(sigs, maxBucket = 8).count() == 0)
    assert(Dedup.SimhashDrops.droppedBuckets == 4)
    assert(Dedup.SimhashDrops.droppedDocSlots == 160)
    // with the cap lifted: the full clique at hamming 0, nothing dropped
    assert(Dedup.dedupSimhashFromSigs(sigs, maxBucket = 64).count() == 40L * 39 / 2)
    assert(Dedup.SimhashDrops.droppedBuckets == 0)
  }

  test("reliable-checkpoint mode: same clusters, checkpoint files on the FS") {
    import spark.implicits._
    // chain 0-1-2-3 + pair 10-11: two components, diameter > 1 so the
    // label-propagation loop iterates (and truncates) more than once
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val defaultMode = Dedup.clustersFrom(spark, edges)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the flag requires a checkpoint dir — fail loudly, not silently local
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        intercept[IllegalArgumentException] { Dedup.clustersFrom(spark, edges).collect() }
        val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
        spark.sparkContext.setCheckpointDir(dir)
      }
      val reliable = Dedup.clustersFrom(spark, edges)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(reliable == defaultMode)
      assert(reliable.map(_._1) == Seq(0L, 10L)) // min-label components
      // blocks actually went to the checkpoint FS (survive executor loss)
      val ckpt = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      assert(anyFile(ckpt), "reliable checkpoint wrote no files")
    } finally spark.conf.unset("spark.graft.reliableCheckpoints")
  }
}
