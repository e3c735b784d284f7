package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pq}

/** Product quantization: deterministic codebooks, bounded codes, honest
  * fidelity floors on the worst-case (random-direction) embeddings, and
  * the end metric that matters — how much top-k recall survives scoring
  * against 64×-compressed reconstructions.
  */
class PqSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  test("codebooks are bit-deterministic across trainings") {
    val a = Pq.trainCodebooks(spark, sf0001)
    val b = Pq.trainCodebooks(spark, sf0001)
    assert(a.length == Pq.SubVectors)
    a.zip(b).foreach { case (sa, sb) =>
      sa.zip(sb).foreach { case (ca, cb) => assert(ca.sameElements(cb)) }
    }
    // subspace salts differ → codebooks differ across subspaces
    assert(!a(0)(0).sameElements(a(1)(0)))
  }

  test("codes bounded, reconstruction fidelity above the worst-case floor") {
    val pairs = Pq.pqPairs(spark, sf0001).cache()
    try {
      val badCodes = pairs.select(explode(col("codes")).as("c"))
        .filter(col("c") < 0 || col("c") >= Pq.CodebookSize).count()
      assert(badCodes == 0L)
      val stats = Pq.pqStatsFrom(pairs)
        .as[(Long, Double, Double, Double)].head()
      assert(stats._1 == 500L)
      // random-direction 64-dim data at 32 bits/vector: conservative floors
      assert(stats._2 >= 0.6, s"avg cos fidelity ${stats._2}")
      assert(stats._3 >= 0.45, s"min cos fidelity ${stats._3}")
      assert(stats._4 == 64.0)
    } finally { pairs.unpersist(): Unit }
  }

  test("recall@5: ADC-style scoring against reconstructions keeps useful recall") {
    val pairs = Pq.pqPairs(spark, sf0001)
      .select(col("vec_id"), col("e"), col("recon")).cache()
    try {
      val q = pairs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      def topk(scoreAgainst: String, k: Int) = pairs.as("c")
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim", Dedup.dot(col(scoreAgainst), col("qe")) /
          (Dedup.l2norm(col(scoreAgainst)) * Dedup.l2norm(col("qe"))))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("vec_id"))
      val exact = topk("e", 5).as[(Long, Long)].collect().toSet
      val viaPq = topk("recon", 5).as[(Long, Long)].collect().toSet
      val recall = (exact & viaPq).size.toDouble / exact.size
      info(f"PQ recall@5 on random-direction embeddings: $recall%.2f")
      assert(recall >= 0.2, f"recall $recall%.2f below floor")

      // the production recipe (IVF-PQ + refine): PQ scores pick a top-20
      // SHORTLIST, exact scores re-rank it — compressed scan, exact top-k
      val shortlist = topk("recon", 20)
      val reranked = shortlist
        .join(pairs.select(col("vec_id"), col("e")), Seq("vec_id"))
        .join(q, Seq("qid"))
        .withColumn("sim", Dedup.dot(col("e"), col("qe")) /
          (Dedup.l2norm(col("e")) * Dedup.l2norm(col("qe"))))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id"))
        .as[(Long, Long)].collect().toSet
      val rerankRecall = (exact & reranked).size.toDouble / exact.size
      info(f"PQ shortlist + exact re-rank recall@5: $rerankRecall%.2f")
      assert(rerankRecall >= recall, "re-rank must not lose recall")
      assert(rerankRecall >= 0.4, f"re-rank recall $rerankRecall%.2f below floor")
    } finally { pairs.unpersist(): Unit }
  }

  test("ann_ivfpq: registered IVF+ADC+re-rank query keeps recall vs brute force") {
    val exact = TestSpark.queries("ann_bruteforce")(spark, sf0001)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet
    val ivfpq = TestSpark.queries("ann_ivfpq")(spark, sf0001)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet
    // exactly TopK rows per query survive the two-stage retrieval
    assert(ivfpq.groupBy(_._1).forall(_._2.size == graft.operators.Similarity.TopK))
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(f"ann_ivfpq recall@5 vs brute force (random-direction worst case): $recall%.2f")
    assert(recall >= 0.5, f"recall $recall%.2f below floor") // measured 0.68
  }

  test("ADC lookup-table scoring equals cosine against the decoded reconstruction") {
    // the LUT sum over codes must be the same number (up to fold order) as
    // dot(recon, q) — i.e. ADC really is scoring against the codebook decode
    val books = Pq.trainCodebooks(spark, sf0001)
    val sd = books(0)(0).length
    val rows = Pq.pqPairs(spark, sf0001)
      .select(col("vec_id"), col("recon"), col("codes"))
      .as[(Long, Seq[Double], Seq[Int])].head(20)
    val q = Array.tabulate(Pq.SubVectors * sd)(i => math.sin(i + 1.0)) // arbitrary fixed query
    rows.foreach { case (_, recon, codes) =>
      var lutDot = 0.0
      var m = 0
      while (m < Pq.SubVectors) {
        var d = 0.0; var i = 0
        while (i < sd) { d += q(m * sd + i) * books(m)(codes(m))(i); i += 1 }
        lutDot += d; m += 1
      }
      val direct = recon.toArray.zip(q).map { case (a, b) => a * b }.sum
      assert(math.abs(lutDot - direct) < 1e-9, s"$lutDot vs $direct")
    }
  }

  test("embeddings rewritten in place under the same file name retrain the codebooks") {
    val dir = java.nio.file.Files.createTempDirectory("pq_inplace").toString
    val emb = java.nio.file.Paths.get(dir, "embeddings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "embeddings.parquet"), emb)
    emb.toFile.setWritable(true): Unit
    val a = Pq.trainCodebooks(spark, dir)
    assert(Pq.trainCodebooks(spark, dir) eq a, "an unchanged table reuses its codebooks")
    // the same file name, every vector doubled
    spark.read.parquet(emb.toString)
      .withColumn("embedding", transform(col("embedding"), x => x + x))
      .coalesce(1).write.parquet(s"$dir/v2")
    val part = new java.io.File(s"$dir/v2").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, emb, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val b = Pq.trainCodebooks(spark, dir)
    assert(!(b eq a), "a rewritten table must not reuse the old codebooks")
    assert(!b(0)(0).sameElements(a(0)(0)), "codebooks trained on doubled vectors must differ")
  }
}
