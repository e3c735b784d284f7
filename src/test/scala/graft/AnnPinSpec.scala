package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pq, Similarity}

/** The ANN family's trained codebooks and outputs, pinned by value at
  * sf0.001 and at sf0.01 (where LSH's neighbors differ from brute
  * force's): SHA-256 digests over the raw bits of the IVF centroids and
  * the PQ codebooks, and over the sorted (qid, nid, rnk) rows of each
  * path. The other specs check that two trainings agree and that recall stays
  * above a floor; these fail on any change to a trained value or a rank.
  */
class AnnPinSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  private def digest(xs: Iterator[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    xs.foreach { x => buf.clear(); buf.putLong(x); md.update(buf.array()) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** (digest of the sorted rows, row count) */
  private def rows(df: DataFrame): (String, Int) = {
    val r = df.select(col("qid"), col("nid"), col("rnk").cast("long")).as[(Long, Long, Long)]
      .collect().sorted
    (digest(r.iterator.flatMap { case (q, n, k) => Iterator(q, n, k) }), r.length)
  }

  /** Digests taken from the code before the IVF and PQ trainers shared
    * one k-means and the ANN paths one exact re-rank.
    */
  private case class Pins(ivfCells: Int, ivfCentroids: String, pqCodebooks: String,
      bruteForce: (String, Int), lsh: (String, Int), ivf: (String, Int), ivfPq: (String, Int))

  private val pins = Seq(
    sf0001 -> Pins(16,
      "f6634a4f3661fdc84d212d58d7848ecbe1d30b7ce40d32b6d926d73df8c29e00",
      "3dca62578d8dec6b15da9854f1b2c1130aeecb4da114084831d4e0ac8eced866",
      ("7b4504ddf7b37a6f1ee5444524c967be2d94ec2e1088f398677e78400e40c5a6", 25),
      ("7b4504ddf7b37a6f1ee5444524c967be2d94ec2e1088f398677e78400e40c5a6", 25),
      ("61abeccfb08f127a78d5aa0f94ce80e6fecd767eb2288a6b26b242fcc6299ae6", 25),
      ("532b7f4a5901d25408f94f8b8d16a6fa49f83ee4806f3543ba0b2051bc649ba2", 25)),
    // at sf0.001 LSH finds brute force's exact neighbors; here it does not
    "/root/testdata/sf0.01" -> Pins(16,
      "9967d73fce6ccf1f3574f3f77fd76409fa5e9e9d5aa9b5966d743c9a6feb4d4b",
      "ddefcae797701f0fb21f103174b5a8b94f2ac0c75a32f9d94e749b7e861613ae",
      ("82b4783d5b98e93bf3ec909935440ddaa798d77b819497b8adfa703c4b4c65d5", 25),
      ("693404903305c86edee673c2926ee74c358449ce5fef129a2343d4c0873e9fdc", 25),
      ("a2c2bd763b5a6fb9da80d7ebed462bdc2c32d7bb99fd1d83afab1f097d6d94fd", 25),
      ("c8c61c0027e8ca867f5eb6c6dcec13fc1a436fad43f0e7f07e53744c86108dc6", 25)))

  for ((dir, pin) <- pins) {
    val sf = dir.split('/').last

    test(s"$sf: ivf centroids and pq codebooks keep their pinned raw bits") {
      val cents = Similarity.ivfCentroids(spark, dir)
      assert(cents.length == pin.ivfCells)
      assert(digest(cents.iterator.flatMap { case (c, v) =>
        Iterator(c.toLong) ++ v.iterator.map(bits) }) == pin.ivfCentroids)
      val books = Pq.trainCodebooks(spark, dir)
      assert(digest(books.iterator.flatMap(_.iterator.flatMap(_.iterator.map(bits)))) ==
        pin.pqCodebooks)
    }

    test(s"$sf: ann_bruteforce, ann_lsh, ann_ivf and ann_ivfpq keep their pinned rows") {
      assert(rows(Similarity.annBruteForce(spark, dir)) == pin.bruteForce)
      assert(rows(Similarity.annLsh(spark, dir)) == pin.lsh)
      assert(rows(Similarity.annIvf(spark, dir)) == pin.ivf)
      assert(rows(Similarity.annIvfPqFrom(spark, dir, Similarity.annIvfCells(spark, dir),
        Similarity.annIvfProbes(spark, dir), Pq.pqPairs(spark, dir))) == pin.ivfPq)
    }
  }
}
