package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the compression leg of the FAISS IVF-PQ recipe
  * this engine's ANN family follows: at 10^9+ vectors the corpus no
  * longer fits as floats, so each vector is split into `SubVectors`
  * subvectors and each subvector replaced by the id of its nearest
  * centroid from a per-subspace codebook (here 8 subs × 4 bits = 32 bits
  * per 64-dim float32 vector — 64× compression).
  *
  * Training shares its trainer with the IVF codebook
  * (Similarity.ivfCentroids): `strideSample` collects a deterministic
  * id-stride sample to the driver (capped at `TrainCap` here), and
  * `kmeans` (k-means++ D² init with an xxhash64-derived deterministic
  * stream, then Lloyd) trains each per-subspace codebook — the corpus
  * itself never shuffles for training, and encode/decode is a narrow
  * typed map over broadcast codebooks.
  *
  * The synthetic embeddings are near-uniform random directions — PQ's
  * worst case (no cluster structure to exploit) — so the fidelity floors
  * pinned in the spec are conservative; real embedding corpora sit on
  * low-dimensional manifolds and compress far better.
  */
object Pq {

  val SubVectors = 8
  val CodebookSize = 16 // 4 bits per subvector
  val TrainCap = 4096
  val KmeansIters = 10

  /** Deterministic id-stride training sample, collected to the driver:
    * the vectors whose vec_id is a multiple of max(1, n / cap) for n
    * rows, sorted by vec_id. Returns n with the sample.
    */
  private[operators] def strideSample(
      embeddings: DataFrame, cap: Int): (Long, Array[Array[Double]]) = {
    import embeddings.sparkSession.implicits._
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val n = e.agg(count(lit(1))).as[Long].head()
    val stride = math.max(1L, n / cap)
    (n, e.filter(col("vec_id") % stride === 0)
      .as[(Long, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray))
  }

  /** Deterministic k-means over a driver-side sample: k-means++ D²
    * seeding driven by an xxhash64 stream (salted per caller — per PQ
    * subspace, so the codebooks differ, and once for the IVF codebook),
    * then Lloyd iterations. No RNG object and first-index tie-breaks
    * everywhere → bit-reproducible across runs and core counts. Each
    * next seed is drawn with probability proportional to its squared
    * distance from the nearest chosen seed — the published k-means++
    * construction, which spreads seeds without the outlier-chasing of a
    * pure farthest-point pick.
    */
  private[operators] def kmeans(
      sample: Array[Array[Double]],
      k: Int,
      iters: Int,
      salt: Long): Array[Array[Double]] = {
    val dims = sample(0).length
    val chosen = new Array[Array[Double]](k)
    chosen(0) = sample(0).clone()
    val minD = Array.fill(sample.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val last = chosen(c - 1)
      var total = 0.0
      var j = 0
      while (j < sample.length) {
        val v = sample(j)
        var d = 0.0
        var i = 0
        while (i < dims) { val t = v(i) - last(i); d += t * t; i += 1 }
        if (d < minD(j)) minD(j) = d
        total += minD(j)
        j += 1
      }
      val u = (XxHash.hashBytes(Array(
        (c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
        ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte), salt)
        >>> 11).toDouble / (1L << 53).toDouble
      val r = u * total
      var acc = 0.0
      var pick = -1
      j = 0
      while (j < sample.length && pick < 0) {
        acc += minD(j)
        if (acc > r) pick = j
        j += 1
      }
      if (pick < 0) pick = sample.length - 1
      chosen(c) = sample(pick).clone()
      c += 1
    }
    var cents = chosen
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var ci = 0
        while (ci < k) {
          var d = 0.0
          var i = 0
          while (i < dims) { val t = v(i) - cents(ci)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { ci =>
        if (counts(ci) == 0) cents(ci) // empty cell keeps its centroid
        else {
          val a = new Array[Double](dims)
          var i = 0
          while (i < dims) { a(i) = sums(ci)(i) / counts(ci); i += 1 }
          a
        }
      }
      iter += 1
    }
    cents
  }

  /** [sub][code][subdim] — per-subspace codebooks. Memoized per
    * embeddings snapshot id exactly like Similarity.ivfCentroids:
    * training is deterministic, and every IVF-PQ retrieval call would
    * otherwise re-pay the sample collect + per-subspace Lloyd runs.
    */
  def trainCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val embeddings = Relational.table(s, dir, "embeddings")
    Similarity.boundedMemo(bookCache, ExtractJob.snapshotIdOf(embeddings)) {
      val (_, sample) = strideSample(embeddings, TrainCap)
      // an empty table would throw at sample(0), and fewer samples than
      // codes silently trains duplicate centroids — fail loudly instead,
      // as the IVF codebook does
      require(sample.length >= CodebookSize,
        s"PQ training needs >= $CodebookSize sample vectors, got ${sample.length}")
      val dims = sample(0).length
      require(dims % SubVectors == 0, s"dims $dims not divisible by $SubVectors")
      val sd = dims / SubVectors
      Array.tabulate(SubVectors) { m =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, m * sd, (m + 1) * sd))
        kmeans(sub, CodebookSize, KmeansIters, salt = 7919L * (m + 1))
      }
    }
  }

  private val bookCache =
    scala.collection.concurrent.TrieMap.empty[Long, Array[Array[Array[Double]]]]

  /** Encode each vector to SubVectors 4-bit codes and decode back —
    * narrow typed map over the broadcast codebooks. The materialized
    * (vec_id, e, recon, codes) frame is the oracle input: DuckDB
    * recomputes the reconstruction fidelity itself.
    */
  def pqPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val books = trainCodebooks(s, dir)
    val bc = s.sparkContext.broadcast(books)
    val sd = books(0)(0).length
    Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .as[(Long, Seq[Double])]
      .map { case (id, ev) =>
        val v = ev.toArray
        val bks = bc.value
        val codes = new Array[Int](SubVectors)
        val recon = new Array[Double](v.length)
        var m = 0
        while (m < SubVectors) {
          val book = bks(m)
          var best = 0
          var bestD = Double.MaxValue
          var ci = 0
          while (ci < book.length) {
            var d = 0.0
            var i = 0
            while (i < sd) { val t = v(m * sd + i) - book(ci)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = ci }
            ci += 1
          }
          codes(m) = best
          var i = 0
          while (i < sd) { recon(m * sd + i) = book(best)(i); i += 1 }
          m += 1
        }
        (id, v.toSeq, recon.toSeq, codes.toSeq)
      }
      .toDF("vec_id", "e", "recon", "codes")
  }

  /** Fidelity stats over the materialized pairs (cosine original vs
    * reconstructed, plus the compression ratio float32 → 4-bit codes).
    */
  def pqStatsFrom(pairs: DataFrame): DataFrame = {
    val cos = Dedup.dot(col("e"), col("recon")) /
      (Dedup.l2norm(col("e")) * Dedup.l2norm(col("recon")))
    pairs.agg(
      count(lit(1)).as("n_vectors"),
      round(avg(cos), 5).as("avg_cos_fidelity"),
      round(min(cos), 5).as("min_cos_fidelity"),
      round(avg(size(col("e")) * lit(32.0) / (lit(SubVectors) * lit(4.0))), 1)
        .as("compression_ratio"))
  }
}
