package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (Array[Float] column) — the retrieval layer of a training-data pipeline.
  *
  * Four paths:
  *   - annBruteForce: exact top-k by cosine. The query side is broadcast
  *     (queries ≪ corpus), so the corpus never shuffles: scan → score →
  *     per-query top-k via window. At 100 TB this is the "small query set
  *     against huge corpus" shape and it scales linearly.
  *   - annLsh: random-hyperplane (SimHash-for-vectors) signatures bucket
  *     the corpus; queries probe their own bucket plus every 1- and 2-bit
  *     flip of it (multi-probe, 37 probes per table). Sub-linear candidate
  *     sets; recall measured against brute force in the spec.
  *   - annIvf: a k-means coarse quantizer assigns the corpus to cells;
  *     queries probe their nearest cells.
  *   - annIvfPqFrom: IVF probing, then an ADC shortlist scored from PQ
  *     codes (Pq).
  *
  * The three approximate paths end in the same exact re-rank
  * (`exactTopK`) of their distinct candidate (qid, vec_id) pairs, and all
  * four rank with one window (`keepTop`).
  *
  * All vector math uses built-in higher-order functions (zip_with +
  * aggregate — codegen'd, no UDF) via Dedup.dot/l2norm.
  */
object Similarity {

  val TopK = 5

  /** Hard ceiling on the query set. Every ANN path broadcasts the query
    * frame (that is what makes the corpus side shuffle-free), so the
    * "queries ≪ corpus" invariant must hold BY CONSTRUCTION, not by
    * comment: a stride-only selection grows with the corpus and at 10^9
    * vectors the broadcast would be ~5 GB. The cap bounds it at
    * MaxQueries × (Dims + 2) doubles (~0.5 MB) at any corpus size.
    */
  val MaxQueries = 1024L

  /** Query set: every 100th vector id, capped at MaxQueries (ids below
    * 100·MaxQueries — deterministic, oracle-replicable, and a no-op at
    * the test scales where max vec_id < 100·MaxQueries). (The
    * repartition undoes the single-file smoke table's one-partition
    * scan — see Dedup.corpus.)
    *
    * The normed corpus frame is cut with Dedup.truncate: every ANN path
    * consumes it several times (index build, probe build, candidate
    * scoring, query broadcast), and round 5 re-ran the
    * scan + repartition + norm subtree for each consumer — up to five
    * scans of the embeddings table per query invocation. The cut is the
    * index-build step (FAISS stores exactly this: vectors + norms);
    * nothing persists across invocations — every call recomputes it from
    * the parquet input.
    */
  private def queriesAndCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Dedup.truncate(Relational.table(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", Dedup.l2norm(col("e"))))
    (queriesFrom(e), e)
  }

  private def queriesFrom(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * MaxQueries))
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))

  /** Exact top-k cosine neighbors per query (broadcast queries, window
    * top-k; deterministic vec_id tiebreak).
    */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val (q, e) = queriesAndCorpus(s, dir)
    cosineTopK(e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid")))
  }

  val annBruteForceSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < ${100L * MaxQueries})
       |SELECT qid, vec_id AS nid, rnk FROM (
       |  SELECT q.qid, e.vec_id,
       |   row_number() OVER (PARTITION BY q.qid
       |     ORDER BY round(list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) t
       |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** Ranks each query's rows by `sim` and keeps the first `k`, numbered
    * `rnk` from 1.
    *
    * The rank is on a COARSELY QUANTIZED sim: Spark and DuckDB fold the
    * dot product in different orders, so raw sims differ in the last ulps
    * — ranking on round(sim, 4) makes a cross-engine rank swap require a
    * genuine 1e-15-scale tie sitting exactly on a 1e-4 grid line (~1e-11
    * per pair) instead of any near-tie; vec_id breaks grid ties
    * identically on both engines. Deliberate product tradeoff: neighbors
    * whose TRUE sims differ by < 1e-4 order by vec_id, not similarity —
    * far below embedding noise, and the ranking becomes a deterministic
    * total order any engine reproduces.
    */
  private def keepTop(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(round(col("sim"), 4).desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Exact cosine top-k over rows that carry a corpus vector (`e`, `nrm`)
    * beside its query's (`qe`, `qn`).
    */
  private def cosineTopK(pairs: DataFrame): DataFrame =
    keepTop(pairs.withColumn("sim", Dedup.dot(col("e"), col("qe")) / (col("nrm") * col("qn"))), TopK)
      // no sim column in the output: cross-engine cosine values differ in
      // the last ulps (different fold order), and a rounded float column
      // is a boundary-flake in the exact hash compare — the bruteforce
      // oracle omits it for the same reason; ordering still uses sim
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))

  /** Joins each candidate row to its broadcast query's vector and norm. */
  private def withQuery(q: DataFrame, rows: DataFrame): DataFrame =
    rows.join(broadcast(q.select(col("qid"), col("qe"), col("qn"))), Seq("qid"))

  /** The exact re-rank every approximate path ends in: fetch the corpus
    * vector of each distinct candidate (qid, vec_id) pair and keep the
    * exact cosine top-k per query.
    */
  private def exactTopK(q: DataFrame, e: DataFrame, cand: DataFrame): DataFrame =
    cosineTopK(withQuery(q, cand.join(e, Seq("vec_id"))))

  /** Distinct (qid, vec_id) pairs of a probe join, self-matches dropped.
    * Dedupe on ids only (a pair colliding in several tables or cells
    * scores once) — deduping rows that still carry the embedding arrays
    * would hash every 64-dim vector per collision.
    */
  private def candidatePairs(probeJoin: DataFrame): DataFrame =
    probeJoin.filter(col("vec_id") =!= col("qid")).select(col("qid"), col("vec_id")).distinct()

  // ------------------------------------------------------------------
  // Random-hyperplane LSH
  // ------------------------------------------------------------------

  val Planes = 8  // bits per hash table
  val Tables = 8  // independent hash tables (classic (k, L) LSH)

  /** Deterministic ±1 hyperplane component for (plane, dim) — seeded from
    * xxhash64, no RNG (scripts must be reproducible across runs/executors).
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val h = XxHash.hashBytes(Array(
      (plane & 0xff).toByte, ((plane >> 8) & 0xff).toByte,
      (dim & 0xff).toByte, ((dim >> 8) & 0xff).toByte), 7919L)
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  /** LSH signature of a vector in hash table `table`:
    * bit p = sign(dot(v, plane_{table·Planes+p})).
    */
  def lshSignature(v: Seq[Double], table: Int = 0): Int = {
    var sig = 0
    var p = 0
    while (p < Planes) {
      var d = 0.0
      var i = 0
      while (i < v.length) { d += v(i) * planeComponent(table * Planes + p, i); i += 1 }
      if (d > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Same signature as a pure Catalyst expression (zip_with + aggregate
    * dot against literal plane vectors — codegen'd, no UDF; equality with
    * `lshSignature` is asserted in OperatorsSpec).
    */
  def lshSignatureCol(v: org.apache.spark.sql.Column, dims: Int, table: Int = 0): org.apache.spark.sql.Column =
    (0 until Planes).map { p =>
      val plane = lit(Array.tabulate(dims)(d => planeComponent(table * Planes + p, d)))
      when(Dedup.dot(v, plane) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding dimensionality (schema knowledge of the testdata corpus). */
  val Dims = 64

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path
  // ------------------------------------------------------------------

  /** Floor for the cell count (tiny test corpora). */
  val IvfMinCells = 16
  /** Ceiling for the cell count (codebook must stay driver/broadcast-tiny). */
  val IvfMaxCells = 4096
  /** Fraction of cells each query probes (nearest-centroid list). The
    * probe/cell ratio — not an absolute probe count — is what fixes the
    * scanned-corpus fraction, so it stays meaningful as cells scale.
    */
  val IvfProbeFraction = 4 // probes = cells / 4
  /** Lloyd iterations for codebook training. */
  val IvfKmeansIters = 10
  /** Codebook training-sample cap (vectors collected to the driver). */
  val IvfTrainCap = 16384

  /** Cells scaled to the corpus: ~sqrt(n)/2 cells (the FAISS-guidance
    * sqrt-law shape, tuned half a notch coarser — measured recall@5 on
    * the synthetic corpus drops when tiny corpora are over-partitioned),
    * clamped to [IvfMinCells, IvfMaxCells] — at 10^9 vectors the cap
    * keeps the codebook broadcastable and training driver-cheap while
    * per-cell lists stay scan-friendly.
    */
  def ivfCellsFor(n: Long): Int =
    math.min(IvfMaxCells, math.max(IvfMinCells, math.round(math.sqrt(n.toDouble / 4)).toInt))

  def ivfProbesFor(cells: Int): Int = math.max(1, cells / IvfProbeFraction)

  /** Deterministic coarse quantizer: k-means (Lloyd) trained on a
    * deterministic corpus sample held on the driver — the standard IVF
    * codebook shape (FAISS trains on a sample too): at 10^12 vectors the
    * index NEVER shuffles for training; only the ≤IvfTrainCap sample
    * moves, and the trained codebook broadcasts back. No RNG anywhere:
    * the sample is an id-stride slice and initialization is k-means++
    * D-squared sampling driven by a deterministic hash stream, so the
    * codebook is bit-reproducible across runs and cluster sizes. The
    * trainer (`Pq.strideSample`, `Pq.kmeans`) is the one the PQ codebooks
    * use. Cell count scales as ~sqrt(corpus) (ivfCellsFor). Returns
    * (cellId, centroid).
    */
  def ivfCentroids(s: SparkSession, dir: String): Array[(Int, Array[Double])] = {
    // memoized per embeddings snapshot: the codebook is deterministic, and
    // annIvfCells + annIvfProbes would otherwise each pay the sample
    // collect + Lloyd training. The snapshot id folds each file's LENGTH
    // and MODIFICATION TIME alongside its name: a table rewritten in place
    // with identical part-file names (same layout, new content) still
    // retrains instead of silently reusing a stale codebook.
    val embeddings = Relational.table(s, dir, "embeddings")
    boundedMemo(centroidCache, ExtractJob.snapshotIdOf(embeddings)) {
      val (n, sample) = Pq.strideSample(embeddings, IvfTrainCap)
      val cells = ivfCellsFor(n)
      require(sample.length >= cells, s"sample ${sample.length} < $cells cells")
      Pq.kmeans(sample, cells, IvfKmeansIters, salt = 1299709L).zipWithIndex.map(_.swap)
    }
  }

  /** Bounded trained-artifact memo, shared by the IVF-centroid and PQ
    * codebook caches so the eviction policy lives in ONE place: repeated
    * in-place regenerations of the same dir would otherwise accumulate
    * artifacts for the JVM lifetime, and a policy fix applied to one
    * cache but not the other would silently desynchronize retraining.
    */
  private[operators] def boundedMemo[A](
      cache: scala.collection.concurrent.TrieMap[Long, A], key: Long)(
      train: => A): A = {
    if (cache.size > 16) cache.clear()
    cache.getOrElseUpdate(key, train)
  }

  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Array[Double])]]

  private def nearestCells(v: Seq[Double], cents: Array[(Int, Array[Double])], k: Int): Seq[Int] =
    cents.map { case (c, cv) =>
      var d = 0.0
      var i = 0
      while (i < cv.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      (c, d)
    }.sortBy(_._2).take(k).map(_._1).toSeq

  /** Corpus-side cell assignment (narrow map, no shuffle) — exposed for
    * materialization so the DuckDB oracle can replicate the probe join.
    */
  def annIvfCells(s: SparkSession, dir: String): DataFrame =
    annIvfCellsOf(s, ivfCentroids(s, dir), queriesAndCorpus(s, dir)._2)

  private def annIvfCellsOf(s: SparkSession,
      cents: Array[(Int, Array[Double])], e: DataFrame): DataFrame = {
    import s.implicits._
    e.select(col("vec_id"), col("e"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, nearestCells(v, cents, 1).head) }
      .toDF("vec_id", "cell")
  }

  /** Query-side probe list (cells/IvfProbeFraction nearest cells per query). */
  def annIvfProbes(s: SparkSession, dir: String): DataFrame =
    annIvfProbesOf(s, ivfCentroids(s, dir), queriesAndCorpus(s, dir)._1)

  private def annIvfProbesOf(s: SparkSession,
      cents: Array[(Int, Array[Double])], q: DataFrame): DataFrame = {
    import s.implicits._
    val probes = ivfProbesFor(cents.length)
    q.select(col("qid"), col("qe"))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) => nearestCells(v, cents, probes).map(c => (id, c)) }
      .toDF("qid", "cell")
  }

  /** IVF top-k: corpus assigned to its nearest cell once (at scale: a
    * materialized index table partitioned by cell), queries probe their
    * IvfProbes nearest cells and rank candidates exactly. The centroid
    * table is tiny and driver-resident (broadcast via closure) — the
    * corpus-side assignment is a narrow map, no shuffle.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    // one normed-corpus cut shared by index build, probe build, and
    // scoring (round 5 re-derived it per leg)
    val (q, e) = queriesAndCorpus(s, dir)
    val cents = ivfCentroids(s, dir)
    exactTopK(q, e, ivfCandidates(annIvfCellsOf(s, cents, e), annIvfProbesOf(s, cents, q)))
  }

  /** Probe join + exact scoring from already-computed (or materialized)
    * cell-assignment frames.
    */
  def annIvfFrom(s: SparkSession, dir: String,
      corpusCells: DataFrame, probeCells: DataFrame): DataFrame = {
    val (q, e) = queriesAndCorpus(s, dir)
    exactTopK(q, e, ivfCandidates(corpusCells, probeCells))
  }

  /** Candidate pairs of the IVF probe join: every corpus vector in a cell
    * its query probes.
    */
  private def ivfCandidates(corpusCells: DataFrame, probeCells: DataFrame): DataFrame =
    candidatePairs(corpusCells.join(broadcast(probeCells), Seq("cell")))

  // ------------------------------------------------------------------
  // IVF-PQ retrieval: ADC shortlist + exact re-rank
  // ------------------------------------------------------------------

  /** ADC shortlist depth per query (candidates kept for exact re-rank). */
  val PqShortlist = 20

  /** The full FAISS-style IVF-PQ retrieval leg: queries probe their IVF
    * cells (annIvfProbes), candidates in those cells are scored
    * APPROXIMATELY from their PQ codes via ADC (asymmetric distance
    * computation: per query, a SubVectors × CodebookSize lookup table of
    * sub-dot-products against the broadcast codebooks is built once, then
    * each candidate costs SubVectors table lookups — never touching the
    * float corpus), the top `PqShortlist` per query survive, and ONLY
    * those fetch their exact vectors for the final exact cosine top-k.
    *
    * Shape at 10^9+ vectors: the corpus is stored as 32-bit PQ codes
    * partitioned by IVF cell (64× smaller than float32), the ADC scan is
    * a narrow map over broadcast codebooks + broadcast queries, and the
    * exact-vector fetch is bounded by PqShortlist × queries rows. The
    * materialized pq_pairs frame carries `recon` alongside `codes` so the
    * DuckDB oracle can re-score the SAME candidates with its own cosine
    * (ADC dot over codes == dot against the decoded reconstruction, up to
    * float fold order — ranks are compared on round(·, 4)).
    */
  def annIvfPqFrom(s: SparkSession, dir: String,
      corpusCells: DataFrame, probeCells: DataFrame, pqPairs: DataFrame): DataFrame = {
    import s.implicits._
    val (q, e) = queriesAndCorpus(s, dir)
    // retraining is deterministic (same id-stride sample, same seeds), so
    // these are the codebooks that produced the materialized codes
    val books = Pq.trainCodebooks(s, dir)
    val bcBooks = s.sparkContext.broadcast(books)
    val cand = ivfCandidates(corpusCells, probeCells)
    val withCodes = withQuery(q, cand.join(pqPairs.select(col("vec_id"), col("codes")), Seq("vec_id")))
      .select(col("qid"), col("vec_id"), col("codes"), col("qe"), col("qn"))
      .as[(Long, Long, Seq[Int], Seq[Double], Double)]
    val adc = withCodes.mapPartitions { it =>
      val bks = bcBooks.value
      val subs = bks.length
      val codesPerSub = bks(0).length
      val sd = bks(0)(0).length
      // codeword squared norms are query-independent: computed once per task
      val normSq = Array.tabulate(subs, codesPerSub) { (m, c) =>
        var s2 = 0.0; var i = 0
        while (i < sd) { val t = bks(m)(c)(i); s2 += t * t; i += 1 }
        s2
      }
      // one LUT per distinct query seen in this partition (subs × 16
      // doubles each — bounded by the broadcast query count, not the corpus)
      val luts = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
      it.map { case (qid, vid, codes, qe, qn) =>
        val lut = luts.getOrElseUpdate(qid, {
          val qa = qe.toArray
          Array.tabulate(subs, codesPerSub) { (m, c) =>
            var d = 0.0; var i = 0
            while (i < sd) { d += qa(m * sd + i) * bks(m)(c)(i); i += 1 }
            d
          }
        })
        var dot = 0.0; var n2 = 0.0; var m = 0
        while (m < subs) { val c = codes(m); dot += lut(m)(c); n2 += normSq(m)(c); m += 1 }
        (qid, vid, dot / (math.sqrt(n2) * qn))
      }
    }.toDF("qid", "vec_id", "sim")
    // the shortlist ranks its ADC sims with the same window as the final
    // exact top-k
    exactTopK(q, e, keepTop(adc, PqShortlist).select(col("qid"), col("vec_id")))
  }

  /** Corpus-side LSH index rows (vec_id, t, bucket) — all L signatures in
    * one typed pass: expressing 64 plane-dots as nested zip_with/aggregate
    * expressions blows up the generated code (measured ~3× slower than
    * this flatMap); lshSignatureCol remains the expression form and its
    * equality with lshSignature is spec-asserted. Exposed for
    * materialization (oracle input).
    */
  def annLshBands(s: SparkSession, dir: String): DataFrame =
    annLshBandsOf(s, queriesAndCorpus(s, dir)._2)

  private def annLshBandsOf(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    e.select(col("vec_id"), col("e"))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        (0 until Tables).map(t => (id, t, lshSignature(v, t)))
      }
      .toDF("vec_id", "t", "bucket")
  }

  /** Query-side probe rows: own bucket + every 1-bit and 2-bit flip
    * (1+8+28 = 37 probes/table). Probing neighbors buys recall WITHOUT
    * growing the corpus-side index — the scale-correct trade (probes are
    * per-query, the index is per-corpus).
    */
  def annLshProbes(s: SparkSession, dir: String): DataFrame =
    annLshProbesOf(s, queriesAndCorpus(s, dir)._1)

  private def annLshProbesOf(s: SparkSession, q: DataFrame): DataFrame = {
    import s.implicits._
    q.select(col("qid"), col("qe"))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        (0 until Tables).iterator.flatMap { t =>
          val sig = lshSignature(v, t)
          val one = (0 until Planes).map(b => sig ^ (1 << b))
          val two = for {
            b1 <- 0 until Planes; b2 <- (b1 + 1) until Planes
          } yield sig ^ (1 << b1) ^ (1 << b2)
          (Iterator.single(sig) ++ one.iterator ++ two.iterator)
            .map(p => (id, t, p))
        }
      }
      .toDF("qid", "t", "probe")
  }

  /** Approximate top-k via (k=8 bits, L=8 tables) random-hyperplane LSH
    * with 1- and 2-bit multi-probe on the query side.
    *
    * Shape at scale: the corpus side is computed ONCE per table (at 100 TB
    * this is a precomputed index table partitioned by (table, bucket));
    * queries are tiny and broadcast with their probe fan-out
    * (L × (1 + k + k(k-1)/2) = 8 × 37 probes each). Candidates dedupe
    * before exact scoring, so cost = candidate count, sub-linear in the
    * corpus for any selective signature. Recall is measured against brute
    * force in OperatorsSpec.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    // one normed-corpus cut shared by index build, probe build, and
    // scoring (round 5 re-derived it per leg — five scans of the
    // embeddings table in one invocation)
    val (q, e) = queriesAndCorpus(s, dir)
    exactTopK(q, e, lshCandidates(annLshBandsOf(s, e), annLshProbesOf(s, q)))
  }

  /** Candidate join + exact scoring from already-computed (or
    * materialized) index/probe frames.
    */
  def annLshFrom(s: SparkSession, dir: String,
      corpus: DataFrame, probes: DataFrame): DataFrame = {
    val (q, e) = queriesAndCorpus(s, dir)
    exactTopK(q, e, lshCandidates(corpus, probes))
  }

  /** Candidate pairs of the LSH probe join: every corpus vector sharing a
    * table's bucket with one of its query's probes.
    */
  private def lshCandidates(corpus: DataFrame, probes: DataFrame): DataFrame =
    candidatePairs(corpus.join(broadcast(probes.select(col("qid"), col("t"), col("probe"))),
      col("bucket") === col("probe") && corpus("t") === probes("t")))
}
