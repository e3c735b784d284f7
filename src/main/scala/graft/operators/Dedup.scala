package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TokenGrams

/** Deduplication operators over the `documents` table — the training-data
  * pipeline layer on top of the extraction engine (a Common-Crawl corpus is
  * ~30% near-duplicate; dedup is the first post-extraction stage).
  *
  * Five strategies, smallest-to-largest scale reach:
  *   - exact:        hash-groupBy on md5(text). One shuffle. Works at any
  *                   scale (the hash is the shuffle key).
  *   - ngramJaccard: exact n-gram-shingle Jaccard via shingle self-join.
  *                   Quadratic in docs-per-shingle → correct but only for
  *                   verification / small corpora; at 100 TB the shingle
  *                   self-join explodes on common shingles.
  *   - minhash LSH:  the scale path. 128 minhashes (h1 + i*h2 family) →
  *                   32 bands × 4 rows → co-bucketed docs are candidates →
  *                   exact Jaccard verify on candidates only. Linear in
  *                   corpus size + candidate count.
  *   - simhash:      64-bit weighted token fingerprint; hamming ≤ 3 via
  *                   4×16-bit chunk banding (pigeonhole: ≤3 flipped bits
  *                   leave ≥1 chunk intact).
  *     Both sketches band through ONE stage, `bandPairs`: group by band
  *     key → cap the bucket (drops counted) → explode pairs → the family's
  *     pair filter (simhash: hamming) → distinct → checkpoint.
  *   - embedding:    cosine ≥ 0.99 near-dup pairs; brute-force pair join
  *                   here (oracle-checkable), LSH variant in Similarity.
  *
  * All tokenization is the shared `[a-z0-9]+` lowercase-alnum runs so the
  * Spark side and the DuckDB oracle agree byte-for-byte: `tokensCol` in
  * SQL form, `TokenGrams.ofUtf8` in the kernels (the MinHash and SimHash
  * signatures and the LSH verify side).
  *
  * The testdata corpus has no planted duplicates, so each strategy runs on
  * `corpus()` = documents ∪ deterministic near-copies (doc_id+1000000,
  * text + a marker suffix) — SQL-expressible, so the oracle sees the same
  * duplicates.
  */
object Dedup {

  /** Lineage truncation for iterative/multi-consumer frames. Local mode
    * (default): `localCheckpoint` — executor-memory blocks, fastest, but
    * an executor loss mid-loop kills the job. Cluster runs set
    * `spark.graft.reliableCheckpoints=true` (plus
    * `SparkContext.setCheckpointDir` on durable storage) to use reliable
    * `checkpoint()` instead: blocks persist to the checkpoint FS and
    * survive executor loss — the right trade at 100× scale, where the
    * label-propagation loop and the LSH materializations outlive the
    * MTBF of any single executor.
    */
  private[graft] def truncate(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption("spark.graft.reliableCheckpoints").exists(_.toBoolean)) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.reliableCheckpoints=true requires SparkContext.setCheckpointDir")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  val JaccardThreshold = 0.6

  /** Bucket-cap drop counter: when LSH banding drops an over-cap bucket
    * (degenerate content), the drop must be observable, not silent. One
    * counter per sketch family, set eagerly by each run's `bandPairs`
    * (the warn line fires per run).
    *
    * Scope: LAST-RUN observability on this driver JVM — every LSH run
    * writes it, the corpus pipeline's near-dup stage included, and the
    * last run wins (concurrent runs interleave their writes). Anything
    * needing per-run audit data at scale should persist the counts next
    * to its own lineage.
    */
  final class DropCounter(val name: String) {
    private val buckets = new java.util.concurrent.atomic.AtomicLong(-1L)
    private val docSlots = new java.util.concurrent.atomic.AtomicLong(-1L)
    def set(b: Long, d: Long): Unit = {
      buckets.set(b); docSlots.set(d)
      if (b > 0)
        log.warn(s"[$name] bucket cap dropped $b buckets covering $d doc slots")
    }
    /** buckets dropped in the most recent run; -1 = no run yet */
    def droppedBuckets: Long = buckets.get
    /** doc slots inside dropped buckets in the most recent run */
    def droppedDocSlots: Long = docSlots.get
  }
  val MinhashDrops = new DropCounter("dedup_minhash_lsh")
  val SimhashDrops = new DropCounter("dedup_simhash")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The banding stage both sketch families share (SparkER's block purging
    * and candidate generation): group `keyed` by the band `keys` into
    * sorted `item` lists, drop buckets over `maxBucket` (counted in
    * `drops`), explode each kept bucket's ordered `(id_a, id_b)` pairs,
    * keep those `verify` passes and checkpoint their distinct, so only
    * verified pairs shuffle. Returns the pairs and their count, read on
    * demand. Both counts are `observe` metrics riding the checkpoint; AQE
    * can rewrite an observed node out of an all-dropped plan, and only
    * then is a count recomputed: never silently 0.
    */
  private def bandPairs(keyed: DataFrame, keys: Seq[Column], item: Column, maxBucket: Int,
      drops: DropCounter)(verify: DataFrame => DataFrame): (DataFrame, () => Long) = {
    val dropObs = Observation()
    val candObs = Observation()
    val over = size(col("ids")) > maxBucket
    val dropped = Seq(
      coalesce(count(when(over, 1)), lit(0L)).as("dropped_buckets"),
      coalesce(sum(when(over, size(col("ids")).cast("long"))), lit(0L)).as("dropped_slots"))
    val grouped = keyed.groupBy(keys: _*)
      .agg(sort_array(collect_list(item)).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pairs = grouped
      .observe(dropObs, dropped.head, dropped.tail: _*)
      .filter(size(col("ids")) <= maxBucket)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .transform(verify)
      .distinct()
      .observe(candObs, count(lit(1)).as("n_candidates"))
      .transform(truncate)
    val m = dropObs.get // already computed: the checkpoint was the action
    val d = if (m.contains("dropped_buckets")) m
      else grouped.agg(dropped.head, dropped.tail: _*).head()
        .getValuesMap[Any](Seq("dropped_buckets", "dropped_slots"))
    drops.set(d("dropped_buckets").asInstanceOf[Long], d("dropped_slots").asInstanceOf[Long])
    (pairs, () => candObs.get.get("n_candidates").map(_.asInstanceOf[Long]).getOrElse(pairs.count()))
  }

  /** documents ∪ planted near-duplicates (every 10th doc, suffix-mutated).
    *
    * The smoke tables are ONE small parquet file → one scan partition, so
    * without the explicit repartition the narrow signature kernels
    * downstream would run on a single task no matter the core count —
    * a fixture artifact, not a property of the operators (real corpora
    * arrive as thousands of splittable files). The repartition restores
    * the parallelism the operators would see at scale.
    */
  def corpus(s: SparkSession, dir: String): DataFrame =
    corpusPlain(s, dir).repartition(s.sparkContext.defaultParallelism)

  /** The same corpus without the fixture-parallelism repartition — for
    * consumers whose first operation is itself a shuffle (e.g. the exact
    * md5 group-by), where a preceding repartition is a pure extra
    * exchange (guide §2.4: remove accidental `repartition(n)`s).
    */
  private[operators] def corpusPlain(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionAll(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graft dup marker suffix")).as("text")))
  }

  val corpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text || ' graft dup marker suffix' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Exact dedup: group identical texts by md5, keep the min doc_id.
    * The canonical first pass at any scale — one shuffle on the digest.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    corpusPlain(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    s"""WITH all_docs AS ($corpusSql)
       |SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Lowercase-alnum tokens (shared with the DuckDB oracle). */
  def tokensCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** 3-gram word shingles, distinct (SQL form; toks[] is 0-based). Guarded
    * so docs with <3 tokens yield an empty array (Spark `sequence` would
    * otherwise generate a DESCENDING range for start > stop).
    */
  val shinglesExpr: Column = expr(
    "array_distinct(CASE WHEN size(toks) >= 3 THEN " +
      "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) " +
      "ELSE array() END)")

  /** (doc_id, shingle) exploded pairs. */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsFrom(corpus(s, dir))

  private def shingleRowsFrom(docs: DataFrame): DataFrame =
    docs
      // fused native 3-gram pass (graft.functions.TokenGrams); equality
      // with tokensCol+shinglesExpr is asserted in TokenGramsSpec
      .select(col("doc_id"), explode(array_distinct(
        TokenGrams.tokenGrams(docs.sparkSession, col("text"), 3))).as("s"))

  /** Exact n-gram Jaccard near-dup pairs (shingle self-join). */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleRows(s, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .filter(col("inter").cast("double") /
        (col("sa.n") + col("sb.n") - col("inter")) >= JaccardThreshold)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH all_docs AS ($corpusSql),
       |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM all_docs),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // MinHash + LSH (the 100 TB path)
  // ------------------------------------------------------------------

  val NumHashes = 128
  val Bands = 32
  val RowsPerBand = 4 // (1/32)^(1/4) ≈ 0.42 S-curve midpoint, tuned for J ≥ 0.6

  /** MinHash signature from two base hashes: h_i(s) = h1(s) + i·h2(s)
    * (Indyk's affine family — standard public construction). Deterministic,
    * no RNG: both base hashes are xxhash64 with fixed seeds. A min over a
    * multiset equals the min over its set, so repeated shingles need no
    * distinct pass.
    */
  def minhashSignature(shingles: Iterable[String]): Array[Long] =
    signatureOf(shingles.iterator.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** The signature over shingles given as their UTF-8 bytes. */
  private def signatureOf(shingles: Iterator[Array[Byte]]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingles.foreach { bytes =>
      val h1 = XxHash.hashBytes(bytes, 42L)
      val h2 = XxHash.hashBytes(bytes, 271828L) | 1L // odd → full-period
      // 4-way unrolled min-update: h_i = h1 + i·h2 computed from four
      // independent lanes so the CPU isn't serialized on one add chain
      // (identical arithmetic mod 2^64 — same signatures bit-for-bit;
      // this loop is ~70% of the signature kernel at extraction scale,
      // NumHashes iterations per shingle)
      val h2x2 = h2 + h2
      val h2x3 = h2x2 + h2
      val h2x4 = h2x2 + h2x2
      var i = 0
      var h = h1
      while (i < NumHashes) {
        val a = h
        val b = h + h2
        val c = h + h2x2
        val d = h + h2x3
        if (a < sig(i)) sig(i) = a
        if (b < sig(i + 1)) sig(i + 1) = b
        if (c < sig(i + 2)) sig(i + 2) = c
        if (d < sig(i + 3)) sig(i + 3) = d
        h += h2x4
        i += 4
      }
    }
    sig
  }

  /** Hash one band of the signature to a bucket id. */
  def bandHash(sig: Array[Long], band: Int): Long = {
    var h = 1125899906842597L
    var i = band * RowsPerBand
    val end = i + RowsPerBand
    while (i < end) { h = h * 31 + sig(i); i += 1 }
    h
  }

  /** The band buckets of one text's signature, over the 3-grams of
    * `TokenGrams.ofUtf8` — EXACTLY `tokensCol` + `shinglesExpr` up to
    * repeats (asserted in OperatorsSpec). Lets the signature stage run as
    * a narrow map with zero shuffle instead of explode →
    * groupBy(collect_set) over every shingle in the corpus.
    */
  private def bandsOf(text: String): Array[Long] = {
    val grams = TokenGrams.ofUtf8(UTF8String.fromString(text), 3)
    val sig = signatureOf(Iterator.range(0, grams.numElements).map(grams.getUTF8String(_).getBytes))
    Array.tabulate(Bands)(bandHash(sig, _))
  }

  /** Most recent LSH candidate-set size (observability at scale:
    * candidate growth is THE health metric of a banding config — too low
    * = recall loss, too high = verify-join blowup). Fed by an observe()
    * metric riding the candidate frame's checkpoint job — eager, zero
    * extra jobs.
    */
  val MinhashCandidates = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Candidate pairs via LSH banding, then exact-Jaccard verification on
    * candidates only.
    *
    * Scale shape: signatures are a NARROW map over (doc_id, text) —
    * in-kernel shingling, no shingle explosion, no shuffle. The only
    * shuffles are (a) the band-bucket groupBy over Bands rows/doc,
    * (b) the verification join, which explodes shingles ONLY for docs
    * that appear in some candidate pair (a vanishing fraction of a real
    * corpus). Buckets with > maxBucket docs are dropped (degenerate
    * shingle content — same role as a stopword cap); the drop is COUNTED,
    * not silent: `MinhashDrops` records (buckets, doc slots) per run and
    * the count is logged (no-silent-caps rule).
    */
  def dedupMinhashLsh(s: SparkSession, dir: String, maxBucket: Int = 64): DataFrame =
    minhashLshPairsFrom(s, corpus(s, dir), maxBucket)

  /** The narrow signature stage alone: (doc_id, band int, bucket bigint)
    * rows, `doc_id` passed through whatever its type — exposed so the
    * harness can materialize it and the DuckDB oracle can replicate the
    * banding + verify relationally.
    */
  def minhashBands(s: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(udf(bandsOf _).apply(col("text"))).as(Seq("band", "bucket")))

  /** LSH near-dup pairs over an arbitrary (doc_id, text: String) frame,
    * any orderable `doc_id` type — the same operator the registered query
    * uses, callable on the EXTRACTED corpus (bench + scale specs run it on
    * extraction output with planted near-dups; the corpus pipeline keys it
    * by url).
    */
  def minhashLshPairsFrom(s: SparkSession, docs: DataFrame, maxBucket: Int = 64): DataFrame =
    minhashLshFromBands(s, minhashBands(s, docs), docs, maxBucket)

  /** Banding + candidate explode + exact-Jaccard verify, from an
    * already-computed (or materialized) bands frame.
    */
  def minhashLshFromBands(s: SparkSession, bands: DataFrame, docs: DataFrame,
      maxBucket: Int = 64): DataFrame = {
    // candidate pairs: co-bucketed docs, checkpointed once; the candidate
    // set is consumed three times below (doc gate + both sides of the
    // verify join), and it is tiny
    val (cand, nCand) = bandPairs(bands, Seq(col("band"), col("bucket")), col("doc_id"),
      maxBucket, MinhashDrops)(identity)
    MinhashCandidates.set(nCand())
    // exact verify on candidates only: the semi-join gate sits BELOW the
    // shingle computation (docs are filtered before tokenization — round
    // 5 exploded every doc's shingles and semi-joined after, which the
    // optimizer cannot reorder through a generator). Each gated doc's
    // shingle SET stays an array on its row: |A∩B| is
    // size(array_intersect) and |A| size(sh) — no shingle explode, no
    // (doc, shingle) string shuffle, no per-pair count agg, no separate
    // sizes frame (round 5 ran all four).
    // no .distinct() on the gate frame: it feeds a LEFT SEMI broadcast
    // join, where duplicate build-side keys cannot change the result —
    // the distinct was a pure extra exchange on the tiny pair set
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .unionAll(cand.select(col("id_b").as("doc_id")))
    val sh = docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(
        TokenGrams.tokenGrams(s, col("text"), 3)).as("sh"))
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sha"),
        size(col("sh")).as("na")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("shb"),
        size(col("sh")).as("nb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      // threshold on the UNROUNDED ratio (rounding first would admit
      // J ∈ [0.5995, 0.6) pairs the exact dedupNgramJaccard path rejects —
      // the two strategies must agree on the same corpus); round only in
      // the output projection
      .withColumn("jaccard_raw",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 3).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------
  // Duplicate clusters (connected components over near-dup pairs)
  // ------------------------------------------------------------------

  /** Distributed min-label propagation: each node starts labeled with
    * itself; every round, each node takes the min label among itself and
    * its neighbors; converges in O(component diameter) rounds (near-dup
    * clusters are shallow — diameter 2-3 in practice). Each round is one
    * shuffle; `truncate` (localCheckpoint, or reliable checkpoint under
    * `spark.graft.reliableCheckpoints`) cuts the growing plan so round N
    * doesn't recompute rounds 1..N-1. Deterministic: labels are min doc
    * ids, independent of execution order.
    */
  def connectedComponents(
      s: SparkSession,
      edges: DataFrame, // two long columns: id_a, id_b
      maxIters: Int = 20): DataFrame = {
    val bidir = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .transform(truncate)
    var labels = bidir.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(truncate)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val prop = labels.as("l").join(bidir, col("l.node") === col("u"))
        .select(col("v").as("node"), col("l.label").as("label"))
        .unionAll(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .transform(truncate)
      converged = prop.as("p")
        .join(labels.as("o"), col("p.node") === col("o.node"))
        .filter(col("p.label") =!= col("o.label"))
        .isEmpty
      labels = prop
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    labels
  }

  /** Cluster summary over any (id_a, id_b) edge frame. */
  def clustersFrom(s: SparkSession, edges: DataFrame): DataFrame =
    connectedComponents(s, edges)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("size"),
        min(col("node")).as("min_doc"),
        max(col("node")).as("max_doc"))
      .filter(col("size") >= 2)
      .orderBy(col("cluster_id"))

  /** Near-duplicate clusters: connected components over the exact-Jaccard
    * pair set, summarized per cluster. The LSH pair set feeds the same
    * function at scale — that variant is registered as dedup_clusters_lsh
    * (oracle: DuckDB recursive CTE over the materialized LSH pairs), so
    * the SCALE path is driver-verified too, not just this exact twin.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersFrom(s, dedupNgramJaccard(s, dir))

  val dedupClustersSql: String =
    s"""WITH all_docs AS ($corpusSql),
       |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM all_docs),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |edges AS (SELECT id_a, id_b FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $JaccardThreshold),
       |bidir AS (SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges),
       |rec AS (
       |  WITH RECURSIVE reach(node, label) AS (
       |    SELECT u, u FROM (SELECT u FROM bidir UNION SELECT v FROM bidir) t(u)
       |    UNION
       |    SELECT b.v, r.label FROM reach r JOIN bidir b ON b.u = r.node WHERE r.label < b.v
       |  )
       |  SELECT node, min(label) AS label FROM reach GROUP BY node
       |)
       |SELECT label AS cluster_id, count(*) AS size, min(node) AS min_doc, max(node) AS max_doc
       |FROM rec GROUP BY label HAVING count(*) >= 2 ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  val SimhashMaxHamming = 3
  val SimhashChunks = 4 // 4×16-bit; hamming ≤ 3 → ≥ 1 chunk identical

  /** 64-bit simhash over token counts (Charikar's construction). */
  def simhash(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    tokens.foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    counts.foreach { case (t, w) =>
      val h = XxHash.hashBytes(t.getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += w else acc(j) -= w
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Near-dup pairs with hamming(simhash) ≤ 3 via chunk banding, through
    * the banding stage minhash LSH uses (`bandPairs`, keyed by chunk and
    * 16-bit value); candidate set is docs sharing any 16-bit chunk value
    * (pigeonhole-complete for hamming ≤ 3).
    */
  def dedupSimhash(s: SparkSession, dir: String, maxBucket: Int = 256): DataFrame =
    dedupSimhashFromSigs(simhashSigs(s, corpus(s, dir)), maxBucket)

  /** Signature stage alone: (doc_id, sig) via the native codegen'd
    * expression (functions.SimHash64, registered through the session's
    * FunctionRegistry) — stays inside whole-stage codegen, no
    * typed-Dataset boundary. Exposed for materialization (oracle input).
    */
  def simhashSigs(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.SimHash64.register(s)
    docs.select(col("doc_id"), call_function("simhash64", col("text")).as("sig"))
  }

  /** Chunk banding + hamming verify from an already-computed sigs frame. */
  def dedupSimhashFromSigs(sigs: DataFrame, maxBucket: Int = 256): DataFrame = {
    val chunks = sigs.select(col("doc_id"), col("sig"),
        explode(expr(s"transform(sequence(0, ${SimhashChunks - 1}), " +
          "c -> struct(c AS chunk, CAST(shiftright(sig, c * 16) & 65535 AS INT) AS v))")).as("p"))
      .select(col("doc_id"), col("sig"), col("p.chunk"), col("p.v"))
    // a pair carries both signatures, so the hamming verify needs no join
    // and runs before the distinct: only pairs within the radius shuffle
    val (pairs, _) = bandPairs(chunks, Seq(col("chunk"), col("v")),
        struct(col("doc_id"), col("sig")), maxBucket, SimhashDrops) {
      _.select(col("id_a.doc_id").as("id_a"), col("id_b.doc_id").as("id_b"),
          expr("bit_count(id_a.sig ^ id_b.sig)").as("hamming"))
        .filter(col("hamming") <= SimhashMaxHamming)
    }
    pairs.orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------
  // Embedding cosine near-dup (brute-force pair join; LSH path lives in
  // Similarity.annLsh)
  // ------------------------------------------------------------------

  val CosineThreshold = 0.99

  /** embeddings ∪ planted exact copies (every 20th vector). */
  def vecCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    e.unionAll(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("e")))
  }

  val vecCorpusSql: String =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  /** dot(a,b) with built-in higher-order functions — zip_with + aggregate
    * keep the whole computation inside codegen'd Catalyst expressions
    * (no UDF, no serialization off the internal row).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine ≥ 0.99 near-dup pairs; norms precomputed per side so the pair
    * join multiplies scalars. The pair join is O(n²) — this operator is the
    * verification-grade variant; at scale, bucket first (Similarity.annLsh).
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val v = vecCorpus(s, dir).withColumn("nrm", l2norm(col("e")))
    val a = v.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= CosineThreshold)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEmbeddingSql: String =
    s"""WITH all_v AS ($vecCorpusSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.e, b.e) >= $CosineThreshold
       |ORDER BY id_a, id_b""".stripMargin
}
