package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * quality/filtering layer of a training-data pipeline (what you run on
  * extracted text before it enters a training mix).
  *
  * All of these are narrow projections + one aggregation at most: they
  * scan linearly, never shuffle more than the final groupBy, and the
  * scalar work stays inside codegen'd built-ins wherever SQL can express
  * it (regexp_extract_all / length / least). Only language-ID and the
  * rolling-hash fingerprint drop to typed Scala (kernel-style map).
  */
object TextAnalysis {

  // ------------------------------------------------------------------
  // Token / quality statistics (oracle-checked)
  // ------------------------------------------------------------------

  /** GPT-2-style pre-tokenizer pattern (simplified, lookahead-free so it
    * runs identically under java.util.regex and RE2): contraction tails,
    * space-prefixed letter runs, digit runs, punctuation runs. The match
    * count is the "BPE-ish" token estimate every training-mix budget uses.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Per-document token statistics: char count, whitespace-token count,
    * alnum-token count, BPE-ish token count, punctuation count, average
    * token length.
    */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_tokens"),
        size(graft.functions.TokenGrams.tokenGrams(s, col("text"), 1)).as("n_alnum_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).as("n_punct"),
        round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          greatest(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))), lit(1)), 3)
          .as("avg_token_len"))
      .orderBy(col("doc_id"))

  val textStatsSql: String =
    """SELECT doc_id, length(text) AS n_chars,
      | len(regexp_extract_all(text, '\S+')) AS n_tokens,
      | len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_alnum_tokens,
      | len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS n_bpe_tokens,
      | length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
      | round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
      |   greatest(len(regexp_extract_all(text, '\S+')), 1), 3) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality score in [0,1]: stopword presence + low punctuation noise +
    * length saturation (the heuristics-trio every webtext filter uses —
    * C4/Gopher-style rules, expressed as one arithmetic column). The one
    * score behind `textQuality` and the corpus pipeline's quality filter.
    */
  def qualityCol(text: Column): Column = {
    val toks = size(regexp_extract_all(text, lit("\\S+"), lit(0)))
    val stops = size(regexp_extract_all(lower(text),
      lit("\\b(the|and|of|to|in|is|that|a)\\b"), lit(0)))
    val punct = length(text) - length(regexp_replace(text, "[.,;:!?]", ""))
    val stopRatio = stops.cast("double") / greatest(toks, lit(1))
    val punctRatio = punct.cast("double") / greatest(length(text), lit(1))
    lit(0.4) * least(stopRatio * 5.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) +
      lit(0.3) * least(toks.cast("double") / 100.0, lit(1.0))
  }

  /** `qualityCol` over the documents table, reported per language
    * (groupBy agg).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .withColumn("q", qualityCol(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("q")), 3).as("avg_quality"),
        round(min(col("q")), 3).as("min_quality"),
        round(max(col("q")), 3).as("max_quality"))
      .orderBy(col("lang"))

  val textQualitySql: String =
    """WITH scored AS (
      | SELECT lang,
      |  0.4 * least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|a)\b')) AS DOUBLE)
      |        / greatest(len(regexp_extract_all(text, '\S+')), 1) * 5.0, 1.0)
      |  + 0.3 * (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
      |        / greatest(length(text), 1) * 10.0, 1.0))
      |  + 0.3 * least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS q
      | FROM documents)
      |SELECT lang, count(*) AS n_docs, round(avg(q), 3) AS avg_quality,
      | round(min(q), 3) AS min_quality, round(max(q), 3) AS max_quality
      |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  /** Corpus-level token frequency: top 20 alpha tokens. */
  def textTopTokens(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  val textTopTokensSql: String =
    """SELECT tok, count(*) AS n FROM (
      | SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok FROM documents) t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  /** One BPE merge-selection step at corpus scale — the inner loop of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016):
    * frequency of adjacent symbol pairs WITHIN words (characters here,
    * i.e. the first merge round), top 32 by count with a total-order
    * tiebreak. Training a tokenizer iterates this exact shape: pick the
    * most frequent pair, re-segment, recount.
    *
    * Scale shape: the pair explode fans out to ~1 row per corpus
    * character, but the pair alphabet is tiny (≤36² for [a-z0-9]) so
    * map-side partial aggregation collapses every partition to its
    * distinct pairs before the shuffle — (pair, partial-count) rows,
    * KBs per partition at ANY corpus size. The top-32 runs as
    * TakeOrderedAndProject on the ~1.3k-row agg output, never a global
    * sort. Pure codegen expressions (transform/sequence/substr), no UDF.
    */
  def bpePairStats(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("text"))
      // fixture-parallelism restore (single-file scan → one task — the
      // whole per-character explode ran serially in round 5); at scale
      // the input arrives as many splittable files and this is dropped
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(graft.functions.TokenGrams.tokenGrams(s, col("text"), 1)).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(32)

  val bpePairStatsSql: String =
    """WITH words AS (
      | SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |pairs AS (
      | SELECT substr(w, CAST(i AS INT), 2) AS pair FROM (
      |  SELECT w, unnest(range(1, length(w))) AS i
      |  FROM words WHERE length(w) >= 2))
      |SELECT pair, count(*) AS n FROM pairs
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 32""".stripMargin

  /** Deterministic train/val/test split assignment — every corpus needs
    * one, and it must be a pure function of a stable key (NOT random:
    * reruns, resumes, and incremental appends must land each doc in the
    * same split). Knuth multiplicative hashing on doc_id keeps the
    * assignment integer-exact across engines (oracle-checked). doc_id is
    * reduced mod a prime (1000003) BEFORE the multiply so the product
    * stays < 2^63 for any doc_id — at 10^12-doc scale a raw
    * doc_id * 2654435761 overflows Long (Spark wraps silently, DuckDB
    * raises), which would break cross-engine determinism exactly where
    * it matters.
    *
    * This is split_v2. The pre-modulus formula (v1) assigned DIFFERENT
    * memberships — splits persisted under v1 must be re-derived, not
    * mixed with v2 output (MIGRATION.md "Corpus-split function
    * versioning"); the stability contract above holds within a version.
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    val h = ((col("doc_id") % 1000003L) * lit(2654435761L)) % 1000
    val split = when(h < 850, "train").when(h < 925, "validation").otherwise("test")
    Relational.table(s, dir, "documents")
      .withColumn("split", split)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"), col("split"))
  }

  val corpusSplitSql: String =
    """SELECT lang,
      | CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000 < 850 THEN 'train'
      |      WHEN ((doc_id % 1000003) * 2654435761) % 1000 < 925 THEN 'validation'
      |      ELSE 'test' END AS split,
      | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // ------------------------------------------------------------------
  // Language ID (heuristic kernel; oracle over the materialized pairs + spec)
  // ------------------------------------------------------------------

  private val StopwordLangs: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "this"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "von", "auf"),
    "es" -> Set("el", "los", "las", "que", "y", "un", "una", "es", "por", "como", "para", "del"),
    "fr" -> Set("le", "les", "des", "et", "est", "une", "dans", "pour", "qui", "sur", "au", "pas")
  )

  /** Strip the extraction pipeline's merge chrome (the reference's page
    * headers / summary footer, which are Chinese literals — MergeSpec)
    * so language-ID sees only document content. Without this, every
    * multi-page PDF would lean zh from its markers alone.
    */
  def stripMergeChrome(text: String): String =
    text.linesIterator.filterNot { l =>
      l.startsWith("--- 第") || l.startsWith("--- 处理摘要") ||
        l.startsWith("总页数:") || l.startsWith("成功页数:") ||
        l.startsWith("失败页数:") || l.startsWith("失败页码:") ||
        l == "所有页面处理成功"
    }.mkString("\n")

  /** N-gram/stopword language heuristic: script detection first (CJK →
    * zh), then Latin-language stopword voting with a deterministic
    * priority tiebreak. Returns "und" (undetermined) when nothing hits —
    * the synthetic corpus shares an English-ish vocabulary across its
    * de/es/fr labels, so only script + en detection is *assertable* here;
    * the de/es/fr stopword tables are real and take effect on real text.
    */
  def langIdOf(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0
    var letters = 0
    var i = 0
    val n = math.min(text.length, 4000) // bounded scan: id stabilizes early
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val b = Character.UnicodeScript.of(c)
        if (b == Character.UnicodeScript.HAN || b == Character.UnicodeScript.HIRAGANA ||
          b == Character.UnicodeScript.KATAKANA || b == Character.UnicodeScript.HANGUL) cjk += 1
      }
      i += 1
    }
    if (letters > 0 && cjk.toDouble / letters > 0.05) return "zh"
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9\\p{L}]+").iterator.filter(_.nonEmpty).take(800)
    val counts = new Array[Int](StopwordLangs.length)
    var total = 0
    toks.foreach { t =>
      total += 1
      var j = 0
      while (j < StopwordLangs.length) {
        if (StopwordLangs(j)._2.contains(t)) counts(j) += 1
        j += 1
      }
    }
    if (total == 0) return "und"
    val best = counts.indices.maxBy(i => counts(i)) // first max wins: en priority
    if (counts(best) > 0) StopwordLangs(best)._1
    // Latin letters but zero stopword hits: fall back to the corpus prior
    // (en) — the standard langid behavior of returning the best guess
    // rather than abstaining when script alone is informative.
    else if (letters > 0) "en"
    else "und"
  }

  /** Confusion matrix of heuristic language-ID vs the labeled lang column.
    * Runs on the *extracted* text (PageSynth golden = the pipeline's output
    * text), which is where langid sits in a real crawl pipeline — after
    * extraction, before quality filtering. The synthetic corpus only
    * encodes script-level signal (zh) + English vocabulary, so zh and en
    * are the assertable rows (see TextAnalysisSpec).
    */
  /** (lang, pred_lang) rows — the narrow kernel stage, exposed separately
    * so the harness can materialize it and oracle-check the confusion agg.
    */
  def langidPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.PageSynth.docs(s, dir)
      .map { d =>
        val extractedText = graft.sources.PageSynth.goldenFor(d).expected_text
        (d.lang, langIdOf(stripMergeChrome(extractedText)))
      }
      .toDF("lang", "pred_lang")
  }

  /** Confusion-matrix agg over (lang, pred_lang) pairs. */
  def langidConfusion(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  // ------------------------------------------------------------------
  // Document fingerprint (rolling hash; oracle over the materialized pairs + spec)
  // ------------------------------------------------------------------

  /** 64-bit polynomial rolling hash (Rabin–Karp, base 1099511628211) over
    * whitespace-normalized text — an order-sensitive complement to the
    * order-insensitive MinHash/SimHash family: same tokens reordered give
    * a different fingerprint.
    */
  def fingerprintOf(text: String): Long = {
    val Seed = -3750763034362895579L // FNV-64 offset basis (signed)
    var h = Seed
    var prevSpace = true
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val isSpace = Character.isWhitespace(c)
      if (!isSpace) {
        if (prevSpace && h != Seed) h = h * 1099511628211L + ' '.toLong
        h = h * 1099511628211L + c.toLong
      }
      prevSpace = isSpace
      i += 1
    }
    h
  }

  /** (doc_id, fp) rows — the narrow kernel stage. */
  def fingerprintPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, fingerprintOf(text)) }
      .toDF("doc_id", "fp")
  }

  /** Duplicate-group agg over fingerprints (the join shape of an
    * exact-dedup pass keyed by fingerprint instead of md5).
    */
  def fingerprintGroups(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .orderBy(col("keep_id"))

  // ------------------------------------------------------------------
  // Within-document repetition filters (Gopher-style; oracle-checked)
  // ------------------------------------------------------------------

  /** Gopher-rule thresholds (Rae et al. 2021, App. A): a document is
    * repetition-flagged when too many of its lines repeat or one 2-gram
    * dominates its characters.
    */
  val DupLineFracMax = 0.30
  val DupLineCharFracMax = 0.20
  val Top2gramCharFracMax = 0.20

  /** Per-document repetition metrics over the EXTRACTED corpus (the
    * stage after paragraph scrub in a training pipeline):
    *
    *   - dup_line_frac       occurrences-beyond-first of repeated
    *                         non-empty lines / total non-empty lines
    *   - dup_line_char_frac  same, weighted by line characters
    *   - top_2gram           most frequent word 2-gram (count desc, gram
    *                         asc tiebreak — deterministic)
    *   - top_2gram_frac      chars of all its occurrences (space-stripped)
    *                         / total alnum-token chars
    *   - repetition_flagged  any Gopher threshold exceeded
    *
    * Scale: two independent explode→agg chains (lines, 2-grams), each one
    * shuffle keyed by (url, item) with map-side partial agg, then a
    * per-url top-1 window on the already-collapsed 2-gram counts. Nothing
    * regroups the full text.
    */
  def textRepetition(extracted: DataFrame): DataFrame = {
    val s = extracted.sparkSession
    val docs = extracted.filter(col("status") === "completed")
      .select(col("url"), col("text"),
        // fused native tokenizer (TokenGramsSpec pins equality with the
        // regexp form); n=1 grams ARE the token array
        graft.functions.TokenGrams.tokenGrams(s, col("text"), 1).as("toks"))
      .withColumn("n_alnum_chars", length(concat_ws("", col("toks"))))
    val lineStats = docs
      .select(col("url"), explode(split(col("text"), "\n", -1)).as("line"))
      .filter(col("line") =!= "")
      .groupBy(col("url"), col("line")).agg(count(lit(1)).as("c"))
      .groupBy(col("url"))
      .agg(
        sum(col("c")).as("n_lines"),
        sum(col("c") - 1).as("n_dup_lines"),
        sum(col("c") * length(col("line"))).as("n_line_chars"),
        sum((col("c") - 1) * length(col("line"))).as("n_dup_line_chars"))
    val bigrams = docs
      .select(col("url"),
        explode(graft.functions.TokenGrams.tokenGrams(s, col("text"), 2)).as("g"))
      .groupBy(col("url"), col("g")).agg(count(lit(1)).as("c"))
    // top-1 by (count desc, gram asc) as a hash-aggregate min over the
    // struct (-c, g) — replaces the round-5 row_number window: same total
    // order, but partial aggregation runs map-side and nothing sorts or
    // buffers per-url groups (guide §2.3 "aggregate before you shuffle")
    val top = bigrams
      .groupBy(col("url"))
      .agg(min(struct((-col("c")).as("nc"), col("g"))).as("m"))
      .select(col("url"), col("m.g").as("top_2gram"), (-col("m.nc")).as("top_c"))
    docs.select(col("url"), col("n_alnum_chars"))
      .join(lineStats, Seq("url"), "left")
      .join(top, Seq("url"), "left")
      .select(
        col("url"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        round(coalesce(col("n_dup_lines"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_lines"), lit(0L)), lit(1L)), 4).as("dup_line_frac"),
        round(coalesce(col("n_dup_line_chars"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_line_chars"), lit(0L)), lit(1L)), 4).as("dup_line_char_frac"),
        coalesce(col("top_2gram"), lit("")).as("top_2gram"),
        round(coalesce(col("top_c") * length(regexp_replace(col("top_2gram"), " ", "")), lit(0L))
          .cast("double") / greatest(col("n_alnum_chars"), lit(1)), 4).as("top_2gram_frac"),
        (coalesce(col("n_dup_lines"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_lines"), lit(0L)), lit(1L)) > DupLineFracMax ||
          coalesce(col("n_dup_line_chars"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_line_chars"), lit(0L)), lit(1L)) > DupLineCharFracMax ||
          coalesce(col("top_c") * length(regexp_replace(col("top_2gram"), " ", "")), lit(0L))
            .cast("double") / greatest(col("n_alnum_chars"), lit(1)) > Top2gramCharFracMax)
          .as("repetition_flagged"))
      .orderBy(col("url"))
  }

  /** DuckDB recompute of textRepetition from the same extracted parquet
    * (rp = read_parquet over the materialized table).
    */
  def textRepetitionSql(rp: String): String =
    s"""WITH docs AS (
       | SELECT url, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
       |  length(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), '')) AS n_alnum_chars
       | FROM $rp WHERE status = 'completed'),
       |lines AS (SELECT url, line FROM (
       |  SELECT url, unnest(string_split(text, chr(10))) AS line FROM docs) t WHERE line <> ''),
       |lg AS (SELECT url, line, count(*) AS c FROM lines GROUP BY 1, 2),
       |ld AS (SELECT url, sum(c) AS n_lines, sum(c - 1) AS n_dup_lines,
       |  sum(c * length(line)) AS n_line_chars,
       |  sum((c - 1) * length(line)) AS n_dup_line_chars FROM lg GROUP BY url),
       |bg AS (SELECT url, toks[i] || ' ' || toks[i+1] AS g
       |  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s),
       |bgc AS (SELECT url, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |top AS (SELECT url, g AS top_2gram, c AS top_c FROM (
       |  SELECT url, g, c, row_number() OVER (PARTITION BY url ORDER BY c DESC, g) AS rn
       |  FROM bgc) t WHERE rn = 1)
       |SELECT d.url,
       | CAST(coalesce(ld.n_lines, 0) AS BIGINT) AS n_lines,
       | round(CAST(coalesce(ld.n_dup_lines, 0) AS DOUBLE) /
       |   greatest(coalesce(ld.n_lines, 0), 1), 4) AS dup_line_frac,
       | round(CAST(coalesce(ld.n_dup_line_chars, 0) AS DOUBLE) /
       |   greatest(coalesce(ld.n_line_chars, 0), 1), 4) AS dup_line_char_frac,
       | coalesce(top.top_2gram, '') AS top_2gram,
       | round(CAST(coalesce(top.top_c * length(replace(top.top_2gram, ' ', '')), 0) AS DOUBLE) /
       |   greatest(d.n_alnum_chars, 1), 4) AS top_2gram_frac,
       | (CAST(coalesce(ld.n_dup_lines, 0) AS DOUBLE) /
       |    greatest(coalesce(ld.n_lines, 0), 1) > ${DupLineFracMax} OR
       |  CAST(coalesce(ld.n_dup_line_chars, 0) AS DOUBLE) /
       |    greatest(coalesce(ld.n_line_chars, 0), 1) > ${DupLineCharFracMax} OR
       |  CAST(coalesce(top.top_c * length(replace(top.top_2gram, ' ', '')), 0) AS DOUBLE) /
       |    greatest(d.n_alnum_chars, 1) > ${Top2gramCharFracMax}) AS repetition_flagged
       |FROM docs d LEFT JOIN ld ON ld.url = d.url LEFT JOIN top ON top.url = d.url
       |ORDER BY d.url""".stripMargin

  // ------------------------------------------------------------------
  // Corpus length-distribution quantiles (oracle-checked)
  // ------------------------------------------------------------------

  /** Interpolated p50/p90/p99 of per-document token counts by language —
    * the distribution panel every training-mix dashboard has. Exact
    * percentile here (oracle-comparable against DuckDB's quantile_cont);
    * the approximate-sketch counterpart (approx_percentile /
    * approx_count_distinct, what you'd actually run at 100 TB) is
    * spec-verified against these exact values in OperatorsSpec-style
    * tests because approximate answers can't hash-match across engines.
    */
  def textLengthQuantiles(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_tokens, 0.5)"), 2).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 2).as("p90_tokens"),
        round(expr("percentile(n_tokens, 0.99)"), 2).as("p99_tokens"))
      .orderBy(col("lang"))

  val textLengthQuantilesSql: String =
    """WITH t AS (SELECT lang, len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents)
      |SELECT lang, count(*) AS n_docs,
      | round(quantile_cont(n_tokens, 0.5), 2) AS p50_tokens,
      | round(quantile_cont(n_tokens, 0.9), 2) AS p90_tokens,
      | round(quantile_cont(n_tokens, 0.99), 2) AS p99_tokens
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Unigram LM quality score (CCNet-style; oracle-checked)
  // ------------------------------------------------------------------

  /** Vocabulary cap — the heavy-hitters set that stays broadcastable at
    * any corpus size (top tokens by count, deterministic tiebreak).
    * Tokens outside the cap score as unseen (add-one smoothing).
    */
  val LmVocabCap = 65536

  /** CCNet's LM-quality stage re-expressed with a self-trained unigram
    * model: train token counts over the corpus (one shuffle, capped to
    * the broadcastable head), then score each document by its average
    * add-one-smoothed token log-probability — low scorers are gibberish
    * / boilerplate, high scorers are common fluent text. Two shuffles
    * total (vocab agg, per-doc agg); the scoring join broadcasts the
    * vocab so the token stream never shuffles.
    */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TokenGrams.tokenGrams(s, col("text"), 1)).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(LmVocabCap)
    val stats = vocab.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("logp",
        log((coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("n") + col("v"))))
      .withColumn("oov", when(col("c").isNull, 1.0).otherwise(0.0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 3).as("avg_logprob"),
        round(avg(col("oov")), 3).as("oov_frac"))
      .orderBy(col("doc_id"))
  }

  val textLmScoreSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |  FROM documents),
       |vocab AS (SELECT tok, c FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok) t
       |          ORDER BY c DESC, tok LIMIT $LmVocabCap),
       |stats AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
       |scored AS (SELECT t.doc_id,
       |  ln((coalesce(vb.c, 0) + 1.0) / (s.n + s.v)) AS logp,
       |  CASE WHEN vb.tok IS NULL THEN 1.0 ELSE 0.0 END AS oov
       | FROM toks t LEFT JOIN vocab vb ON vb.tok = t.tok CROSS JOIN stats s)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       | round(avg(logp), 3) AS avg_logprob,
       | round(avg(oov), 3) AS oov_frac
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // PII detection + redaction (oracle-checked)
  // ------------------------------------------------------------------

  /** RE2-safe patterns (no lookaround/backrefs) so java.util.regex and
    * DuckDB's RE2 match identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\(?[0-9]{3}\\)?[ -][0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Deterministic PII-bearing corpus: the documents table with synthetic
    * contact strings appended to a doc_id-keyed subset — the same
    * derivation the DuckDB oracle replays (the Dedup.corpus pattern), so
    * detection+redaction is cross-engine-checked on known ground truth.
    */
  def piiCorpus(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents").select(col("doc_id"), col("text"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact admin"), col("doc_id").cast("string"),
          lit("@example.com for access")))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" call (555) 014-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" served from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"), lit(" upstream")))
        .otherwise(col("text")).as("pii_text"))

  val piiCorpusSql: String =
    """SELECT doc_id, text, CASE
      | WHEN doc_id % 7 = 0 THEN text || ' contact admin' || CAST(doc_id AS VARCHAR) || '@example.com for access'
      | WHEN doc_id % 7 = 1 THEN text || ' call (555) 014-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      | WHEN doc_id % 7 = 2 THEN text || ' served from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' upstream'
      | ELSE text END AS pii_text
      |FROM documents""".stripMargin

  /** Per-document PII counts + redacted text. Narrow (codegen'd regex
    * built-ins, zero shuffle before the output sort) — the shape that
    * scans 100 TB linearly. Redaction order is fixed (email, phone, ip)
    * and mirrored in the oracle.
    */
  def textPii(s: SparkSession, dir: String): DataFrame =
    piiCorpus(s, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("pii_text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("pii_text"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("pii_text"), lit(Ipv4Re), lit(0))).as("n_ipv4"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("pii_text"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("redacted_text"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ipv4") > 0)
      .orderBy(col("doc_id"))

  val textPiiSql: String =
    s"""WITH pii AS ($piiCorpusSql)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS INT) AS n_emails,
       | CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS INT) AS n_phones,
       | CAST(len(regexp_extract_all(pii_text, '$Ipv4Re')) AS INT) AS n_ipv4,
       | regexp_replace(regexp_replace(regexp_replace(pii_text,
       |   '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$Ipv4Re', '<IP>', 'g')
       |   AS redacted_text,
       | len(regexp_extract_all(pii_text, '$EmailRe'))
       |  + len(regexp_extract_all(pii_text, '$PhoneRe'))
       |  + len(regexp_extract_all(pii_text, '$Ipv4Re')) > 0 AS has_pii
       |FROM pii ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Fixed-token training chunks (oracle-checked)
  // ------------------------------------------------------------------

  /** Training-chunk window/stride (tokens): 64-token windows every 48
    * tokens (16-token overlap) — the sliding-window shape every training
    * tokenizer pass uses, scaled down to the synthetic docs' lengths.
    */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** Split each document into overlapping fixed-token chunks. Narrow
    * per-row expansion (posexplode of a computed array) — no shuffle, so
    * chunking 100 TB is a pure map stage feeding the tokenizer.
    */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      // fixture-parallelism restore (single-file scan → one task; the
      // chunk expansion is a narrow map and ran serially in round 5)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_doc_tokens"),
        posexplode(expr(
          s"CASE WHEN size(toks) >= 1 THEN " +
            s"transform(sequence(0, size(toks) - 1, $ChunkStride), " +
            s"st -> concat_ws(' ', slice(toks, st + 1, $ChunkWindow))) " +
            "ELSE array() END")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("n_doc_tokens"),
        size(split(col("col"), " ", -1)).as("n_chunk_tokens"),
        col("col").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val textChunksSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
       |st AS (SELECT doc_id, t, CAST(i / $ChunkStride AS INT) AS chunk_id, i
       |  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS i) g
       |  WHERE len(t) >= 1)
       |SELECT doc_id, chunk_id, CAST(len(t) AS INT) AS n_doc_tokens,
       | CAST(len(t[i + 1 : i + $ChunkWindow]) AS INT) AS n_chunk_tokens,
       | array_to_string(t[i + 1 : i + $ChunkWindow], ' ') AS chunk_text
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin
}
