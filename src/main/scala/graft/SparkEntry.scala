package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ExtractJob, Multimodal, Relational, Similarity, TextAnalysis}
import graft.sources.PageSynth
import graft.streaming.{Drain, StreamingDedup, StreamingExtract, StreamingJoin, StreamingSessionize}
import graft.streaming.StreamingExtract.{withStagedParquet, withTempDir}

/** Driver contract (SURVEY.md §7): the flagship `entry`, and `registry`,
  * one `Query` per implemented operator (SURVEY.md §2). Each entry pairs
  * the query's Spark frame with the DuckDB SQL that must return the same
  * rows (the driver's correctness gate); the entry type requires that SQL,
  * so every query has an oracle. Kernel and sketch stages materialize
  * under `oracleBase(dir)` and the oracle recomputes everything
  * downstream of them; the kernels' own byte contracts are enforced by
  * the ScalaTest specs (`sbt -batch test`).
  */
object SparkEntry {

  /** Flagship: full extraction pipeline on sf0.001 — synthesized
    * Common-Crawl-style pages → extract kernel → per-(lang,status) doc
    * counts joined back against the input langs.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val pages = PageSynth.pages(spark, sfDir)
    val extracted = ExtractJob.extract(spark, pages, buckets = 16)
    extracted.toDF()
      .join(pages.toDF().select(col("url"), col("lang")), Seq("url"))
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("docs"),
        sum(length(col("text")).cast("long")).as("chars"))
      .orderBy(col("lang"), col("status"))
  }

  /** Kernel-stage outputs are materialized to a DETERMINISTIC path per
    * input dir, for two reasons: (a) the extraction-family queries all
    * consume the same extracted table, so a Verify run pays the kernel
    * once, and (b) the materialized parquet is the ORACLE INPUT — the
    * driver's DuckDB reads the same files via read_parquet() and
    * independently recomputes the relational shape on top (explode, joins,
    * aggs), turning the extraction family from rows-only checks into real
    * oracle rows. The kernel itself stays spec-verified (golden
    * byte-identity); the oracle verifies everything downstream of it.
    */
  def oracleBase(dir: String): String = {
    // key by basename (readable) + full-path hash (two different dirs
    // sharing a basename must not share a materialization cache)
    val f = new java.io.File(dir)
    val h = java.lang.Long.toHexString(
      graft.operators.XxHash.hashUtf8(f.getAbsolutePath))
    s"/tmp/graft_oracle/${f.getName}_$h"
  }

  /** The stages one caller materializes under `base`: each sub-stage is
    * written at most once by this instance and read back on every use.
    * Instances share nothing, so a fresh one rewrites what an earlier run
    * left (or deleted) under the same base, and two bases (two processes,
    * two plan profiles) never read each other's files.
    */
  private[graft] final class Stages(val base: String) {
    private val written = scala.collection.concurrent.TrieMap.empty[String, Unit]

    /** `base/sub`, once `write` has run on it for this instance. */
    def once(sub: String)(write: String => Unit): String = {
      val path = s"$base/$sub"
      written.getOrElseUpdate(sub, write(path))
      path
    }

    /** `df` written as parquet to `base/sub` once, read back. */
    def parquet(s: SparkSession, sub: String)(df: => DataFrame): DataFrame =
      s.read.parquet(once(sub)(df.write.mode("overwrite").parquet(_)))
  }

  private def cachedExtract(s: SparkSession, dir: String, st: Stages): DataFrame =
    st.parquet(s, "extracted") {
      // repartition before writing: the single-file smoke docs table gives
      // the kernel one scan partition, and writing its output as one file
      // would serialize every downstream extraction-family query too
      // (fixture artifact — real corpora arrive as many splittable files)
      ExtractJob.extract(s, PageSynth.pages(s, dir), buckets = 32).toDF()
        .repartition(s.sparkContext.defaultParallelism)
    }

  private def mediaMetaMat(s: SparkSession, dir: String, st: Stages): DataFrame =
    st.parquet(s, "media_meta")(Multimodal.mediaMeta(s, dir).toDF())

  /** MinHash-LSH pairs over the registered dedup corpus, with the band
    * frame materialized once — shared by dedup_minhash_lsh and
    * dedup_clusters_lsh so the signature kernel runs once per Verify and
    * both queries derive from the identical bands.
    */
  private def minhashPairsMat(s: SparkSession, dir: String, st: Stages): DataFrame =
    Dedup.minhashLshFromBands(s,
      st.parquet(s, "minhash_bands")(Dedup.minhashBands(s, Dedup.corpus(s, dir))),
      Dedup.corpus(s, dir))

  private def pipelineCorpusMat(s: SparkSession, dir: String, st: Stages): DataFrame =
    st.parquet(s, "pipeline_corpus")(
      graft.operators.CorpusPipeline.corpus(s, dir)
        .select("url", "n_paras_dropped", "is_exact_dup", "is_near_dup",
          "repetition_flagged", "quality", "lang_pred", "keep"))

  /** A materialized kernel output under base `b`, as a DuckDB relation. */
  private def rp(b: String, sub: String) = s"read_parquet('$b/$sub/*.parquet')"

  /** One registered query: `frame` computes it on Spark over an sf dir,
    * materializing its stages through the caller's `Stages`; `oracle` maps
    * that materialization base to DuckDB SQL over the same tables that
    * must return the same rows.
    */
  private[graft] final case class Query(
      name: String,
      frame: (SparkSession, String, Stages) => DataFrame,
      oracle: String => String)

  /** `qs`, or a failure naming every query name registered twice. */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every query with its oracle, the relational set included. */
  private[graft] val registry: Seq[Query] = distinctNames(Seq(
    // ---- extraction pipeline (A1-A11; byte contract via KernelSpec golden tests) ----
    // SERIALIZATION-ONLY oracle: reads back the Spark-materialized
    // parquet verbatim, so it pins parquet round-trip + the driver's
    // column-sorted hash over every row — NOT the kernel computation.
    // The kernel itself is attested by extract_golden_check (DuckDB
    // independently re-compares extracted vs golden-by-construction
    // text bytes), the 1M-doc GoldenScale run, and the specs.
    // mm_media_meta below is the same construction. Do not over-credit
    // these two rows when auditing oracle strength (SURVEY §8 footnote).
    Query("extract_main",
      (s, dir, st) =>
        cachedExtract(s, dir, st).select("url", "status", "text", "error",
          "n_pages", "n_failed_pages", "engine", "bucket"),
      b => s"""SELECT url, status, text, error, n_pages, n_failed_pages, engine, bucket
              |FROM ${rp(b, "extracted")}""".stripMargin),
    // DuckDB independently re-explodes the span structs
    Query("extract_spans",
      (s, dir, st) =>
        cachedExtract(s, dir, st)
          .select(col("url"), explode(col("spans")).as("span"))
          .select(col("url"), col("span.start").as("start"),
            col("span.end").as("end"), col("span.kind").as("kind")),
      b => s"""SELECT url, s.start AS start, s."end" AS "end", s.kind AS kind
              |FROM (SELECT url, unnest(spans) AS s FROM ${rp(b, "extracted")}) t""".stripMargin),
    Query("extract_lineage",
      (s, dir, st) => {
        import s.implicits._
        // failure_samples is an array in the lineage table; serialize it
        // for the driver compare (pandas cannot sort/hash array cells)
        ExtractJob.lineage(cachedExtract(s, dir, st).as[graft.model.Extracted], snapshotId = 1L)
          .withColumn("failure_samples", array_join(col("failure_samples"), "|"))
      },
      b => s"""SELECT CAST(1 AS BIGINT) AS snapshot_id, bucket,
              | CAST(count(*) AS BIGINT) AS doc_count,
              | CAST(sum(length(text)) AS BIGINT) AS byte_count,
              | CAST(sum(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS ok_count,
              | CAST(sum(CASE WHEN status <> 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS fail_count,
              | coalesce(array_to_string(
              |   (list_sort(list(DISTINCT error) FILTER (WHERE status <> 'completed')))[1:5], '|'), '')
              |   AS failure_samples,
              | CAST(-1 AS BIGINT) AS wall_ms,
              | 'completed' AS status
              |FROM ${rp(b, "extracted")} GROUP BY bucket""".stripMargin),
    // host metrics: DuckDB recomputes host parse + aggs (the Spark side
    // is the salted two-phase agg — same answer, different plan)
    Query("extract_by_host",
      (s, dir, st) => {
        import s.implicits._
        ExtractJob.metricsByHost(cachedExtract(s, dir, st).as[graft.model.Extracted])
      },
      b => s"""SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
              | CAST(count(*) AS BIGINT) AS doc_count,
              | CAST(sum(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS ok_count,
              | CAST(sum(length(text)) AS BIGINT) AS char_count
              |FROM ${rp(b, "extracted")} GROUP BY 1""".stripMargin),
    // byte-identity summary vs golden-by-construction fixtures:
    // n_mismatched MUST be 0 (also asserted per-url in KernelSpec). Both
    // sides are materialized, so a SECOND ENGINE attests the byte
    // contract: DuckDB joins extracted vs golden and compares
    // text/status/error itself
    Query("extract_golden_check",
      (s, dir, st) => {
        val extracted = cachedExtract(s, dir, st)
        val golden = st.parquet(s, "golden")(
          PageSynth.golden(s, dir).toDF())
        extracted.join(golden, Seq("url"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("text") === col("expected_text") &&
              col("status") === col("expected_status") &&
              col("error") === col("expected_error"), 1L).otherwise(0L)).as("n_byte_identical"),
            sum(when(col("text") =!= col("expected_text") ||
              col("status") =!= col("expected_status") ||
              col("error") =!= col("expected_error"), 1L).otherwise(0L)).as("n_mismatched"))
      },
      b => s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN e.text = g.expected_text AND e.status = g.expected_status
              |   AND e.error = g.expected_error THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_identical,
              | CAST(sum(CASE WHEN e.text <> g.expected_text OR e.status <> g.expected_status
              |   OR e.error <> g.expected_error THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched
              |FROM ${rp(b, "extracted")} e JOIN ${rp(b, "golden")} g USING (url)""".stripMargin),
    // same kernel via Structured Streaming (Trigger.AvailableNow): the
    // streamed counts must equal the BATCH kernel's materialized output
    // aggregated by DuckDB — a real streaming==batch cross-check. The
    // staged pages copy is deleted once the drain has finished (the
    // drained rows are checkpointed)
    Query("stream_extract_counts",
      (s, dir, st) => {
        cachedExtract(s, dir, st) // ensure the batch materialization exists
        withTempDir("graft_stream") { base =>
          PageSynth.pages(s, dir).write.mode("overwrite").parquet(s"$base/pages")
          Drain.rows(StreamingExtract.extractStream(s, s"$base/pages"), "append")
        }.groupBy(col("status")).agg(count(lit(1)).as("n"),
            sum(col("n_pages").cast("long")).as("total_pages"))
          .orderBy(col("status"))
      },
      b => s"""SELECT status, CAST(count(*) AS BIGINT) AS n,
              | CAST(sum(n_pages) AS BIGINT) AS total_pages
              |FROM ${rp(b, "extracted")} GROUP BY status ORDER BY status""".stripMargin),
    // streaming windowed agg == batch group-by (complete mode): DuckDB
    // recomputes the tumbling-window counts relationally
    Query("stream_event_windows",
      (s, dir, _) => StreamingExtract.eventWindowCounts(s, dir),
      _ => """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             | count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    // flatMapGroupsWithState gap sessionization: closed streaming
    // sessions (no-data batch disabled) == batch q_sessionize minus each
    // user's (still-open) last session — DuckDB recomputes that
    // relationally
    Query("stream_sessionize",
      (s, dir, _) =>
        withStagedParquet(s"$dir/events.parquet", "graft_sess_stream")(
          StreamingSessionize.sessions(s, _, fireTimeouts = false))
          .orderBy(col("user_id"), col("session_seq")),
      _ => """WITH g AS (
             | SELECT user_id, ts, event_id,
             |  date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
             | FROM events),
             |m AS (
             | SELECT user_id, ts,
             |  CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
             | FROM g),
             |sess AS (
             | SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_seconds
             | FROM m GROUP BY 1, 2)
             |SELECT s.user_id, s.session_seq, s.n_events, s.duration_seconds
             |FROM sess s JOIN (SELECT user_id, max(session_seq) AS mx FROM sess GROUP BY 1) x
             |  ON x.user_id = s.user_id AND s.session_seq < x.mx
             |ORDER BY s.user_id, s.session_seq""".stripMargin),
    // stream-stream inner interval join (view→click attribution)
    // with watermarks on both sides; AvailableNow drain == the batch
    // join, which DuckDB recomputes relationally
    Query("stream_interval_join",
      (s, dir, _) =>
        withStagedParquet(s"$dir/events.parquet", "graft_join_stream")(staged =>
          Drain.rows(StreamingJoin.intervalJoin(s, staged), "append"))
          .orderBy(col("view_id"), col("click_id")),
      _ => graft.streaming.StreamingJoin.intervalJoinSql),
    // stateful streaming dedup (mapGroupsWithState): the corpus is
    // staged as 4 files and drained 2 files per micro-batch, so the
    // driver-checked path really crosses state between batches; the
    // update-log fold (running-min / running-count updates) must equal
    // the batch md5 group-by over a corpus with genuine exact
    // duplicates, which DuckDB recomputes relationally
    Query("stream_dedup_state",
      (s, dir, _) =>
        withTempDir("graft_sdedup") { base =>
          StreamingDedup.exactDupCorpus(s, dir)
            .repartition(4).write.mode("overwrite").parquet(s"$base/docs")
          StreamingDedup.resolve(Drain.rows(
            StreamingDedup.dedupStream(s, s"$base/docs", maxFilesPerTrigger = Some(2)), "update"))
        },
      _ => s"""WITH all_docs AS (${graft.streaming.StreamingDedup.exactDupCorpusSql})
              |SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
              |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin),
    // the reference's three engines as deterministic kernel profiles
    // (A4/A5/A7) + all 5 ollama output_format serializers + the A6
    // envelope-fault slice. Per-profile rows are materialized so the
    // oracle recomputes the aggregation independently.
    Query("extract_profiles",
      (s, dir, st) => {
        val mat = st.parquet(s, "profiles") {
          import graft.kernel.ExtractKernel.Profile
          val pages = PageSynth.pages(s, dir)
          Seq(
            ("standard", Profile("standard")),
            ("llm", Profile("llm")),
            ("llm_faulty", Profile("llm", "faulty")),
            ("ollama_plain_text", Profile("ollama", "plain_text")),
            ("ollama_markdown", Profile("ollama", "markdown")),
            ("ollama_json", Profile("ollama", "json")),
            ("ollama_structured", Profile("ollama", "structured")),
            ("ollama_key_value", Profile("ollama", "key_value"))
          ).map { case (name, prof) =>
            ExtractJob.extract(s, pages, buckets = 32, profile = prof).toDF()
              .select(lit(name).as("profile"), col("status"),
                length(col("text")).as("n_chars"))
          }.reduce(_.unionAll(_))
        }
        mat.groupBy(col("profile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("status") === "completed", 1L).otherwise(0L)).as("n_completed"),
            sum(col("n_chars").cast("long")).as("total_chars"))
          .orderBy(col("profile"))
      },
      b => s"""SELECT profile, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
              | CAST(sum(n_chars) AS BIGINT) AS total_chars
              |FROM ${rp(b, "profiles")} GROUP BY profile ORDER BY profile""".stripMargin),
    // video: real MP4 containers through the full box-walk parse; the
    // oracle re-derives EVERY column (timing, track counts, exact
    // serialized byte size) from doc_id with SQL arithmetic — the parse
    // must invert the serialization exactly
    Query("mm_video_meta",
      (s, dir, _) => Multimodal.videoMeta(s, dir),
      _ => """SELECT doc_id,
             | 1000 + (doc_id % 9) * 100 AS timescale,
             | 1000 + doc_id % 50000 AS duration,
             | (1000 + doc_id % 50000) * 1000 // (1000 + (doc_id % 9) * 100) AS duration_ms,
             | CAST(1 AS INT) AS n_video_tracks,
             | CAST(doc_id % 3 AS INT) AS n_audio_tracks,
             | CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS n_other_tracks,
             | CAST(52 + (CASE WHEN doc_id % 5 = 0 THEN 44 ELSE 32 END) +
             |   44 * (1 + doc_id % 3 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
             |   AS INT) AS n_payload_bytes
             |FROM documents ORDER BY doc_id""".stripMargin),
    // audio: real WAV payloads through the full parse chain; the
    // decoded sample frame materializes and DuckDB recomputes the
    // energy/zero-crossing features with its own window functions
    Query("mm_audio",
      (s, dir, st) => {
        val mat = st.parquet(s, "audio_samples")(
          Multimodal.audioSamples(s, dir))
        Multimodal.audioFeatures(mat)
      },
      b => s"""SELECT doc_id, sample_rate, CAST(count(*) AS BIGINT) AS n_samples,
              | CAST(sum(CAST(sample AS BIGINT) * sample) AS BIGINT) AS sum_energy,
              | CAST(coalesce(sum(flip), 0) AS BIGINT) AS n_zero_crossings
              |FROM (
              | SELECT doc_id, sample_rate, sample,
              |  CASE WHEN (sample < 0) <>
              |   (lag(sample) OVER (PARTITION BY doc_id ORDER BY idx) < 0)
              |   THEN 1 ELSE 0 END AS flip
              | FROM ${rp(b, "audio_samples")})
              |GROUP BY doc_id, sample_rate ORDER BY doc_id""".stripMargin),
    // link graph (crawl frontier): hrefs extracted by the kernel
    // scanner, resolved root-relative against the source host, and
    // aggregated into an edge table. The raw markup materializes as
    // TEXT so DuckDB re-extracts the hrefs with ITS OWN regex over the
    // same pages, re-resolves, and re-aggregates — extraction itself is
    // cross-engine-verified, not just the aggregation.
    // FIXTURE CONTRACT: the oracle regex matches '<a href="..."' with a
    // double-quoted href as the FIRST attribute only, while
    // LinkExtract.hrefs parses any order/quoting — the corpus generator
    // (PageSynth) must keep emitting anchors in exactly that shape, or
    // widen the oracle regex in the same change
    Query("link_graph",
      (s, dir, st) => {
        import s.implicits._
        val mat = st.parquet(s, "html_pages") {
          PageSynth.pages(s, dir)
            .filter(p => p.html != null && p.html.length > 0 &&
              p.html(0) == '<'.toByte)
            .map(p => (p.url, new String(p.html, java.nio.charset.StandardCharsets.UTF_8)))
            .toDF("url", "html")
        }
        mat.as[(String, String)]
          .flatMap { case (url, html) =>
            graft.kernel.LinkExtract.hrefs(html).map(h => (url, h))
          }
          .toDF("url", "href")
          // resolve root-relative hrefs against the page host (all the
          // corpus' anchors are root-relative; others would pass through)
          .select(col("url"),
            when(col("href").startsWith("/"),
              concat(lit("https://"),
                regexp_extract(col("url"), "^https?://([^/]+)/", 1), col("href")))
              .otherwise(col("href")).as("dst"))
          .groupBy(col("dst"))
          .agg(countDistinct(col("url")).as("n_src_pages"),
            count(lit(1)).as("n_occurrences"))
          .orderBy(col("dst"))
      },
      b => s"""WITH links AS (
              | SELECT url, unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS href
              | FROM ${rp(b, "html_pages")}),
              |resolved AS (
              | SELECT url, CASE WHEN href LIKE '/%'
              |  THEN 'https://' || regexp_extract(url, '^https?://([^/]+)/', 1) || href
              |  ELSE href END AS dst
              | FROM links)
              |SELECT dst, CAST(count(DISTINCT url) AS BIGINT) AS n_src_pages,
              | CAST(count(*) AS BIGINT) AS n_occurrences
              |FROM resolved GROUP BY dst ORDER BY dst""".stripMargin),
    // WET-style OUTPUT: completed extracted docs as WARC `conversion`
    // records (the Common-Crawl WET convention), read back through the
    // parser; the oracle recomputes byte length + md5 straight from
    // the materialized extracted table (strlen = UTF-8 byte length; md5
    // over the same bytes) — the round trip must be byte-exact for every
    // completed doc
    Query("q_wet_sink",
      (s, dir, st) => {
        import s.implicits._
        val extracted = cachedExtract(s, dir, st)
        val staged = st.once("staged_wet")(
          graft.sources.Warc.stageExtracted(extracted.as[graft.model.Extracted], _, parts = 8))
        graft.sources.Warc.records(s, staged, "conversion")
          .toDF("url", "payload")
          .select(col("url"), length(col("payload")).as("n_bytes"),
            md5(col("payload")).as("text_md5"))
          .orderBy(col("url"))
      },
      b => s"""SELECT url, CAST(strlen(text) AS INT) AS n_bytes, md5(text) AS text_md5
              |FROM ${rp(b, "extracted")} WHERE status = 'completed'
              |ORDER BY url""".stripMargin),
    // the graft-ocr ENGINE PROFILE end-to-end: real rendered PNG page
    // payloads through the FULL extract kernel (dispatch → pixel
    // decode → GlyphOcr) — not just the recognizer in isolation.
    // Completed rows must carry the recognized text; DuckDB re-joins
    // the materialized rows against expectations per url.
    Query("extract_ocr_engine",
      (s, dir, st) => {
        val mat = st.parquet(s, "ocr_engine") {
          import s.implicits._
          val pages = Relational.table(s, dir, "documents")
            .select(col("doc_id"), col("text")).as[(Long, String)]
            .map { case (id, text) =>
              val expected = graft.kernel.GlyphOcr.normalize(text.take(64)).take(24).trim
              graft.model.Page(s"img://ocr/$id", null,
                graft.sources.ImageGen.textImageReal(Seq(expected), 2), expected, "en")
            }
          val extracted = ExtractJob.extract(s, pages, buckets = 32,
            profile = graft.kernel.ExtractKernel.Profile("graft-ocr")).toDF()
          extracted
            .join(pages.toDF().select(col("url"), col("text").as("expected")), Seq("url"))
            .select(col("url"), col("expected"), col("status"), col("engine"),
              col("text").as("recognized"))
        }
        mat.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("status") === "completed", 1L).otherwise(0L)).as("n_completed"),
          sum(when(col("recognized") === col("expected"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("engine") === "graft-ocr", 1L).otherwise(0L)).as("n_engine_tagged"))
      },
      b => s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
              | CAST(sum(CASE WHEN recognized = expected THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
              | CAST(sum(CASE WHEN engine = 'graft-ocr' THEN 1 ELSE 0 END) AS BIGINT) AS n_engine_tagged
              |FROM ${rp(b, "ocr_engine")}""".stripMargin),
    // ---- paragraph-level dedup (CCNet/RefinedWeb boilerplate scrub) ----
    // both recomputed from the materialized extracted table on BOTH
    // engines — DuckDB independently re-splits, re-derives doc
    // frequency, and re-runs the scrub with its own list lambda (a
    // genuine cross-engine check of the scrub semantics, byte-level on
    // clean_text)
    Query("para_stats",
      (s, dir, st) => graft.operators.ParagraphDedup.paragraphStats(cachedExtract(s, dir, st)),
      b => s"""WITH docs AS (SELECT url, text FROM ${rp(b, "extracted")} WHERE status = 'completed'),
              |paras AS (SELECT url, unnest(string_split(text, chr(10)||chr(10))) AS para FROM docs),
              |per AS (SELECT para, url, count(*) AS occ FROM paras GROUP BY 1, 2)
              |SELECT para, CAST(count(*) AS BIGINT) AS df,
              | CAST(sum(occ) AS BIGINT) AS n_occurrences,
              | CAST(length(para) AS INT) AS n_chars
              |FROM per GROUP BY para HAVING count(*) >= 2 ORDER BY df DESC, para""".stripMargin),
    Query("para_scrub",
      (s, dir, st) => graft.operators.ParagraphDedup.paragraphScrubFrom(s, cachedExtract(s, dir, st)),
      b => s"""WITH docs AS (SELECT url, string_split(text, chr(10)||chr(10)) AS sp
              |  FROM ${rp(b, "extracted")} WHERE status = 'completed'),
              |pu AS (SELECT DISTINCT url, para FROM (SELECT url, unnest(sp) AS para FROM docs) t),
              |dfreq AS (SELECT para, count(*) AS df FROM pu GROUP BY para
              |          HAVING count(*) >= ${graft.operators.ParagraphDedup.MinDf}),
              |boiler AS (SELECT para FROM dfreq ORDER BY df DESC, para
              |           LIMIT ${graft.operators.ParagraphDedup.MaxBoilerplate}),
              |bl AS (SELECT coalesce(list(para), []) AS bl FROM boiler)
              |SELECT d.url, CAST(len(d.sp) AS INT) AS n_paras,
              | CAST(len(d.sp) - len(list_filter(d.sp, p -> NOT list_contains(bl.bl, p))) AS INT) AS n_dropped,
              | array_to_string(list_filter(d.sp, p -> NOT list_contains(bl.bl, p)), chr(10)||chr(10)) AS clean_text
              |FROM docs d CROSS JOIN bl ORDER BY d.url""".stripMargin),
    // Gopher-style within-document repetition metrics + flag, over the
    // extracted corpus; DuckDB recomputes lines/2-grams/fractions itself
    Query("text_repetition",
      (s, dir, st) => TextAnalysis.textRepetition(cachedExtract(s, dir, st)),
      b => TextAnalysis.textRepetitionSql(rp(b, "extracted"))),
    // URL canonicalization + dedup over a deterministic variant corpus
    Query("url_dedup",
      (s, dir, st) => graft.operators.UrlDedup.urlDedup(cachedExtract(s, dir, st)),
      b => graft.operators.UrlDedup.urlDedupSql(rp(b, "extracted"))),
    // robots.txt policy filter: both engines derive, parse, and apply
    // the same per-host robots text (prefix Disallow semantics)
    Query("robots_filter",
      (s, dir, st) => graft.operators.UrlDedup.robotsFilter(cachedExtract(s, dir, st)),
      b => graft.operators.UrlDedup.robotsFilterSql(rp(b, "extracted"))),
    // ---- end-to-end training-corpus pipeline ----
    Query("pipeline_corpus",
      (s, dir, st) => pipelineCorpusMat(s, dir, st).orderBy(col("url")),
      b => s"""SELECT url, n_paras_dropped, is_exact_dup, is_near_dup,
              | repetition_flagged, quality, lang_pred, keep
              |FROM ${rp(b, "pipeline_corpus")} ORDER BY url""".stripMargin),
    Query("pipeline_funnel",
      (s, dir, st) => graft.operators.CorpusPipeline.funnelFrom(s, pipelineCorpusMat(s, dir, st)),
      b => s"""SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
              | SELECT '1_extracted_ok' AS stage, count(*) AS n_docs FROM ${rp(b, "pipeline_corpus")}
              | UNION ALL SELECT '2_after_exact_dedup', count(*) FROM ${rp(b, "pipeline_corpus")} WHERE NOT is_exact_dup
              | UNION ALL SELECT '3_after_near_dedup', count(*) FROM ${rp(b, "pipeline_corpus")} WHERE NOT is_exact_dup AND NOT is_near_dup
              | UNION ALL SELECT '4_after_repetition_filter', count(*) FROM ${rp(b, "pipeline_corpus")} WHERE NOT is_exact_dup AND NOT is_near_dup AND NOT repetition_flagged
              | UNION ALL SELECT '5_after_quality_filter', count(*) FROM ${rp(b, "pipeline_corpus")} WHERE keep
              |) t ORDER BY stage""".stripMargin),
    // ---- multimodal binary-column plumbing ----
    // SERIALIZATION-ONLY oracle (see extract_main note): verbatim
    // read-back; the meta computation is spec-verified (OperatorsSpec
    // header round-trips) and mm_triage genuinely re-aggregates it
    Query("mm_media_meta",
      (s, dir, st) =>
        mediaMetaMat(s, dir, st)
          .select("url", "media_type", "n_bytes", "content_hash", "entropy_m",
            "width", "height", "decode_ok"),
      b => s"""SELECT url, media_type, n_bytes, content_hash, entropy_m, width, height, decode_ok
              |FROM ${rp(b, "media_meta")}""".stripMargin),
    Query("mm_triage",
      (s, dir, st) => Multimodal.mediaTriageFrom(mediaMetaMat(s, dir, st)),
      b => s"""SELECT media_type, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
              | CAST(max(n_bytes) AS BIGINT) AS max_bytes,
              | round(avg(entropy_m) / 1000.0, 2) AS avg_entropy_bits,
              | CAST(count(DISTINCT content_hash) AS BIGINT) AS n_distinct_payloads
              |FROM ${rp(b, "media_meta")} GROUP BY media_type ORDER BY media_type""".stripMargin),
    // resize geometry: the typed map computes real aspect-correct thumb
    // dims + exact-size buffers; DuckDB recomputes the geometry from
    // the header dims it already has in media_meta (the fake-pixel
    // bytes are spec-checked, not oracled)
    Query("mm_thumbs",
      (s, dir, st) => {
        mediaMetaMat(s, dir, st) // ensure the oracle's media_meta input exists
        Multimodal.mediaThumbs(s, dir).toDF()
          .select(col("url"), col("fmt"), col("width"), col("height"),
            col("thumb_w"), col("thumb_h"), length(col("thumb")).as("n_thumb_bytes"))
          .orderBy(col("url"))
      },
      b => s"""SELECT url, media_type AS fmt, width, height,
              | CAST(greatest(1, width * ${Multimodal.ThumbMax} // greatest(width, height)) AS INT) AS thumb_w,
              | CAST(greatest(1, height * ${Multimodal.ThumbMax} // greatest(width, height)) AS INT) AS thumb_h,
              | CAST(greatest(1, width * ${Multimodal.ThumbMax} // greatest(width, height)) *
              |      greatest(1, height * ${Multimodal.ThumbMax} // greatest(width, height)) AS INT) AS n_thumb_bytes
              |FROM ${rp(b, "media_meta")}
              |WHERE media_type IN ('png', 'jpg', 'gif', 'tiff', 'bmp') AND decode_ok
              |ORDER BY url""".stripMargin),
    // frame sampling: k evenly spaced offsets per payload; DuckDB
    // recomputes the offsets from media_meta.n_bytes
    Query("mm_frames",
      (s, dir, st) => {
        mediaMetaMat(s, dir, st)
        Multimodal.frameSamples(s, dir).toDF()
          .select(col("url"), col("n_bytes"), col("frame_no"), col("byte_off"))
          .orderBy(col("url"), col("frame_no"))
      },
      b => s"""SELECT url, n_bytes, CAST(i AS INT) AS frame_no,
              | CAST(i * n_bytes // ${Multimodal.FramesPerDoc} AS BIGINT) AS byte_off
              |FROM ${rp(b, "media_meta")}, (SELECT unnest([0, 1, 2, 3]) AS i) g
              |WHERE n_bytes >= 16 ORDER BY url, frame_no""".stripMargin),
    // OCR: render → decode → recognize per doc (kernel.GlyphOcr); the
    // per-doc frame materializes so DuckDB independently re-compares
    // expected vs recognized text and re-derives the summary
    Query("mm_ocr",
      (s, dir, st) => {
        val mat = st.parquet(s, "ocr_results")(
          Multimodal.ocrResults(s, dir).toDF())
        mat.agg(
          count(lit(1)).as("n_images"),
          sum(when(col("recognized") === col("expected"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("recognized") =!= col("expected"), 1L).otherwise(0L)).as("n_mismatched"),
          sum(col("n_payload_bytes")).as("total_payload_bytes"))
      },
      b => s"""SELECT CAST(count(*) AS BIGINT) AS n_images,
              | CAST(sum(CASE WHEN recognized = expected THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
              | CAST(sum(CASE WHEN recognized <> expected THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
              | CAST(sum(n_payload_bytes) AS BIGINT) AS total_payload_bytes
              |FROM ${rp(b, "ocr_results")}""".stripMargin),
    // ---- dedup family ----
    Query("dedup_exact", (s, dir, _) => Dedup.dedupExact(s, dir), _ => Dedup.dedupExactSql),
    Query("dedup_ngram_jaccard", (s, dir, _) => Dedup.dedupNgramJaccard(s, dir),
      _ => Dedup.dedupNgramJaccardSql),
    // sketch stages (band/signature frames) materialize so DuckDB can
    // replicate the MinHash-LSH banding (bucket cap included) from the
    // band frame and re-verify candidates with its own exact shingle
    // Jaccard — only the minhash signatures themselves come from the
    // kernel
    Query("dedup_minhash_lsh",
      (s, dir, st) => minhashPairsMat(s, dir, st),
      b => s"""WITH all_docs AS (${Dedup.corpusSql}),
              |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM all_docs),
              |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |bands AS (SELECT * FROM ${rp(b, "minhash_bands")}),
              |okb AS (SELECT band, bucket FROM bands GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 64),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
              |         JOIN okb ON okb.band = a.band AND okb.bucket = a.bucket),
              |inter AS (SELECT id_a, id_b, count(*) AS i FROM cand
              |          JOIN sh sa2 ON sa2.doc_id = id_a
              |          JOIN sh sb2 ON sb2.doc_id = id_b AND sa2.s = sb2.s
              |          GROUP BY 1, 2)
              |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 3) AS jaccard
              |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
              |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= ${Dedup.JaccardThreshold}
              |ORDER BY id_a, id_b""".stripMargin),
    // simhash: DuckDB re-does the 16-bit chunk banding + hamming verify
    // from the materialized signatures (bit ops cross-checked)
    Query("dedup_simhash",
      (s, dir, st) => Dedup.dedupSimhashFromSigs(
        st.parquet(s, "simhash_sigs")(
          Dedup.simhashSigs(s, Dedup.corpus(s, dir)))),
      b => s"""WITH sigs AS (SELECT * FROM ${rp(b, "simhash_sigs")}),
              |chunks AS (SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS v
              |           FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS c) g),
              |okb AS (SELECT c, v FROM chunks GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 256),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
              |         FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
              |         JOIN okb ON okb.c = a.c AND okb.v = a.v)
              |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
              |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= ${Dedup.SimhashMaxHamming}
              |ORDER BY id_a, id_b""".stripMargin),
    Query("dedup_embedding", (s, dir, _) => Dedup.dedupEmbedding(s, dir),
      _ => Dedup.dedupEmbeddingSql),
    Query("dedup_clusters", (s, dir, _) => Dedup.dedupClusters(s, dir),
      _ => Dedup.dedupClustersSql),
    // the SCALE path end-to-end: LSH pair set → distributed connected
    // components; DuckDB recomputes the components over the SAME
    // materialized pair set with a recursive CTE. Reuses the
    // minhash_bands materialization so the signature kernel runs once
    // per Verify even though two queries consume it.
    Query("dedup_clusters_lsh",
      (s, dir, st) => Dedup.clustersFrom(s,
        st.parquet(s, "lsh_pairs")(
          minhashPairsMat(s, dir, st).select(col("id_a"), col("id_b")))),
      b => s"""WITH bidir AS (
              |  SELECT id_a AS u, id_b AS v FROM ${rp(b, "lsh_pairs")}
              |  UNION SELECT id_b, id_a FROM ${rp(b, "lsh_pairs")}),
              |rec AS (
              |  WITH RECURSIVE reach(node, label) AS (
              |    SELECT u, u FROM (SELECT u FROM bidir UNION SELECT v FROM bidir) t(u)
              |    UNION
              |    SELECT b.v, r.label FROM reach r JOIN bidir b ON b.u = r.node WHERE r.label < b.v
              |  )
              |  SELECT node, min(label) AS label FROM reach GROUP BY node
              |)
              |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS size,
              | min(node) AS min_doc, max(node) AS max_doc
              |FROM rec GROUP BY label HAVING count(*) >= 2 ORDER BY cluster_id""".stripMargin),
    // ---- similarity search ----
    Query("ann_bruteforce", (s, dir, _) => Similarity.annBruteForce(s, dir),
      _ => Similarity.annBruteForceSql),
    // ANN sketches: DuckDB re-joins the materialized index/probe frames
    // and re-ranks candidates with its own cosine top-k
    Query("ann_lsh",
      (s, dir, st) => Similarity.annLshFrom(s, dir,
        st.parquet(s, "annlsh_bands")(Similarity.annLshBands(s, dir)),
        st.parquet(s, "annlsh_probes")(Similarity.annLshProbes(s, dir))),
      b => s"""WITH cand AS (
              | SELECT DISTINCT p.qid, c.vec_id
              | FROM ${rp(b, "annlsh_bands")} c
              | JOIN ${rp(b, "annlsh_probes")} p ON c.t = p.t AND c.bucket = p.probe
              | WHERE c.vec_id <> p.qid),
              |scored AS (
              | SELECT cand.qid, cand.vec_id,
              |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
              | FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
              |           JOIN embeddings q ON q.vec_id = cand.qid)
              |SELECT qid, vec_id AS nid, rnk FROM (
              | SELECT qid, vec_id,
              |  row_number() OVER (PARTITION BY qid ORDER BY round(sim, 4) DESC, vec_id) AS rnk
              | FROM scored) t
              |WHERE rnk <= ${Similarity.TopK} ORDER BY qid, rnk""".stripMargin),
    Query("ann_ivf",
      (s, dir, st) => Similarity.annIvfFrom(s, dir,
        st.parquet(s, "annivf_cells")(Similarity.annIvfCells(s, dir)),
        st.parquet(s, "annivf_probes")(Similarity.annIvfProbes(s, dir))),
      b => s"""WITH cand AS (
              | SELECT DISTINCT p.qid, c.vec_id
              | FROM ${rp(b, "annivf_cells")} c
              | JOIN ${rp(b, "annivf_probes")} p ON c.cell = p.cell
              | WHERE c.vec_id <> p.qid),
              |scored AS (
              | SELECT cand.qid, cand.vec_id,
              |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
              | FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
              |           JOIN embeddings q ON q.vec_id = cand.qid)
              |SELECT qid, vec_id AS nid, rnk FROM (
              | SELECT qid, vec_id,
              |  row_number() OVER (PARTITION BY qid ORDER BY round(sim, 4) DESC, vec_id) AS rnk
              | FROM scored) t
              |WHERE rnk <= ${Similarity.TopK} ORDER BY qid, rnk""".stripMargin),
    // the full IVF-PQ retrieval leg (ADC shortlist from PQ codes +
    // exact re-rank) — reuses the ann_ivf and emb_pq_stats
    // materializations, so the index builds once per Verify. DuckDB
    // re-derives the ADC shortlist by scoring the SAME probed candidates
    // against their PQ reconstructions (list_cosine on recon == the ADC
    // code-table sum, up to fold order), then re-ranks the shortlist
    // with exact cosine — the whole two-stage retrieval
    // cross-engine-verified
    Query("ann_ivfpq",
      (s, dir, st) => Similarity.annIvfPqFrom(s, dir,
        st.parquet(s, "annivf_cells")(Similarity.annIvfCells(s, dir)),
        st.parquet(s, "annivf_probes")(Similarity.annIvfProbes(s, dir)),
        st.parquet(s, "pq_pairs")(
          graft.operators.Pq.pqPairs(s, dir))),
      b => s"""WITH cand AS (
              | SELECT DISTINCT p.qid, c.vec_id
              | FROM ${rp(b, "annivf_cells")} c
              | JOIN ${rp(b, "annivf_probes")} p ON c.cell = p.cell
              | WHERE c.vec_id <> p.qid),
              |adc AS (
              | SELECT cand.qid, cand.vec_id,
              |  list_cosine_similarity(pq.recon, CAST(q.embedding AS DOUBLE[])) AS asim
              | FROM cand JOIN ${rp(b, "pq_pairs")} pq ON pq.vec_id = cand.vec_id
              |           JOIN embeddings q ON q.vec_id = cand.qid),
              |short AS (
              | SELECT qid, vec_id FROM (
              |  SELECT qid, vec_id,
              |   row_number() OVER (PARTITION BY qid ORDER BY round(asim, 4) DESC, vec_id) AS srnk
              |  FROM adc) t WHERE srnk <= ${Similarity.PqShortlist}),
              |scored AS (
              | SELECT short.qid, short.vec_id,
              |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
              | FROM short JOIN embeddings e ON e.vec_id = short.vec_id
              |            JOIN embeddings q ON q.vec_id = short.qid)
              |SELECT qid, vec_id AS nid, rnk FROM (
              | SELECT qid, vec_id,
              |  row_number() OVER (PARTITION BY qid ORDER BY round(sim, 4) DESC, vec_id) AS rnk
              | FROM scored) t
              |WHERE rnk <= ${Similarity.TopK} ORDER BY qid, rnk""".stripMargin),
    Query("emb_quantize_stats",
      (s, dir, st) => graft.operators.Quantize.quantizeStatsFrom(
        st.parquet(s, "quantized")(
          graft.operators.Quantize.quantized(s, dir))),
      b => s"""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
              | round(avg(cos_fidelity), 5) AS avg_cos_fidelity,
              | round(min(cos_fidelity), 5) AS min_cos_fidelity,
              | round(max(max_abs_err), 5) AS max_abs_err
              |FROM ${rp(b, "quantized")}""".stripMargin),
    // PQ: DuckDB recomputes the reconstruction fidelity itself from the
    // materialized (original, reconstructed) pairs
    Query("emb_pq_stats",
      (s, dir, st) => graft.operators.Pq.pqStatsFrom(
        st.parquet(s, "pq_pairs")(
          graft.operators.Pq.pqPairs(s, dir))),
      b => s"""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
              | round(avg(list_cosine_similarity(e, recon)), 5) AS avg_cos_fidelity,
              | round(min(list_cosine_similarity(e, recon)), 5) AS min_cos_fidelity,
              | round(avg(len(e) * 32.0 / (${graft.operators.Pq.SubVectors} * 4.0)), 1) AS compression_ratio
              |FROM ${rp(b, "pq_pairs")}""".stripMargin),
    // ---- text analysis ----
    Query("text_stats", (s, dir, _) => TextAnalysis.textStats(s, dir), _ => TextAnalysis.textStatsSql),
    Query("text_quality", (s, dir, _) => TextAnalysis.textQuality(s, dir),
      _ => TextAnalysis.textQualitySql),
    Query("text_top_tokens", (s, dir, _) => TextAnalysis.textTopTokens(s, dir),
      _ => TextAnalysis.textTopTokensSql),
    Query("bpe_pair_stats", (s, dir, _) => TextAnalysis.bpePairStats(s, dir),
      _ => TextAnalysis.bpePairStatsSql),
    Query("text_langid",
      (s, dir, st) => TextAnalysis.langidConfusion(
        st.parquet(s, "langid_pairs")(TextAnalysis.langidPairs(s, dir))),
      b => s"""SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
              |FROM ${rp(b, "langid_pairs")} GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin),
    Query("text_fingerprint",
      (s, dir, st) => TextAnalysis.fingerprintGroups(
        st.parquet(s, "fingerprints")(TextAnalysis.fingerprintPairs(s, dir))),
      b => s"""SELECT fp, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n
              |FROM ${rp(b, "fingerprints")} GROUP BY fp ORDER BY keep_id""".stripMargin),
    Query("corpus_split", (s, dir, _) => TextAnalysis.corpusSplit(s, dir),
      _ => TextAnalysis.corpusSplitSql),
    // PII detect/redact and token-window chunking: narrow codegen'd
    // stages over the documents table (PII corpus derived identically
    // on both engines — the Dedup.corpus pattern)
    Query("text_pii", (s, dir, _) => TextAnalysis.textPii(s, dir), _ => TextAnalysis.textPiiSql),
    Query("text_chunks", (s, dir, _) => TextAnalysis.textChunks(s, dir),
      _ => TextAnalysis.textChunksSql),
    Query("text_length_quantiles", (s, dir, _) => TextAnalysis.textLengthQuantiles(s, dir),
      _ => TextAnalysis.textLengthQuantilesSql),
    Query("text_lm_score", (s, dir, _) => TextAnalysis.textLmScore(s, dir),
      _ => TextAnalysis.textLmScoreSql),
    // ---- training-set assembly ----
    Query("decontaminate", (s, dir, _) => graft.operators.TrainingSet.decontaminate(s, dir),
      _ => graft.operators.TrainingSet.decontaminateSql),
    Query("substring_dedup", (s, dir, _) => graft.operators.TrainingSet.substringDedup(s, dir),
      _ => graft.operators.TrainingSet.substringDedupSql),
    // the scale twin shuffles xxhash64(window) instead of the window
    // string; the oracle is the same STRING-keyed SQL on purpose —
    // identical rows from both engines is also the hash-collision-freedom
    // check
    Query("substring_dedup_hashed",
      (s, dir, _) => graft.operators.TrainingSet.substringDedupHashed(s, dir),
      _ => graft.operators.TrainingSet.substringDedupSql),
    Query("corpus_mix", (s, dir, _) => graft.operators.TrainingSet.corpusMix(s, dir),
      _ => graft.operators.TrainingSet.corpusMixSql),
    Query("corpus_mix_sample", (s, dir, _) => graft.operators.TrainingSet.corpusMixSample(s, dir),
      _ => graft.operators.TrainingSet.corpusMixSampleSql),
    Query("corpus_pack", (s, dir, _) => graft.operators.TrainingSet.corpusPack(s, dir),
      _ => graft.operators.TrainingSet.corpusPackSql),
    // ---- non-parquet sources: the SAME staged files are read by both
    // engines with their own CSV/JSON readers, so the formats' parsing
    // (headers, types, nulls) is cross-engine-verified, not just the
    // relational logic downstream ----
    Query("q_csv_source",
      (s, dir, st) => {
        val path = st.once("staged_nation_csv")(
          Relational.table(s, dir, "nation")
            .orderBy(col("n_nationkey")).coalesce(1)
            .write.mode("overwrite").option("header", "true").csv(_))
        val nation = s.read
          .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .option("header", "true").csv(path)
        nation.join(broadcast(Relational.table(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_nations"),
            min(col("n_name")).as("first_nation"))
          .orderBy(col("r_name"))
      },
      b => s"""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations,
              | min(n.n_name) AS first_nation
              |FROM read_csv('$b/staged_nation_csv/*.csv', header=true,
              |  columns={'n_nationkey':'BIGINT','n_name':'VARCHAR','n_regionkey':'BIGINT'}) n
              |JOIN region r ON r.r_regionkey = n.n_regionkey
              |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin),
    // WARC: the container Common-Crawl corpora arrive in. Pages stage
    // as gzip-member .warc.gz files (distributed write, one file per
    // partition), then read back through the full from-scratch WARC
    // parse; the oracle side is the SAME pages frame materialized
    // WITHOUT the WARC layer — equality proves the container
    // round-trip (write+gzip+read+parse) over every payload kind (HTML,
    // PDF, binary, empty, the 10 MB oversize doc)
    Query("q_warc_source",
      (s, dir, st) => {
        val staged = st.once("staged_warc")(
          graft.sources.Warc.stagePages(PageSynth.pages(s, dir), _, parts = 8))
        st.parquet(s, "warc_expected")(
          PageSynth.pages(s, dir).toDF()
            .select(col("url"), length(col("html")).as("n_bytes"),
              xxhash64(col("html")).as("payload_hash")))
        graft.sources.Warc.pages(s, staged).toDF()
          .select(col("url"), length(col("html")).as("n_bytes"),
            xxhash64(col("html")).as("payload_hash"))
          .orderBy(col("url"))
      },
      b => s"""SELECT url, n_bytes, payload_hash
              |FROM ${rp(b, "warc_expected")} ORDER BY url""".stripMargin),
    Query("q_json_source",
      (s, dir, st) => {
        val path = st.once("staged_supplier_json")(
          Relational.table(s, dir, "supplier")
            .orderBy(col("s_suppkey")).coalesce(1)
            .write.mode("overwrite").json(_))
        s.read
          .schema("s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE")
          .json(path)
          .groupBy((col("s_nationkey") % 5).as("nation_mod"))
          .agg(count(lit(1)).as("n_suppliers"),
            round(sum(col("s_acctbal")), 2).as("total_acctbal"))
          .orderBy(col("nation_mod"))
      },
      b => s"""SELECT s_nationkey % 5 AS nation_mod,
              | CAST(count(*) AS BIGINT) AS n_suppliers,
              | round(sum(s_acctbal), 2) AS total_acctbal
              |FROM read_json('$b/staged_supplier_json/*.json',
              |  columns={'s_suppkey':'BIGINT','s_name':'VARCHAR','s_nationkey':'BIGINT','s_acctbal':'DOUBLE'})
              |GROUP BY 1 ORDER BY nation_mod""".stripMargin)
  ) ++ Relational.all.map { case (name, frame, sql) => Query(name, (s, dir, _) => frame(s, dir), _ => sql) })

  /** Every registered query's Spark frame, by name. The frames of one map
    * share one `Stages` per sf dir, under `oracleBase(dir)`: a run over
    * the whole map (Verify) materializes each stage once, where the
    * oracle SQL reads it. A second map writes its stages afresh.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queriesUnder(oracleBase)

  /** `queries` with each sf dir's stages under `base(dir)`. */
  private[graft] def queriesUnder(base: String => String): Map[String, (SparkSession, String) => DataFrame] = {
    val stages = scala.collection.concurrent.TrieMap.empty[String, Stages]
    registry.map { q =>
      q.name -> ((s: SparkSession, dir: String) =>
        q.frame(s, dir, stages.getOrElseUpdate(dir, new Stages(base(dir)))))
    }.toMap
  }

  /** The driver runs Verify at sf0.01, so the static contract method
    * points there; Verify itself dumps `oracleSqlFor(sfDir)` so the
    * extraction-family oracles always reference the materialization the
    * run just produced.
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Every registered query's DuckDB oracle SQL for sf dir `dir`, by
    * name: runnable on the same parquet tables plus the materializations
    * under `oracleBase(dir)`. Every query has one.
    */
  def oracleSqlFor(dir: String): Map[String, String] =
    registry.map(q => q.name -> q.oracle(oracleBase(dir))).toMap
}
