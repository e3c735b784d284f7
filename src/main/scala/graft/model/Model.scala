package graft.model

/** Core data model of the extraction engine.
  *
  * Mirrors the reference's four abstractions (see
  * /root/reference/app/models/task.py:26-34 task row,
  * app/api/routes.py:84-108 document payload,
  * app/services/minio_service.py:87-147 result object) re-expressed as
  * fixed-schema Spark rows per SURVEY.md §1.2.
  */

/** One Common-Crawl-style page — the `input_hint` table shape.
  * `html` carries HTML bytes or a PDF payload (sniffed, not ext-dispatched:
  * the reference's extension switch at ocr_service.py:271-282 becomes
  * content sniffing on magic bytes).
  */
case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** The two columns the extract kernel actually reads — the kernel maps
  * over Dataset[PageRaw] so Parquet column pruning drops warc_ts/text/lang
  * at the scan (at 100 TB the pruned `text` column alone is ~40% of the
  * table bytes).
  */
case class PageRaw(url: String, html: Array[Byte])

/** Character-offset span into `Extracted.text` (one per kept block). */
case class Span(start: Long, end: Long, kind: String)

/** One extraction result row — replaces the reference's SQLite task row +
  * MinIO text object (task.py:26-34, minio_service.py:125-131).
  * `status` uses the reference's enum values (task.py:8-12):
  * processing/completed/failed/cancelled.
  * Per A9 (pdf_utils.py:150-158) a doc with failed pages is still
  * `completed`; failures appear only in the merged text footer and the
  * `n_failed_pages` counter.
  */
case class Extracted(
    url: String,
    status: String,
    text: String,
    spans: Seq[Span],
    error: String,
    n_pages: Int,
    n_failed_pages: Int,
    engine: String,
    bucket: Int
)

/** Per-bucket lineage row — replaces the SQLite status upsert
  * (task.py:39-58) as the resumability store. Nested in a `RunRecord`:
  * one row per bucket the run covered. `status` is the bucket's terminal
  * state (task.py:8-12): 'completed' (even when individual docs failed —
  * doc failures are data, A9; zero counts when the input snapshot has no
  * page in the bucket) or 'cancelled' (zero counts; the run was cancelled
  * before its write committed). Only 'completed' rows make a resume skip
  * a bucket.
  */
case class PartitionLineage(
    bucket: Int,
    doc_count: Long,
    byte_count: Long,
    ok_count: Long,
    fail_count: Long,
    failure_samples: Seq[String],
    status: String
)

/** One record of a run of `ExtractRunner.run`: what ran (`engine`), over
  * which input snapshot, with which bucket modulus, with what outcome,
  * and the lineage of every bucket it covered. Every run ends with one,
  * no-op resumes included. A run with work also commits a start record
  * before it writes any data: status `started`, 0 docs, 0 buckets done,
  * `wall_ms` its planning time and no lineage.
  *
  * Stored as one single-line JSON file under `runs/`, named
  * `s<unsigned hex snapshot_id>_b<buckets>_d<buckets_done>_<run_at epoch ms>_<uuid>.json`
  * and published by renaming a hidden temp file (`operators.RunLog`). A
  * run's records share the uuid.
  */
case class RunRecord(
    snapshot_id: Long,
    buckets: Int,
    engine: String,
    status: String,
    docs_processed: Long,
    buckets_done: Long,
    wall_ms: Long,
    run_at: String,
    lineage: Seq[PartitionLineage]
)
