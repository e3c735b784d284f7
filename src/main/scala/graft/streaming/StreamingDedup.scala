package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}

/** Stateful streaming exact-dedup via
  * `KeyValueGroupedDataset.mapGroupsWithState` — the custom-state
  * streaming shape: as documents arrive, per content-hash state tracks
  * the winning (minimum) doc_id and the copies seen so far, and each
  * micro-batch emits the updated (h, keep_id, n_copies) row.
  *
  * Determinism across arbitrary micro-batching: keep_id is a RUNNING
  * MINIMUM (monotone non-increasing over updates) and n_copies a running
  * count (monotone non-decreasing), so
  * `groupBy(h).agg(min(keep_id), max(n_copies))` over the update log
  * equals the batch dedup answer no matter how the source split into
  * batches — which is exactly what the DuckDB oracle checks against the
  * relational md5 group-by.
  *
  * State size is one (long, long) per distinct document hash. For a
  * bounded catch-up run (AvailableNow) NoTimeout is correct; on a
  * continuous crawl you bound state with an event-time timeout against
  * the watermark (the same pattern WatermarkSpec pins for windows) —
  * dedup state older than the dedup horizon expires and a re-arrival
  * starts a fresh group.
  */
object StreamingDedup {

  /** Corpus WITH exact duplicates (Dedup.corpus plants near-dups whose
    * suffix changes the md5): every doc_id % 5 == 0 document re-appears
    * verbatim under doc_id + 2000000. Derived identically by the DuckDB
    * oracle (exactDupCorpusSql) — the Dedup.corpus pattern.
    */
  def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    docs.unionAll(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  val exactDupCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0""".stripMargin

  final case class DocHash(h: String, doc_id: Long)
  final case class SeenState(keepId: Long, nSeen: Long)
  final case class DedupUpdate(h: String, keep_id: Long, n_copies: Long)

  /** Streaming (doc_id, text) parquet → per-batch dedup-state updates.
    * maxFilesPerTrigger forces multi-batch runs in tests so the
    * running-min contract is actually exercised.
    */
  def dedupStream(
      spark: SparkSession,
      docsDir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[DedupUpdate] = {
    import spark.implicits._
    Drain.files(spark, docsDir, maxFilesPerTrigger)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .as[DocHash]
      .groupByKey(_.h)
      .mapGroupsWithState[SeenState, DedupUpdate](GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[DocHash], state) =>
          var keep = if (state.exists) state.get.keepId else Long.MaxValue
          var n = if (state.exists) state.get.nSeen else 0L
          rows.foreach { r =>
            n += 1
            if (r.doc_id < keep) keep = r.doc_id
          }
          state.update(SeenState(keep, n))
          DedupUpdate(h, keep, n)
      }
  }

  /** Final dedup answer from an update log — the rows `Drain.rows`
    * returns in update mode, or the parquet changelog `runIncremental`
    * writes (a batch-equivalent fold over either).
    */
  def resolve(updates: DataFrame): DataFrame =
    updates
      .groupBy(col("h"))
      .agg(min(col("keep_id")).as("keep_id"), max(col("n_copies")).as("n_copies"))
      .orderBy(col("keep_id"))

  /** PRODUCTION shape: update-mode state changelog appended to parquet
    * via foreachBatch (file sinks can't take update mode directly — the
    * changelog-to-table pattern), with the source offsets AND the dedup
    * state in `checkpointDir`. Run it again after more files land in
    * `docsDir` and the new run resumes the state store: a duplicate whose
    * first copy arrived in an earlier RUN continues its n_copies count
    * instead of restarting at 1 (StreamingDedupSpec pins this). The
    * final answer is `resolve` over the parquet changelog.
    */
  def runIncremental(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      outDir: String): Unit = {
    val q = dedupStream(spark, docsDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DedupUpdate], batchId: Long) =>
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
