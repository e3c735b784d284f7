package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the remaining structured-streaming
  * operator class next to windowed aggs and arbitrary state: every
  * `click` joins the same user's `view`s that happened up to
  * `AttributionWindow` before it (the classic attribution shape). Both
  * sides carry watermarks so Spark can bound the join state (a view's
  * buffered row is dropped once the click watermark passes its maximum
  * match time — without the watermarks an inner stream-stream join would
  * buffer both streams forever).
  *
  * Determinism contract for the oracle: on an AvailableNow drain an
  * INNER interval join emits exactly the relational join result as long
  * as no matching row arrives after its partner's state was purged; the
  * events fixture is globally near-ts-ordered and the watermark delay
  * (1 hour) dominates its disorder, so the streaming result equals the
  * DuckDB batch join row-for-row (the spec also drives the multi-batch
  * case).
  */
object StreamingJoin {

  /** Attribution window: clicks within this many seconds after a view. */
  val AttributionSeconds = 86400L

  def intervalJoin(
      spark: SparkSession,
      eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val views = Drain.files(spark, eventsDir, maxFilesPerTrigger)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").cast("timestamp").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val clicks = Drain.files(spark, eventsDir, maxFilesPerTrigger)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").cast("timestamp").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    views
      .join(clicks, expr(
        s"""user_id = click_user AND
           |click_ts >= view_ts AND
           |click_ts <= view_ts + INTERVAL $AttributionSeconds SECONDS""".stripMargin))
      .select(col("view_id"), col("click_id"), col("user_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
          .as("gap_seconds"))
  }

  /** DuckDB recompute: the same interval join relationally. */
  val intervalJoinSql: String =
    s"""SELECT v.event_id AS view_id, c.event_id AS click_id,
       | v.user_id,
       | CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS gap_seconds
       |FROM events v JOIN events c
       |  ON c.user_id = v.user_id
       | AND v.event_type = 'view' AND c.event_type = 'click'
       | AND c.ts >= v.ts
       | AND c.ts <= v.ts + INTERVAL $AttributionSeconds SECONDS
       |ORDER BY view_id, click_id""".stripMargin
}
