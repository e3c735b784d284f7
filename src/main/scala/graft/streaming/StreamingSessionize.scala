package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization via
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — the custom-state
  * shape where one input row can close zero, one, or many sessions: per
  * user, state holds the open session (seq, bounds, count); a new event
  * either extends it or closes it (emits) and opens the next; the
  * event-time timeout closes an idle session once the watermark passes
  * its gap horizon.
  *
  * The emitted session rows use the SAME arithmetic as the batch
  * operator (`Relational.qSessionize`): gaps and durations are computed
  * on floor-epoch-seconds, so a closed streaming session is
  * byte-comparable to its batch counterpart. On a bounded AvailableNow
  * drain the watermark never passes the last event, so each user's FINAL
  * session stays open (unemitted) — exactly the batch sessions minus
  * each user's last, which is what the DuckDB oracle selects.
  */
object StreamingSessionize {

  val GapSeconds = 1800L

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  final case class OpenSession(seq: Long, startSec: Long, lastSec: Long, lastMs: Long, n: Long)
  final case class Session(user_id: Long, session_seq: Long, n_events: Long, duration_seconds: Long)

  private def stateFn(
      uid: Long,
      evs: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) {
      // idle past the gap horizon: the open session is final — emit it
      val s = state.get
      state.remove()
      Iterator.single(Session(uid, s.seq, s.n, s.lastSec - s.startSec))
    } else {
      // micro-batch rows arrive unordered: buffer and order by event time
      val sorted = evs.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var cur = state.getOption.orNull
      sorted.foreach { e =>
        val ms = e.ts.getTime
        val sec = Math.floorDiv(ms, 1000L)
        if (cur == null) cur = OpenSession(1L, sec, sec, ms, 1L)
        else if (sec - cur.lastSec > GapSeconds) {
          out += Session(uid, cur.seq, cur.n, cur.lastSec - cur.startSec)
          cur = OpenSession(cur.seq + 1, sec, sec, ms, 1L)
        } else {
          // an event arriving out-of-order ACROSS micro-batches (sec <
          // lastSec; within a batch we sort) folds into the open session
          // without regressing its frontier — otherwise later gap
          // decisions, the timeout timestamp, and durations would move
          // backwards and diverge from the batch answer.
          // RESIDUAL DIVERGENCE (documented, not folded): startSec is
          // also never extended BACKWARD, so a cross-batch late event
          // with ts < the open session's first-seen event (possible
          // inside the 1h watermark vs the 1800s gap) yields a shorter
          // duration_seconds than the batch oracle's max(ts)-min(ts).
          // Folding startSec with min would trade one divergence for
          // another: batch would often assign that event to an EARLIER
          // session entirely. The near-ordered-fixture contract (the
          // equivalence spec's input shape) keeps both shapes out.
          cur = cur.copy(
            lastSec = math.max(cur.lastSec, sec),
            lastMs = math.max(cur.lastMs, ms),
            n = cur.n + 1)
        }
      }
      state.update(cur)
      // close the open session when the watermark passes its gap horizon
      state.setTimeoutTimestamp(cur.lastMs + GapSeconds * 1000L)
      out.iterator
    }
  }

  /** Streaming events parquet → closed-session rows. */
  def sessionStream(
      spark: SparkSession,
      eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[Session] = {
    import spark.implicits._
    Drain.files(spark, eventsDir, maxFilesPerTrigger)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"))
      .withWatermark("ts", "0 seconds")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn)
  }

  /** The closed sessions of one append-mode drain (`Drain.rows`).
    *
    * `fireTimeouts = false` (the oracle-checked mode) disables the final
    * no-data micro-batch, so ONLY gap-closed sessions emit — a crisp
    * relational predicate (every session except each user's last). With
    * `true`, the final no-data batch advances the watermark to the max
    * event time and idle sessions ALSO close via event-time timeout —
    * the production behavior, but its emitted set depends on a
    * watermark-vs-timeout boundary comparison that is not worth pinning
    * across engines (the spec covers it instead).
    */
  def sessions(
      spark: SparkSession,
      eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      fireTimeouts: Boolean): DataFrame = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, fireTimeouts.toString)
    try Drain.rows(sessionStream(spark, eventsDir, maxFilesPerTrigger), "append")
    finally saved.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }
}
