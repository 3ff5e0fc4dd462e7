package graft.streaming

import graft.QueryHelpers.sumExact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the event analytics (SURVEY §2.3 last
  * row): watermarked tumbling/sliding windows, session windows, and
  * within-watermark dedup. Each transform takes the (possibly streaming)
  * `events` DataFrame — `readStream` → transform → `writeStream` at the
  * call site — and works identically on a batch frame, which is how
  * `EventStreamsSpec` proves them equal to the `graft.operators.Events`
  * batch duals on a file-replay source.
  *
  * Scale design: state is keyed by (window, event_type) or (user_id,
  * session) — the same shuffle keys as the batch plans — and the
  * watermark bounds state size: closed windows are evicted, so state is
  * O(active windows), not O(stream length). Skewed users are the known
  * residual risk, as in batch sessionization.
  */
object EventStreams {

  /** Max out-of-orderness tolerated before a window finalizes. */
  val Lateness = "2 hours"

  /** Streaming dual of e02_hourly_tumbling. */
  def hourlyTumbling(events: DataFrame): DataFrame =
    windowedCounts(events, window(col("ts"), "1 hour"), "hour")

  /** Streaming dual of e05_sliding_window (1h window, 30m slide). */
  def slidingWindow(events: DataFrame): DataFrame =
    windowedCounts(events, window(col("ts"), "1 hour", "30 minutes"), "win_start")

  /** Count and exact value sum per (`win`, event_type), each window
    * named by its formatted start in column `label`. */
  private def windowedCounts(events: DataFrame, win: Column, label: String): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as(label),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming dual of e04_sessionize: native session windows with the
    * same 30-minute inactivity gap. (Boundary note: `session_window`
    * splits at gap ≥ 30min where the batch gaps-and-islands splits at
    * strict >; identical unless a gap is exactly 1800.000000s.) */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        date_format(date_trunc("second", col("session_window.start")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drops event_id duplicates while only keeping
    * state inside the watermark horizon (bounded state — the streaming
    * face of d01-style exact dedup). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: every purchase paired with the same
    * user's clicks in the preceding hour. Both sides carry watermarks and
    * the time-range predicate bounds join state on BOTH sides (Spark can
    * evict clicks older than purchase-watermark − 1h and purchases older
    * than click-watermark). Batch dual: e09_click_attribution — times
    * compare as integer microseconds in both. */
  def clickAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", Lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", Lateness)
    // the range predicate stays DIRECTLY on the timestamp columns:
    // Spark's StreamingJoinHelper can only derive state-eviction
    // watermarks from plain attribute/interval arithmetic — wrapping the
    // condition in unix_micros() silently disables eviction and join
    // state grows without bound. (Timestamps are already whole micros, so
    // the comparison is identical either way; the micros projection below
    // is fine — only the JOIN CONDITION is constrained.)
    purchases.join(clicks,
      expr("""user_id = p_user AND
              click_ts >= purchase_ts - INTERVAL 1 HOUR AND click_ts <= purchase_ts"""))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (expr("unix_micros(purchase_ts) - unix_micros(click_ts)")).as("gap_micros"))
  }
}
