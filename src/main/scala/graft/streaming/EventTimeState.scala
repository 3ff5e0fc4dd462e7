package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** The watermark-finality core of the `flatMapGroupsWithState` streams
  * (Structured Streaming's event-time state discipline): one keyed
  * chain, one microsecond clock, one finality drain and one wake-up.
  *
  * Finality rule: an event at ts is final once ts < watermark strictly.
  * An event AT the watermark is still admissible, so an earlier-sorting
  * event (same ts, smaller event_id) could still arrive and displace it.
  * Streams whose unit is a window (a session gap, an hour, a day) close
  * it once the watermark reaches the window's end instead, because every
  * later event for it would be dropped as late.
  */
object EventTimeState {

  /** A pending event: (micros, event_id, payload). */
  type Pending = (Long, Long, String)

  /** Exact epoch microseconds of a timestamp (whole ms + sub-ms nanos). */
  def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** The current watermark in epoch microseconds. */
  def watermarkUs(state: GroupState[_]): Long = state.getCurrentWatermarkMs() * 1000L

  /** `events` under the shared lateness watermark, grouped by `key`,
    * through `process` in Append mode with event-time timeouts and a
    * kryo-encoded state `S`. Filters and explodes that must not advance
    * the watermark belong in `events`, before this chain. */
  def keyed[T, K: TypeTag, S: ClassTag, U <: Product : TypeTag](events: Dataset[T])(key: T => K)(
      process: (K, Iterator[T], GroupState[S]) => Iterator[U]): Dataset[U] =
    events
      .withWatermark("ts", EventStreams.Lateness)
      .groupByKey(key)(ExpressionEncoder[K]())
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process)(
        Encoders.kryo[S], Encoders.product[U])

  /** The pending suffix merged with `incoming`, sorted by (micros,
    * event_id) and split at the first event not strictly before the
    * watermark: (final prefix, still-pending suffix). */
  def drain(pending: List[Pending], incoming: Iterator[Pending],
      state: GroupState[_]): (List[Pending], List[Pending]) = {
    val wm = watermarkUs(state)
    (pending ++ incoming).sortBy(e => (e._1, e._2)).span(_._1 < wm)
  }

  /** Arms the event-time timeout just past `us` (its ms + 1), so a quiet
    * key wakes once the watermark passes it. */
  def wakeAt(state: GroupState[_], us: Long): Unit = state.setTimeoutTimestamp(us / 1000L + 1L)
}
