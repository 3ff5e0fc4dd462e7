package graft.streaming

import EventTimeState.{micros, wakeAt, watermarkUs}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Custom sessionization state machine on the keyed event-time state
  * of [[EventTimeState.keyed]] — the hand-rolled
  * counterpart of `EventStreams.sessionize` for session logic
  * `session_window` can't express (per-session custom accumulators,
  * emit-on-close semantics, cross-batch gap handling under a watermark).
  *
  * Correctness rule: a session closes only when the WATERMARK passes its
  * last event + gap — an in-batch split alone is not enough, because a
  * later micro-batch may still deliver an event (≥ watermark) that lands
  * inside the gap. State per user is the not-yet-finalizable suffix of
  * events, bounded by the watermark horizon (late events beyond the
  * watermark are dropped upstream by `withWatermark`).
  */
object StatefulSessions {

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)
  final case class SessionOut(user_id: Long, session_start: String, n_events: Long, sum_value: Double)

  /** buffered (micros, value) pairs awaiting finalization */
  type Buf = List[(Long, Double)]

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  def sessionize(events: Dataset[Ev], gapMicros: Long = 1800L * 1000000L): Dataset[SessionOut] =
    EventTimeState.keyed(events)(_.user_id)(process(gapMicros))

  private[streaming] def process(gapMicros: Long)(
      userId: Long, events: Iterator[Ev], state: GroupState[Buf]): Iterator[SessionOut] = {
    val buffered = state.getOption.getOrElse(Nil)
    val all = (buffered ++ events.map(e => (micros(e.ts), e.value))).sortBy(_._1)
    if (all.isEmpty) { state.remove(); return Iterator.empty }

    val wmMicros = watermarkUs(state)

    // split into gap-delimited sessions (strict >, matching the batch
    // gaps-and-islands in e04)
    val sessions = all.tail.foldLeft(List(List(all.head))) { (acc, ev) =>
      if (ev._1 - acc.head.head._1 > gapMicros) List(ev) :: acc
      else (ev :: acc.head) :: acc.tail
    }.map(_.reverse).reverse // chronological sessions, chronological events

    // a session is final when no admissible future event can extend it
    val (closed, open) = sessions.partition(s => s.last._1 + gapMicros <= wmMicros)

    if (open.isEmpty) state.remove()
    else {
      state.update(open.flatten)
      // wake up when the watermark passes the EARLIEST open session's
      // close point (a later session's close point would delay emitting
      // earlier finished sessions for a quiet user); each wake-up re-arms
      // for the next session still open (last event and gap each in
      // whole ms)
      wakeAt(state, (open.head.last._1 / 1000L + gapMicros / 1000L) * 1000L)
    }

    closed.iterator.map { s =>
      SessionOut(userId,
        Fmt.format(java.time.Instant.ofEpochSecond(s.head._1 / 1000000L)),
        s.length.toLong,
        s.map(_._2).sum)
    }
  }
}
