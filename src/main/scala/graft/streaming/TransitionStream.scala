package graft.streaming

import EventTimeState.{drain, micros, wakeAt}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e13's first-order transition matrix: per-user event
  * chains finalized under the watermark, emitted as raw `(user, prev,
  * cur)` transition pairs (the matrix itself is a trivial downstream
  * aggregation — emitting pairs keeps the operator composable and the
  * sink idempotent per pair).
  *
  * Correctness rule (the subtle one, mirroring [[StatefulSessions]]): a
  * transition a→b is final only when the WATERMARK passes b — a later
  * micro-batch may still deliver an admissible event (ts ≥ watermark)
  * that sorts between a and b and would change the chain. So the state
  * buffers the not-yet-finalizable suffix, bounded by the watermark
  * horizon, plus ONE anchor (the last finalized event): the anchor is
  * the only part that never expires — a user's next event may arrive
  * arbitrarily later — making steady-state memory O(users), exactly the
  * last-event-per-user a batch lag() would need anyway.
  *
  * Tie order matches batch e13: (ts, event_id). An event with ts equal
  * to b's but a smaller id could still displace b, so finality requires
  * strictly ts < watermark (an event AT the watermark is admissible).
  */
object TransitionStream {

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  final case class Transition(user_id: Long, prev_type: String, event_type: String)

  /** (micros, event_id, type): anchor + chronological pending suffix. */
  type St = (Option[(Long, Long, String)], List[(Long, Long, String)])

  def transitions(events: Dataset[Ev]): Dataset[Transition] =
    EventTimeState.keyed(events)(_.user_id)(process)

  private[streaming] def process(
      userId: Long, events: Iterator[Ev], state: GroupState[St]): Iterator[Transition] = {
    val (anchor, pending) = state.getOption.getOrElse((None, Nil))
    val (done, rest) =
      drain(pending, events.map(e => (micros(e.ts), e.event_id, e.event_type)), state)
    val chain = anchor.toList ++ done
    state.update((chain.lastOption, rest))
    // wake when the watermark passes the earliest pending event so its
    // transition finalizes even if the user goes quiet
    rest.headOption.foreach(e => wakeAt(state, e._1))
    chain.zip(chain.drop(1)).map { case (a, e) => Transition(userId, a._3, e._3) }.iterator
  }
}
