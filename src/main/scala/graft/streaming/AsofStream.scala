package graft.streaming

import EventTimeState.{drain, micros, wakeAt}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e08's AS-OF enrichment: every event is annotated
  * with the user's most recent prior-or-same-time 'purchase' (id and
  * gap), finalized under the watermark — the classic "enrich a click
  * stream with the last conversion" state shape.
  *
  * Semantics mirror batch e08 / [[graft.operators.AsofJoin]] exactly:
  * the right side is deduped to MAX(event_id) per (user, time), and the
  * as-of comparison is `t >= pt` — so every purchase AT time t enriches
  * every event AT t (a purchase enriches itself at gap 0), regardless of
  * event_id order inside the tie. The loop therefore finalizes whole
  * same-timestamp GROUPS: fold the group's purchases into the
  * last-purchase slot first, then emit the group's events.
  *
  * Finality rule ([[EventTimeState.drain]]): a group
  * at time t is final only when the watermark passes t strictly — an
  * admissible late purchase (ts ≥ watermark) at pt ≤ t would change the
  * enrichment otherwise. State is ONE anchor (the last finalized
  * purchase — never expires: the user's next event may arrive
  * arbitrarily later) plus the watermark-bounded pending suffix:
  * steady-state memory O(users), exactly the per-user row a batch as-of
  * window carries.
  */
object AsofStream {

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  final case class Enriched(event_id: Long, user_id: Long, t_micros: Long,
      last_purchase_id: Option[Long], gap_micros: Option[Long])

  /** ((last purchase micros, max purchase id at that time), pending). */
  type St = (Option[(Long, Long)], List[(Long, Long, String)])

  def enrich(events: Dataset[Ev]): Dataset[Enriched] =
    EventTimeState.keyed(events)(_.user_id)(process)

  private[streaming] def process(
      userId: Long, events: Iterator[Ev], state: GroupState[St]): Iterator[Enriched] = {
    var (lp, pending) = state.getOption.getOrElse((None, Nil))
    val (done, rest) =
      drain(pending, events.map(e => (micros(e.ts), e.event_id, e.event_type)), state)
    val out = List.newBuilder[Enriched]
    // a same-ts group lies wholly in the final prefix or wholly past it
    var todo = done
    while (todo.nonEmpty) {
      val t = todo.head._1
      val (grp, tail) = todo.span(_._1 == t)
      val purch = grp.filter(_._3 == "purchase")
      if (purch.nonEmpty) {
        val pid = purch.map(_._2).max
        lp = lp match {
          // same-time purchases merge by max id (the batch right-side
          // dedup); a strictly later time replaces the anchor
          case Some((pt, id)) if pt == t => Some((t, math.max(id, pid)))
          case _ => Some((t, pid))
        }
      }
      grp.foreach { case (_, eid, _) =>
        out += Enriched(eid, userId, t, lp.map(_._2), lp.map(t - _._1))
      }
      todo = tail
    }
    state.update((lp, rest))
    // wake when the watermark passes the earliest pending group so it
    // finalizes even if the user goes quiet
    rest.headOption.foreach(e => wakeAt(state, e._1))
    out.result().iterator
  }
}
