package graft.streaming

import EventTimeState.{drain, micros, wakeAt}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e11's ordered funnel (signup → click → purchase,
  * each stage the user's FIRST qualifying event strictly after the
  * previous stage): emits a `(user, stage, t)` row the moment a stage
  * becomes watermark-final. Batch's `min(t)`-per-stage equals the first
  * qualifying event in (ts, event_id) order, so a single forward fold
  * over watermark-final events reproduces the batch chain exactly — an
  * event can only influence a stage decision once no earlier-sorting
  * admissible event can still arrive (strictly ts < watermark, the
  * finality rule of [[EventTimeState.drain]]).
  *
  * State: the three resolved stage times plus the not-yet-final event
  * suffix, watermark-bounded; once the funnel completes the suffix is
  * dropped and the state is a constant-size tombstone. Steady-state
  * memory is O(users) like the batch per-user aggregates.
  */
object FunnelStream {

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  final case class StageHit(user_id: Long, stage: String, t: Long)

  /** (t_signup, t_click, t_purchase, pending (micros, event_id, type)). */
  type St = (Option[Long], Option[Long], Option[Long], List[(Long, Long, String)])

  private val Stages = Set("signup", "click", "purchase")

  /** The stage filter runs before the watermark, so events outside the
    * funnel never advance it. */
  def stages(events: Dataset[Ev]): Dataset[StageHit] =
    EventTimeState.keyed(events.filter(col("event_type").isin(Stages.toSeq: _*)))(
      _.user_id)(process)

  private[streaming] def process(
      userId: Long, events: Iterator[Ev], state: GroupState[St]): Iterator[StageHit] = {
    var (tS, tC, tP, pending) = state.getOption.getOrElse((None, None, None, Nil))
    val (done, rest) =
      drain(pending, events.map(e => (micros(e.ts), e.event_id, e.event_type)), state)
    val out = List.newBuilder[StageHit]
    done.foreach { case (t, _, tpe) =>
      tpe match {
        case "signup" if tS.isEmpty =>
          tS = Some(t); out += StageHit(userId, "signup", t)
        case "click" if tS.isDefined && tC.isEmpty && t > tS.get =>
          tC = Some(t); out += StageHit(userId, "click", t)
        case "purchase" if tC.isDefined && tP.isEmpty && t > tC.get =>
          tP = Some(t); out += StageHit(userId, "purchase", t)
        case _ => // non-qualifying under the ordered-chain rule
      }
    }
    val keep = if (tP.isDefined) Nil else rest
    state.update((tS, tC, tP, keep))
    keep.headOption.foreach(e => wakeAt(state, e._1))
    out.result().iterator
  }
}
