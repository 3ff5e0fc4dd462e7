package graft.streaming

import EventTimeState.{micros, wakeAt, watermarkUs}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e17's gap-filled hourly series: per event_type,
  * every hour from the type's first observed hour onward is emitted
  * EXACTLY ONCE, in order — explicit zero rows for empty hours, last
  * known hourly revenue carried forward — as the watermark finalizes it.
  * A dashboard consuming this stream sees the same contiguous series the
  * batch query computes, minutes after each hour closes.
  *
  * Finality and bounds (the [[EventTimeState]] discipline): hour h is
  * emitted once (a) the watermark passed its END (h+1h ≤ wm — any event
  * belonging to h would now be dropped as late, so h's count is frozen),
  * and (b) h does not run past the type's LATEST OBSERVED hour — batch
  * e17 bounds each span at max(observed), so trailing zeros past the
  * last event would diverge from the batch dual (an interior gap hour is
  * always backed by a later observed event that proves the span covers
  * it). Zeros therefore stream out only as later data finalizes, exactly
  * like the batch grid.
  *
  * State per type: last emitted hour + last non-null revenue (the
  * forward-fill carry — never expires, O(|event types|)), the max
  * observed hour, and the not-yet-final pending hour accumulators
  * (bounded by the watermark horizon: hours older than wm-1h finalize
  * and leave). Revenue accumulates in the engine-wide fixed-point
  * contract (floor(v*1e6+0.5) summed in i64, divided once at emission),
  * so streamed values are bit-identical to batch sumExact.
  */
object GapFillStream {

  final case class Ev(ts: java.sql.Timestamp, event_type: String, value: java.lang.Double)
  final case class HourRow(event_type: String, hour: java.sql.Timestamp,
      n_events: Long, rev_filled: java.lang.Double)

  /** (lastEmittedHour, lastRevScaled, maxObservedHour, pending hour →
    * (count, revScaled)) — micros everywhere; revs None until a non-null
    * value lands. */
  type St = (Option[Long], Option[Long], Option[Long], Map[Long, (Long, Option[Long])])

  private val HourUs = 3600L * 1000000L

  def gapFill(events: Dataset[Ev]): Dataset[HourRow] =
    EventTimeState.keyed(events)(_.event_type)(process)

  private[streaming] def process(eventType: String, events: Iterator[Ev],
      state: GroupState[St]): Iterator[HourRow] = {
    var (lastHour, lastRev, maxObs, pending) =
      state.getOption.getOrElse((None, None, None, Map.empty[Long, (Long, Option[Long])]))
    events.foreach { e =>
      val h = Math.floorDiv(micros(e.ts), HourUs) * HourUs
      val (n0, r0) = pending.getOrElse(h, (0L, None))
      val r1 =
        if (e.value == null) r0
        else Some(r0.getOrElse(0L) + math.floor(e.value * 1e6 + 0.5).toLong)
      pending = pending.updated(h, (n0 + 1L, r1))
      if (!maxObs.exists(_ >= h)) maxObs = Some(h)
    }
    val wm = watermarkUs(state)
    val out = List.newBuilder[HourRow]
    if (maxObs.nonEmpty) {
      var h = lastHour.map(_ + HourUs)
        .orElse(if (pending.isEmpty) None else Some(pending.keys.min))
        .getOrElse(Long.MaxValue)
      while (h + HourUs <= wm && h <= maxObs.get) {
        val (n, rev) = pending.getOrElse(h, (0L, None))
        pending = pending - h
        if (rev.isDefined) lastRev = rev
        out += HourRow(eventType, new java.sql.Timestamp(h / 1000L), n,
          lastRev.map(s => java.lang.Double.valueOf(s.toDouble / 1e6)).orNull)
        lastHour = Some(h)
        h += HourUs
      }
    }
    state.update((lastHour, lastRev, maxObs, pending))
    if (pending.nonEmpty)
      // wake when the watermark passes the earliest unemitted hour's end
      // so a quiet type still drains its finalized (and gap) hours
      wakeAt(state, pending.keys.min + HourUs)
    out.result().iterator
  }
}
