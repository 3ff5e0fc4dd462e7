package graft.streaming

import EventTimeState.{micros, wakeAt, watermarkUs}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e18's rolling anomaly detection: per event_type,
  * each OBSERVED hour's volume is z-scored against the previous 24
  * observed hourly buckets the moment the watermark finalizes it — the
  * alerting form of the batch monitor (a pipeline wants the spike flag
  * minutes after the hour closes, not at the next batch run).
  *
  * Parity contract: emitted rows EQUAL batch e18's (spec-pinned on a
  * chunked replay). The rolling window is observation-indexed exactly
  * like the batch ROWS frame — empty hours are skipped, not
  * zero-filled (compose [[GapFillStream]] upstream when time-indexed
  * history is wanted) — and a row is emitted only once its type has a
  * full 24-bucket history. The |z| > 3 flag is the same pure-integer
  * predicate ((c·24 − S)² > 9·(24·Q − S²)) and z the same single
  * division of exact i64 sums, so streamed values are bit-identical.
  *
  * Bucket identity is the formatted LOCAL hour string — the exact
  * grouping key batch e18 produces with date_trunc + date_format in the
  * session timezone. Keying state by the string (not the bucket-start
  * instant) makes the parity hold in DST zones too: in a fall-back
  * overlap the repeated local hour covers TWO instant ranges an hour
  * apart, batch merges them into one "01:00:00" bucket, and so does the
  * stream — the bucket finalizes only once the watermark passes the end
  * of the LATER range (until then an event could still arrive for it).
  * Spring-forward gaps produce no bucket in either engine (no instant
  * truncates into the skipped local hour).
  *
  * Finality and bounds (the [[GapFillStream]] discipline): hour h is
  * scored once the watermark passed the latest instant still belonging
  * to it (any event for h would now be dropped as late, so its count is
  * frozen). State per type: the last ≤24 finalized counts (a fixed
  * ring — O(|types| × 24) forever) plus the not-yet-final pending hour
  * accumulators (bounded by the watermark horizon). An event-time
  * timeout drains quiet types as the watermark advances.
  */
object AnomalyStream {

  final case class Ev(ts: java.sql.Timestamp, event_type: String)
  final case class AnomalyRow(event_type: String, hour: String, n: Long,
      z: java.lang.Double, is_anomaly: Boolean)

  /** (last ≤24 finalized counts, oldest first; local hour label → count) */
  type St = (List[Long], Map[String, Long])

  private val Fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  def anomalies(events: Dataset[Ev]): Dataset[AnomalyRow] = {
    // hour bucketing and labels follow the SESSION timezone, exactly
    // like batch e18's date_trunc/date_format — a UTC-pinned formatter
    // would silently break the streamed==batch parity on any session
    // whose timezone is not UTC (incl. half-hour-offset zones, where
    // even the bucket BOUNDARIES differ from epoch-hour multiples)
    val zone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    EventTimeState.keyed(events)(_.event_type)(process(zone))
  }

  /** Micros of the supremum instant of the bucket ENDING at local time
    * `ldtEnd` — its finality bound. The offset that matters is the one
    * valid just INSIDE the bucket (probe = ldtEnd − 1ns): if the bucket
    * overlaps a fall-back repetition the probe has two offsets and the
    * later instant (last entry of getValidOffsets — the post-transition
    * offset) closes the bucket; if the probe is in a spring-forward gap
    * the transition instant is the supremum. Probing ldtEnd itself
    * would over-wait: the hour BEFORE a fall-back overlap ends at the
    * overlap's FIRST instant, not its second. */
  private def latestInstantUs(ldtEnd: java.time.LocalDateTime,
      zone: java.time.ZoneId): Long = {
    val rules = zone.getRules
    val probe = ldtEnd.minusNanos(1)
    val offs = rules.getValidOffsets(probe)
    val inst =
      if (offs.isEmpty) rules.getTransition(probe).getInstant
      else ldtEnd.atOffset(offs.get(offs.size - 1)).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  private[streaming] def process(zone: java.time.ZoneId)(eventType: String,
      events: Iterator[Ev], state: GroupState[St]): Iterator[AnomalyRow] = {
    var (ring, pending) = state.getOption.getOrElse((Nil: List[Long], Map.empty[String, Long]))
    events.foreach { e =>
      // truncate to the hour IN THE SESSION ZONE, then key state by the
      // formatted local label — batch's grouping key verbatim, so DST
      // fall-back instants an hour apart land in the SAME bucket
      val k = Fmt.format(java.time.Instant.ofEpochSecond(
          micros(e.ts) / 1000000L, (micros(e.ts) % 1000000L) * 1000L)
        .atZone(zone).truncatedTo(java.time.temporal.ChronoUnit.HOURS))
      pending = pending.updated(k, pending.getOrElse(k, 0L) + 1L)
    }
    val wm = watermarkUs(state)
    // the watermark instant past which bucket k can no longer grow
    def endUs(k: String): Long =
      latestInstantUs(java.time.LocalDateTime.parse(k, Fmt).plusHours(1), zone)
    val out = List.newBuilder[AnomalyRow]
    // finalize observed hours in label order (= batch's ORDER BY hour);
    // takeWhile also guards the overlap hour, whose end instant is later
    // than its start + 1h — it must wait for its SECOND instant range
    pending.keys.toSeq.sorted.takeWhile(endUs(_) <= wm).foreach { k =>
      val n = pending(k)
      pending = pending - k
      if (ring.length == 24) {
        // BigInt throughout: s², 24·q, dev² and 9·varn overflow i64
        // from ~8.4e7 events/hour/type, where the batch form fails
        // LOUDLY under ANSI — driver-side Long arithmetic would wrap
        // SILENTLY instead, emitting a wrong flag at exactly the
        // volumes an anomaly detector targets. Within i64 range the
        // values (and the Double conversions feeding z) are identical
        // to the batch arithmetic; beyond it the stream keeps
        // producing correct answers where batch refuses (documented
        // divergence in the safe direction). Few rows reach this
        // point, so the boxed arithmetic costs nothing.
        var s = BigInt(0)
        var q = BigInt(0)
        ring.foreach { c => s += c; q += BigInt(c) * c }
        val dev = BigInt(n) * 24 - s
        val varn = q * 24 - s * s
        val z: java.lang.Double =
          if (varn > 0) java.lang.Double.valueOf(dev.toDouble / math.sqrt(varn.toDouble))
          else null
        out += AnomalyRow(eventType, k, n, z, dev * dev > varn * 9)
      }
      ring = (ring :+ n).takeRight(24)
    }
    state.update((ring, pending))
    if (pending.nonEmpty)
      // wake when the watermark passes the earliest unemitted hour's end
      wakeAt(state, pending.keys.map(endUs).min)
    out.result().iterator
  }
}
