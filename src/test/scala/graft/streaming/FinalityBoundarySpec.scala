package graft.streaming

import java.sql.Timestamp
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** The watermark boundary of every keyed event-time stream, checked by
  * calling each `process` directly on a [[TestGroupState]] whose
  * watermark sits exactly on an event. The replay specs never reach it:
  * their far-future sentinel moves the watermark past every real event.
  *
  * Event streams (Transition, Funnel, Asof): an event at ts == watermark
  * stays pending and emits nothing, an earlier one emits, and the
  * timeout is armed at the pending head's ms + 1. Window streams close
  * a window once the watermark reaches its end: a session whose
  * last + gap == watermark, a WAU day whose end == watermark.
  */
class FinalityBoundarySpec extends AnyFunSuite {

  /** The watermark of every case: 2024-06-01T12:00:00Z in epoch ms. */
  private val W = java.time.Instant.parse("2024-06-01T12:00:00Z").toEpochMilli

  private def at(ms: Long): Timestamp = new Timestamp(ms)

  private def state[S](wmMs: Long): TestGroupState[S] =
    TestGroupState.create[S](
      optionalState = Optional.empty[S](),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = Optional.of(wmMs),
      hasTimedOut = false)

  private def timeoutMs(st: TestGroupState[_]): Option[Long] =
    if (st.getTimeoutTimestampMs.isPresent) Some(st.getTimeoutTimestampMs.get.asInstanceOf[Long])
    else None

  test("TransitionStream: an event at the watermark stays pending, an earlier one emits") {
    val st = state[TransitionStream.St](W)
    val out = TransitionStream.process(7L, Iterator(
      TransitionStream.Ev(1L, at(W - 2), 7L, "a"),
      TransitionStream.Ev(2L, at(W - 1), 7L, "b"),
      TransitionStream.Ev(3L, at(W), 7L, "c")), st).toList
    assert(out == List(TransitionStream.Transition(7L, "a", "b")))
    assert(st.get == ((Some(((W - 1) * 1000L, 2L, "b")), List((W * 1000L, 3L, "c")))))
    assert(timeoutMs(st) == Some(W + 1))
    // a user's first event, at the watermark: no anchor, nothing final
    val first = state[TransitionStream.St](W)
    assert(TransitionStream.process(8L,
      Iterator(TransitionStream.Ev(4L, at(W), 8L, "a")), first).isEmpty)
    assert(first.get == ((None, List((W * 1000L, 4L, "a")))))
    assert(timeoutMs(first) == Some(W + 1))
  }

  test("FunnelStream: a stage at the watermark stays pending, an earlier one emits") {
    val st = state[FunnelStream.St](W)
    val out = FunnelStream.process(7L, Iterator(
      FunnelStream.Ev(1L, at(W - 1), 7L, "signup"),
      FunnelStream.Ev(2L, at(W), 7L, "click")), st).toList
    assert(out == List(FunnelStream.StageHit(7L, "signup", (W - 1) * 1000L)))
    assert(st.get == ((Some((W - 1) * 1000L), None, None, List((W * 1000L, 2L, "click")))))
    assert(timeoutMs(st) == Some(W + 1))
  }

  test("AsofStream: an event at the watermark stays pending, an earlier one emits") {
    val st = state[AsofStream.St](W)
    val out = AsofStream.process(7L, Iterator(
      AsofStream.Ev(1L, at(W - 1), 7L, "purchase"),
      AsofStream.Ev(2L, at(W), 7L, "click")), st).toList
    assert(out == List(AsofStream.Enriched(1L, 7L, (W - 1) * 1000L, Some(1L), Some(0L))))
    assert(st.get == ((Some(((W - 1) * 1000L, 1L)), List((W * 1000L, 2L, "click")))))
    assert(timeoutMs(st) == Some(W + 1))
  }

  test("StatefulSessions: a session whose last + gap equals the watermark closes") {
    val gapMs = 1800L * 1000L
    val st = state[StatefulSessions.Buf](W)
    val out = StatefulSessions.process(gapMs * 1000L)(7L, Iterator(
      StatefulSessions.Ev(1L, at(W - gapMs), 7L, 2.5),
      StatefulSessions.Ev(2L, at(W + 1), 7L, 4.0)), st).toList
    assert(out == List(StatefulSessions.SessionOut(7L, "2024-06-01 11:30:00", 1L, 2.5)))
    assert(st.get == List(((W + 1) * 1000L, 4.0)))
    assert(timeoutMs(st) == Some(W + 1 + gapMs + 1))
  }

  test("WauStream: a day whose end equals the watermark emits, one ms earlier it waits") {
    val day = java.time.LocalDate.parse("2024-06-01").toEpochDay
    val endMs = (day + 1L) * 86400L * 1000L
    def run(wmMs: Long) = {
      val st = state[WauStream.St](wmMs)
      val out = WauStream.process(day, Iterator(
        WauStream.Contrib(day, 7L, observed = true, at(endMs - 1)),
        WauStream.Contrib(day, 8L, observed = false, at(endMs - 2))), st).toList
      (out, st)
    }
    val (closed, closedSt) = run(endMs)
    assert(closed == List(WauStream.WauRow("2024-06-01", 2L)))
    assert(closedSt.isRemoved)
    val (open, openSt) = run(endMs - 1)
    assert(open.isEmpty)
    assert(openSt.get == ((Set(7L, 8L), true)))
    assert(timeoutMs(openSt) == Some(endMs + 1))
  }
}
