package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import java.nio.file.Files

/** Streaming rolling-anomaly == batch e18 on a chunked file replay: the
  * same (type, hour) rows, the same exact z doubles and integer-decided
  * flags — and each scored hour exactly once, so the stream is directly
  * appendable as an alert feed.
  */
class AnomalyStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bucketing follows the session zone: half-hour offsets shift the hour boundaries") {
    // batch e18 truncates in the SESSION timezone; the stream must
    // agree even where the zone offset is not a whole hour — in
    // Asia/Kolkata (+05:30) the hour containing 00:45Z is the LOCAL
    // 06:00 bucket (starting 00:30Z). Direct kernel check via
    // TestGroupState; the pending key is batch's formatted label.
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def pendingKeys(zone: String): Set[String] = {
      val st = TestGroupState.create[AnomalyStream.St](
        optionalState = org.apache.spark.api.java.Optional.empty(),
        timeoutConf = GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
        hasTimedOut = false)
      val ts = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:45:00Z"))
      AnomalyStream.process(java.time.ZoneId.of(zone))(
        "t", Iterator(AnomalyStream.Ev(ts, "t")), st).toList
      st.get._2.keySet
    }
    assert(pendingKeys("UTC") == Set("2020-01-01 00:00:00"))
    assert(pendingKeys("Asia/Kolkata") == Set("2020-01-01 06:00:00"),
      "the +05:30 zone's hour bucket is the local 06:00 hour (starts 00:30Z)")
  }

  test("DST fall-back: the repeated local hour is ONE merged bucket, equal to batch") {
    // America/New_York, 2025-11-02: 02:00 EDT falls back to 01:00 EST,
    // so local hour 01:00 covers TWO instant ranges (05:00Z–07:00Z).
    // Batch e18 groups by the formatted local string and merges them;
    // the stream must emit the same single bucket with the combined
    // count — and only once the watermark passes the SECOND range.
    // Run both engines in a child session whose timezone is NY (the
    // shared session stays UTC for the parallel suites).
    val ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    import ns.implicits._

    val dir = Files.createTempDirectory("anomdst").toString
    // hourly volumes over 49 UTC hours spanning the transition; a late
    // spike exercises the flag through a full 24-bucket ring
    val rows = for {
      i <- 0 until 49
      cnt = if (i == 44) 200 else 5 + i % 7
      j <- 0 until cnt
    } yield {
      val inst = java.time.Instant.parse("2025-11-01T00:00:00Z")
        .plusSeconds(i * 3600L + j * 13L)
      (i.toLong * 1000 + j, java.sql.Timestamp.from(inst), j.toLong, "t", 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val batch = graft.Catalog.byName("e18_rolling_anomaly").run(ns, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap

    // time-ordered chunks: the watermark advances monotonically across
    // triggers, so no real event is ever dropped as late by the replay
    val ev = rows.map(r => (r._2, r._4)).toDF("ts", "event_type")
    val replay = StreamReplay.write("anomdstreplay", ev,
      Seq(Tuple2(java.sql.Timestamp.from(
          java.time.Instant.parse("2025-11-20T00:00:00Z")), "_sentinel"))
        .toDF("ts", "event_type"))
    StreamReplay.run(ns, replay, "anomdst")(src => AnomalyStream.anomalies(src.as[AnomalyStream.Ev]))
    val streamed = ns.table("anomdst").filter($"event_type" =!= "_sentinel").collect()
    val got = streamed
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap

    assert(streamed.length == got.size, "an hour was scored more than once")
    assert(got == batch, {
      val onlyB = batch.keySet.diff(got.keySet).take(3)
      val onlyS = got.keySet.diff(batch.keySet).take(3)
      s"DST parity broke; batch-only=$onlyB stream-only=$onlyS diffs=" +
        batch.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)
    })
    // the merged bucket must be present exactly once with BOTH instant
    // ranges' events: UTC hours 05Z (i=29 → 6 events) + 06Z (i=30 → 7)
    val overlap = got(("t", "2025-11-02 01:00:00"))
    assert(overlap._1 == 13L, s"overlap bucket count: $overlap")
    assert(got.values.exists(_._3), "spike not flagged through the stream")
  }

  test("streaming anomaly detection equals batch e18 across a 4-chunk replay") {
    val ev = eventsTbl(spark, sf).select($"ts", $"event_type")
    // far-future sentinel (own type) advances the watermark so every
    // real hour finalizes; its own series never reaches a full ring
    val dir = StreamReplay.write("anomreplay", ev,
      Seq(Tuple2(StreamReplay.sentinelTs(ev), "_sentinel")).toDF("ts", "event_type"))
    StreamReplay.run(spark, dir, "anomstream")(src =>
      AnomalyStream.anomalies(src.as[AnomalyStream.Ev]))

    val got = spark.table("anomstream")
      .filter($"event_type" =!= "_sentinel")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap
    val want = graft.Catalog.byName("e18_rolling_anomaly").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap

    assert(spark.table("anomstream").filter($"event_type" =!= "_sentinel").count() ==
      got.size, "an hour was scored more than once")
    assert(got == want, {
      val onlyB = want.keySet.diff(got.keySet).take(3)
      val onlyS = got.keySet.diff(want.keySet).take(3)
      s"mismatch; batch-only=$onlyB stream-only=$onlyS " +
        s"diffs=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}"
    })
    // the fixture must genuinely exercise the flag through the stream
    assert(got.values.exists(_._3), "no anomaly flagged in the streamed fixture")
    assert(got.values.exists(!_._3), "everything flagged — degenerate fixture")
  }
}
