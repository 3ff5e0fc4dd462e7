package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** Streaming gap fill == batch e17 on a chunked file replay: same hours
  * (zeros included), same counts, same forward-filled revenues — and
  * each hour exactly once, so the stream is directly appendable.
  */
class GapFillStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming gap fill equals batch e17 across a 4-chunk replay") {
    val ev = eventsTbl(spark, sf).select($"ts", $"event_type", $"value")
    // far-future sentinel (own type) advances the watermark so every
    // real hour finalizes; its own single-hour series is filtered out
    val dir = StreamReplay.write("gapreplay", ev,
      Seq((StreamReplay.sentinelTs(ev), "_sentinel", 0.0)).toDF("ts", "event_type", "value"))
    StreamReplay.run(spark, dir, "gapstream")(src => GapFillStream.gapFill(src.as[GapFillStream.Ev]))

    val got = spark.table("gapstream")
      .filter($"event_type" =!= "_sentinel")
      .select($"event_type",
        date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"n_events", $"rev_filled")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap

    val batchRows = graft.Catalog.byName("e17_gap_fill").run(spark, sf).collect()
    val want = batchRows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap

    // every key exactly once in the stream output (appendability)
    assert(spark.table("gapstream").filter($"event_type" =!= "_sentinel").count() ==
      got.size, "an hour was emitted more than once")
    assert(got == want, {
      val onlyB = want.keySet.diff(got.keySet).take(3)
      val onlyS = got.keySet.diff(want.keySet).take(3)
      s"series mismatch; batch-only=$onlyB stream-only=$onlyS " +
        s"diffs=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}"
    })
    // the fixture genuinely exercised zero-filling through the stream
    assert(got.values.exists(_._1 == 0L), "no gap hours streamed")
  }
}
