package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** Streaming rolling WAU == batch e15 on a chunked file replay: same
  * observed days, same exact distinct counts, each day exactly once.
  */
class WauStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming rolling WAU equals batch e15 across a 4-chunk replay") {
    val ev = eventsTbl(spark, sf).select($"ts", $"user_id")
    // far-future sentinel closes every real day; its own day is dropped
    // from the comparison (it IS observed, 10 days past the real data,
    // so none of its 7 contribution days overlap real ones)
    val sentinelTs = StreamReplay.sentinelTs(ev)
    val sentinelDay = sentinelTs.toInstant.atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString
    val dir = StreamReplay.write("waureplay", ev, Seq((sentinelTs, -1L)).toDF("ts", "user_id"))
    StreamReplay.run(spark, dir, "waustream")(WauStream.rollingWau)

    val gotRows = spark.table("waustream").filter($"day" =!= sentinelDay).collect()
    val got = gotRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotRows.length == got.size, "a day was emitted more than once")

    val want = graft.Catalog.byName("e15_rolling_wau").run(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("wau")).toMap
    assert(got == want, {
      val onlyB = want.keySet.diff(got.keySet).take(3)
      val onlyS = got.keySet.diff(want.keySet).take(3)
      s"WAU mismatch; batch-only=$onlyB stream-only=$onlyS " +
        s"diffs=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}"
    })
  }
}
