package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** The streaming transition chain == batch e13 on a chunked file replay:
  * same pairs, same multiplicities, hence the same matrix and (replayed
  * through the same floor-division) the same probabilities.
  */
class TransitionStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming transitions equal batch e13 across a 4-chunk replay") {
    val ev = eventsTbl(spark, sf).select($"event_id", $"ts", $"user_id", $"event_type")
    // far-future sentinel advances the watermark so every real
    // transition finalizes; its own user (-1) emits nothing (one event)
    val dir = StreamReplay.write("transreplay", ev,
      Seq((-1L, StreamReplay.sentinelTs(ev), -1L, "x"))
        .toDF("event_id", "ts", "user_id", "event_type"))
    StreamReplay.run(spark, dir, "transtream")(src => TransitionStream.transitions(src.as[TransitionStream.Ev]))

    val got = spark.table("transtream").filter($"user_id" =!= -1L)
      .groupBy($"prev_type", $"event_type").agg(count(lit(1)).as("transitions"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = graft.Catalog.byName("e13_type_transitions").run(spark, sf).collect()
    val want = batch.map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Long]("transitions")).toMap
    assert(got == want, {
      val onlyB = want.keySet.diff(got.keySet).take(3)
      val onlyS = got.keySet.diff(want.keySet).take(3)
      s"matrix mismatch; batch-only=$onlyB stream-only=$onlyS " +
        s"diffs=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}"
    })
    // probabilities replayed through the same floor division agree too
    val totals = want.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    batch.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val prob = want(k) * 1000000000000L / totals(k._1)
      assert(r.getAs[Long]("prob_fp") == prob, s"$k prob_fp mismatch")
    }
  }
}
