package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** Streaming as-of enrichment == batch e08 on a chunked file replay:
  * same (last_purchase_id, gap) for every event, including NULLs for
  * events with no prior purchase and gap-0 self-matches for purchases.
  */
class AsofStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming as-of enrichment equals batch e08 across a 4-chunk replay") {
    val ev = eventsTbl(spark, sf).select($"event_id", $"ts", $"user_id", $"event_type")
    // far-future sentinel advances the watermark so every real event
    // finalizes; its own user (-1) is filtered from the comparison
    val dir = StreamReplay.write("asofreplay", ev,
      Seq((-1L, StreamReplay.sentinelTs(ev), -1L, "x"))
        .toDF("event_id", "ts", "user_id", "event_type"))
    StreamReplay.run(spark, dir, "asofstream")(src => AsofStream.enrich(src.as[AsofStream.Ev]))

    val got = spark.table("asofstream").filter($"user_id" =!= -1L)
      .collect().map { r =>
        r.getLong(0) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))
      }.toMap

    val batch = graft.Catalog.byName("e08_asof_last_purchase").run(spark, sf)
      .collect().map { r =>
        r.getLong(0) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))
      }.toMap

    assert(got.size == batch.size, s"row counts: stream ${got.size} vs batch ${batch.size}")
    assert(got == batch, {
      val diffs = batch.collect {
        case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k))
      }.take(5)
      s"enrichment mismatch, first diffs (event_id, batch, stream): $diffs"
    })
    // the fixture must exercise all three shapes: no-purchase NULLs,
    // strictly-prior matches, and gap-0 same-time (self) matches
    assert(batch.values.exists(_._1.isEmpty), "fixture has no-purchase events")
    assert(batch.values.exists(v => v._1.nonEmpty && v._2.exists(_ > 0)), "prior matches")
    assert(batch.values.exists(_._2.contains(0L)), "gap-0 same-time matches")
  }
}
