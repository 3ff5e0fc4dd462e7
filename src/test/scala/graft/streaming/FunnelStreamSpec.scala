package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** Streaming funnel == batch e11 on a chunked replay — compared at the
  * strongest granularity: the full per-user (stage, t) sets, derived
  * independently in the min-filter form the batch query uses (not the
  * streaming fold), then the e11 counts themselves.
  */
class FunnelStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming funnel stages equal batch e11's chain across a replay") {
    val ev = eventsTbl(spark, sf).select($"event_id", $"ts", $"user_id", $"event_type")
    val dir = StreamReplay.write("funnelreplay", ev,
      Seq((-1L, StreamReplay.sentinelTs(ev), -1L, "signup"))
        .toDF("event_id", "ts", "user_id", "event_type"))
    StreamReplay.run(spark, dir, "funstream")(src => FunnelStream.stages(src.as[FunnelStream.Ev]))

    val got = spark.table("funstream").filter($"user_id" =!= -1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // independent re-derivation in the batch min-filter form
    val evs = eventsTbl(spark, sf)
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"))
      .as[(Long, String, Long)].collect().groupBy(_._1)
    val want = evs.flatMap { case (u, rows) =>
      val ts = rows.filter(_._2 == "signup").map(_._3)
      if (ts.isEmpty) Nil
      else {
        val tS = ts.min
        val hits = List((u, "signup", tS))
        val cs = rows.filter(r => r._2 == "click" && r._3 > tS).map(_._3)
        if (cs.isEmpty) hits
        else {
          val tC = cs.min
          val hits2 = (u, "click", tC) :: hits
          val ps = rows.filter(r => r._2 == "purchase" && r._3 > tC).map(_._3)
          if (ps.isEmpty) hits2 else (u, "purchase", ps.min) :: hits2
        }
      }
    }.toSet
    assert(got == want, {
      val miss = want.diff(got).take(3)
      val extra = got.diff(want).take(3)
      s"stage sets differ; missing=$miss extra=$extra"
    })

    // and the e11 aggregate counts follow
    val e11 = graft.Catalog.byName("e11_funnel").run(spark, sf).collect()(0)
    assert(got.count(_._2 == "signup") == e11.getAs[Long]("n_signup"))
    assert(got.count(_._2 == "click") == e11.getAs[Long]("n_click_after"))
    assert(got.count(_._2 == "purchase") == e11.getAs[Long]("n_purchase_after"))
  }
}
