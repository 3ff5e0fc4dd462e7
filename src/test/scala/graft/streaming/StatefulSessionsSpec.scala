package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.functions._

/** flatMapGroupsWithState sessionizer == batch gaps-and-islands (e04) on
  * a file-replay stream. Session identity compares exactly; sum_value
  * compares within float tolerance (the stateful path sums doubles in
  * event order; the batch oracle path sums exactly via decimal).
  */
class StatefulSessionsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("custom-state sessionization equals batch e04 on replay") {
    val ev = eventsTbl(spark, sf).select($"event_id", $"ts", $"user_id", $"value")
    val dir = StreamReplay.write("sessreplay", ev,
      Seq((-1L, StreamReplay.sentinelTs(ev), -1L, 0.0)).toDF("event_id", "ts", "user_id", "value"))
    StreamReplay.run(spark, dir, "statesess")(src => StatefulSessions.sessionize(src.as[StatefulSessions.Ev]))

    val got = spark.table("statesess").filter($"user_id" =!= -1L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = graft.Catalog.byName("e04_sessionize").run(spark, sf)
      .select($"user_id", $"session_start", $"n_events", $"sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    assert(got.keySet == want.keySet, {
      val missing = want.keySet.diff(got.keySet).take(3)
      val extra = got.keySet.diff(want.keySet).take(3)
      s"session identity mismatch; missing=$missing extra=$extra"
    })
    want.foreach { case (k, (n, sum)) =>
      val (gn, gsum) = got(k)
      assert(gn == n, s"$k n_events: $gn != $n")
      assert(math.abs(gsum - sum) <= math.max(1e-9, math.abs(sum) * 1e-12),
        s"$k sum_value: $gsum vs $sum")
    }
  }
}
