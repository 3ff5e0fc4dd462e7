package graft.streaming

import graft.{SparkSpec, StreamReplay}
import graft.QueryHelpers.eventsTbl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming == batch equivalence on a file-replay source. The events
  * table is split into time-ordered files (multiple micro-batches via
  * maxFilesPerTrigger) plus a far-future sentinel event that advances the
  * watermark past every real window, so append-mode emits all of them
  * before AvailableNow terminates.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val replayDir: String = {
    val ev = eventsTbl(spark, sf).select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    // sentinel: 10 days past the end, closes every real window
    StreamReplay.write("replay", ev,
      Seq((-1L, StreamReplay.sentinelTs(ev), -1L, "sentinel", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
  }

  private def runStream(transform: DataFrame => DataFrame, name: String): DataFrame = {
    StreamReplay.run(spark, replayDir, name)(transform)
    if (name == "sess") spark.table(name).filter(col("user_id") =!= -1L)
    else spark.table(name).filter(col("event_type") =!= "sentinel")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("streaming tumbling window equals batch e02") {
    val got = runStream(EventStreams.hourlyTumbling, "tumb")
    val want = graft.Catalog.byName("e02_hourly_tumbling").run(spark, sf)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming sliding window equals batch e05") {
    val got = runStream(EventStreams.slidingWindow, "slide")
    val want = graft.Catalog.byName("e05_sliding_window").run(spark, sf)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming session windows equal batch e04 sessionization") {
    val got = runStream(EventStreams.sessionize, "sess")
    val want = graft.Catalog.byName("e04_sessionize").run(spark, sf)
      .select($"user_id", $"session_start", $"n_events", $"sum_value")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-stream interval join equals batch e09 click attribution") {
    val got = StreamReplay.run(spark, replayDir, "attrib")(EventStreams.clickAttribution)
    val want = graft.Catalog.byName("e09_click_attribution").run(spark, sf)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("late event inside the watermark lands in its original window") {
    // file1: on-time events at 10:00 and 12:59; file2: a LATE 10:30 event
    // (2.5h out of order but within the 2h lateness bound relative to the
    // watermark, which trails max-seen by 2h); file3: far-future sentinel
    val dir = Files.createTempDirectory("late").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-06-01 10:00:00"), 1L, "click", 1.0),
        (2L, ts("2024-06-01 12:59:00"), 1L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, ts("2024-06-01 10:30:00"), 1L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((4L, ts("2024-06-20 00:00:00"), -1L, "sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)

    StreamReplay.run(spark, dir, "late")(EventStreams.hourlyTumbling)
    val counts = spark.table("late").filter($"event_type" =!= "sentinel")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // the late 10:30 event must be aggregated into the 10:00 window
    assert(counts == Map("2024-06-01 10:00:00" -> 2L, "2024-06-01 12:00:00" -> 1L), counts)
  }

  test("within-watermark dedup: duplicated replay collapses to distinct event_ids") {
    // duplicate the whole stream: each event appears twice across files
    val dupDir = Files.createTempDirectory("replaydup").toString
    spark.read.parquet(replayDir).write.mode("overwrite").parquet(dupDir)
    spark.read.parquet(replayDir).write.mode("append").parquet(dupDir)
    val src = spark.readStream
      .schema(spark.read.parquet(dupDir).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(dupDir)
    val q = EventStreams.dedupEvents(src).writeStream
      .format("memory").queryName("dedup").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup")
    assert(got.count() == got.select("event_id").distinct().count())
    assert(got.filter($"event_id" >= 0).count() ==
      spark.read.parquet(replayDir).filter($"event_id" >= 0).count())
  }
}
