package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, ntile}
import org.apache.spark.sql.streaming.Trigger

/** The file replay of the streaming == batch specs: a table written as
  * four time-ordered parquet files plus a far-future sentinel file,
  * streamed one file per micro-batch into a memory table. The sentinel
  * moves the watermark past every real event, so Append mode has
  * emitted every real row when the `AvailableNow` run ends.
  */
object StreamReplay {

  /** 10 days past the last `ts` of `events`: a sentinel event there
    * closes every real window, session and day. */
  def sentinelTs(events: DataFrame): java.sql.Timestamp =
    java.sql.Timestamp.from(
      events.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant.plusSeconds(10 * 86400))

  /** A fresh temp dir holding `events` as 4 time-ordered chunks (ntile
    * over ts), one file each, then `sentinel` as a fifth file. */
  def write(prefix: String, events: DataFrame, sentinel: DataFrame): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val chunked = events.withColumn("chunk", ntile(4).over(Window.orderBy(col("ts"))))
    (1 to 4).foreach { c =>
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    sentinel.coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  /** Streams `dir` one file per trigger through `transform` into the
    * memory table `name` until the files run out; returns that table. */
  def run(spark: SparkSession, dir: String, name: String)(
      transform: DataFrame => Dataset[_]): DataFrame = {
    val src = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    transform(src).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.table(name)
  }
}
