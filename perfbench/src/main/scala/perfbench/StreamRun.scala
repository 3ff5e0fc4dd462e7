package perfbench

import graft.CacheRegistry
import graft.pipeline.StreamingCuration
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.jdk.CollectionConverters._

/** One micro-batch as `StreamingQueryProgress` reported it. */
final case class BatchSeen(pass: Int, batchId: Long, inputRows: Long, durations: Map[String, Long])

/** Streaming curation: `StreamingCuration` over the bundled documents in
  * fixed ascending-doc_id chunks, one file per micro-batch under
  * `Trigger.AvailableNow`. A pass streams every chunk into a fresh
  * warehouse database and checkpoint, so each batch appends to the curated
  * table and probes its `_sigs` history as dedup state. An operation is
  * one micro-batch's `triggerExecution`. The catalog's traced run runs
  * one pass of it to measure the streaming layers. */
final class StreamWorkload(spark: SparkSession, dataSrc: Path, work: Path, chunks: Int,
    expectDelivered: Long, expectSigs: Long) extends Workload {

  private var src: String = _
  private var pass = 0
  val batches = scala.collection.mutable.ArrayBuffer.empty[BatchSeen]
  val databases = scala.collection.mutable.ArrayBuffer.empty[String]
  private val passCounts = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  private def docs: DataFrame =
    spark.read.parquet(dataSrc.resolve("documents.parquet").toString).select("doc_id", "text")

  /** Writes one parquet file per chunk and stamps increasing modification
    * times, which is the order the file source lists them in. */
  private def stageChunks(df: DataFrame, dest: Path, n: Int): String = {
    val tmp = dest.resolve("_parts")
    df.withColumn("_chunk", ntile(n).over(Window.orderBy(col("doc_id"))))
      .repartition(n, col("_chunk")).sortWithinPartitions("doc_id")
      .write.partitionBy("_chunk").parquet(tmp.toString)
    val t0 = 1700000000000L
    (1 to n).foreach { c =>
      val part = Files.list(tmp.resolve(s"_chunk=$c"))
      val f = try part.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      val to = dest.resolve(f"chunk-$c%03d.parquet")
      Files.move(f, to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(t0 + c * 1000L))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    dest.toString
  }

  def stage(rep: Int): Unit = {
    val d = work.resolve(s"chunks$rep")
    Files.createDirectories(d)
    src = stageChunks(docs, d, chunks)
  }

  def warmup(): Unit = {
    val d = work.resolve("warm_chunks")
    Files.createDirectories(d)
    runPass(stageChunks(docs.filter(col("doc_id") % 10 === 0), d, 1), "pb_stream_warm", Tracer.off)
  }

  private def fileStream(dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  private def runPass(dir: String, db: String, tracer: Tracer): Seq[StreamingQueryProgress] = {
    CacheRegistry.unpersistAll(blocking = true)
    val cp = work.resolve(s"cp_$db").toString
    tracer.span("stream.pass", db) {
      val q = StreamingCuration.start(fileStream(dir), "curated", cp, database = db)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq
    }
  }

  def run(seconds: Double, minPasses: Int, tracer: Tracer): Phase = {
    val before = batches.length
    val passes = Workload.repeat(seconds, minPasses) {
      val p0 = System.nanoTime()
      val db = s"pb_stream_$pass"
      val progress = runPass(src, db, tracer)
      val s = (System.nanoTime() - p0) / 1e9
      val from = batches.length
      databases += db
      // AvailableNow can report a batch more than once; the event with
      // input rows and the longest trigger is the one that did the work
      progress.filter(_.numInputRows > 0).groupBy(_.batchId).toSeq.sortBy(_._1).foreach {
        case (id, ps) =>
          val p = ps.maxBy(x => Option(x.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
          batches += BatchSeen(pass, id, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap)
      }
      pass += 1
      val mine = batches.drop(from)
      Pass(s, mine.length, mine.map(_.inputRows).sum)
    }
    val lat = batches.drop(before).toSeq.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
    Phase(lat, if (lat.isEmpty) 0.0 else Stats.median(lat), passes)
  }

  def counts(db: String): (Long, Long) =
    (spark.table(s"`$db`.`curated`").count(), spark.table(s"`$db`.`curated_sigs`").count())

  /** Every pass must deliver the recorded curated and signature-history
    * row counts, and every chunk must arrive as its own batch. */
  def check(): Check = {
    val notes = Vector.newBuilder[String]
    var failed = 0L
    databases.zipWithIndex.foreach { case (db, i) =>
      val (d, s) = counts(db)
      val n = batches.count(_.pass == i)
      passCounts += Map("db" -> db, "delivered" -> d, "sigs" -> s, "batches" -> n)
      if (d != expectDelivered || s != expectSigs || n != chunks) {
        failed += n
        notes += s"$db: delivered $d (want $expectDelivered), sigs $s (want $expectSigs), $n batches"
      }
    }
    Check(batches.length.toLong, failed, notes.result())
  }

  override def report: Map[String, Any] = Map("passes" -> passCounts.toSeq)
}
