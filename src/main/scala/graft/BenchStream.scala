package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-half benchmark: `runMain graft.Bench stream <sfDir>`.
  *
  * The 11 streaming duals and 3 delivery sinks are correctness-pinned
  * (streaming == batch on replay, spec-per-dual), but a cluster
  * operator's first question about any of them at 100 TB is rows/sec,
  * micro-batch latency, and state growth — numbers no spec produces.
  * This subcommand replays the scale-factor corpora through the three
  * streaming surfaces whose state models differ, so each documented
  * state bound becomes a measured per-batch curve:
  *
  *  - `curation` — [[graft.pipeline.StreamingCuration]] over the
  *    documents table in [[Chunks]] ascending-doc_id chunks. State lives
  *    in the WAREHOUSE (fingerprint column + `_sigs` signature history), not a
  *    state store; the artifact records each batch's trigger latency and
  *    the per-batch signature/delivered appends (the warehouse-side
  *    state growth).
  *  - `mat_agg` — [[graft.sinks.StreamingUpsert.startMaterializedAgg]]:
  *    update-mode `groupBy(user_id)` aggregate merged into a bucketed
  *    warehouse view. Streaming-agg state is O(distinct users) — the
  *    per-batch `state_rows` curve should approach the user universe and
  *    FLATTEN, not track rows seen.
  *  - `tumbling` — [[graft.streaming.EventStreams.hourlyTumbling]] with
  *    the 2h watermark: state is O(open windows), so `state_rows` should
  *    stay within (active hours + lateness horizon) × |event types| and
  *    drop as the watermark closes windows; a far-future sentinel (the
  *    EventStreamsSpec device) closes every real window before
  *    AvailableNow terminates.
  *
  * Metrics come from Spark's own `StreamingQueryProgress` (batchId,
  * numInputRows, triggerExecution ms, state rows/bytes) — the same
  * numbers a production listener would ship to a metrics bus. Replay
  * chunks are staged ONCE per run outside the timed window; timing
  * covers `start()` → `awaitTermination()`. The staged copies (corpus-
  * sized at the big tiers), the checkpoints and the scratch database are
  * deleted when the run ends, failed or not.
  *
  * Prints one compact JSON line last (the Bench stdout-framing
  * contract) and writes the full artifact to `STREAMBENCH[.sfN].json`
  * under the repo root, by [[Measure.artifactName]].
  */
object BenchStream {

  /** Micro-batches per workload; every committed artifact used 8. */
  val Chunks = 8

  private final case class BatchRow(batchId: Long, inputRows: Long,
      triggerMs: Long, stateRows: Long, stateBytes: Long)

  private final case class WorkloadResult(name: String, rowsIn: Long,
      wallS: Double, batches: Seq[BatchRow], note: String,
      extra: Seq[(String, String)] = Nil)

  /** Drain a finished query's progress history into per-batch rows
    * (input batches only — AvailableNow emits trailing zero-input
    * no-data triggers for watermark bookkeeping, and the same batchId
    * can appear in several progress events; keep the max-duration event
    * per batch, which is the one that did the work). */
  private def progressRows(q: StreamingQuery): Seq[BatchRow] =
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .groupBy(_.batchId).toSeq.sortBy(_._1)
      .map { case (id, ps) =>
        val p = ps.maxBy(x =>
          Option(x.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
        val st = p.stateOperators.toSeq
        BatchRow(id, ps.map(_.numInputRows).max,
          Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L),
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      }

  private def timedRun(start: => StreamingQuery): (StreamingQuery, Double) = {
    val (s, q) = Measure.seconds { val q = start; q.awaitTermination(); q }
    (q, s)
  }

  /** Stage `df` as [[Chunks]] sequential single-file parquet writes under
    * `dir` (the FileStreamSource orders by modification time, so
    * each write lands as one micro-batch under maxFilesPerTrigger=1);
    * `orderCol` defines the chunk boundaries — ascending doc_id for the
    * curation monotone-id contract, ts for the event streams. */
  private def stageChunks(df: DataFrame, orderCol: String, dir: String): String = {
    val chunked = df.withColumn("_chunk",
      ntile(Chunks).over(Window.orderBy(col(orderCol))))
    (1 to Chunks).foreach { c =>
      chunked.filter(col("_chunk") === c).drop("_chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60) // distinct mtimes → deterministic discovery order
    }
    dir
  }

  private def fileStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  def run(spark: SparkSession, sfDir: String): Unit = {
    val db = "graft_streambench"
    val temps = scala.collection.mutable.ListBuffer.empty[String]
    def temp(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      temps += d
      d
    }
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val results =
      try workloads(spark, sfDir, db, temp)
      finally {
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        temps.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      }
    def jBatches(bs: Seq[BatchRow]): String = bs.map { b =>
      s"""{"batch":${b.batchId},"input_rows":${b.inputRows},"trigger_ms":${b.triggerMs},""" +
        s""""state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}"""
    }.mkString("[", ",", "]")
    val wl = results.map { r =>
      val rps = if (r.wallS > 0) r.rowsIn / r.wallS else 0.0
      val extras = r.extra.map { case (k, v) => s"""${util.Json.quote(k)}:$v""" }
        .map("," + _).mkString
      util.Json.quote(r.name) + ":{" +
        s""""rows_in":${r.rowsIn},"wall_s":${math.rint(r.wallS * 1000) / 1000},""" +
        s""""rows_per_sec":${math.rint(rps * 10) / 10},"batches":${jBatches(r.batches)},""" +
        s""""note":${util.Json.quote(r.note)}$extras}"""
    }.mkString("{", ",", "}")
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val artifact = Measure.artifactName("STREAMBENCH", sfDir)
    val line = s"""{"metric":"stream","unit":"sec","sf":${util.Json.quote(sfDir)},""" +
      s""""chunks":$Chunks,"workloads":$wl,"artifact":${util.Json.quote(artifact)}}"""
    Measure.write(Measure.repoPath(artifact), line)
    println(line)
    val compact = results.map(r =>
      s"""${util.Json.quote(r.name)}:{"wall_s":${math.rint(r.wallS * 1000) / 1000},""" +
        s""""rows_per_sec":${math.rint((if (r.wallS > 0) r.rowsIn / r.wallS else 0.0) * 10) / 10}}""")
      .mkString("{\"metric\":\"stream\",", ",", s""","sf":${util.Json.quote(sfName)}}""")
    spark.stop()
    println(compact)
  }

  private def workloads(spark: SparkSession, sfDir: String, db: String,
      temp: String => String): Seq[WorkloadResult] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[WorkloadResult]

    // ---- curation: documents → quality gate → exact + near-dup vs corpus
    locally {
      val docs = QueryHelpers.tbl(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val src = stageChunks(docs, "doc_id", temp("streambench"))
      CacheRegistry.unpersistAll(blocking = true)
      val (q, wall) = timedRun(graft.pipeline.StreamingCuration.start(
        fileStream(spark, src), "sb_curated",
        temp("sbcur_cp"), database = db))
      val batches = progressRows(q)
      // warehouse-side state growth per batch (no state store here): the
      // ledgered _batch_id column makes the appends auditable post-hoc
      val bid = graft.sinks.StreamingDelivery.BatchIdCol
      def perBatch(table: String): Map[Long, Long] =
        spark.table(s"`$db`.`$table`").groupBy(col(bid)).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sigRows = perBatch("sb_curated_sigs")
      val delivered = perBatch("sb_curated")
      results += WorkloadResult("curation", n, wall,
        // state store is unused by design — surface the warehouse growth
        // in the state_rows slot as the CUMULATIVE signature history,
        // which is the structure every later batch probes
        batches.map { b =>
          val cum = sigRows.filter(_._1 <= b.batchId).values.sum
          b.copy(stateRows = cum, stateBytes = -1L)
        },
        "state lives in the warehouse (fingerprint anti-join + _sigs banded probe), " +
          "no state store; state_rows = cumulative signature-history rows each batch " +
          "probes (O(docs seen), compact residue — not document payloads); " +
          "state_bytes not applicable",
        Seq("delivered_rows" -> delivered.values.sum.toString,
          "sig_rows" -> sigRows.values.sum.toString))
    }

    // ---- mat_agg: update-mode per-user aggregate into the merge sink
    locally {
      val ev = QueryHelpers.eventsTbl(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      val src = stageChunks(ev, "ts", temp("streambench"))
      val agg = fileStream(spark, src).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), QueryHelpers.sumExact(col("value")).as("sum_value"))
      val (q, wall) = timedRun(graft.sinks.StreamingUpsert.startMaterializedAgg(
        agg, "sb_mv_user", Seq("user_id"),
        temp("sbmv_cp"), database = db))
      results += WorkloadResult("mat_agg", n, wall, progressRows(q),
        "streaming-agg state is O(distinct users): state_rows should approach the " +
          "user universe and flatten; trigger_ms includes the bucketed warehouse " +
          "merge (per-batch cost proportional to touched buckets)",
        Seq("view_rows" -> spark.table(s"`$db`.`sb_mv_user`").count().toString))
    }

    // ---- tumbling: watermarked hourly window dual (e02)
    locally {
      val ev = QueryHelpers.eventsTbl(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      val src = stageChunks(ev, "ts", temp("streambench"))
      // sentinel file last: advances the watermark past every real
      // window so append mode emits them before AvailableNow stops
      locally {
        import spark.implicits._
        val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
        Seq((-1L, java.sql.Timestamp.from(maxTs.plusSeconds(10 * 86400)), -1L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(src)
      }
      val (q, wall) = timedRun(
        graft.streaming.EventStreams.hourlyTumbling(fileStream(spark, src))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", temp("sbtb_cp"))
          .trigger(Trigger.AvailableNow()).start())
      results += WorkloadResult("tumbling", n + 1, wall, progressRows(q),
        "state is O(open windows): bounded by (hours inside the 2h lateness " +
          "horizon) x |event types|, evicted as the watermark passes — the " +
          "sentinel batch should collapse state_rows to the final hour only")
    }
    results.toSeq
  }
}
