package graft.control

import graft.sinks.{LoadRequest, SinkRegistry}
import graft.sources.v2.SheetDataSource
import graft.util.Timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import java.time.Clock
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The job execution core (`manager.py:183-203`) + poll loop
  * (`manager.py:206-214`, L1), wired Spark-first: export and load fuse
  * into ONE DataFrame plan per job (read → slice → infer → sink) instead
  * of the reference's materialize-CSV-then-upload two-step
  * (SURVEY §3.4, §4.1 "fused").
  *
  * Documents live under `sourceRoot/<document>/<sheet>.csv` (zero-egress
  * sheet emulation). An empty Sheet cell falls back to the document's
  * first worksheet, like `export.py:39`.
  */
final class JobRunner(
    spark: SparkSession,
    control: ControlTable,
    registry: SinkRegistry,
    sourceRoot: Path,
    runLog: RunLog,
    identity: String = "graft-engine",
    clock: Clock = Clock.systemUTC(),
    log: String => Unit = s => System.err.println(s"[graft] $s"),
    maxConcurrent: Int = 1) {
  require(maxConcurrent >= 1)

  /** Resolve document/sheet to a CSV path; throws the E1-translatable
    * errors. Candidates mirror `available_sheets` (`manager.py:64-66`).
    * The document name is an untrusted control-table cell: the resolved
    * directory must stay UNDER sourceRoot (a '../' or absolute value
    * reads as document-not-found — same surface as a missing document,
    * so the error translation leaks nothing about the filesystem). */
  private[control] def resolveSheet(document: String, sheet: String): Path = {
    val root = sourceRoot.toAbsolutePath.normalize
    val docDir = root.resolve(document).normalize
    if (!docDir.startsWith(root) || docDir == root) throw DocumentNotFound(document)
    if (!Files.isDirectory(docDir)) throw DocumentNotFound(document)
    val listing = Files.list(docDir)
    val sheets =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv")).toSeq.sortBy(_.getFileName.toString)
      finally listing.close() // unclosed streams leak an fd per poll in the daemon
    if (sheet.trim.isEmpty)
      sheets.headOption.getOrElse(throw WorksheetNotFound(document, "<first>", Seq.empty))
    else
      sheets.find(_.getFileName.toString == s"$sheet.csv").getOrElse(
        throw WorksheetNotFound(document, sheet,
          sheets.map(_.getFileName.toString.stripSuffix(".csv"))))
  }

  /** The export side: one declarative plan through the `sheet` connector —
    * full sheet or A1 slice (an empty Range cell reads the whole sheet),
    * header row, then autodetect typing (`run_export`, `manager.py:40-45`
    * + `export.py`). The connector is named by class, which Spark resolves
    * without the `sheet` service registration: a classpath built from
    * compiled classes alone (no resources) still reads. */
  private[graft] def exportPlan(job: JobSpec): DataFrame =
    spark.read.format(classOf[SheetDataSource].getName)
      .option("range", job.range)
      .option("header", "true")
      .option("inferSchema", "true")
      .load(resolveSheet(job.document, job.sheet).toString)

  /** A state write that cannot land — e.g. an operator deleted the row
    * under a running job — is logged, never thrown: it must not cost the
    * job's run-log line, the cycle's other due jobs or the poll loop.
    * None when it did not land. */
  private def stateWrite[A](job: JobSpec)(write: => A): Option[A] =
    scala.util.Try(write).fold(e => {
      log(s"state write failed on row ${job.row}: ${e.getMessage}")
      None
    }, Some(_))

  /** Run one job through the U1→(U2|U3) lifecycle, appending the log line
    * (`run_job`, `manager.py:183-203`; log `manager.py:147-164`). A job
    * whose Running mark cannot be written does not start (false, no log
    * line); a started job whose outcome cannot be written logs a Failure
    * line with the write's cause. */
  def runJob(job: JobSpec): Boolean = {
    val start = stateWrite(job)(StateMachine.markRunning(control, job, clock)) match {
      case Some(at) => at
      case None => return false
    }
    val outcome =
      try {
        val df = exportPlan(job)
        val result =
          if (job.targetSystem.trim.isEmpty) {
            // no Target System ⇒ export-only: keep the CSV artifact under
            // the reference's document.sheet.range.timestamp name, like
            // the reference skipping the load but keeping the file
            // (`manager.py:193-196` inverse; `export.py:14-15`)
            val sink = registry.resolve("csv").getOrElse(
              throw new IllegalStateException(
                "export-only job needs a 'csv' sink in the registry"))
            val dest = graft.sinks.CsvSink.fileName(
              job.document, job.sheet, job.range, clock)
            Timed(s"export ${job.document} -> $dest", log)(
              sink.load(LoadRequest(df, dest, job.isIncremental)))
          }
          else registry.resolve(job.targetSystem) match {
            case Right(sink) =>
              // destination is normalized like the reference does
              // (`lower` + strip spaces, manager.py:53)
              val dest = SinkRegistry.normalize(job.destination)
              Timed(s"load ${job.document} -> $dest", log)(
                sink.load(LoadRequest(df, dest, job.isIncremental)))
            case Left(notImplemented) => throw new IllegalArgumentException(notImplemented)
          }
        StateMachine.markSuccess(control, job, result, clock)
        Right(result)
      } catch {
        case NonFatal(e) =>
          val msg = Errors.translate(e, identity)
          stateWrite(job)(StateMachine.markFailure(control, job, msg))
          Left(msg)
      }
    val end = clock.instant()
    // log writes are best-effort, like the reference's fire-and-forget
    // thread (`manager.py:154-164`): a full disk must not abort the
    // remaining due jobs after this job's state is already committed
    scala.util.Try(runLog.append(RunLogEntry(start, end, job.document, job.sheet,
      job.range,
      if (outcome.isRight) StateMachine.Success else StateMachine.Failure,
      outcome.merge)))
      .failed.foreach(e => log(s"run-log append failed: ${e.getMessage}"))
    outcome.isRight
  }

  /** One poll cycle: P1 scan → P5 repair (applies U4 to broken rows) →
    * P2 filter → run due jobs. The reference runs strictly sequentially
    * and lists parallelism as a TODO (`manager.py:22`, `TODO.md:9`);
    * `maxConcurrent > 1` closes that gap — DIFFERENT jobs are
    * independent (per-row state writes are synchronized, Spark actions
    * are thread-safe, and the Running state still guards double-runs
    * across cycles, `manager.py:179`). Returns jobs run. */
  def pollOnce(): Int = {
    val now = clock.instant()
    val (valid, invalid) = Scheduler.partitionValid(control.jobs())
    invalid.foreach { case (job, err) =>
      log(s"invalid schedule on row ${job.row}: $err")
      stateWrite(job)(StateMachine.markInvalidSchedule(control, job, err))
    }
    val due = valid.filter { case (job, interval) => Scheduler.shouldRun(job, interval, now) }
    if (maxConcurrent == 1 || due.size <= 1) due.foreach { case (job, _) => runJob(job) }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, due.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(due.map { case (job, _) => Future(runJob(job)) }), Duration.Inf)
      finally pool.shutdown()
    }
    due.size
  }

  /** L1 — the daemon loop (`run`, `manager.py:206-214`): re-read the
    * control table every `pollMillis`, run due jobs. `maxCycles` bounds
    * the loop for tests/batch use; None = run forever. */
  def run(pollMillis: Long = 1000L, maxCycles: Option[Int] = None): Unit = {
    var cycle = 0
    while (maxCycles.forall(cycle < _)) {
      Timed(s"poll cycle $cycle", log)(pollOnce())
      cycle += 1
      if (maxCycles.forall(cycle < _)) Thread.sleep(pollMillis)
    }
  }

  /** L1, streaming form (SURVEY §3.4): the poll body rides a rate-source
    * Structured Streaming query with `Trigger.ProcessingTime` — Spark
    * owns the cadence, restarts and monitoring (progress/listener
    * surface) instead of a hand-rolled sleep loop. Stop via the returned
    * query handle. */
  def runStreaming(pollInterval: String = "1 second")
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(pollInterval))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Timed(s"poll cycle $batchId", log)(pollOnce())
        ()
      }
      .start()
}
