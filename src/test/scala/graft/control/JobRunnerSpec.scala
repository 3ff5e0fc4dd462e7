package graft.control

import graft.SparkSpec
import graft.sinks.SinkRegistry
import java.nio.file.Files
import java.time.{Clock, Instant, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Poll-cycle e2e over the FIXTURES.md A.1 row matrix: due /
  * not-due / refresh-now / running-skip / empty-document / invalid
  * interval / bad target / missing document / missing worksheet, plus
  * incremental vs full-replace.
  */
class JobRunnerSpec extends SparkSpec {

  private val now = Instant.parse("2026-08-12T06:00:00Z")
  private val clock = Clock.fixed(now, ZoneOffset.UTC)

  private def freshEnv() = {
    val root = Files.createTempDirectory("docs")
    val doc = Files.createDirectory(root.resolve("SalesDoc"))
    Files.write(doc.resolve("Sheet1.csv"),
      "id,amount\n1,10.5\n2,20.25\n3,30.0\n".getBytes)
    val logPath = Files.createTempFile("runlog", ".csv")
    Files.delete(logPath)
    (root, new CsvRunLog(logPath))
  }

  private def cells(document: String = "SalesDoc", sheet: String = "Sheet1",
      range: String = "", target: String = "warehouse", dest: String,
      incremental: String = "", refreshNow: String = "", interval: String = "",
      lastSuccess: String = "", state: String = ""): Seq[String] =
    Seq(document, sheet, range, target, dest, incremental, refreshNow,
      interval, lastSuccess, state, "")

  test("one poll cycle covers the A.1 matrix end to end") {
    val (root, runLog) = freshEnv()
    val ctlPath = Files.createTempFile("ctl", ".csv")
    val ct = CsvControlTable.init(ctlPath, Seq(
      // row 2: scheduled & overdue → runs
      cells(dest = "sales_due", interval = "30 minutes",
        lastSuccess = "2026-08-12T00:00:00+00:00"),
      // row 3: scheduled, NOT due → skipped
      cells(dest = "sales_fresh", interval = "1 day",
        lastSuccess = "2026-08-12T05:59:00+00:00"),
      // row 4: manual refresh-now, no schedule → runs
      cells(dest = "sales_manual", refreshNow = "yes"),
      // row 5: Running → skipped even with refresh-now
      cells(dest = "sales_running", refreshNow = "yes", state = "Running"),
      // row 6: empty document → filtered by P1
      cells(document = "", dest = "ignored", refreshNow = "yes"),
      // row 7: invalid interval → U4 repair, not run
      cells(dest = "sales_bad_iv", refreshNow = "yes", interval = "5 weeks"),
      // row 8: unknown target system → U3 failure
      cells(dest = "x", target = "redshift", refreshNow = "yes"),
      // row 9: missing document → E1 share-hint failure
      cells(document = "NoDoc", dest = "x", refreshNow = "yes"),
      // row 10: missing worksheet → E1 candidates failure
      cells(sheet = "Nope", dest = "x", refreshNow = "yes")))

    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      identity = "svc@graft", clock = clock, log = _ => ())

    val ran = runner.pollOnce()
    assert(ran == 5) // rows 2, 4, 8, 9, 10 execute (8-10 fail inside runJob)
    val byRow = ct.readAll().map(j => j.row -> j).toMap

    // row 2: success, last success stamped, result is the table name
    assert(byRow(2L).state == "Success")
    assert(byRow(2L).lastResult == "g_sheets.sales_due")
    assert(byRow(2L).lastSuccessInstant.contains(now))
    assert(spark.table("g_sheets.sales_due").count() == 3)
    // typed by inference on the way in
    assert(spark.table("g_sheets.sales_due").schema("amount").dataType.typeName == "double")

    // row 3: untouched
    assert(byRow(3L).state == "" && byRow(3L).lastResult == "")

    // row 4: manual run succeeded, refresh-now cleared
    assert(byRow(4L).state == "Success" && byRow(4L).refreshNow == "")

    // row 5: still Running, untouched
    assert(byRow(5L).state == "Running" && byRow(5L).refreshNow == "yes")

    // row 7: U4 — interval cleared, refresh-now PRESERVED, Failure
    assert(byRow(7L).state == "Failure" && byRow(7L).refreshInterval == ""
      && byRow(7L).refreshNow == "yes")

    // row 8: unknown target → Failure with the NotImplemented message
    assert(byRow(8L).state == "Failure")
    assert(byRow(8L).lastResult == "Cannot load to target system: redshift")

    // row 9: document share-hint
    assert(byRow(9L).state == "Failure")
    assert(byRow(9L).lastResult.contains("Could not open document 'NoDoc'"))
    assert(byRow(9L).lastResult.contains("svc@graft"))

    // row 10: worksheet candidates
    assert(byRow(10L).state == "Failure")
    assert(byRow(10L).lastResult.contains("Available sheets: Sheet1"))

    // run log: one line per executed job (successes + failures)
    val entries = runLog.asInstanceOf[CsvRunLog].entries()
    assert(entries.length == 5)
    assert(entries.count(_.status == "Success") == 2)
    assert(entries.count(_.status == "Failure") == 3)
  }

  test("incremental append vs full replace across poll cycles (K2/K3)") {
    val (root, runLog) = freshEnv()
    val ctlPath = Files.createTempFile("ctl", ".csv")
    val ct = CsvControlTable.init(ctlPath, Seq(
      cells(dest = "sales_inc", incremental = "yes", refreshNow = "yes"),
      cells(dest = "sales_full", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => ())

    assert(runner.pollOnce() == 2)
    assert(spark.table("g_sheets.sales_inc").count() == 3)
    assert(spark.table("g_sheets.sales_full").count() == 3)

    // trigger both again: incremental doubles, full-replace stays
    ct.updateCell(2, StateMachine.ColRefreshNow, "go")
    ct.updateCell(3, StateMachine.ColRefreshNow, "go")
    assert(runner.pollOnce() == 2)
    assert(spark.table("g_sheets.sales_inc").count() == 6)
    assert(spark.table("g_sheets.sales_full").count() == 3)
  }

  test("parallel poll cycle runs independent jobs concurrently (reference TODO closed)") {
    val (root, runLog) = freshEnv()
    val ctlPath = Files.createTempFile("ctl", ".csv")
    val ct = CsvControlTable.init(ctlPath, (1 to 4).map(i =>
      cells(dest = s"par_t$i", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => (), maxConcurrent = 4)
    assert(runner.pollOnce() == 4)
    (1 to 4).foreach { i =>
      assert(spark.table(s"g_sheets.par_t$i").count() == 3)
    }
    assert(ct.readAll().forall(_.state == "Success"))
    assert(runLog.asInstanceOf[CsvRunLog].entries().length == 4)
  }

  /** Control table whose writes to `row` fail once `okWrites` of them
    * have landed — an operator deleting the row under a running job
    * (`CsvControlTable` then throws `row out of range`). */
  private final class RowLostControl(inner: ControlTable, row: Long, okWrites: Int)
      extends ControlTable {
    private val landed = new java.util.concurrent.atomic.AtomicInteger
    def readAll(): Seq[JobSpec] = inner.readAll()
    def updateCells(r: Long, values: Map[Int, String]): Unit =
      if (r == row && landed.getAndIncrement() >= okWrites)
        throw new IllegalArgumentException(s"requirement failed: row out of range: $r")
      else inner.updateCells(r, values)
  }

  test("a control-table write failure is logged: the job's log line and the cycle survive") {
    for (maxConcurrent <- Seq(1, 2); okWrites <- Seq(0, 1)) {
      val (root, runLog) = freshEnv()
      val ct = CsvControlTable.init(Files.createTempFile("ctl", ".csv"), Seq(
        cells(dest = s"lost_a$maxConcurrent$okWrites", refreshNow = "yes"),
        cells(dest = s"lost_b$maxConcurrent$okWrites", refreshNow = "yes")))
      val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val runner = new JobRunner(spark, new RowLostControl(ct, 2L, okWrites),
        SinkRegistry.default(Files.createTempDirectory("csvout").toString), root, runLog,
        clock = clock, log = logged.add(_), maxConcurrent = maxConcurrent)
      val what = s"maxConcurrent=$maxConcurrent okWrites=$okWrites"
      assert(runner.pollOnce() == 2, what)
      val byRow = ct.readAll().map(j => j.row -> j).toMap
      // the other due job ran to completion
      assert(byRow(3L).state == "Success", what)
      assert(spark.table(s"g_sheets.lost_b$maxConcurrent$okWrites").count() == 3, what)
      val entries = runLog.entries()
      if (okWrites == 0) {
        // the Running mark never landed: the job did not start, no log line
        assert(entries.map(_.status) == Seq("Success"), what)
        assert(byRow(2L).state == "" && byRow(2L).refreshNow == "yes", what)
      } else {
        // started, ran, and its outcome could not be written: one
        // Failure line carrying the write's cause
        assert(entries.map(_.status).sorted == Seq("Failure", "Success"), what)
        assert(entries.find(_.status == "Failure").get.result ==
          "requirement failed: row out of range: 2", what)
        assert(byRow(2L).state == "Running", what)
      }
      assert(logged.asScala.exists(_.startsWith("state write failed on row 2")), what)
    }
    // the daemon loop outlives a failing write
    val (root, runLog) = freshEnv()
    val ct = CsvControlTable.init(Files.createTempFile("ctl", ".csv"), Seq(
      cells(dest = "lost_loop", interval = "1 minute")))
    new JobRunner(spark, new RowLostControl(ct, 2L, 0),
      SinkRegistry.default(Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => ()).run(pollMillis = 0L, maxCycles = Some(2))
    assert(runLog.entries().isEmpty)
  }

  test("a load failing inside its write ends Failure and keeps the old table; Refresh Now reloads it") {
    val (root, runLog) = freshEnv()
    val ct = CsvControlTable.init(Files.createTempFile("ctl", ".csv"), Seq(
      cells(dest = "crash_t", refreshNow = "yes", interval = "1 day")))
    // a warehouse sink whose frame, while armed, throws at execution
    // time: the failure lands inside the staged write of the replace
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = org.apache.spark.sql.functions.udf { () =>
      throw new IllegalStateException("injected load failure"); true
    }.asNondeterministic()
    val warehouse = new graft.sinks.WarehouseSink()
    val crashing = new graft.sinks.Sink {
      def load(req: graft.sinks.LoadRequest): String =
        warehouse.load(if (armed.get) req.copy(df = req.df.filter(boom())) else req)
    }
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString).withSink("warehouse", crashing),
      root, runLog, clock = clock, log = _ => ())
    assert(runner.pollOnce() == 1)
    assert(spark.table("g_sheets.crash_t").count() == 3)

    armed.set(true)
    ct.updateCell(2, StateMachine.ColRefreshNow, "yes")
    assert(runner.pollOnce() == 1)
    val failed = ct.readAll().head
    assert(failed.state == "Failure" && failed.refreshInterval == "" && failed.refreshNow == "",
      s"$failed")
    assert(failed.lastResult.contains("injected load failure"), failed.lastResult)
    assert(runLog.entries().map(_.status) == Seq("Success", "Failure"))
    // the old rows survive: the replace swaps the table only after the
    // staged write has succeeded
    assert(spark.table("g_sheets.crash_t").count() == 3)

    armed.set(false)
    ct.updateCell(2, StateMachine.ColRefreshNow, "yes")
    assert(runner.pollOnce() == 1)
    assert(ct.readAll().head.state == "Success")
    assert(spark.table("g_sheets.crash_t").count() == 3)
    assert(runLog.entries().map(_.status) == Seq("Success", "Failure", "Success"))
  }

  test("a JVM dying between the Success write and the run-log append: no early re-run, no duplicate Success") {
    val (root, runLog) = freshEnv()
    val ctlPath = Files.createTempFile("ctl", ".csv")
    CsvControlTable.init(ctlPath, Seq(
      cells(dest = "crash_log", refreshNow = "yes", interval = "1 hour")))
    def runner(log: RunLog, at: Clock) = new JobRunner(spark, new CsvControlTable(ctlPath),
      SinkRegistry.default(Files.createTempDirectory("csvout").toString), root, log,
      clock = at, log = _ => ())
    // the first process dies inside the log append: InterruptedException
    // is fatal to the append's Try, so it leaves runJob the way a kill
    // ends the process there, after the Success write has landed
    val dying = new RunLog {
      def append(e: RunLogEntry): Unit = throw new InterruptedException("killed")
    }
    intercept[InterruptedException](runner(dying, clock).pollOnce())
    val crashed = new CsvControlTable(ctlPath).readAll().head
    assert(crashed.state == "Success" && crashed.refreshNow == "" &&
      crashed.lastSuccessInstant.contains(now), s"$crashed")
    assert(spark.table("g_sheets.crash_log").count() == 3)

    // a fresh process over the same control table: inside the interval
    // the job is not due, so it neither re-runs nor writes a line; the
    // dead run's line is lost for good (CHANGES.md FOUND)
    assert(runner(runLog, clock).pollOnce() == 0)
    assert(runLog.entries().isEmpty)
    // once the interval has passed it runs once, with one Success line
    val later = Clock.fixed(now.plus(java.time.Duration.ofMinutes(61)), ZoneOffset.UTC)
    assert(runner(runLog, later).pollOnce() == 1)
    assert(runner(runLog, later).pollOnce() == 0)
    assert(runLog.entries().map(_.status) == Seq("Success"))
    assert(new CsvControlTable(ctlPath).readAll().head.state == "Success")
  }

  test("streaming daemon form drives poll cycles via Trigger.ProcessingTime") {
    val (root, runLog) = freshEnv()
    val ctlPath = Files.createTempFile("ctl", ".csv")
    val ct = CsvControlTable.init(ctlPath, Seq(
      cells(dest = "stream_t1", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => ())
    val q = runner.runStreaming("200 milliseconds")
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        ct.jobs().head.state != StateMachine.Success) Thread.sleep(100)
      assert(ct.jobs().head.state == StateMachine.Success)
      assert(spark.table("g_sheets.stream_t1").count() == 3)
    } finally q.stop()
  }

  test("export-only job (no target system) keeps a quoted CSV artifact") {
    val (root, runLog) = freshEnv()
    val csvOut = Files.createTempDirectory("csvout").toString
    val ctlPath = Files.createTempFile("ctl", ".csv")
    val ct = CsvControlTable.init(ctlPath, Seq(
      cells(target = "", dest = "", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(csvOut), root,
      runLog, clock = clock, log = _ => ())
    assert(runner.pollOnce() == 1)
    val j = ct.jobs().head
    assert(j.state == "Success")
    val outDir = new java.io.File(j.lastResult)
    assert(outDir.exists() && outDir.listFiles().exists(_.getName.endsWith(".csv")))
  }

  test("document cells that escape the source root resolve as document-not-found") {
    val (root, runLog) = freshEnv()
    // plant a real sheet directory OUTSIDE the root that traversal would reach
    val outside = Files.createDirectory(root.getParent.resolve(
      s"outside-${System.nanoTime()}"))
    Files.write(outside.resolve("Sheet1.csv"), "id\n1\n".getBytes)
    val runner = new JobRunner(spark, CsvControlTable.init(
      Files.createTempFile("ctl", ".csv"), Seq.empty),
      SinkRegistry.default(Files.createTempDirectory("csvout").toString),
      root, runLog, clock = clock, log = _ => ())
    intercept[DocumentNotFound](
      runner.resolveSheet(s"../${outside.getFileName}", "Sheet1"))
    intercept[DocumentNotFound](runner.resolveSheet(outside.toString, "Sheet1"))
    intercept[DocumentNotFound](runner.resolveSheet("", "Sheet1"))
    // the legitimate document still resolves
    assert(runner.resolveSheet("SalesDoc", "Sheet1").getFileName.toString == "Sheet1.csv")
  }

  test("sheet rows load as the sheet has them: blank rows, doubled quotes, ragged widths") {
    val (root, runLog) = freshEnv()
    // row 3 is blank; row 2 holds an RFC 4180 doubled-quote cell; row 4
    // is wider than the header row
    Files.write(root.resolve("SalesDoc").resolve("Quirks.csv"),
      "id,note\n1,\"say \"\"hi\"\"\"\n\n4,x,extra\n".getBytes)
    val ct = CsvControlTable.init(Files.createTempFile("ctl", ".csv"), Seq(
      cells(sheet = "Quirks", range = "A1:B3", dest = "quirks_range", refreshNow = "yes"),
      cells(sheet = "Quirks", dest = "quirks_full", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => ())
    assert(runner.pollOnce() == 2)
    assert(ct.readAll().forall(_.state == "Success"), ct.readAll().map(_.lastResult))
    // A1:B3 is sheet rows 1..3: the header, row 2 and the blank row 3 —
    // not row 4's data
    val ranged = spark.table("g_sheets.quirks_range")
    assert(ranged.columns.toSeq == Seq("id", "note"))
    assert(ranged.collect().map(_.toSeq.map(String.valueOf)).toSet ==
      Set(Seq("1", "say \"hi\""), Seq("null", "null")))
    // the whole sheet is as wide as its widest row
    val full = spark.table("g_sheets.quirks_full")
    assert(full.columns.toSeq == Seq("id", "note", "col2"))
    assert(full.collect().map(_.toSeq.map(String.valueOf)).toSet ==
      Set(Seq("1", "say \"hi\"", "null"), Seq("null", "null", "null"), Seq("4", "x", "extra")))
  }

  test("an empty sheet fails naming the document and sheet, not the file path") {
    val (root, runLog) = freshEnv()
    Files.write(root.resolve("SalesDoc").resolve("Empty.csv"), Array.emptyByteArray)
    val ct = CsvControlTable.init(Files.createTempFile("ctl", ".csv"), Seq(
      cells(sheet = "Empty", dest = "empty_t", refreshNow = "yes")))
    val runner = new JobRunner(spark, ct, SinkRegistry.default(
      Files.createTempDirectory("csvout").toString), root, runLog,
      clock = clock, log = _ => ())
    assert(runner.pollOnce() == 1)
    val j = ct.readAll().head
    assert(j.state == "Failure")
    assert(j.lastResult.contains("Empty") && j.lastResult.contains("SalesDoc"), j.lastResult)
    assert(!j.lastResult.contains(root.toString), j.lastResult)
    assert(!j.lastResult.contains(root.toAbsolutePath.normalize.toString), j.lastResult)
  }
}
