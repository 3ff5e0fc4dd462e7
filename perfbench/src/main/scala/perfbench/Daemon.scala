package perfbench

import graft.control.{ControlTable, CsvControlTable, JobRunner, JobSpec, RunLog, RunLogEntry,
  CsvRunLog, StateMachine}
import graft.sinks.{CsvSink, LoadRequest, Sink, SinkRegistry, WarehouseSink}
import graft.sources.SheetSource
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneId, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession
import perfbench.SheetGen._
import scala.jdk.CollectionConverters._

/** A clock the benchmark steps between poll cycles, so schedules fire on
  * cycle boundaries instead of wall time. */
final class StepClock(start: Instant) extends Clock {
  private val now = new AtomicReference(start)
  def step(seconds: Long): Instant = now.updateAndGet(_.plusSeconds(seconds))
  def instant(): Instant = now.get
  def getZone: ZoneId = ZoneOffset.UTC
  override def withZone(zone: ZoneId): Clock = this
}

/** Counters the decorators keep while tracing. */
final class DaemonCounters {
  val controlBytes = new AtomicLong
  val sinkBytes = new AtomicLong
  val sinkFiles = new AtomicLong
}

/** Control table seen through spans: reads, writes and, on the Running
  * transition, the start of a job span that [[RecordingRunLog]] closes. */
final class TracedControl(inner: ControlTable, path: Path, tracer: Tracer,
    counters: DaemonCounters, jobs: ThreadLocal[Option[OpenSpan]]) extends ControlTable {
  def readAll(): Seq[JobSpec] = tracer.span("control.read", "poll")(inner.readAll())
  def updateCells(row: Long, values: Map[Int, String]): Unit = {
    if (tracer.enabled && values.get(StateMachine.ColState).contains(StateMachine.Running))
      jobs.set(Some(tracer.open("control.job", s"row$row")))
    tracer.span("control.write", s"row$row")(inner.updateCells(row, values))
    if (tracer.enabled) counters.controlBytes.addAndGet(Files.size(path))
  }
}

/** One observed job run, as its run-log line arrived. */
final case class RunSeen(key: (String, String, String), status: String, result: String,
    latencyS: Double)

/** Run log that records when each job's line was appended, relative to
  * the start of the poll cycle that made the job due. */
final class RecordingRunLog(inner: RunLog, tracer: Tracer,
    jobs: ThreadLocal[Option[OpenSpan]]) extends RunLog {
  @volatile var cycleStartNs: Long = 0L
  val seen = new ConcurrentLinkedQueue[RunSeen]()
  def append(e: RunLogEntry): Unit = {
    tracer.span("runlog.append", e.document)(inner.append(e))
    seen.add(RunSeen((e.document, e.sheet, e.cellRange), e.status, e.result,
      (System.nanoTime() - cycleStartNs) / 1e9))
    jobs.get.foreach(tracer.close)
    jobs.set(None)
  }
}

/** Sink seen through a span; while tracing it also counts the files and
  * bytes a load adds under its destination. */
final class TracedSink(kind: String, inner: Sink, dirOf: LoadRequest => Path, tracer: Tracer,
    counters: DaemonCounters) extends Sink {
  private def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  def load(req: LoadRequest): String = {
    val before = if (tracer.enabled) listing(dirOf(req)) else Map.empty[String, Long]
    val out = tracer.span(s"sink.$kind", req.destination)(inner.load(req))
    if (tracer.enabled) {
      val added = listing(dirOf(req)).filter { case (f, n) => !before.get(f).contains(n) }
      counters.sinkFiles.addAndGet(added.size.toLong)
      counters.sinkBytes.addAndGet(added.values.sum)
    }
    out
  }
}

/** `daemon_fleet`: the job daemon driven through `JobRunner.pollOnce` on
  * a stepped clock. The first [[DaemonWorkload.WarmCycles]] cycles (the
  * first has every row due) are the untimed warm-up; the timed phase is
  * the periodic cycles after them, each a pass of the same jobs. An
  * operation is one job run, timed from the start of the poll cycle that
  * made it due until its run-log line is appended. Each cycle is followed
  * by one idle poll, the daemon's steady state between due times. */
final class DaemonWorkload(spark: SparkSession, plan: Plan, work: Path, maxConcurrent: Int)
    extends Workload {
  import DaemonWorkload._

  val clock = new StepClock(Instant.parse("2026-01-01T00:00:00Z"))
  private val warehouse = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
    .stripPrefix("file:")).resolve(WarehouseSink.DefaultDatabase + ".db")
  private var root: Path = _
  private var cycles = Vector.empty[Instant]
  private val allSeen = Vector.newBuilder[RunSeen]
  private val counters = new DaemonCounters
  private var idleMs = Vector.empty[Double]

  private def controlPath(r: Path) = r.resolve("control.csv")
  private def runLogPath(r: Path) = r.resolve("runlog.csv")
  private def csvDir(r: Path) = r.resolve("exports")

  private def writePlan(p: Plan, r: Path): Unit = {
    Files.createDirectories(r)
    p.sheets.foreach { s =>
      val dir = r.resolve("sheets").resolve(s.doc)
      Files.createDirectories(dir)
      val w = Files.newBufferedWriter(dir.resolve(s.name + ".csv"), StandardCharsets.UTF_8)
      try s.csvLines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    }
    CsvControlTable.init(controlPath(r), p.jobs.sortBy(_.row).map(_.cells))
  }

  def stage(rep: Int): Unit = {
    val r = work.resolve(s"stage$rep")
    writePlan(plan, r)
    root = r
  }

  private def runner(r: Path, tracer: Tracer, log: RecordingRunLog,
      jobs: ThreadLocal[Option[OpenSpan]]): JobRunner = {
    def tableDir(req: LoadRequest) = warehouse.resolve(req.destination.toLowerCase)
    val registry = new SinkRegistry(Map(
      "warehouse" -> new TracedSink("warehouse", new WarehouseSink(), tableDir, tracer, counters),
      "csv" -> new TracedSink("csv", new CsvSink(csvDir(r).toString),
        req => csvDir(r).resolve(req.destination), tracer, counters)))
    new JobRunner(spark,
      new TracedControl(new CsvControlTable(controlPath(r)), controlPath(r), tracer, counters, jobs),
      registry, r.resolve("sheets"), log, clock = clock, log = _ => (),
      maxConcurrent = maxConcurrent)
  }

  /** Steps the clock, runs one poll cycle and then one idle poll. */
  private def cycle(r: JobRunner, log: RecordingRunLog, tracer: Tracer): Unit = {
    val now = clock.step(StepSeconds)
    cycles :+= now
    log.cycleStartNs = System.nanoTime()
    val o = tracer.open("control.poll", s"cycle${cycles.length}")
    tracer.ambient = o.id
    try r.pollOnce() finally { tracer.ambient = 0L; tracer.close(o) }
    val i0 = System.nanoTime()
    tracer.span("control.idle_poll", s"cycle${cycles.length}")(r.pollOnce())
    idleMs :+= (System.nanoTime() - i0) / 1e6
  }

  private def phase(tracer: Tracer): (JobRunner, RecordingRunLog) = {
    val jobs = ThreadLocal.withInitial[Option[OpenSpan]](() => None)
    val log = new RecordingRunLog(new CsvRunLog(runLogPath(root)), tracer, jobs)
    (runner(root, tracer, log, jobs), log)
  }

  def warmup(): Unit = {
    val (r, log) = phase(Tracer.off)
    (1 to WarmCycles).foreach(_ => cycle(r, log, Tracer.off))
    allSeen ++= log.seen.asScala
  }

  def run(seconds: Double, minPasses: Int, tracer: Tracer): Phase = {
    val (r, log) = phase(tracer)
    idleMs = Vector.empty
    val byKey = plan.jobs.map(j => j.key -> j).toMap
    var done = 0
    val passes = Workload.repeat(seconds, minPasses) {
      val c0 = System.nanoTime()
      cycle(r, log, tracer)
      val s = (System.nanoTime() - c0) / 1e9
      val mine = log.seen.asScala.toVector.drop(done)
      done += mine.length
      Pass(s, mine.length, mine.filter(_.status == StateMachine.Success)
        .map(x => byKey(x.key).expectedRows.length.toLong).sum)
    }
    val seen = log.seen.asScala.toVector
    allSeen ++= seen
    val lat = seen.map(_.latencyS)
    Phase(lat, Stats.median(lat), passes)
  }

  /** Replays the sheet read of up to `limit` successful jobs through
    * `SheetSource`'s public phases, one span each, so the export-plan
    * build inside a job span can be split by phase. Runs after the timed
    * phase. */
  def sourceReplay(tracer: Tracer, limit: Int): Int = {
    val jobs = plan.jobs.filter(j => j.kind == Load || j.kind == Export).take(limit)
    jobs.foreach { j =>
      val path = root.resolve("sheets").resolve(j.doc).resolve(j.sheet.name + ".csv").toString
      tracer.span("source.read", j.doc) {
        val raw = tracer.span("source.read_raw", j.doc)(SheetSource.readRaw(spark, path))
        val sliced = tracer.span("source.slice", j.doc)(
          j.slice.map(s => SheetSource.slice(raw, s.a1)).getOrElse(raw))
        val headed = tracer.span("source.header", j.doc)(SheetSource.promoteHeader(sliced))
        tracer.span("source.infer", j.doc)(SheetSource.inferSchema(headed))
      }
    }
    jobs.length
  }

  def sourceCells(limit: Int): Long =
    plan.jobs.filter(j => j.kind == Load || j.kind == Export).take(limit)
      .map(j => j.expectedRows.length.toLong * j.expectedHeader.length).sum

  def idlePollMs: Seq[Double] = idleMs
  def counts: DaemonCounters = counters

  def check(): Check = {
    val seen = allSeen.result()
    val expected = expectedRuns(plan, cycles)
    val logLines = readCsv(runLogPath(root)).groupBy(c => (c(2), c(3), c(4)))
    val control = readCsv(controlPath(root)).drop(1).zipWithIndex
      .map { case (c, i) => (i + 2) -> c.padTo(11, "") }.toMap
    var attempted = 0L
    var failed = 0L
    val notes = Vector.newBuilder[String]
    plan.jobs.foreach { j =>
      val runs = expected(j.row)
      val mine = seen.filter(_.key == j.key)
      val lines = logLines.getOrElse(j.key, Nil)
      val problems = Vector.newBuilder[String]
      if (mine.length != runs.length) problems += s"${mine.length} runs, expected ${runs.length}"
      if (lines.length != mine.length) problems += s"${lines.length} log lines for ${mine.length} runs"
      problems ++= runProblems(j, mine)
      problems ++= controlProblems(j, runs, control(j.row))
      if ((j.kind == Load || j.kind == Export) && runs.nonEmpty) {
        val want = Digest.of(j.expectedHeader, j.expectedRows, if (j.incremental) runs.length else 1)
        val got =
          if (j.kind == Load) tableDigest(j)
          else exportDigest(control(j.row)(10)).copy(header = want.header)
        if (got != want) problems += s"output $got, expected $want"
        if (j.kind == Export && exportCount(j) != runs.length)
          problems += s"${exportCount(j)} export directories"
      }
      val ops = math.max(if (j.kind == BadInterval) 1 else runs.length, mine.length).toLong
      attempted += ops
      val p = problems.result()
      if (p.nonEmpty) {
        failed += math.max(ops, 1L)
        notes += s"row ${j.row} ${j.doc}: ${p.mkString("; ")}"
      }
    }
    Check(attempted, failed, notes.result())
  }

  private def tableDigest(j: Job): Digest = {
    val df = spark.table(s"`${WarehouseSink.DefaultDatabase}`.`${j.dest}`")
    Digest.of(df.columns.toIndexedSeq,
      df.collect().iterator.map(r => (0 until r.length).map(i => Digest.text(r.get(i)))).toSeq, 1)
  }

  private def exportDigest(path: String): Digest = {
    val files = Files.list(java.nio.file.Paths.get(path))
    val parts = try files.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toVector finally files.close()
    val rows = parts.flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
      .filter(_.nonEmpty).map(l => parseCsvLine(l).toIndexedSeq)
    // the export sink writes no header: the names are the job's own
    Digest.of(null, rows, 1)
  }

  private def exportCount(j: Job): Int = {
    val s = Files.list(csvDir(root))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith(j.doc + ".")) finally s.close()
  }
}

/** Row count plus two order-independent sums of row hashes; `header` is
  * null when the output carries no column names. */
final case class Digest(header: Seq[String], rows: Long, h1: Long, h2: Long)

object Digest {
  def text(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double => java.lang.Double.toString(d)
    case x => x.toString
  }
  def of(header: Seq[String], rows: Iterable[Seq[String]], times: Int): Digest = {
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { r =>
      val s = r.mkString("\u0001")
      n += 1
      a += scala.util.hashing.MurmurHash3.stringHash(s) & 0xffffffffL
      b += scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c) & 0xffffffffL
    }
    Digest(header, n * times, a * times, b * times)
  }
}

object DaemonWorkload {
  /** Clock step between cycles: just over one minute, so "1 minute" jobs
    * fire every cycle and "2 minutes" jobs every other one. */
  val StepSeconds = 61L

  /** Untimed cycles: the first, where every row is due, and two periodic
    * cycles, since the first periodic cycles of a fresh JVM are still
    * compiling. */
  val WarmCycles = 3

  /** Message a designed failure must leave in Last Result and the log. */
  def failureMessage(j: Job): Option[String] = j.kind match {
    case MissingSheet =>
      Some(s"Could not find sheet '${j.sheetCell}'. Available sheets: ${j.sheet.name}")
    case UnknownTarget => Some(s"Cannot load to target system: ${j.target}")
    case BadInterval =>
      Some(s"unsupported unit in '${j.interval}': only days, hours and minutes are allowed")
    case _ => None
  }

  /** What is wrong with the observed runs of one job: each must end in
    * Success, or for a designed failure in Failure with its message. */
  def runProblems(j: Job, runs: Seq[RunSeen]): Seq[String] = {
    val want = if (j.kind == Load || j.kind == Export) StateMachine.Success else StateMachine.Failure
    val msg = failureMessage(j)
    runs.flatMap { s =>
      (if (s.status != want) Seq(s"status ${s.status}: ${s.result.take(200)}") else Nil) ++
        msg.filter(_ != s.result).map(_ => s"message '${s.result}'")
    }
  }

  /** What is wrong with a job's final control row (11 cells) after the
    * runs the schedule model expects. */
  def controlProblems(j: Job, runs: Seq[Instant], c: IndexedSeq[String]): Seq[String] = {
    val p = Vector.newBuilder[String]
    j.kind match {
      case Load | Export =>
        if (runs.nonEmpty) {
          if (c(9) != StateMachine.Success) p += s"state '${c(9)}'"
          if (c(8) != StateMachine.iso(runs.last)) p += s"last success '${c(8)}'"
          if (c(6).nonEmpty) p += "refresh now not cleared"
          if (c(7) != j.interval) p += s"interval '${c(7)}'"
        }
      case MissingSheet | UnknownTarget | BadInterval =>
        if (c(9) != StateMachine.Failure) p += s"state '${c(9)}'"
        if (c(7).nonEmpty) p += s"interval '${c(7)}' not cleared"
        failureMessage(j).filter(_ != c(10)).foreach(_ => p += s"last result '${c(10)}'")
    }
    p.result()
  }

  /** The schedule model: cycle times at which each row must run, given
    * the reference's rules — due when Refresh Now is set or strictly more
    * than the interval has passed since the last success (never-run rows
    * anchor at 1900); a failed run clears the interval; a row whose
    * interval does not parse is repaired and never runs. */
  def expectedRuns(plan: Plan, cycles: Seq[Instant]): Map[Int, Vector[Instant]] =
    plan.jobs.map { j =>
      var last = Instant.parse("1900-01-01T00:00:00Z")
      var refresh = j.refreshNow
      var scheduled = j.kind != BadInterval && j.intervalMinutes.isDefined
      var runs = Vector.empty[Instant]
      if (j.kind != BadInterval) cycles.foreach { t =>
        val overdue = scheduled && t.isAfter(last.plusSeconds(60L * j.intervalMinutes.get))
        if (refresh || overdue) {
          runs :+= t
          refresh = false
          if (j.kind == Load || j.kind == Export) last = t else scheduled = false
        }
      }
      j.row -> runs
    }.toMap

  def readCsv(p: Path): Vector[IndexedSeq[String]] =
    if (!Files.exists(p)) Vector.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector.filter(_.nonEmpty)
      .map(parseCsvLine)

  /** Quoted or bare cells, quotes doubled inside quoted cells. */
  def parseCsvLine(line: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQ) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += ch
      } else if (ch == '"') inQ = true
      else if (ch == ',') { out += cur.result(); cur.clear() }
      else cur += ch
      i += 1
    }
    out += cur.result()
    out.result()
  }
}
