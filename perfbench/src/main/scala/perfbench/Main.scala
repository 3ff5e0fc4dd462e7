package perfbench

import graft.Sessions
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One pass of a timed phase (a catalog pass, a poll cycle, a stream
  * pass): its length (s) and the operations and rows it completed. */
final case class Pass(seconds: Double, ops: Long, rows: Long)

/** What one timed phase measured: per-operation latencies (s), the
  * workload's median latency (s) and its passes. Every pass of a phase
  * does the same work, so the rates are medians over passes: one pass
  * slowed by the host moves them no more than any other. */
final case class Phase(latencies: Seq[Double], opP50S: Double, passes: Seq[Pass]) {
  def ops: Long = passes.map(_.ops).sum
  def rows: Long = passes.map(_.rows).sum
  def elapsedS: Double = passes.map(_.seconds).sum
  def opsPerS: Double = Stats.median(passes.map(p => p.ops / p.seconds))
  def rowsPerS: Double = Stats.median(passes.map(p => p.rows / p.seconds))
}

/** Output check: operations attempted, operations whose outcome or output
  * differed from the expected one, and why. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String]) {
  def ++(o: Check): Check = Check(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

/** A workload: inputs staged in `stage` (repeated to time set-up), an
  * untimed `warmup`, timed phases, and the output check. */
trait Workload {
  def stage(rep: Int): Unit
  def warmup(): Unit
  /** Runs passes until `seconds` have passed and at least `minPasses` ran. */
  def run(seconds: Double, minPasses: Int, tracer: Tracer): Phase
  def check(): Check
  /** Workload-specific facts for the artifact, read after [[check]]. */
  def report: Map[String, Any] = Map.empty
}

object Workload {
  /** Runs `pass` until at least `seconds` have passed and at least
    * `minPasses` passes ran; a pass that has started always finishes. */
  def repeat(seconds: Double, minPasses: Int)(pass: => Pass): Seq[Pass] = {
    val out = Vector.newBuilder[Pass]
    var n = 0
    val t0 = System.nanoTime()
    while (n < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      out += pass
      n += 1
    }
    out.result()
  }
}

/** Benchmark entry point. Prints one JSON line as the last line of
  * standard output; everything else goes to standard error or to the
  * artifact file.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> --artifact <file> --stamp <k=v,...>` plus
  * `--expect-delivered/--expect-sigs`, the stream pass's expected counts,
  * for `catalog`.
  *
  * An untraced run times one phase of at least `--seconds` and
  * [[MinPasses]] passes. A traced run times three phases (untraced,
  * traced, untraced) of a third of that each, so it costs about as much
  * as an untraced one. */
object Main {
  val Workloads = Seq("daemon_fleet", "catalog")
  val SetupReps = 3
  val StreamChunks = 5
  val MinPasses = 3
  val TracedMinPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    val s0 = System.nanoTime()
    val spark = Sessions.build(cpus.toString)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    val w: Workload = workload match {
      case "daemon_fleet" => new DaemonWorkload(spark, SheetGen.fleet(seed),
        work.resolve("fleet"), maxConcurrent = 4)
      case "catalog" => new CatalogWorkload(spark, data, work.resolve("catalog"),
        CatalogWorkload.Queries)
    }
    // the streaming layers are measured on the catalog's traced run, by
    // one streaming curation pass after its timed phases
    val stream = if (trace && workload == "catalog") Some(new StreamWorkload(spark, data,
      work.resolve("stream"), StreamChunks, opt.getOrElse("expect-delivered", "-1").toLong,
      opt.getOrElse("expect-sigs", "-1").toLong)) else None

    val stageS = (0 until SetupReps).map { rep =>
      val t = System.nanoTime(); w.stage(rep); (System.nanoTime() - t) / 1e9
    }
    val warmS = { val t = System.nanoTime(); w.warmup(); (System.nanoTime() - t) / 1e9 }
    val setupS = sessionS + Stats.median(stageS) + warmS

    val (phaseS, minPasses) = if (trace) (seconds / 3, TracedMinPasses) else (seconds, MinPasses)
    val untraced = w.run(phaseS, minPasses, Tracer.off)
    val (metrics, layerReport) =
      if (!trace) {
        val v = Map("setup_s" -> setupS, "op_p50_s" -> untraced.opP50S,
          "ops_per_s" -> untraced.opsPerS, "rows_per_s" -> untraced.rowsPerS)
        (Layers.EndToEnd.map { case (k, u) => k -> (v(k), u) }.toMap, Map.empty[String, Any])
      }
      else Layers.traced(spark, w, phaseS, minPasses, listener, untraced, stream)
    val check = (w +: stream.toSeq).map(_.check()).reduce(_ ++ _)

    val stamp = opt.getOrElse("stamp", "").split(',').filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap ++ Map(
      "nproc" -> cpus.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> spark.version,
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "on" else "off"),
      "data" -> (workload match {
        case "daemon_fleet" => s"synthetic sheets: 12 of 60-720 rows, 2 of ${SheetGen.WideRows} " +
          "rows, 3 designed failures"
        case _ => "bundled sf0.001 tables"
      }))
    val shown = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val artifact = Map[String, Any](
      "stamp" -> stamp,
      "metrics" -> shown,
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmS),
      "untraced" -> Map("ops" -> untraced.ops, "rows" -> untraced.rows,
        "elapsed_s" -> untraced.elapsedS, "op_p90_s" -> Stats.p90(untraced.latencies),
        "latencies_s" -> untraced.latencies,
        "passes" -> untraced.passes.map(p => Map("s" -> p.seconds, "ops" -> p.ops, "rows" -> p.rows))),
      "check" -> Map("attempted" -> check.attempted, "failed" -> check.failed,
        "notes" -> check.notes),
      "layers" -> layerReport, "report" -> (w.report ++ stream.map("stream" -> _.report)))
    opt.get("artifact").foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), Json.write(artifact).getBytes(StandardCharsets.UTF_8))
    }
    check.notes.take(20).foreach(n => System.err.println(s"[perfbench] check: $n"))
    spark.stop()
    println(Json.write(Map(
      "correct" -> (check.failed == 0),
      "attempted" -> math.max(1L, check.attempted),
      "failed" -> check.failed,
      "metrics" -> shown)))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').result()
  }
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case Some(x) => write(x)
    case None => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.sortBy(identity)
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
}
