package perfbench

import org.apache.spark.sql.SparkSession

/** The traced run: one more timed phase with spans on and the listener
  * counting, turned into per-layer metrics, then one more untraced phase.
  * The tracing overhead compares the traced phase with the mean of the
  * untraced phases on either side of it, since later phases of a run are
  * warmer. A catalog run then stages, warms and runs one traced streaming
  * curation pass for the `stream.*` metrics.
  *
  * Normalisation, so numbers compare across runs of different length:
  * daemon layers are per job run (source phases per sheet read, idle poll
  * per poll), catalog families per pass of the query list, stream layers
  * per micro-batch (row counts per pass), and `spark.*` per operation. */
object Layers {
  val Families = Seq("q", "e", "d", "t", "p", "v", "m")

  val Units: Seq[(String, String)] = Seq(
    "control.read_ms" -> "ms", "control.write_ms" -> "ms", "control.write_ms_p90" -> "ms",
    "control.writes" -> "count", "control.bytes_rewritten" -> "bytes",
    "control.schedule_ms" -> "ms", "control.idle_poll_ms" -> "ms",
    "control.job_self_ms" -> "ms", "runlog.append_ms" -> "ms",
    "source.read_raw_ms" -> "ms", "source.slice_ms" -> "ms", "source.header_ms" -> "ms",
    "source.infer_ms" -> "ms", "source.spark_jobs" -> "count", "source.cells" -> "count",
    "source.cpu_ms" -> "ms",
    "sink.warehouse_ms" -> "ms", "sink.csv_ms" -> "ms", "sink.bytes_written" -> "bytes",
    "sink.files_written" -> "count", "sink.spark_jobs" -> "count") ++
    Families.flatMap(f => Seq("wall_ms" -> "ms", "build_ms" -> "ms", "plan_ms" -> "ms",
      "exec_ms" -> "ms", "cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "gc_ms" -> "ms", "tasks" -> "count").map { case (m, u) => s"op.$f.$m" -> u }) ++ Seq(
    "cache.touches" -> "count", "cache.entries" -> "count",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.commit_ms" -> "ms", "stream.sig_rows" -> "count", "stream.delivered_rows" -> "count",
    "stream.cpu_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.cpu_ms" -> "ms",
    "spark.run_ms" -> "ms", "spark.cpu_share" -> "share", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "trace.overhead_share" -> "share")

  /** End-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] =
    Seq("op_p50_s" -> "s", "ops_per_s" -> "1/s", "rows_per_s" -> "1/s", "setup_s" -> "s")

  private def ms(ns: Long): Double = ns / 1e6

  def traced(spark: SparkSession, w: Workload, seconds: Double, minPasses: Int,
      listener: LayerListener, untraced: Phase, replay: Option[StreamWorkload])
      : (Map[String, (Double, String)], Map[String, Any]) = {
    val tracer = new Tracer(true, Some(spark.sparkContext))
    val out = scala.collection.mutable.LinkedHashMap(Units.map { case (k, _) => k -> 0.0 }: _*)
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    LayerListener.drain(spark, tracer, listener)
    val before = listener.snapshot
    val phase = w.run(seconds, minPasses, tracer)
    LayerListener.drain(spark, tracer, listener)
    val drains = tracer.spans.filter(_.name == "trace.drain").map(_.id).toSet
    def sumAll(m: Map[Long, RuntimeTotals]) =
      m.filter { case (id, _) => !drains(id) }.values.foldLeft(RuntimeTotals())(_ + _)
    val rt = sumAll(listener.snapshot) - sumAll(before)
    val ops = math.max(1L, phase.ops).toDouble
    out("spark.jobs") = rt.jobs / ops
    out("spark.tasks") = rt.tasks / ops
    out("spark.cpu_ms") = rt.cpuMs / ops
    out("spark.run_ms") = rt.runMs / ops
    out("spark.cpu_share") = if (rt.runMs > 0) rt.cpuMs / rt.runMs else 0.0
    out("spark.gc_ms") = rt.gcMs / ops
    out("spark.shuffle_read_bytes") = rt.shuffleReadBytes / ops
    out("spark.shuffle_write_bytes") = rt.shuffleWriteBytes / ops
    out("spark.spill_bytes") = rt.spillBytes / ops

    w match {
      case d: DaemonWorkload => daemon(spark, d, tracer, listener, out, report)
      case c: CatalogWorkload => catalog(c, tracer, listener, out)
    }

    val after = w.run(seconds, minPasses, Tracer.off)
    out("trace.overhead_share") = (untraced.opsPerS + after.opsPerS) / 2 / phase.opsPerS - 1.0

    replay.foreach { s =>
      s.stage(0)
      s.warmup()
      s.run(0, 1, tracer)
      LayerListener.drain(spark, tracer, listener)
      stream(s, tracer, listener, out)
    }

    val spans = tracer.spans
    val self = SelfTime.all(spans)
    report("spans") = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Map("count" -> ss.length, "total_ms" -> ms(ss.map(_.durNs).sum),
        "self_ms" -> ms(ss.map(s => self(s.id)).sum))
    }.toMap
    report("traced") = Map("ops" -> phase.ops, "rows" -> phase.rows, "elapsed_s" -> phase.elapsedS,
      "op_p50_s" -> phase.opP50S)
    report("span_log") = spans.sortBy(_.startNs).map(s => Map("id" -> s.id, "name" -> s.name,
      "trace" -> s.traceId, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    (out.toMap.map { case (k, v) => k -> (v, Units.toMap.apply(k)) }, report.toMap)
  }

  private def daemon(spark: SparkSession, d: DaemonWorkload, tracer: Tracer, l: LayerListener,
      out: scala.collection.mutable.Map[String, Double],
      report: scala.collection.mutable.Map[String, Any]): Unit = {
    val spans = tracer.spans
    val self = SelfTime.all(spans)
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    val jobs = byName("control.job")
    val n = math.max(1, jobs.length).toDouble
    def total(name: String) = ms(byName(name).map(_.durNs).sum)
    val rolled = l.rolledUp(spans)
    out("control.read_ms") = total("control.read") / n
    out("control.write_ms") = total("control.write") / n
    out("control.write_ms_p90") =
      if (byName("control.write").isEmpty) 0.0
      else Stats.percentile(byName("control.write").map(s => ms(s.durNs)), 90)
    out("control.writes") = byName("control.write").length / n
    out("control.bytes_rewritten") = d.counts.controlBytes.get / n
    out("control.schedule_ms") = ms(byName("control.poll").map(s => self(s.id)).sum) / n
    out("control.idle_poll_ms") = if (d.idlePollMs.isEmpty) 0.0 else Stats.median(d.idlePollMs)
    out("control.job_self_ms") = ms(jobs.map(s => self(s.id)).sum) / n
    out("runlog.append_ms") = total("runlog.append") / n
    out("sink.warehouse_ms") = total("sink.warehouse") / n
    out("sink.csv_ms") = total("sink.csv") / n
    out("sink.bytes_written") = d.counts.sinkBytes.get / n
    out("sink.files_written") = d.counts.sinkFiles.get / n
    out("sink.spark_jobs") = (byName("sink.warehouse") ++ byName("sink.csv"))
      .map(s => rolled.get(s.id).map(_.jobs).getOrElse(0L)).sum / n

    // a job span is its children plus its own time, which is the
    // export-plan build (sheet read, slice, header, inference)
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    val parts = Seq("control.write", "sink.warehouse", "sink.csv", "runlog.append")
    val split = Map("export_plan" -> ms(jobs.map(s => self(s.id)).sum)) ++ parts.map { p =>
      p -> ms(jobs.flatMap(j => kids(j.id).filter(_.name == p)).map(_.durNs).sum)
    }
    val jobMs = ms(jobs.map(_.durNs).sum)

    // the export plan split by phase, from a replay through SheetSource
    val limit = 8
    val reads = d.sourceReplay(tracer, limit)
    LayerListener.drain(spark, tracer, l)
    val all = tracer.spans
    val rolled2 = l.rolledUp(all)
    val byName2 = all.groupBy(_.name).withDefaultValue(Nil)
    val r = math.max(1, reads).toDouble
    def phase(name: String) = ms(byName2(name).map(_.durNs).sum) / r
    out("source.read_raw_ms") = phase("source.read_raw")
    out("source.slice_ms") = phase("source.slice")
    out("source.header_ms") = phase("source.header")
    out("source.infer_ms") = phase("source.infer")
    val readTotals = byName2("source.read").flatMap(s => rolled2.get(s.id))
      .foldLeft(RuntimeTotals())(_ + _)
    out("source.spark_jobs") = readTotals.jobs / r
    out("source.cpu_ms") = readTotals.cpuMs / r
    out("source.cells") = d.sourceCells(limit) / r
    val sourcePhases = Seq("source.read_raw", "source.slice", "source.header", "source.infer")
    report("job_accounting") = Map(
      "jobs" -> jobs.length, "job_span_ms" -> jobMs,
      "layers_ms" -> split, "residual_ms" -> (jobMs - split.values.sum),
      "largest_layer" -> split.maxBy(_._2)._1,
      "largest_source_phase" -> sourcePhases.maxBy(phase))
  }

  private def catalog(c: CatalogWorkload, tracer: Tracer, l: LayerListener,
      out: scala.collection.mutable.Map[String, Double]): Unit = {
    val spans = tracer.spans
    val rolled = l.rolledUp(spans)
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    val passes = math.max(1, c.passes).toDouble
    Families.foreach { f =>
      val qs = spans.filter(_.name == s"op.$f")
      def child(name: String) = ms(qs.flatMap(q => kids(q.id)).filter(_.name == name).map(_.durNs).sum)
      val t = qs.flatMap(q => rolled.get(q.id)).foldLeft(RuntimeTotals())(_ + _)
      out(s"op.$f.wall_ms") = ms(qs.map(_.durNs).sum) / passes
      out(s"op.$f.build_ms") = child("op.build") / passes
      out(s"op.$f.plan_ms") = child("op.plan") / passes
      out(s"op.$f.exec_ms") = child("op.exec") / passes
      out(s"op.$f.cpu_ms") = t.cpuMs / passes
      out(s"op.$f.shuffle_bytes") = (t.shuffleReadBytes + t.shuffleWriteBytes) / passes
      out(s"op.$f.spill_bytes") = t.spillBytes / passes
      out(s"op.$f.gc_ms") = t.gcMs / passes
      out(s"op.$f.tasks") = t.tasks / passes
    }
    out("cache.touches") = Stats.mean(c.cacheTouches.map(_.toDouble))
    out("cache.entries") = Stats.mean(c.cacheEntries.map(_.toDouble))
  }

  private def stream(s: StreamWorkload, tracer: Tracer, l: LayerListener,
      out: scala.collection.mutable.Map[String, Double]): Unit = {
    val mine = s.batches.toSeq
    val n = math.max(1, mine.length).toDouble
    def mean(k: String) = mine.map(_.durations.getOrElse(k, 0L)).sum / n
    out("stream.trigger_ms") = mean("triggerExecution")
    out("stream.add_batch_ms") = mean("addBatch")
    out("stream.planning_ms") = mean("queryPlanning")
    out("stream.commit_ms") = mean("commitOffsets")
    val spans = tracer.spans
    val rolled = l.rolledUp(spans)
    val passes = spans.filter(_.name == "stream.pass")
    out("stream.cpu_ms") = passes.flatMap(p => rolled.get(p.id)).map(_.cpuMs).sum / n
    val counts = mine.map(_.pass).distinct.map(p => s.counts(s"pb_stream_$p"))
    out("stream.delivered_rows") = Stats.mean(counts.map(_._1.toDouble))
    out("stream.sig_rows") = Stats.mean(counts.map(_._2.toDouble))
  }
}
