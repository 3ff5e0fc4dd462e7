package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable.ListBuffer

/** The measurement CLI, on the [[Measure]] timing core:
  *
  *  - `runMain graft.Bench` — the catalog bench: every catalog query on
  *    `SPARK_GRAFT_SF_DIR`, ONE JSON line {"metric","value","unit",
  *    "queries","sf",...} last on stdout and the full artifact in
  *    `BENCH_full[.sfN].json`. Failures are reported per query and make
  *    the process exit nonzero.
  *  - `time <sfDir> <names> [reps] [warmups]` — warm per-query timer
  *    for A/B probes (combine with `SPARK_GRAFT_CONF` to A/B a session
  *    conf on the same build). Clears the registry before every rep, so
  *    each rep pays its own cache build like the bench's isolated pass,
  *    and prints per-rep seconds, GC ms and the median. Probe instrument
  *    only: committed numbers always come from the catalog bench.
  *  - `plan <sfDir> [names|all] [outDir]` — `explain("formatted")` of the
  *    unexecuted frame the catalog serves, to stdout or to
  *    `outDir/<name>.txt`. Read it for Exchange count, partial-aggregation
  *    shape, PushedFilters/ReadSchema on scans and WholeStageCodegen
  *    spans.
  *  - `curation <sfDir> [reps]` — the one-call curation recipe end to end.
  *  - `stream <sfDir>` — streaming rows/s and per-batch state curves
  *    ([[BenchStream]]).
  */
object Bench {
  private val Usage = "usage: Bench [time <sfDir> <names> [reps] [warmups] | " +
    "plan <sfDir> [names|all] [outDir] | curation <sfDir> [reps] | stream <sfDir>]"

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toList)
    val spark = Sessions.build()
    try cmd(spark) finally spark.stop()
  }

  /** The subcommand `args` name; bad arguments fail with the usage text
    * before any session starts. */
  private def command(args: List[String]): SparkSession => Unit = args match {
    case Nil => catalog
    case "time" :: sf :: names :: rest if rest.size <= 2 =>
      val (ns, reps, warmups) = (queryNames(names), countArg(rest.headOption, 3, 1),
        countArg(rest.lift(1), 1, 0))
      time(_, sf, ns, reps, warmups)
    case "plan" :: sf :: rest if rest.size <= 2 =>
      val ns = rest.headOption.filter(_ != "all").map(queryNames)
        .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
      plan(_, sf, ns, rest.lift(1))
    case "curation" :: sf :: rest if rest.size <= 1 =>
      val reps = countArg(rest.headOption, 2, 1)
      curation(_, sf, reps)
    case "stream" :: sf :: Nil => BenchStream.run(_, sf)
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def queryNames(arg: String): Seq[String] = {
    val names = arg.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  private def countArg(arg: Option[String], default: Int, min: Int): Int =
    arg.fold(default) { a =>
      a.toIntOption.filter(_ >= min)
        .getOrElse(throw new IllegalArgumentException(s"'$a' is not a count >= $min; $Usage"))
    }

  /** A pass's reps of one row: the elapsed seconds of every rep run (a
    * failing rep's fail-fast time last), whether one failed, and the
    * first rep's frame. */
  private[graft] final case class Reps(times: Vector[Double], failed: Boolean,
      first: Option[DataFrame])

  /** Failures and designed refusals of one run, tagged by row, in the
    * order they happened; [[reps]] is the one rep runner every pass uses. */
  private[graft] final class Ledger {
    val errors = ListBuffer.empty[(String, String)]
    // A refused query is excluded from every total and reported under
    // "refusals" — the run stays official (quarantining it would block
    // the sf6.4 artifact forever), while a REAL failure still
    // quarantines. A GateRefusal surfacing only in a later pass (e.g. a
    // cache-dependent gate) is a refusal there too (r15 advice).
    val refusals = ListBuffer.empty[(String, String)]

    /** Up to `n` noop-timed reps of `frame`, stopping at the first throw,
      * which is recorded under `tag`. `fresh` clears the registry before
      * each rep, so each rep pays its own full cache build. */
    def reps(tag: String, n: Int, fresh: Boolean)(frame: => DataFrame): Reps = {
      val times = Vector.newBuilder[Double]
      var first = Option.empty[DataFrame]
      var failed = false
      for (rep <- 0 until n if !failed) {
        if (fresh) CacheRegistry.unpersistAll(blocking = true)
        val t0 = System.nanoTime()
        try {
          val t = Measure.noop(frame)
          times += t.seconds
          if (rep == 0) first = Some(t.frame)
        } catch {
          case e: Throwable =>
            failed = true
            (if (Measure.isRefusal(e)) refusals else errors) +=
              (tag -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
            times += (System.nanoTime() - t0) / 1e9
        }
      }
      Reps(times.result(), failed, first)
    }
  }

  /** Automatic warm re-probe of round-over-round movers (r18 verdict #2):
    * any row whose new shared median exceeds 2x its median in the PRIOR
    * artifact is re-run twice, warm, and its best time recorded — the
    * adjudication (host-I/O excursion vs real regression) ships INSIDE
    * the artifact instead of requiring a manual probe session. A failing
    * re-probe is recorded in the ledger as `reprobe:<name>`, never as a
    * time. */
  private[graft] def reprobe(medians: Seq[(String, Double)], prior: Map[String, Double],
      ledger: Ledger)(frame: String => DataFrame): Seq[(String, Double)] =
    medians
      .filter { case (k, v) => prior.get(k).exists(p => p > 0 && v > 2 * p) }
      .sortBy { case (k, v) => -(v / prior(k)) }
      .take(12)
      .flatMap { case (k, _) =>
        val r = ledger.reps(s"reprobe:$k", 2, fresh = false)(frame(k))
        if (r.failed) None else Some(k -> r.times.min)
      }

  private def catalog(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // untimed warmup: pay JVM/codegen/filesystem first-touch cost once
    // here instead of inside whichever query happens to run first
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    // second untimed warmup on a tiny SYNTHETIC frame (never the bench
    // tables, never the CacheRegistry): first use of the interpreted
    // higher-order-function evaluator and the explode/self-join shape
    // JITs here instead of inside the first timed text query — measured
    // ~1 s of first-use cost on the d-family otherwise. Warming with the
    // queries' own data would be cache priming; this is not: nothing
    // computed here is reusable by any catalog plan.
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // docs repeat with period lcm(4,3,2)=12, so the self-join MATCHES
      // rows and the pair-aggregation path runs over a non-empty stream
      // (unique-token texts would leave the join output cold)
      val syn = (0L until 64L).map(i => (i, s"a${i % 4} b${i % 3} c${i % 2} d${i % 4} e${i % 3}"))
        .toDF("doc_id", "text")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("sh", expr(
          "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      syn.as("a").join(syn.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    val ledger = new Ledger
    // N consecutive runs per query; the COMMITTED number is the per-query
    // MEDIAN (with min and first-run kept alongside). One-shot timings on
    // this host swing up to 7x run-to-run from page-cache state alone
    // (r8: identical code measured 126.3 vs 138.0 s total), which made
    // every cross-round comparison require manual probe adjudication.
    // A median of 3 is immune to a single cold-cache outlier in either
    // direction; the first-run map preserves the old one-shot semantics
    // (build-inclusive for cache-coupled queries) for continuity.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // Disclosed by-contract-quadratic anchors (see anchors_s below).
    // SPARK_GRAFT_ANCHOR_REPS caps THEIR rep count only: v04 re-measures
    // a disclosed n² 3× at sf6.4 (235.8 s = 34% of the tier's value in
    // r15) to confirm a number that is by-contract, not kernel health —
    // anchor rows may run once while every serve-band row keeps its
    // median (r15 verdict #7). Disclosed in the JSON notes + anchor_reps.
    // v23 joined the class in r18 (verdict #1): its catalog row PINS a
    // 3x3 two-level shape so the sampled trainer, ranked assignment and
    // probed prune stay DuckDB-replayable — within-cell pair work at a
    // fixed cell count is n²/9 by construction (measured 2.18/11.17/
    // 48.39 s at sf1/sf3/sf6.4, tracking n²), exactly v04's cost class.
    // The SCALE path is the production serving form (semanticDedup's
    // derived cells + autoProbes), whose occupancy-pinned cells keep the
    // pair kernel ~linear; the pinned shape exists for oracle coverage,
    // not as the deployment recipe.
    // v24 (r19) pins the coarse-SPANNING probe at the same 3x3 shape —
    // same n²/9-by-construction cost class, same anchor treatment.
    val anchorNames = Set("v04_cosine_neardup", "v23_semantic_multiprobe",
      "v24_semantic_spanprobe")
    val anchorReps = math.min(reps,
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_ANCHOR_REPS", reps.toString).toInt))
    val gcBeforeShared = Measure.gcMs()
    // shared-cache pass (the library's real session economics: retained
    // caches are populated once and reused). A query is "coupled" when it
    // touched the CacheRegistry while running (populate OR reuse —
    // including work executed at plan-build time, like the CC loop) or
    // when its cache-substituted plan reads an InMemoryRelation (silent
    // plan-matched reuse of another query's cache, e.g. d04 reading d02's
    // shingles without ever calling the registry) — either way its number
    // depends on which query ran first. For a coupled query the shared
    // MEDIAN is its steady-state (cache-reusing) cost; its build-inclusive
    // cost lives in queries_first and, order-independently, in isolated.
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val touches0 = CacheRegistry.touches
      val r = ledger.reps(name, if (anchorNames(name)) anchorReps else reps,
        fresh = false)(frame(name))
      // the coupling detection must NOT run inside the timed window:
      // rendering withCachedData forces analysis + cache substitution +
      // full plan stringification, which r4 measured at 0.8-2.0 s on
      // complex plans — enough to make untouched queries look regressed
      // round-over-round. Inspect after the clock stops.
      val coupled = CacheRegistry.touches != touches0 ||
        r.first.exists(_.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
      (name, r.times, coupled)
    }.filterNot { case (name, _, _) => ledger.refusals.exists(_._1 == name) }
    val gcShared = Measure.gcMs() - gcBeforeShared
    // isolation pass: re-time each coupled query against a CLEARED
    // registry, so every number includes its own full cache build —
    // independent of alphabetical run order. Start it from a compacted
    // heap: drop every retained cache and force a full collection so
    // the isolated numbers measure the queries, not 69 queries' worth
    // of accumulated JVM state (the r5 failure mode).
    CacheRegistry.unpersistAll(blocking = true)
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    val gcBeforeIso = Measure.gcMs()
    // every rep clears the registry first, so each isolated rep pays its
    // own full cache build — the median here is the noise-immune
    // build-inclusive number.
    val isolated = results.collect { case (name, _, true) => name }.map { name =>
      name -> ledger.reps(s"isolated:$name", reps, fresh = true)(frame(name)).times
    }
    val medians = results.map { case (k, ts, _) => k -> Measure.median(ts) }
    // SPARK_GRAFT_BENCH_FULL overrides the full path for multi-SF sweeps
    // that need one artifact per SF instead of last-write-wins. The
    // re-probe must read the PRIOR artifact before this run replaces it.
    val defaultName = Measure.artifactName("BENCH_full", sfDir)
    val basePath = sys.env.get("SPARK_GRAFT_BENCH_FULL").map(Paths.get(_))
      .getOrElse(Measure.repoPath(defaultName))
    val priorQueries = Measure.priorQueries(basePath)
    val reprobed = reprobe(medians, priorQueries, ledger)(frame)
    // Disclosed by-contract-quadratic anchors, reported on their own
    // line: v04 is an exact all-pairs kernel behind a loud 2^17 refusal
    // gate (the d07/v02/v17 routing lives in its scaladoc), so its cost
    // grows n² BY DESIGN while every other kernel is linear. Folding it
    // into one total made cross-round/cross-SF totals track the anchor's
    // n² instead of kernel health (18% of the sf3 total in r12). `value`
    // keeps summing everything (cross-round continuity); `anchors_s` is
    // the quadratic slice to subtract when reading scaling shape.
    val anchorsS = medians.collect { case (k, v) if anchorNames(k) => v }.sum
    // Builder-class rows, reported on their own line for the same reason:
    // d00/m00 force a full persisted-index rebuild per rep (the named-
    // builder contract) and d11/m09 deliberately re-pay build+append per
    // rep so each rep is self-contained — their cost tracks corpus size,
    // not serve-path health. `value` keeps summing everything; subtract
    // `builders_s` (and `anchors_s`) to read the steady-state serve band
    // across rounds/SFs.
    val builderNames = Set("d00_build_simhash_index", "m00_build_phash_index",
      "d11_simhash_index_append", "m09_media_index_append")
    val buildersS = medians.collect { case (k, v) if builderNames(k) => v }.sum
    val qs = Measure.obj(medians)
    val qsMin = Measure.obj(results.map { case (k, ts, _) => k -> ts.min })
    val qsFirst = Measure.obj(results.map { case (k, ts, _) => k -> ts.head })
    val total = medians.map(_._2).sum
    val totalFirst = results.map(_._2.head).sum
    val iso =
      if (isolated.isEmpty) ""
      else ",\"isolated\":" + Measure.obj(isolated.map { case (k, ts) => k -> Measure.median(ts) }) +
        ",\"isolated_min\":" + Measure.obj(isolated.map { case (k, ts) => k -> ts.min })
    val warm =
      if (reprobed.isEmpty) ""
      else ",\"warm_reprobe\":" + Measure.obj(reprobed) +
        ",\"warm_reprobe_prior\":" + Measure.obj(reprobed.map { case (k, _) =>
          k -> priorQueries(k) })
    def messages(key: String, ms: Seq[(String, String)]): String =
      if (ms.isEmpty) ""
      else s",${util.Json.quote(key)}:" +
        Measure.obj(ms.map { case (k, m) => k -> util.Json.quote(m.take(300)) })
    val errs = messages("errors", ledger.errors.toSeq)
    val refs = messages("refusals", ledger.refusals.toSeq)
    val gcIso = Measure.gcMs() - gcBeforeIso
    val heapMaxMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val notes = util.Json.quote(
      s"queries: per-query MEDIAN of $reps consecutive shared-cache runs " +
        "(noise-immune committed number); queries_min/queries_first keep the " +
        "best and the one-shot first run (first = build-inclusive for " +
        "cache-coupled queries, the pre-r9 semantics — value_first is its " +
        "sum, comparable to r8's value). isolated: cache-coupled queries " +
        s"re-timed $reps times with the registry cleared before EACH rep, " +
        "median committed — order-independent and build-inclusive. value " +
        "sums the shared medians. gc_ms_* = cumulative stop-the-world GC " +
        "inside each pass; heap_max_mb is the JVM -Xmx cap. anchors_s = " +
        "the shared-median sum of the disclosed by-contract-quadratic " +
        "anchors (v04_cosine_neardup exact all-pairs; v23_semantic_multiprobe, " +
        "whose catalog row pins a 3x3 two-level shape for oracle coverage so " +
        "its within-cell pair work is n2/9 by construction — the production " +
        "serving form derives occupancy-pinned cells and stays ~linear) — " +
        "subtract from value when reading " +
        "kernel scaling shape; value - anchors_s is the linear-kernel total. " +
        "builders_s = the shared-median sum of the builder-class rows " +
        "(d00/m00 named index builders, d11/m09 build+append-per-rep) — " +
        "value - anchors_s - builders_s is the steady-state serve-band total. " +
        "refusals = designed gate refusals at this SF (documented bounds, " +
        "not errors); refused rows are excluded from every total/map and " +
        "queries_n counts runnable rows only. warm_reprobe = rows whose " +
        "shared median exceeded 2x their median in the PRIOR committed " +
        "artifact for this SF (warm_reprobe_prior), re-run twice at the " +
        "end of the run, best warm time — the committed number stays the " +
        "median; a warm_reprobe near the prior value adjudicates the " +
        "excursion as host-I/O, near the new median as a real change." +
        (if (anchorReps < reps)
          s" anchor_reps=$anchorReps: anchor-class rows (the disclosed " +
            "by-contract-quadratic v04/v23) ran fewer reps than the serve " +
            "band — their committed number is the median of those reps; " +
            "every other row keeps the full rep count."
         else ""))
    // Field order is deliberate: the bulky per-query maps FIRST, the
    // totals/GC/heap summary LAST. The driver's artifact capture keeps
    // only the tail of stdout (BENCH_r06 lost q01-q21 and the total to a
    // 2000-char cap), so whatever must always survive goes at the end of
    // the line. The complete JSON is also written to BENCH_full.json in
    // the repo so the official artifact never depends on capture size.
    val line = s"""{"metric":"total","unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_first":$qsFirst$iso$warm$errs$refs,"notes":$notes,"sf":${util.Json.quote(sfDir)},"reps":$reps,"anchor_reps":$anchorReps,"gc_ms_shared":$gcShared,"gc_ms_isolated":$gcIso,"heap_max_mb":$heapMaxMb,"anchors_s":$anchorsS,"builders_s":$buildersS,"value_first":$totalFirst,"value":$total}"""
    // <300 chars INCLUDING sbt's "[info] " prefix: nine rounds of driver
    // artifacts carried parsed:null because this line only survives the
    // ~2000-char stdout tail if it fits AFTER everything sbt and Spark
    // emit behind it. Totals + counts only — gc/heap/slowest live in the
    // full line and BENCH_full.json. Printed twice (before the full line
    // and again last, after spark.stop() so shutdown logging cannot trail
    // it) so at least one copy sits inside the captured tail.
    val compact = s"""{"metric":"total","unit":"sec","value":${math.rint(total * 1000) / 1000},"value_first":${math.rint(totalFirst * 1000) / 1000},"sf":${util.Json.quote(sfDir)},"anchors_s":${math.rint(anchorsS * 1000) / 1000},"builders_s":${math.rint(buildersS * 1000) / 1000},"reps":$reps,"queries_n":${results.size},"coupled_n":${isolated.size},"errors_n":${ledger.errors.size},"refusals_n":${ledger.refusals.size},"reprobed_n":${reprobed.size},"full":${util.Json.quote(defaultName)}}"""
    // A run with ANY failed query must never replace the canonical
    // artifact: its total silently sums ~0.1s fail-fast times for the
    // broken queries, misrepresenting cost (this exact overwrite shipped
    // an invalid 482s artifact in round 7).
    val fullPath = if (ledger.errors.isEmpty) basePath else Measure.failedSibling(basePath)
    try Measure.write(fullPath, line)
    catch { case e: Exception => System.err.println(s"[bench] $fullPath write failed: $e") }
    println(compact)
    println(line)
    spark.stop()
    println(compact)
    if (ledger.errors.nonEmpty) {
      ledger.errors.foreach { case (k, m) => System.err.println(s"[bench] $k FAILED: $m") }
      sys.exit(1)
    }
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int, warmups: Int): Unit =
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"time: $name")
      def rep(): Measure.Timed = {
        CacheRegistry.unpersistAll(blocking = true)
        Measure.noop(SparkEntry.queries(name)(spark, sfDir))
      }
      (0 until warmups).foreach(_ => rep())
      val ts = (1 to reps).map { i =>
        val t = rep()
        println(f"[time] $name rep$i ${t.seconds}%.3f s (gc ${t.gcMs} ms)")
        t.seconds
      }
      println(f"TIME $name%-34s median=${Measure.median(ts)}%8.3f s  " +
        s"reps=${ts.map(t => f"$t%.3f").mkString(",")}")
    }

  /** A query whose CONSTRUCTION throws still gets its text (the exception),
    * so a sweep over the catalog is total. */
  private def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String]): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val text =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Exception =>
          s"CONSTRUCTION FAILED: ${e.getClass.getName}: ${e.getMessage}" }
      outDir match {
        case Some(d) => Files.writeString(Paths.get(d, s"$name.txt"), text)
        case None => println(s"==== $name ====\n$text")
      }
    }
  }

  /** Every stage of [[graft.pipeline.Curation.pretrainingCorpus]] is
    * individually oracled and benched in the catalog (t12/d08/d10 → d01/
    * d03/d05/d07 → p06), but the COMPOSED artifact — the thing a real
    * user runs — needs its own number: cross-stage recomputation hides
    * between stages, not inside them (the r6 curateSemantic class). Two
    * measurements per rep:
    *
    *  - `e2e`: one action over the full lexical+semantic recipe
    *    (scrub → cutSpans → quality/exact/near-dup → SemDeDup →
    *    leakage-safe splits), counted by split so the whole DAG executes;
    *  - a stage ladder (each stage materialized via count on a fresh
    *    registry) whose SUM bounds what the composition would cost if it
    *    re-ran every prefix — `e2e ≲ Σ stages` is the no-recomputation
    *    check, printed per rep for eyeball diffing.
    *
    * Prints one compact JSON line last (the bench stdout-framing
    * contract). */
  private def curation(spark: SparkSession, dir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Curation
    val docs = QueryHelpers.tbl(spark, dir, "documents")
    val vecs = QueryHelpers.tbl(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    var lastE2e = 0.0
    var lastStages = Seq.empty[(String, Double)]
    (1 to reps).foreach { rep =>
      CacheRegistry.unpersistAll(blocking = true)
      val (tE2e, nOut) = Measure.seconds {
        Curation.pretrainingCorpus(docs, Some(vecs))
          .groupBy(col("split")).count().collect().map(_.getLong(1)).sum
      }
      println(f"[curation] rep$rep e2e ${tE2e}%.2f s ($nOut docs out)")
      // stage ladder: each step runs on a FRESH registry so it measures
      // the true cold cost of its whole prefix — without the per-stage
      // reset, later stages hit plan-matched caches retained by earlier
      // ones and Σ stages understates the all-prefixes bound the e2e
      // number is checked against
      val stages = ListBuffer.empty[(String, Double)]
      def stage(name: String)(f: => Long): Unit = {
        CacheRegistry.unpersistAll(blocking = true)
        stages += (name -> Measure.seconds(f)._1)
      }
      val cleaned = Curation.cutSpans(Curation.scrub(docs), 8)
        .drop("n_span_tokens_removed")
      stage("scrub")(Curation.scrub(docs).count())
      stage("cutSpans")(cleaned.count())
      stage("curate(lexical)")(Curation.curate(cleaned).count())
      stage("curateSemantic")(Curation.curateSemantic(cleaned, vecs).count())
      stage("splitsLeakageSafe")(
        graft.pipeline.Splits.assignLeakageSafe(
          Curation.curateSemantic(cleaned, vecs).drop("split"), 0.3, 100L).count())
      println(stages.map { case (k, v) => f"$k=${v}%.2f" }
        .mkString(f"[curation] rep$rep stages (cumulative-prefix costs): ", " ", ""))
      lastE2e = tE2e
      lastStages = stages.toSeq
    }
    val stagesJson = Measure.obj(lastStages.map { case (k, v) => k -> math.rint(v * 100) / 100 })
    println(s"""{"metric":"curation_e2e","unit":"sec","value":${math.rint(lastE2e * 100) / 100},"stages":$stagesJson,"sf":${util.Json.quote(dir)},"reps":$reps}""")
  }
}
