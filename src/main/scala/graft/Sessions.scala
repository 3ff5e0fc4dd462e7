package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the harness mains — Bench and
  * Verify MUST run under identical session semantics (a conf applied to
  * one but not the other is exactly the benchmark/correctness skew the
  * oracle discipline exists to prevent). */
object Sessions {
  /** Harness session (`graft.Bench` and its subcommands, Verify,
    * ScaleUp): sized by `SPARK_GRAFT_CPUS`, default 32. This is the one
    * place a harness reads the variable. */
  def build(): SparkSession = build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

  def build(cpus: String): SparkSession = finish(builder(cpus))

  /** The unstarted local builder behind [[build]], for callers that add
    * non-tuning settings (the test session's warehouse dir and app name)
    * and must otherwise plan under the same rule set. */
  private[graft] def builder(cpus: String): SparkSession.Builder =
    shared(SparkSession.builder().master(s"local[${checkCpus(cpus)}]"),
      shufflePartitions = cpus)

  /** Daemon-side session for [[Main]]'s no-active-session fallback.
    * Unlike [[build]] this NEVER forces a master: a `spark-submit
    * --master yarn|k8s://…` launch sets `spark.master` before `main`
    * runs, and forcing `local[…]` here would silently demote the
    * cluster launch to driver-local execution. For the same reason a
    * SUBMITTED launch keeps every `--conf` the user passed: builder
    * options override spark-submit system properties, so the shared
    * defaults below are applied only where no submitted value exists
    * (a 4-core driver must not stamp shuffle.partitions=4 over a
    * cluster's `--conf spark.sql.shuffle.partitions=800`). Only a bare
    * `java -cp … graft.Main` (no master anywhere) gets a local master
    * sized from the actual machine — `SPARK_GRAFT_CPUS` must be a
    * positive int when set because it also sizes
    * `spark.sql.shuffle.partitions`, which rejects non-int values
    * (`toIntOption` so an overflowing digit string still gets THIS
    * message, not a bare NumberFormatException). */
  def adopt(cpusEnv: Option[String]): SparkSession = {
    val submitted = sys.props.get("spark.master").exists(_.nonEmpty)
    val cpus = cpusEnv.map(checkCpus)
      .getOrElse(Runtime.getRuntime.availableProcessors().toString)
    if (!submitted) return build(cpus)
    // submitted launch: TUNING defaults yield to any user-submitted
    // conf, but the CORRECTNESS pins do not — a cluster's ambient
    // spark-defaults.conf (indistinguishable from a deliberate --conf
    // here) silently shifting the session timezone or the nanos
    // parquet mapping would diverge the daemon's results from the
    // Bench/Verify semantics this file exists to keep identical
    val defaults = TuningConf(shufflePartitions = cpus)
      .filter { case (k, _) => !sys.props.get(k).exists(_.nonEmpty) }
    finish((CorrectnessConf ++ defaults).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    })
  }

  // digits-only AND parses: '+5' would build an invalid local[+5]
  // master, and an over-i32 digit string must still get THIS message
  // rather than a bare NumberFormatException
  private def checkCpus(c: String): String = {
    require(c.nonEmpty && c.forall(_.isDigit) && c.toIntOption.exists(_ >= 1),
      s"SPARK_GRAFT_CPUS must be a positive integer (got '$c'); " +
        "it sizes spark.sql.shuffle.partitions")
    c
  }

  /** Confs that define RESULT semantics — forced on every session. */
  private val CorrectnessConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Confs that only tune performance/surface — submitted values win. */
  private def TuningConf(shufflePartitions: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // InferFiltersFromGenerate copies every explode's ATTRIBUTE input
    // into a pre-Generate Filter (size(e) > 0 AND isnotnull(e)); when
    // the attribute is defined by a projection over raw text (toks =
    // split(text)), predicate pushdown substitutes the definition and
    // the corpus pays the split once more per inserted filter, below
    // the Exchange. The r19 sweep (PROBES_r19 genaudit/genab) plan-
    // diffed all 123 catalog queries: 10 gain filters under the rule,
    // none get faster (no empty generator inputs exist in any source —
    // shingled()/toked() rows always carry >= 1 element), and two pay
    // real tax (t09 2.84x: three split(text) re-evaluations; t07
    // 1.28x). The r18 simhash/t15 incidents were the same mechanism
    // found ad hoc. Excluding the rule engine-wide removes the whole
    // hazard class, including the streaming signatures() path no bench
    // row times. Tuning, not correctness: inferred filters never change
    // results, only plans.
    // PlanRegressionSpec's t09 case guards the exclusion.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // Without libhadoop the default `file:` FileSystem forks `chmod` for
    // every directory and file a write creates, eight or nine for a
    // one-task parquet or CSV write (a JFR recording of one 30 s
    // daemon_fleet run on 4 cores held 4,224 chmod starts).
    // graft.util.LocalFs sets the same bits in process (a sticky bit or a
    // setuid/setgid directory still takes Hadoop's path). Hadoop caches
    // FileSystem instances per scheme and user, not per conf: a JVM that
    // touched `file:` before building its session keeps the instance it
    // got then (LocalFsSpec checks this session's). Streaming checkpoints
    // go through FileContext, which this key does not reach.
    "spark.hadoop.fs.file.impl" -> classOf[graft.util.LocalFs].getName,
    "spark.ui.enabled" -> "false") ++ extraConf

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"` — tuning overrides appended LAST so
    * they win over the defaults above (builder config is last-write-
    * wins). This is the parameterization point for scale-dependent
    * settings (the optimization-guide rule: local defaults keep the
    * bench comparable, a cluster submit sets its own values) and the
    * instrument behind the r19 conf A/B probes. Tuning-only is
    * ENFORCED, not positional: an entry naming a CorrectnessConf key
    * would otherwise win by last-write and silently skew Bench/Verify
    * result semantics (the exact divergence this file exists to
    * prevent), so such entries are rejected loudly instead. */
  private def extraConf: Seq[(String, String)] = {
    val pinned = CorrectnessConf.map(_._1).toSet
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';').toSeq)
      .map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        val k = kv.substring(0, i).trim
        require(!pinned(k),
          s"SPARK_GRAFT_CONF may not override correctness pin '$k' " +
            "(result semantics are fixed across Bench/Verify)")
        k -> kv.substring(i + 1).trim
      }
  }

  // codegen.cache sizing: the default 100 entries thrash once ~70
  // queries x ~8 codegen stages have run in one session, so late
  // queries (and d05's per-round CC loop) recompile identical code —
  // measured as the residual isolated-pass inflation after the r6 heap
  // fix. A resident analytics session should hold its whole catalog's
  // generated classes.
  private def shared(b: SparkSession.Builder,
      shufflePartitions: String): SparkSession.Builder =
    (CorrectnessConf ++ TuningConf(shufflePartitions)).foldLeft(b) {
      case (acc, (k, v)) => acc.config(k, v)
    }

  private def finish(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
