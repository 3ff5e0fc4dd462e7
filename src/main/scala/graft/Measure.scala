package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The timing core under every [[Bench]] subcommand: one clock, one
  * noop-sink timer, one median, one refusal classifier, one artifact
  * naming rule and one JSON map writer. Sessions come from
  * [[Sessions.build]], the one reader of `SPARK_GRAFT_CPUS`. */
object Measure {

  /** Cumulative stop-the-world GC time across all collectors, in ms.
    * Reported next to every timing so heap pressure is visible: r5's
    * official numbers inflated the isolated dedup pass 10-20x purely
    * from end-of-run JVM state in an 8 GiB heap, and nothing in the
    * artifact could show it. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Wall seconds of `f`, with its result. */
  def seconds[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  final case class Timed(seconds: Double, gcMs: Long, frame: DataFrame)

  /** Builds `frame` and runs it through a `noop`-format write, both
    * inside the clock. The noop sink runs the FULL plan — final sorts
    * and all payload columns survive (a bare `.count()` would let
    * Catalyst drop top-level ORDER BY via EliminateSorts and prune every
    * non-key column). Throws whatever the frame throws. */
  def noop(frame: => DataFrame): Timed = {
    val g0 = gcMs()
    val (s, df) = seconds {
      val df = frame
      df.write.format("noop").mode("overwrite").save()
      df
    }
    Timed(s, gcMs() - g0, df)
  }

  /** Median; an even count averages the two middle values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Designed gate REFUSALS are not failures: above its documented bound
    * a kernel throws with guidance instead of grinding. Classify by TYPE,
    * not message text: a genuine bug whose wrapped message embeds the
    * guidance string must count as a failure (r14 advice). Walk the
    * cause chain because a gate firing inside a forked action arrives
    * wrapped. */
  def isRefusal(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[graft.util.GateRefusal])

  /** `<stem>.json` for the OFFICIAL scale (sf0.1), `<stem>.<sf>.json`
    * for every other tier: a smoke run at another SF must never replace
    * the canonical artifact with numbers measured on different data. */
  def artifactName(stem: String, sfDir: String): String = {
    val sf = Paths.get(sfDir).getFileName.toString
    if (sf == "sf0.1") s"$stem.json" else s"$stem.$sf.json"
  }

  /** The `.failed.json` sibling a run with any failure is written to, so
    * the evidence survives without becoming the record. */
  def failedSibling(p: Path): Path =
    p.resolveSibling(p.getFileName.toString.stripSuffix(".json") + ".failed.json")

  /** Where an artifact lands: the repo (the sbt project dir that forked
    * this JVM, exported as SPARK_GRAFT_REPO in build.sbt), not the
    * process cwd. */
  def repoPath(name: String): Path =
    Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO", "."), name)

  /** A JSON object from keys and already-rendered JSON values. */
  def obj(entries: Iterable[(String, Any)]): String =
    entries.map { case (k, v) => util.Json.quote(k) + ":" + v }.mkString("{", ",", "}")

  def write(p: Path, line: String): Unit = Files.write(p, (line + "\n").getBytes(UTF_8))

  /** The `queries` medians of a prior bench artifact; empty when it is
    * missing or unreadable. */
  def priorQueries(p: Path): Map[String, Double] =
    try {
      if (!Files.exists(p)) Map.empty
      else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(Files.readString(p)).map { m =>
        """"([^"]+)":([-0-9.Ee+]+)""".r.findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Exception => Map.empty }
}
