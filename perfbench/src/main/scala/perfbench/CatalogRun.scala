package perfbench

import graft.{CacheRegistry, SparkEntry}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** `catalog`: a fixed list of `SparkEntry.queries` covering every operator
  * family, each written to the `noop` sink in name order. One pass runs
  * every query once after clearing `CacheRegistry`, so every pass rebuilds
  * the shared caches; the persisted indexes the warm-up built are reused,
  * as a resident engine would. An operation is one query, from the
  * catalog call until the noop write returns; the phase's median latency
  * is the median over queries of each query's median, which a query
  * slowed in one pass does not move. The untimed warm-up writes each
  * result as parquet for the output check, then runs [[WarmPasses]]
  * noop passes, since the first passes after it are still compiling. */
final class CatalogWorkload(spark: SparkSession, dataSrc: Path, work: Path,
    val names: Seq[String]) extends Workload {

  private val queries = SparkEntry.queries
  private var dir: String = _
  private var outRows = Map.empty[String, Long]
  private var warmS = Map.empty[String, Double]
  val opsPerQuery = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  val errors = scala.collection.mutable.Map.empty[String, String]
  var passes = 0
  var cacheTouches = Vector.empty[Long]
  var cacheEntries = Vector.empty[Int]

  require(names.forall(queries.contains), s"unknown query in ${names.mkString(",")}")

  def stage(rep: Int): Unit = {
    val d = work.resolve(s"data$rep")
    Files.createDirectories(d)
    val s = Files.list(dataSrc)
    try s.iterator().forEachRemaining(f => Files.copy(f, d.resolve(f.getFileName)))
    finally s.close()
    dir = d.toString
  }

  def outDir: Path = work.resolve("out")

  def warmup(): Unit = {
    CacheRegistry.unpersistAll(blocking = true)
    names.foreach { n =>
      val t = System.nanoTime()
      try {
        val p = outDir.resolve(n).toString
        queries(n)(spark, dir).write.mode("overwrite").parquet(p)
        outRows += n -> spark.read.parquet(p).count()
      } catch { case NonFatal(e) => errors(n) = String.valueOf(e.getMessage).take(300) }
      warmS += n -> (System.nanoTime() - t) / 1e9
    }
    run(0, CatalogWorkload.WarmPasses, Tracer.off)
  }

  private def family(n: String): String = n.take(1)

  def run(seconds: Double, minPasses: Int, tracer: Tracer): Phase = {
    val lat = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    passes = 0
    cacheTouches = Vector.empty
    cacheEntries = Vector.empty
    val ps = Workload.repeat(seconds, minPasses) {
      val p0 = System.nanoTime()
      CacheRegistry.unpersistAll(blocking = true)
      val touch0 = CacheRegistry.touches
      tracer.span("catalog.pass", s"pass$passes") {
        names.foreach { n =>
          val q0 = System.nanoTime()
          try tracer.span(s"op.${family(n)}", n) {
            val df = tracer.span("op.build", n)(queries(n)(spark, dir))
            if (tracer.enabled) tracer.span("op.plan", n)(df.queryExecution.executedPlan)
            tracer.span("op.exec", n)(noop(df))
          } catch { case NonFatal(e) => errors(n) = String.valueOf(e.getMessage).take(300) }
          lat(n) :+= (System.nanoTime() - q0) / 1e9
          opsPerQuery(n) += 1
        }
      }
      cacheTouches :+= CacheRegistry.touches - touch0
      cacheEntries :+= CacheRegistry.entries.size
      passes += 1
      Pass((System.nanoTime() - p0) / 1e9, names.length, names.map(outRows.getOrElse(_, 0L)).sum)
    }
    Phase(names.flatMap(lat), Stats.median(names.map(n => Stats.median(lat(n)))), ps)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  override def report: Map[String, Any] = Map(
    "ops_per_query" -> opsPerQuery.toMap, "outputs" -> outDir.toString,
    "warmup_query_s" -> warmS, "output_rows" -> outRows,
    "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })

  /** Query errors are checked here; result checksums are compared with
    * the oracle's by the launcher, which reads the warm-up's parquet. */
  def check(): Check = {
    val attempted = opsPerQuery.values.sum
    val bad = errors.keySet ++ names.filterNot(outRows.contains)
    Check(attempted, bad.toSeq.map(n => math.max(1L, opsPerQuery(n))).sum,
      bad.toSeq.sorted.map(n => s"$n: ${errors.getOrElse(n, "no output")}"))
  }
}

object CatalogWorkload {
  /** One query per operator family (first letter), plus the shared-cache
    * pair d02/d05 and the persisted index v08; e10 is a sketch query
    * without an exact oracle. Six of the ten are cheap at the bundled
    * sf0.001 tier, so the median falls among queries that are mostly
    * fixed cost rather than in the gap between cheap and costly ones. A
    * cold pass fits the per-run budget. */
  val Queries: Seq[String] = Seq(
    "d02_neardup_jaccard", "d05_neardup_clusters", "e04_sessionize",
    "e10_approx_value_percentiles", "m05_phash_neardup", "p03_quality_mix",
    "q01_pricing_summary", "q06_revenue_forecast", "t01_text_stats", "v08_ann_index_persisted")

  /** Untimed noop passes after the cold one: in a fresh JVM a pass keeps
    * getting faster until about the sixth (the second takes about a third
    * longer), as the JIT compiles the planner's hot paths. */
  val WarmPasses = 3
}
