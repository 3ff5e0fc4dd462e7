package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query to `outDir/<name>` parquet. A query failure must be
    * LOUD in the downstream report, not an omission: r4's v08 breakage
    * produced NO row in the driver's correctness JSON because the failed
    * query's output dir was simply absent. Now a failure purges any stale
    * output (an earlier run's parquet would hash-compare old — possibly
    * green — results for a now-broken query) and then writes a marker the
    * checker cannot ignore in ANY mode: an EMPTY parquet whose only
    * column is `_graft_error` (schema mismatch against every oracle; zero
    * rows against a rows-only smoke check) plus `_error.txt` carrying the
    * exception for humans. */
  def dump(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        def purge(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(purge)
          f.delete()
        }
        purge(new java.io.File(s"$outDir/$name"))
        import org.apache.spark.sql.functions.lit
        spark.range(0).select(lit("").as("_graft_error"))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Files.writeString(Paths.get(s"$outDir/$name/_error.txt"),
          s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  /** args: sfDir outDir [comma-separated query names]. The optional third
    * arg restricts the dump (and the emitted oracle_sql.json) to a subset
    * — used for targeted re-validation (e.g. new queries at 10× the gate
    * scale, where the full sweep is bounded by the brute-force oracles). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [comma-separated query names]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    def keep(name: String) = only.forall(_.contains(name))
    val spark = Sessions.build()
    dump(spark, SparkEntry.queries.filter(kv => keep(kv._1)), sfDir, outDir)
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${util.Json.quote(k)}: ${util.Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
