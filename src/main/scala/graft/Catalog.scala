package graft

/** The full query catalog: every implemented operator surfaces here as a
  * named query (SURVEY.md §2 inventory). Assembled from per-domain modules.
  */
object Catalog {
  def all: Seq[QueryDef] =
    operators.Relational.entries ++
      operators.Events.entries ++
      operators.Documents.entries ++
      operators.Embeddings.entries ++
      operators.Multimodal.entries

  lazy val byName: Map[String, QueryDef] = {
    val m = all.map(q => q.name -> q).toMap
    require(m.size == all.size, "duplicate query names in catalog")
    m
  }

  /** Register every test table as a temp view so users can hit the same
    * data through plain `spark.sql(...)` (plus the engine's SQL functions
    * via [[graft.functions.ParseHumanInterval.install]]). The events view
    * is pre-converted to microsecond timestamps like `eventsTbl`. */
  def registerViews(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    // probe through Spark's read path, not java.io.File — the dir may be
    // any Hadoop-readable location (s3a://, hdfs://), where a local File
    // existence check is always false
    def tryRegister(name: String)(make: => org.apache.spark.sql.DataFrame): Unit =
      try make.createOrReplaceTempView(name)
      catch { case _: org.apache.spark.sql.AnalysisException => /* table absent */ }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      tryRegister(t)(sources.ParquetTables.read(spark, s"$dir/$t.parquet"))
    }
    tryRegister("events")(QueryHelpers.eventsTbl(spark, dir))
  }
}
