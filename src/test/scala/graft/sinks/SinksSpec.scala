package graft.sinks

import graft.SparkSpec
import java.nio.file.Files
import java.time.{Clock, Instant, ZoneOffset}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("warehouse sink: database auto-create, overwrite replaces, append adds (K2/K3/K5)") {
    val sink = new WarehouseSink("g_sheets_test")
    val r1 = sink.load(LoadRequest(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t1", incremental = false))
    assert(r1 == "g_sheets_test.t1")
    assert(spark.catalog.databaseExists("g_sheets_test"))
    assert(spark.table("g_sheets_test.t1").count() == 2)

    // full-replace: fewer rows AND a changed schema survive (delete-then-
    // reload semantics, bigquery.py:38-46)
    sink.load(LoadRequest(Seq((9, "z", true)).toDF("id", "v", "flag"), "t1", incremental = false))
    val replaced = spark.table("g_sheets_test.t1")
    assert(replaced.columns.toSeq == Seq("id", "v", "flag"))
    assert(replaced.count() == 1)

    // incremental append
    sink.load(LoadRequest(Seq((10, "y", false)).toDF("id", "v", "flag"), "t1", incremental = true))
    assert(spark.table("g_sheets_test.t1").count() == 2)
  }

  test("warehouse sink survives an orphaned table location (cross-JVM restart parity)") {
    // A previous PROCESS leaves the managed table directory behind while
    // this JVM's in-memory catalog has no entry for it — the daemon's
    // restart path, first caught live by tools/smoke_jar_deploy.sh's
    // second run (saveAsTable: LOCATION_ALREADY_EXISTS). Simulate the
    // orphan by writing parquet at the managed location directly.
    val sink = new WarehouseSink("g_sheets_orph")
    val loc = graft.plans.CoLocated.tableLocation(spark, "g_sheets_orph", "t_orph")
    Seq((1, "old"), (2, "older")).toDF("id", "v")
      .write.mode("overwrite").parquet(loc.toString)
    assert(!spark.catalog.tableExists("g_sheets_orph.t_orph"))
    // full replace clears the orphan and lands the new shape
    sink.load(LoadRequest(Seq((5, "new")).toDF("id", "v"), "t_orph", incremental = false))
    assert(spark.table("g_sheets_orph.t_orph").as[(Int, String)].collect().toSet ==
      Set((5, "new")))
    // now orphan it AGAIN and append: the sink must re-adopt the
    // surviving rows, not fail and not clobber them (BigQuery parity:
    // appends continue the table across scheduler restarts). Dropping a
    // MANAGED table deletes its files, so stash a copy and restore it —
    // files-present-catalog-empty is exactly the restart state.
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val locPath = java.nio.file.Paths.get(new java.net.URI(loc.toString).getPath)
    val stash = Files.createTempDirectory("orphstash")
    copyTree(locPath, stash)
    spark.sql("DROP TABLE `g_sheets_orph`.`t_orph`")
    assert(!spark.catalog.tableExists("g_sheets_orph.t_orph"))
    copyTree(stash, locPath)
    sink.load(LoadRequest(Seq((6, "appended")).toDF("id", "v"), "t_orph", incremental = true))
    assert(spark.table("g_sheets_orph.t_orph").as[(Int, String)].collect().toSet ==
      Set((5, "new"), (6, "appended")))
    // the re-adopted entry sits at the managed location; a later full
    // replace must clear its files too, or moving the staged table there
    // throws LOCATION_ALREADY_EXISTS — the replace-after-restart-append
    // cycle
    sink.load(LoadRequest(Seq((7, "replaced")).toDF("id", "v"), "t_orph", incremental = false))
    assert(spark.table("g_sheets_orph.t_orph").as[(Int, String)].collect().toSet ==
      Set((7, "replaced")))
    // and the replacement is a normal managed table again: append works
    sink.load(LoadRequest(Seq((8, "more")).toDF("id", "v"), "t_orph", incremental = true))
    assert(spark.table("g_sheets_orph.t_orph").count() == 2)
  }

  test("warehouse sink re-adopts an orphan holding only crash leftovers (no readable footers)") {
    // a previous JVM died mid-write leaving _temporary/_SUCCESS junk (or
    // nothing at all) at the managed location: schema inference has no
    // footer to read, so adoption must carry the INCOMING frame's schema
    val sink = new WarehouseSink("g_sheets_junk")
    val loc = graft.plans.CoLocated.tableLocation(spark, "g_sheets_junk", "t_junk")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(loc, "_temporary/0"))
    fs.create(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")).close()
    assert(!spark.catalog.tableExists("g_sheets_junk.t_junk"))
    sink.load(LoadRequest(Seq((1, "a")).toDF("id", "v"), "t_junk", incremental = true))
    assert(spark.table("g_sheets_junk.t_junk").as[(Int, String)].collect().toSet ==
      Set((1, "a")))
  }

  test("warehouse sink accepts digit-only destinations (requireIdent permits them)") {
    // '2024' lexes as an integer literal in an unquoted multipart
    // identifier — every catalog probe must use the backticked form
    val sink = new WarehouseSink("g_sheets_test")
    val r = sink.load(LoadRequest(Seq((1, "a")).toDF("id", "v"), "2024", incremental = false))
    assert(r == "g_sheets_test.2024")
    sink.load(LoadRequest(Seq((2, "b")).toDF("id", "v"), "2024", incremental = true))
    assert(spark.table("g_sheets_test.`2024`").count() == 2)
  }

  test("warehouse sink rejects non-identifier destinations (injection guard)") {
    val sink = new WarehouseSink("g_sheets_test")
    val df = Seq((1, "a")).toDF("id", "v")
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "a`.`b", incremental = false)))
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "t1; DROP TABLE x", incremental = false)))
    // the table replace's staging slots are reserved, in any case
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "graft_staged_t1", incremental = false)))
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "GRAFT_STAGED_t1", incremental = true)))
  }

  test("warehouse full load over a foreign EXTERNAL table replaces the entry, leaves its files") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val foreign = Files.createTempDirectory("foreign_ext").resolve("t")
    Seq((1, "mine"), (2, "yours")).toDF("id", "v").write.parquet(foreign.toString)
    def snapshot(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      Files.walk(foreign).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => foreign.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    }
    val before = snapshot()
    spark.sql("CREATE DATABASE IF NOT EXISTS g_sheets_ext")
    spark.sql(s"CREATE TABLE g_sheets_ext.t_ext USING parquet LOCATION '${foreign.toUri}'")
    val sink = new WarehouseSink("g_sheets_ext")
    sink.load(LoadRequest(Seq((7, "new", true)).toDF("id", "v", "flag"), "t_ext", incremental = false))
    assert(spark.table("g_sheets_ext.t_ext").as[(Int, String, Boolean)].collect().toSeq ==
      Seq((7, "new", true)))
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier("t_ext", Some("g_sheets_ext")))
    assert(meta.tableType == CatalogTableType.MANAGED, meta)
    assert(new org.apache.hadoop.fs.Path(meta.location) ==
      graft.plans.CoLocated.tableLocation(spark, "g_sheets_ext", "t_ext"), meta.location)
    assert(snapshot() == before, "the foreign table's files must stay byte-identical")
    assert(spark.read.parquet(foreign.toString).count() == 2)
  }

  test("warehouse full load clears a staging slot a dead process left: an entry or a bare directory") {
    val sink = new WarehouseSink("g_sheets_stage")
    val staged = graft.plans.CoLocated.StagingPrefix + "t_st"
    val stagedLoc = graft.plans.CoLocated.tableLocation(spark, "g_sheets_stage", staged)
    val fs = stagedLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dead replace's staged table, with an entry and another schema
    Seq(("x", 1.5)).toDF("other", "cols")
      .write.format("parquet").saveAsTable(s"g_sheets_stage.$staged")
    sink.load(LoadRequest(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t_st", incremental = false))
    assert(spark.table("g_sheets_stage.t_st").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
    assert(!spark.catalog.tableExists(s"g_sheets_stage.$staged") && !fs.exists(stagedLoc))
    // a bare staging directory (the dead process's catalog went with it)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagedLoc, "_temporary/0"))
    fs.create(new org.apache.hadoop.fs.Path(stagedLoc, "part-00000-junk.parquet")).close()
    sink.load(LoadRequest(Seq((3, "c")).toDF("id", "v"), "t_st", incremental = false))
    assert(spark.table("g_sheets_stage.t_st").as[(Int, String)].collect().toSet == Set((3, "c")))
    assert(!spark.catalog.tableExists(s"g_sheets_stage.$staged") && !fs.exists(stagedLoc))
  }

  test("warehouse full load uncaches the old table and records the entry a CTAS records") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val sink = new WarehouseSink("g_sheets_cache")
    // a non-nullable column and a non-nullable array element: a CTAS
    // records both as nullable
    sink.load(LoadRequest(Seq((1, "a", Seq(1.0)), (2, "b", Seq.empty[Double]))
      .toDF("id", "v", "xs"), "t", incremental = false))
    val cached = spark.table("g_sheets_cache.t").cache()
    assert(cached.count() == 2 && spark.catalog.isCached("g_sheets_cache.t"))
    // same schema and location: a cache entry left behind would still
    // match the new table's plan and serve the old rows
    val next = Seq((3, "c", Seq(1.5, 2.5))).toDF("id", "v", "xs")
    sink.load(LoadRequest(next, "t", incremental = false))
    assert(!spark.catalog.isCached("g_sheets_cache.t"))
    assert(spark.table("g_sheets_cache.t").as[(Int, String, Seq[Double])].collect().toSeq ==
      Seq((3, "c", Seq(1.5, 2.5))))
    next.write.format("parquet").saveAsTable("g_sheets_cache.t_ctas")
    val catalog = spark.sessionState.catalog
    def entry(t: String) = catalog.getTableMetadata(TableIdentifier(t, Some("g_sheets_cache")))
    val (got, twin) = (entry("t"), entry("t_ctas"))
    assert(got.provider == twin.provider && got.provider.contains("parquet"), got.provider)
    assert(got.tableType == twin.tableType, got.tableType)
    assert(got.schema == twin.schema, s"${got.schema} vs the CTAS's ${twin.schema}")
    // each at its own managed location
    assert(got.location == catalog.defaultTablePath(got.identifier), got.location)
    assert(twin.location == catalog.defaultTablePath(twin.identifier), twin.location)
  }

  test("csv sink quotes every field (K1, QUOTE_NONNUMERIC on all-string cells)") {
    val dir = Files.createTempDirectory("csvsink").toString
    val sink = new CsvSink(dir)
    sink.load(LoadRequest(Seq(("1", "a b"), ("2", "c,d")).toDF("n", "s"), "out", incremental = false))
    val files = new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    val lines = files.flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq.sorted
    assert(lines == Seq("\"1\",\"a b\"", "\"2\",\"c,d\""))
  }

  test("csv sink rejects destinations that escape the output root") {
    val dir = Files.createTempDirectory("csvesc").toString
    val sink = new CsvSink(dir)
    val df = Seq(("1", "a")).toDF("n", "s")
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "../escaped", incremental = false)))
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "a/../../escaped", incremental = false)))
    intercept[IllegalArgumentException](
      sink.load(LoadRequest(df, "/tmp/absolute", incremental = false)))
    // a benign nested destination still works
    val ok = sink.load(LoadRequest(df, "sub/out", incremental = false))
    assert(ok.startsWith(dir))
  }

  test("export filename convention (export.py:14-15)") {
    val clock = Clock.fixed(Instant.parse("2026-08-12T06:30:00Z"), ZoneOffset.UTC)
    assert(CsvSink.fileName("Doc", "Sheet1", "A2:F", clock) == "Doc.Sheet1.A2:F.20260812_063000.csv")
    // empty sheet/range segments drop out (reference defaults sheet='' and
    // cellrange='', export.py:35)
    assert(CsvSink.fileName("Doc", "", "", clock) == "Doc.20260812_063000.csv")
  }

  test("sink registry normalizes target system and rejects unknowns (D1)") {
    val reg = SinkRegistry.default("/tmp/csv")
    assert(reg.resolve("Big Query").isRight)
    assert(reg.resolve("BIGQUERY").isRight)
    assert(reg.resolve("csv").isRight)
    val err = reg.resolve("redshift")
    assert(err == Left("Cannot load to target system: redshift"))
    // extensible: registered sinks resolve under normalized keys
    val reg2 = reg.withSink("S 3", new CsvSink("/tmp/s3"))
    assert(reg2.resolve("s3").isRight)
  }
}
