package graft

import java.nio.file.Files
import graft.control.CsvControlTable

/** graft.Main is the deployment surface (reference TODO.md:2-3 parity):
  * a properties file IS the engine config, and one CLI invocation drives
  * the daemon. The spec runs the real main end to end on a scaffolded
  * deployment — config parse → Engine.start → poll → warehouse load. */
class MainSpec extends SparkSpec {

  private def deployment(): java.nio.file.Path = {
    val root = Files.createTempDirectory("maindocs")
    val doc = Files.createDirectory(root.resolve("Doc"))
    Files.write(doc.resolve("S1.csv"), "k,v\n1,a\n2,b\n3,c\n".getBytes)
    val ctl = Files.createTempFile("mainctl", ".csv")
    CsvControlTable.init(ctl, Seq(Seq(
      "Doc", "S1", "", "warehouse", "main_t1", "", "yes", "", "", "", "")))
    val props = Files.createTempFile("main", ".properties")
    Files.writeString(props,
      s"""graft.sourceRoot=$root
         |graft.controlPath=$ctl
         |graft.runLogPath=${Files.createTempDirectory("mainlog")}/runlog.csv
         |graft.csvOutDir=${Files.createTempDirectory("maincsv")}
         |graft.maxCycles=1
         |graft.pollMillis=1
         |""".stripMargin)
    props
  }

  test("Main runs a scaffolded deployment end to end (poll-once mode)") {
    spark.sql("DROP TABLE IF EXISTS g_sheets.main_t1")
    Main.main(Array(deployment().toString, "poll-once"))
    assert(spark.table("g_sheets.main_t1").count() == 3)
  }

  test("Main 'run' mode honors graft.maxCycles and terminates") {
    spark.sql("DROP TABLE IF EXISTS g_sheets.main_t1")
    Main.main(Array(deployment().toString)) // default mode = run
    assert(spark.table("g_sheets.main_t1").count() == 3)
  }

  test("relative config paths resolve against the properties file, not the cwd") {
    // graft-setup writes paths verbatim from however the deploy dir was
    // named; the launcher (bin/graft-run, spark-submit, a container)
    // owns the cwd — so config-relative is the only resolution that
    // works from anywhere. The cwd here is the sbt project root, which
    // contains none of these paths.
    val dep = Files.createTempDirectory("reldep")
    Files.createDirectory(dep.resolve("docs"))
    Files.writeString(dep.resolve("engine.properties"),
      """graft.sourceRoot=docs
        |graft.controlPath=control.csv
        |graft.runLogPath=runlog.csv
        |graft.csvOutDir=exports
        |""".stripMargin)
    val loaded = EngineProperties.load(dep.resolve("engine.properties"))
    assert(loaded.config.sourceRoot == dep.resolve("docs").toAbsolutePath.normalize)
    assert(loaded.config.controlPath == dep.resolve("control.csv").toAbsolutePath.normalize)
    assert(loaded.config.csvOutDir ==
      dep.resolve("exports").toAbsolutePath.normalize.toString)
    // absolute paths pass through untouched
    val abs = Files.createTempFile("absprops", ".properties")
    Files.writeString(abs,
      s"""graft.sourceRoot=${dep.resolve("docs")}
         |graft.controlPath=${dep.resolve("control.csv")}
         |graft.runLogPath=${dep.resolve("runlog.csv")}
         |graft.csvOutDir=${dep.resolve("exports")}
         |""".stripMargin)
    assert(EngineProperties.load(abs).config.sourceRoot ==
      dep.resolve("docs"))
  }

  test("missing required keys fail together, loudly") {
    val props = Files.createTempFile("bad", ".properties")
    Files.writeString(props, "graft.sourceRoot=/tmp\n")
    val e = intercept[IllegalArgumentException] {
      EngineProperties.load(props)
    }
    assert(e.getMessage.contains("graft.controlPath"))
    assert(e.getMessage.contains("graft.runLogPath"))
    assert(e.getMessage.contains("graft.csvOutDir"))
  }

  test("Sessions.adopt rejects a non-integer SPARK_GRAFT_CPUS before Spark sees it") {
    // the env var sizes spark.sql.shuffle.partitions, which rejects
    // non-int values only on FIRST USE — deep inside the daemon's first
    // job. Fail at session build instead, with the reason; the harness
    // path (Sessions.build) runs the same check.
    val paths = Seq[(String, String => Any)](
      "adopt" -> (c => Sessions.adopt(Some(c))), "build" -> (c => Sessions.build(c)))
    for (bad <- Seq("*", "0", "", "-4", "eight", "+5", "99999999999"); (path, open) <- paths) {
      val e = intercept[IllegalArgumentException] { open(bad) }
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"$path for '$bad'")
    }
    // a valid count (and the unset default) both yield a live session
    assert(!Sessions.adopt(Some("8")).sparkContext.isStopped)
    assert(!Sessions.adopt(None).sparkContext.isStopped)
  }

  test("unknown mode fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Main.main(Array(deployment().toString, "flood"))
    }
    assert(e.getMessage.contains("unknown mode"))
  }
}
