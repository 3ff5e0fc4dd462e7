package graft.util

import graft.SparkSpec
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The session's `file:` FileSystem sets permissions in process and keeps
  * Hadoop's permission semantics. */
class LocalFsSpec extends SparkSpec {
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(URI.create("file:///"), conf)

  /** The nine rwx bits of `mode` as `ls` prints them. */
  private def bits(mode: Int): String =
    "rwxrwxrwx".zipWithIndex.map { case (c, i) => if ((mode & (0x100 >> i)) != 0) c else '-' }.mkString

  private def posix(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session's file: FileSystem is the engine's, not a cached earlier instance") {
    assert(fs.getClass == classOf[LocalFs])
    assert(fs.asInstanceOf[LocalFs].getRawFileSystem.getClass == classOf[LocalFs.Raw])
  }

  /** A full replace then an append of `database.table`; every path of the
    * table's directory, the directory included. */
  private def loadTwice(database: String, table: String): Vector[JPath] = {
    import spark.implicits._
    val sink = new graft.sinks.WarehouseSink(database)
    sink.load(graft.sinks.LoadRequest(
      (1 to 20).map(i => (i, s"v$i")).toDF("id", "v"), table, incremental = false))
    sink.load(graft.sinks.LoadRequest(Seq((21, "v21")).toDF("id", "v"), table, incremental = true))
    val walk = Files.walk(JPath.of(graft.plans.CoLocated.tableLocation(spark, database, table).toUri))
    val entries = try walk.iterator.asScala.toVector finally walk.close()
    assert(entries.count(p => p.getFileName.toString.startsWith("part-")) >= 2, entries)
    entries
  }

  test("a warehouse load's files and directories carry the umask-applied defaults") {
    val umask = FsPermission.getUMask(conf)
    val file = bits(FsPermission.getFileDefault.applyUMask(umask).toShort)
    val dir = bits(FsPermission.getDirDefault.applyUMask(umask).toShort)
    loadTwice("localfs_perm", "t_perm").foreach { p =>
      val want = if (Files.isDirectory(p)) dir else file
      assert(posix(p) == want, p)
    }
  }

  test("a warehouse load under a setgid directory keeps setgid on every directory it creates") {
    val root = Files.createTempDirectory("localfs-setgid")
    // NIO cannot set the setgid bit; the test takes the `chmod` route
    assert(new ProcessBuilder("chmod", "g+s", root.toString).start().waitFor() == 0)
    try {
      spark.sql(s"CREATE DATABASE localfs_setgid LOCATION '${root.toUri}db'")
      val setgid = 0x400 // octal 02000
      (root.resolve("db") +: loadTwice("localfs_setgid", "t_setgid")).filter(Files.isDirectory(_))
        .foreach(p => assert((Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & setgid) != 0, p))
    } finally {
      spark.sql("DROP DATABASE IF EXISTS localfs_setgid CASCADE")
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[JPath]).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("setPermission reads back the mode it set, the sticky bit included") {
    val dir = Files.createTempDirectory("localfs")
    val file = Files.createFile(dir.resolve("f"))
    try {
      Seq(file -> "600", file -> "750", dir -> "1750", dir -> "755").foreach { case (p, octal) =>
        val want = Integer.parseInt(octal, 8)
        fs.setPermission(new Path(p.toUri), new FsPermission(want.toShort))
        assert(posix(p) == bits(want), s"$p $octal")
        assert((Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff) == want, s"$p $octal")
      }
    } finally { Files.delete(file); Files.delete(dir) }
  }

  test("setPermission on a missing path throws an IOException") {
    val missing = Files.createTempDirectory("localfs").resolve("absent")
    try {
      intercept[java.io.IOException](
        fs.setPermission(new Path(missing.toUri), FsPermission.getFileDefault))
    } finally Files.delete(missing.getParent)
  }
}
