package graft.sources

import graft.SparkSpec
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** [[ParquetTables.read]] against a plain `spark.read.parquet` of the
  * same path: same schema, rows and errors, and no inference job once
  * the files and confs are known. */
class ParquetTablesSpec extends SparkSpec {

  private def tempPath(): String =
    Files.createTempDirectory("pqtables").resolve("t.parquet").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameAsPlain(s: SparkSession, path: String, got: DataFrame): Unit = {
    val plain = s.read.parquet(path)
    assert(got.schema == plain.schema)
    assert(rows(got) == rows(plain))
    assert(got.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed),
      "a known-schema read must match the plain read's plan (CacheRegistry's sameResult)")
  }

  test("a warm read of unchanged files starts no Spark job and equals the plain read") {
    import spark.implicits._
    val path = tempPath()
    (1 to 50).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "s", "v")
      .repartition(3).write.parquet(path)
    val (_, cold) = jobsDuring(ParquetTables.read(spark, path))
    assert(cold == 1, s"the first read infers the schema with one job, ran $cold")
    val (warm, jobs) = jobsDuring(ParquetTables.read(spark, path))
    assert(jobs == 0, s"a warm read must start no Spark job, ran $jobs")
    sameAsPlain(spark, path, warm)
  }

  test("a path rewritten with a different column set gets the new schema") {
    import spark.implicits._
    val path = tempPath()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(ParquetTables.read(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((3L, 1.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(path)
    val got = ParquetTables.read(spark, path)
    assert(got.columns.toSeq == Seq("id", "x", "flag"))
    sameAsPlain(spark, path, got)
  }

  test("flipping nanosAsLong on the TIMESTAMP(NANOS) events fixture infers again") {
    val dir = Files.createTempDirectory("pqtables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 event_id; }")
    val path = dir.resolve("events.parquet").toString
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    Seq(-1500L, 0L, 1500L).zipWithIndex.foreach { case (v, i) =>
      w.write(gf.newGroup().append("ts", v).append("event_id", i.toLong))
    }
    w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val ns = spark.newSession()
    ns.conf.set(key, "true")
    assert(ParquetTables.read(ns, path).schema("ts").dataType == LongType)
    // without the conf the plain read rejects the column; the known
    // LongType schema must not be served in its place
    ns.conf.unset(key)
    def illegal(read: => DataFrame): Seq[String] =
      causeMessages(intercept[Exception](read.schema)).filter(_.contains("PARQUET_TYPE_ILLEGAL"))
    assert(illegal(ns.read.parquet(path)).nonEmpty)
    assert(illegal(ParquetTables.read(ns, path)).nonEmpty)
    ns.conf.set(key, "true")
    val (got, jobs) = jobsDuring(ParquetTables.read(ns, path))
    assert(jobs == 0 && got.schema("ts").dataType == LongType)
    sameAsPlain(ns, path, got)
  }

  test("a partitionBy directory keeps the plain read's schema, partition columns last") {
    import spark.implicits._
    val path = tempPath()
    (1 to 12).map(i => (i.toLong, i % 3, s"s$i")).toDF("id", "p", "s")
      .write.partitionBy("p").parquet(path)
    ParquetTables.read(spark, path)
    val (got, jobs) = jobsDuring(ParquetTables.read(spark, path))
    assert(jobs == 0)
    assert(got.columns.toSeq == Seq("id", "s", "p"))
    sameAsPlain(spark, path, got)
  }

  test("a warm read of an N-file table adds no located listing and no block lookup") {
    import spark.implicits._
    val local = tempPath()
    (1 to 60).map(i => (i.toLong, s"s$i")).toDF("id", "s").repartition(12).write.parquet(local)
    val parts = new java.io.File(local).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts == 12)
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val path = s"countfs://$local"
    def counted(read: => DataFrame): (Int, Int) = {
      CountingFs.reset()
      read
      (CountingFs.located.get, CountingFs.blocks.get)
    }
    val schema = ParquetTables.read(spark, path).schema
    // Spark's own scan listing (InMemoryFileIndex) asks each part file
    // for its block locations; a schema-given read is only that
    val plain = counted(spark.read.schema(schema).parquet(path))
    assert(plain == ((0, parts)), s"(located listings, block lookups) of the plain read: $plain")
    // no job: the warm read served the known schema, not the fallback
    val (warm, jobs) = jobsDuring(counted(ParquetTables.read(spark, path)))
    assert(jobs == 0, s"a warm read must start no Spark job, ran $jobs")
    assert(warm == plain,
      s"(located listings, block lookups): warm read $warm, schema-given read $plain")
  }

  test("the memo holds at most Capacity paths; an evicted path infers again, equal to the plain read") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("pqtables-lru")
    val first = root.resolve("p0")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(first.toString)
    // byte copies of one table: Capacity + 1 distinct paths
    val paths = first +: (1 to ParquetTables.Capacity).map { i =>
      val dst = Files.createDirectory(root.resolve(s"p$i"))
      Files.list(first).iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
      dst
    }
    // the first path alone, then the rest four at a time: the first is
    // the least recently read
    ParquetTables.read(spark, first.toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(paths.tail)(p => Future(ParquetTables.read(spark, p.toString))),
      Duration.Inf)
    finally pool.shutdown()
    assert(ParquetTables.knownPaths <= ParquetTables.Capacity,
      s"${ParquetTables.knownPaths} paths held, cap ${ParquetTables.Capacity}")
    val (again, jobs) = jobsDuring(ParquetTables.read(spark, first.toString))
    assert(jobs == 1, s"an evicted path must infer again with one job, ran $jobs")
    sameAsPlain(spark, first.toString, again)
    val (_, warmJobs) = jobsDuring(ParquetTables.read(spark, first.toString))
    assert(warmJobs == 0, s"the re-read path must be known again, ran $warmJobs")
  }

  test("a missing path and an empty directory fail like the plain read") {
    val missing = tempPath()
    val empty = Files.createTempDirectory("pqtables-empty").toString
    for (path <- Seq(missing, empty)) {
      def failure(read: => DataFrame): (Class[_], Option[String]) = {
        val e = intercept[Exception](read)
        (e.getClass, Option(e).collect { case t: SparkThrowable => t.getCondition })
      }
      val plain = failure(spark.read.parquet(path))
      assert(plain._2.nonEmpty, s"$path: the plain read must fail with a condition")
      assert(failure(ParquetTables.read(spark, path)) == plain, path)
      // a failed read records nothing: the second call fails the same way
      assert(failure(ParquetTables.read(spark, path)) == plain, path)
    }
  }
}

/** The local filesystem under the `countfs` scheme, counting located
  * listings (`listLocatedStatus`, which `listFiles` calls per directory)
  * and block-location lookups. Listings return plain statuses: the raw
  * local ones load their permissions from the path string, which the
  * test scheme's paths do not resolve. */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getPath))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingFs.located.incrementAndGet()
    super.listLocatedStatus(f)
  }
  override def getFileBlockLocations(f: FileStatus, start: Long, len: Long): Array[BlockLocation] = {
    CountingFs.blocks.incrementAndGet()
    super.getFileBlockLocations(f, start, len)
  }
}

object CountingFs {
  val located = new AtomicInteger
  val blocks = new AtomicInteger
  def reset(): Unit = { located.set(0); blocks.set(0) }
}
