package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. One session per JVM
  * (tests fork once), built from [[Sessions]]' conf so the suites plan
  * under the same rule set as Bench, Verify and the daemon; 4 cores
  * (and so 4 shuffle partitions) keep tiny-data tests fast while
  * exercising real exchanges.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Every message down a throwable's cause chain — streaming failures
    * surface wrapped in StreamingQueryException layers. */
  protected def causeMessages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ causeMessages(t.getCause)

  /** `body`'s result and the number of Spark jobs it started, counted
    * between two marker jobs: listener events arrive in order, so every
    * job seen between the markers was started by `body`. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val (out, _, jobs) = executionsDuring(body)
    (out, jobs)
  }

  /** `body`'s result, the SQL executions it started and its Spark jobs,
    * counted like [[jobsDuring]]. An execution is a root
    * `SparkListenerSQLExecutionStart`: the executions a command runs
    * inside its own (a `saveAsTable` append runs two) carry its id as
    * their root and count with it, as the UI lists them. A marker's
    * execution starts before its job: the start marker's comes before
    * counting starts, the drain marker's is told apart by its job group. */
  protected def executionsDuring[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val mark = s"jobs-during-${System.nanoTime()}"
    val counting = new AtomicBoolean(false)
    val jobs = new AtomicInteger()
    val executions = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == s"$mark-start" => counting.set(true)
          case Some(g) if g == s"$mark-drain" => counting.set(false); drained.countDown()
          case _ => if (counting.get) jobs.incrementAndGet()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if counting.get && x.rootExecutionId.forall(_ == x.executionId) &&
              !x.jobGroupId.contains(s"$mark-drain") =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def marker(g: String): Unit = {
      sc.setJobGroup(g, g)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker(s"$mark-start")
      val out = body
      marker(s"$mark-drain")
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the drain job")
      (out, executions.get, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the command line of every process the JVM
    * started while it ran, from the `jdk.ProcessStart` events of an
    * in-process JFR recording. `body`'s Spark jobs have finished when it
    * returns, so their executor threads' forks are in the recording. */
  protected def processesDuring[T](body: => T): (T, Seq[String]) = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    val dump = java.nio.file.Files.createTempFile("processes-during", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(dump)
      (out, RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites — do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the catalog is fresh per JVM but the warehouse dir persists across
    // runs — stale table locations would fail CREATE, so start clean
    def purge(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(purge)
      f.delete()
    }
    purge(new java.io.File("target/test-warehouse"))
    val s = Sessions.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
