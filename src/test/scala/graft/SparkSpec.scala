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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val mark = s"jobs-during-${System.nanoTime()}"
    val counting = new AtomicBoolean(false)
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == s"$mark-start" => counting.set(true)
          case Some(g) if g == s"$mark-drain" => counting.set(false); drained.countDown()
          case _ => if (counting.get) jobs.incrementAndGet()
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
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
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
