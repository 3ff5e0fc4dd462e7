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
