package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Every parquet table read of the engine: the catalog's source tables,
  * the persisted-index artifacts and the harness reads.
  *
  * A plain `spark.read.parquet(path)` infers the schema each time it is
  * called, and that inference is a Spark job that reads a footer (about
  * 90 ms on a 4-core local session, against about 10 ms for the same
  * read with the schema given). A resident engine reads the same files
  * over and over, so [[read]] keeps, per qualified path, the schema
  * Spark inferred and the [[Signature]] it was inferred under, and gives
  * that schema back to the reader while the signature still holds. The
  * memo only ever holds what Spark itself inferred for the same files
  * under the same confs, so no read returns a different frame.
  *
  * A rewrite changes the signature: Spark writes new part files, and
  * an in-place rewrite changes a length or a modification time. If the
  * files change between the listing and the inference, the schema is
  * recorded under the older listing and the next read, which lists the
  * newer files, infers again.
  *
  * The memo keeps the [[Capacity]] most recently read paths: a resident
  * daemon meets new paths for as long as it runs, and a path that falls
  * out is inferred again on its next read.
  */
object ParquetTables {

  /** The session confs that change what parquet inference returns for
    * the same files (the flags of Spark's parquet-to-Catalyst schema
    * converter, and the ones that pick or skip the footers it reads). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles")

  /** What an inferred schema depends on: every leaf file under the path
    * (name relative to it, length, modification time) and the values of
    * [[InferenceConfs]]. */
  private final case class Signature(files: Vector[(String, Long, Long)],
      confs: Seq[Option[String]])

  private final case class Known(signature: Signature, schema: StructType)

  /** The most paths the memo holds; the least recently read goes first. */
  private[sources] val Capacity = 1024

  private val known = new java.util.LinkedHashMap[String, Known](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Known]): Boolean =
      size > Capacity
  }

  private def recall(key: String): Option[Known] = known.synchronized(Option(known.get(key)))

  private def remember(key: String, k: Known): Unit = known.synchronized(known.put(key, k))

  /** How many paths the memo holds now. */
  private[sources] def knownPaths: Int = known.synchronized(known.size)

  /** `spark.read.parquet(path)`, without the inference job when the
    * files and confs are those of an earlier read. When the path cannot
    * be listed (missing, not a path) this is the plain read, so callers
    * see the plain read's errors; a read that fails records nothing. */
  def read(spark: SparkSession, path: String): DataFrame =
    signature(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, sig)) =>
        recall(key).filter(_.signature == sig) match {
          case Some(k) => spark.read.schema(k.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            remember(key, Known(sig, df.schema))
            df
        }
    }

  /** The qualified path and its [[Signature]], from a driver-side
    * recursive `listStatus` walk; None when the listing fails. A plain
    * listing, not `listFiles`: its located statuses look up the block
    * locations of every file, which the signature never reads. */
  private def signature(spark: SparkSession, path: String): Option[(String, Signature)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(p)
      val prefix = root.toUri.getPath
      val files = Vector.newBuilder[(String, Long, Long)]
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else files += ((f.getPath.toUri.getPath.stripPrefix(prefix), f.getLen, f.getModificationTime))
      }
      walk(root)
      Some(root.toString ->
        Signature(files.result().sortBy(_._1), InferenceConfs.map(spark.conf.getOption)))
    } catch { case NonFatal(_) => None }
}
