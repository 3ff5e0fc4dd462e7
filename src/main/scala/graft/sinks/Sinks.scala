package graft.sinks

import graft.plans.CoLocated
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.TableIdentifier
import java.time.{Clock, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Load destinations (SURVEY.md §2.1 K1–K3, K5, D1). The reference's only
  * real sink is a BigQuery dataset `g_sheets` with delete-then-reload vs
  * append semantics (`/root/reference/flusher/load/bigquery.py:9,42-47`);
  * here that maps to Spark catalog tables. A CSV sink mirrors the
  * intermediate file the reference always materializes
  * (`export.py:59-66`) for export-only jobs (no Target System,
  * `manager.py:193`).
  */
final case class LoadRequest(df: DataFrame, destination: String, incremental: Boolean)

trait Sink {
  /** Load and return the human-readable result string (the reference
    * returns `"dataset.table"`, `bigquery.py:28`). */
  def load(req: LoadRequest): String
}

/** K2/K3/K5: Spark-catalog warehouse sink. A non-incremental load is
  * the reference's delete-then-reload with its schema re-autodetected
  * (`bigquery.py:38-39,45-46`), made atomic: [[graft.plans.CoLocated
  * .replaceTable]] writes the new table into a staging slot and swaps it
  * in, so a failed load leaves the last good table readable where the
  * reference's delete has already lost it. An incremental load appends
  * (`bigquery.py:45-46`), re-adopting a table directory an earlier
  * process left without a catalog entry. Either load is one Spark write
  * (one job, one SQL execution on a one-partition frame, pinned in
  * PlanRegressionSpec); everything around it is catalog and file-system
  * calls, no SQL command. The database is auto-created like the dataset
  * bootstrap (`bigquery.py:13-16`) — but lazily at load, not at import
  * (explicit lifecycle, SURVEY §2.1 X2).
  */
final class WarehouseSink(database: String = WarehouseSink.DefaultDatabase) extends Sink {
  def load(req: LoadRequest): String = {
    // destination comes from a free-text control cell — reject anything
    // that isn't a plain identifier instead of interpolating it into
    // quoted SQL (a backtick or dot would break out of the quoting and
    // redirect the load)
    WarehouseSink.requireIdent(database, "database")
    WarehouseSink.requireIdent(req.destination, "destination table")
    if (req.incremental) append(req)
    else CoLocated.replaceTable(req.df, database, req.destination)
  }

  private def append(req: LoadRequest): String = {
    val spark = req.df.sparkSession
    // Cross-process durability: warehouse FILES outlive the in-memory
    // catalog, so a fresh JVM can meet a table directory it has no
    // entry for (the daemon's restart path; caught by the scripted
    // packaged-jar smoke on its second run — saveAsTable throws
    // LOCATION_ALREADY_EXISTS). BigQuery parity demands appends keep
    // working across scheduler restarts (`bigquery.py:38-46`): an append
    // RE-ADOPTS the orphan by registering the surviving location so new
    // rows continue the table (the full replace clears it in its swap).
    // The probe takes a TableIdentifier, not a parsed name: requireIdent
    // allows digit-only destinations ('2024'), which the multipart-
    // identifier parser lexes as an integer literal.
    if (!spark.sessionState.catalog.tableExists(TableIdentifier(req.destination, Some(database)))) {
      val loc = CoLocated.tableLocation(spark, database, req.destination)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // re-adopt with the INCOMING schema: inference would fail forever
      // on a directory holding only _temporary/_SUCCESS leftovers of a
      // crashed write (underscore-prefixed entries are invisible to
      // inference and scans alike, so an empty adoption is still a valid
      // continuation point)
      if (fs.exists(loc)) CoLocated.register(spark, database, req.destination, req.df.schema, loc)
    }
    // saveAsTable, not a path write: its by-name column checks refuse a
    // frame that does not fit the table
    req.df.write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"`$database`.`${req.destination}`")
    s"$database.${req.destination}"
  }
}

object WarehouseSink {
  /** `bigquery.py:9` — the reference's single hard-coded dataset. */
  val DefaultDatabase = "g_sheets"

  private val Ident = "^[A-Za-z0-9_]+$".r
  /** Letters, digits and `_` only, and never a name in the table
    * replace's reserved staging namespace. */
  private[graft] def requireIdent(s: String, what: String): Unit =
    if (!Ident.matches(s))
      throw new IllegalArgumentException(
        s"invalid $what '$s': only letters, digits and _ are allowed")
    else if (s.toLowerCase.startsWith(CoLocated.StagingPrefix))
      throw new IllegalArgumentException(
        s"invalid $what '$s': the ${CoLocated.StagingPrefix} prefix is reserved")
}

/** K1: CSV sink with all-cells-quoted output. The reference writes
  * `QUOTE_NONNUMERIC`, and since every gspread cell is a string, every
  * field ends up quoted in practice (`export.py:62`; SURVEY §2.1 K1) —
  * `quoteAll` reproduces the observed files.
  */
final class CsvSink(baseDir: String, header: Boolean = false) extends Sink {
  def load(req: LoadRequest): String = {
    // destination comes from a free-text control cell — resolve and pin
    // it under baseDir so a '../' (or absolute) value cannot redirect the
    // write outside the configured output root (same untrusted-cell
    // discipline as WarehouseSink.requireIdent)
    val base = java.nio.file.Paths.get(baseDir).toAbsolutePath.normalize
    val path = base.resolve(req.destination).normalize
    if (!path.startsWith(base) || path == base)
      throw new IllegalArgumentException(
        s"invalid destination '${req.destination}': escapes the CSV output directory")
    val mode = if (req.incremental) SaveMode.Append else SaveMode.Overwrite
    req.df.write.mode(mode)
      .option("quoteAll", "true")
      .option("header", header.toString)
      .csv(path.toString)
    path.toString
  }
}

object CsvSink {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  /** The reference's export filename convention
    * `document.sheet.cellrange.YYYYMMDD_HHmmss.csv` (`export.py:14-15`).
    * Clock injected for testability. */
  def fileName(document: String, sheet: String, cellRange: String,
      clock: Clock = Clock.systemUTC()): String =
    Seq(document, sheet, cellRange, TsFmt.format(clock.instant()))
      .filter(_.nonEmpty).mkString(".") + ".csv"
}

/** D1: dispatch on the control row's `Target System`, normalized with
  * `lower` + strip-spaces exactly like `manager.py:52-53`; unknown targets
  * surface the reference's NotImplemented message (`manager.py:55-58`).
  */
final class SinkRegistry(sinks: Map[String, Sink]) {
  def resolve(targetSystem: String): Either[String, Sink] = {
    val key = SinkRegistry.normalize(targetSystem)
    sinks.get(key).toRight(s"Cannot load to target system: $targetSystem")
  }
  def withSink(name: String, sink: Sink): SinkRegistry =
    new SinkRegistry(sinks + (SinkRegistry.normalize(name) -> sink))
}

object SinkRegistry {
  def normalize(s: String): String = s.toLowerCase.replace(" ", "")

  /** Default registry: the warehouse sink answers to both its native name
    * and the reference's `bigquery` spelling (a flusher user's control
    * rows keep working unchanged). */
  def default(csvDir: String): SinkRegistry = new SinkRegistry(Map(
    "bigquery" -> new WarehouseSink(),
    "warehouse" -> new WarehouseSink(),
    "csv" -> new CsvSink(csvDir)))
}
