package graft.sources

import graft.control.CsvCodec
import graft.util.A1Notation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Sheet-style source: reads CSV-as-sheet (every cell a string, like
  * gspread's `get_all_values`, `/root/reference/flusher/export.py:50-56`),
  * with an optional A1 rectangular slice and an optional schema-inference
  * pass for warehouse-autodetect parity
  * (`/root/reference/flusher/load/bigquery.py:21-22`).
  *
  * Covers SURVEY.md §2.1 S1 (full scan), S2 (range scan = column
  * projection + row slice), S3 (open-ended range: no upper row bound) and
  * K4 (schema autodetect). The zero-egress environment has no live sheet
  * API, so local CSV files emulate sheet semantics (SURVEY §4.2c).
  *
  * The phases work on a [[Grid]] held on the driver: a sheet is one
  * ordered file and small by nature (Google Sheets caps a spreadsheet at
  * 10M cells), so it is parsed once, with no Spark job. The `sheet`
  * connector (`graft.sources.v2.SheetDataSource`) runs the four phases
  * and scans the resulting grid; that connector is how the daemon reads.
  */
object SheetSource {

  /** Name of the 1-based sheet row number column the connector exposes. */
  val RowCol = "_sheet_row"

  /** One sheet on the driver: rows of string cells, all of one width; the
    * 1-based sheet row of each row; one name and one type per column.
    * Columns are named by their A1 letters and typed as strings until
    * [[promoteHeader]] and [[inferSchema]] say otherwise. */
  final case class Grid(
      rows: Vector[Vector[String]],
      rowNums: Vector[Long],
      names: Vector[String],
      types: Vector[DataType]) {
    def width: Int = names.length
    def schema: StructType =
      StructType(names.indices.map(c => StructField(names(c), types(c), nullable = true)))
  }

  /** Read the whole sheet untyped. S1 — `export.py:53-57`. The file is
    * parsed once, line by line, with the control table's CSV codec (quoted
    * cells, doubled quotes): blank lines stay rows, so A1 row numbers
    * match the sheet's, and short rows are padded with empty cells to the
    * widest row. `spark` is unused; the
    * parameter stays so callers that replay the phases with a session (the
    * perfbench daemon workload) compile unchanged. */
  def readRaw(spark: SparkSession, path: String): Grid = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val parsed = try src.getLines().map(CsvCodec.parseLine).toVector finally src.close()
    if (parsed.isEmpty) {
      // name the document and sheet, never the path: the message lands in
      // the control table's Last Result, which must not leak the filesystem
      val f = new java.io.File(path)
      throw new IllegalArgumentException(
        s"sheet '${f.getName.stripSuffix(".csv")}' of document '${f.getParentFile.getName}' is empty")
    }
    val width = parsed.map(_.length).max
    Grid(parsed.map(_.toVector.padTo(width, "")), Vector.range(1L, parsed.length + 1L),
      Vector.tabulate(width)(c => A1Notation.colLetters(c + 1)), Vector.fill(width)(StringType))
  }

  /** Apply an A1 range: column slice + row filter. Open-ended ranges
    * (`"A2:F"`) simply omit the upper row bound (S3, `export.py:47-48`);
    * bounds past the data clamp to it. */
  def slice(grid: Grid, cellRange: String): Grid = {
    val r = A1Notation.parseRange(cellRange)
    require(r.startCol <= grid.width,
      s"range '$cellRange' starts at column ${r.startCol} but sheet has ${grid.width}")
    val cols = (r.startCol - 1) until math.min(r.endCol, grid.width)
    val keep = grid.rowNums.indices.filter { i =>
      grid.rowNums(i) >= r.startRow && r.endRow.forall(grid.rowNums(i) <= _)
    }
    Grid(keep.map(i => cols.map(grid.rows(i)).toVector).toVector, keep.map(grid.rowNums).toVector,
      cols.map(grid.names).toVector, cols.map(grid.types).toVector)
  }

  /** Promote the first row of the (sliced) sheet to column names.
    * Non-alphanumerics → `_`; empty or digit-leading names fall back to
    * `col<i>` (slice-relative, 0-based); case-insensitive collisions get
    * `_2`, `_3`… suffixes — duplicate names would otherwise make
    * `fieldIndex` silently serve one column's data for both. */
  def promoteHeader(grid: Grid): Grid = {
    require(grid.rows.nonEmpty, "cannot promote header of an empty sheet")
    val seen = mutable.Map.empty[String, Int]
    val names = grid.rows.head.indices.map { i =>
      val clean = grid.rows.head(i).trim.replaceAll("[^A-Za-z0-9_]", "_")
      val n = if (clean.isEmpty || clean.head.isDigit) s"col$i" else clean
      val k = n.toLowerCase
      val c = seen.getOrElse(k, 0)
      seen(k) = c + 1
      if (c == 0) n else s"${n}_${c + 1}"
    }
    grid.copy(rows = grid.rows.tail, rowNums = grid.rowNums.tail, names = names.toVector)
  }

  /** Candidate types in warehouse-autodetect priority order (K4 parity
    * with BigQuery CSV autodetect: INT64 → FLOAT64 → BOOL → DATE →
    * TIMESTAMP → STRING). */
  private val Candidates = Seq(LongType, DoubleType, BooleanType, DateType, TimestampType)

  /** Casting to date accepts a trailing time of day, so DATE additionally
    * requires the bare yyyy-MM-dd shape (spaces around it are trimmed). */
  private val DateRe = " *\\d{4}-\\d{2}-\\d{2} *".r

  /** The session time zone timestamp cells are read in. */
  private[sources] def sessionZone: String = SparkSession.active.sessionState.conf.sessionLocalTimeZone

  private def blank(v: String): Boolean = v.forall(_ == ' ')

  /** The one typing rule: read a cell as `t` in Spark's internal form,
    * or null. A cell of spaces only is null (SQL `trim` semantics); a
    * string keeps its original spacing; any other type is Spark's own
    * `Cast` in TRY mode, so a cell that does not cast is null, never an
    * error. Inference and the connector's scan both read cells through
    * this, so the scan accepts exactly what inference accepted. */
  private[sources] def cellReader(t: DataType, zone: String): String => Any = {
    if (t == StringType) v => if (blank(v)) null else UTF8String.fromString(v)
    else {
      val cast = Cast(BoundReference(0, StringType, nullable = true), t, Some(zone), EvalMode.TRY)
      val in = new GenericInternalRow(1)
      v => if (blank(v)) null else { in.update(0, UTF8String.fromString(v)); cast.eval(in) }
    }
  }

  /** Type every column: the first candidate that reads every non-blank
    * cell wins; a column with no non-blank cell stays string (no
    * evidence). Runs in the session time zone, see [[sessionZone]]. */
  def inferSchema(grid: Grid): Grid = {
    val zone = sessionZone
    val types = grid.names.indices.map { c =>
      val cells = grid.rows.map(_(c)).filterNot(blank)
      Candidates.find { t =>
        val read = cellReader(t, zone)
        cells.nonEmpty && cells.forall(v => read(v) != null && (t != DateType || DateRe.matches(v)))
      }.getOrElse(StringType)
    }
    grid.copy(types = types.toVector)
  }
}
