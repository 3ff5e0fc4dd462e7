package graft.control

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** The mutable job-control surface: read all specs, write individual cells
  * addressed by (sheet row, 1-based column) — exactly how the reference
  * pokes `update_cell(row, 7..11, ...)` (`manager.py:87-144`).
  *
  * Spark sinks are append-oriented; a control table needs in-place cell
  * updates. Per SURVEY §7 (hard part 1) the pragmatic answer for this
  * small driver-side table is an atomic whole-file rewrite
  * (write-temp-then-swap), not a distributed write.
  */
trait ControlTable {
  /** All job rows with sheet row numbers attached (data starts at sheet
    * row 2: 1-based + header — `manager.py:34-37`). */
  def readAll(): Seq[JobSpec]

  /** P1: control scan keeping only rows with a non-empty Document
    * (`manager.py:37`). */
  final def jobs(): Seq[JobSpec] = readAll().filter(_.document.trim.nonEmpty)

  /** Overwrite one cell; col is the 1-based sheet column (1..11). */
  final def updateCell(row: Long, col: Int, value: String): Unit =
    updateCells(row, Map(col -> value))

  /** Overwrite several cells of one row ATOMICALLY (single swap): a state
    * transition touching Refresh Now + Last Success + State + Last Result
    * must not leave a half-written row if the process dies mid-update. */
  def updateCells(row: Long, values: Map[Int, String]): Unit
}

/** CSV-file-backed control table emulating the "Flush Control" sheet
  * (zero-egress environment — SURVEY §4.2c). All cells quoted; updates
  * rewrite the file to a temp sibling and atomically swap.
  */
final class CsvControlTable(path: Path) extends ControlTable {

  def readAll(): Seq[JobSpec] = {
    val lines = readLines()
    lines.drop(1).zipWithIndex.map { case (cells, i) =>
      JobSpec.fromCells(cells, i + 2L)
    }
  }

  def updateCells(row: Long, values: Map[Int, String]): Unit = synchronized {
    require(values.keys.forall(c => c >= 1 && c <= 11),
      s"column out of range: ${values.keys.mkString(",")}")
    val lines = readLines().map(_.padTo(11, ""))
    val idx = row.toInt - 1
    require(idx >= 1 && idx < lines.length, s"row out of range: $row")
    val newRow = values.foldLeft(lines(idx)) { case (r, (c, v)) => r.updated(c - 1, v) }
    val updated = lines.updated(idx, newRow)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, updated.map(CsvCodec.writeLine).asJava, StandardCharsets.UTF_8)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def readLines(): Seq[Seq[String]] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(CsvCodec.parseLine)
}

object CsvControlTable {
  /** Create a control file from job rows (header + quoted cells). */
  def init(path: Path, rows: Seq[Seq[String]]): CsvControlTable = {
    val lines = (JobSpec.Header +: rows).map(CsvCodec.writeLine)
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
    new CsvControlTable(path)
  }
}

/** Minimal strict CSV codec: every cell quoted on write, quotes doubled;
  * parse handles quoted and bare cells. Enough for the control/log files
  * this engine owns end-to-end. Line breaks inside cells are flattened to
  * spaces on write — the reader is line-oriented, and a multi-line Spark
  * error message written verbatim to Last Result would otherwise shear
  * the row into garbage rows on the next read. */
object CsvCodec {
  def writeLine(cells: Seq[String]): String =
    cells.map(c => "\"" +
      c.replace("\r", " ").replace("\n", " ").replace("\"", "\"\"") + "\"").mkString(",")

  def parseLine(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQuotes) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQuotes = false
        } else cur += ch
      } else ch match {
        case '"' => inQuotes = true
        case ',' => out += cur.result(); cur.clear()
        case c   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }
}
