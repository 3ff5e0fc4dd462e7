package graft.control

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.time.Instant

/** K6 — the append-only 7-column run log (`manager.py:147-164`;
  * FIXTURES.md A.2): start, end, document, sheet, cellrange, status,
  * result-or-error.
  */
final case class RunLogEntry(
    start: Instant, end: Instant,
    document: String, sheet: String, cellRange: String,
    status: String, result: String)

trait RunLog {
  def append(entry: RunLogEntry): Unit
}

/** File-backed log sheet: one quoted CSV line per run, append-only. */
final class CsvRunLog(path: Path) extends RunLog {
  def append(e: RunLogEntry): Unit = synchronized {
    val line = CsvCodec.writeLine(Seq(
      StateMachine.iso(e.start), StateMachine.iso(e.end),
      e.document, e.sheet, e.cellRange, e.status, e.result)) + "\n"
    Files.write(path, line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def entries(): Seq[RunLogEntry] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(path)) Seq.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val c = CsvCodec.parseLine(l).padTo(7, "")
        RunLogEntry(Instant.parse(c(0).replace("+00:00", "Z")),
          Instant.parse(c(1).replace("+00:00", "Z")), c(2), c(3), c(4), c(5), c(6))
      }
  }
}
