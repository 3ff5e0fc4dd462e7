package perfbench

import java.time.LocalDate
import scala.util.Random

/** Synthetic sheets and control rows for the daemon workloads, made from
  * the seed alone.
  *
  * Every cell is written in the exact text form its loaded value prints
  * back as (`Long.toString`, `Double.toString`, ISO dates, `true`/`false`),
  * and every column holds one kind only, so autodetect gives each column
  * the same type on any slice and a loaded table can be compared with its
  * sheet cell for cell. Text values are chosen so that no cast to a
  * narrower type accepts them (no `y`/`n`/`t`/`f`, no digits). */
object SheetGen {

  sealed trait ColKind
  final case class IntCol(lo: Int, hi: Int) extends ColKind
  /** Two-decimal values with a non-zero fraction, so they never read as
    * integers. */
  final case class MoneyCol(maxCents: Int) extends ColKind
  final case class DateCol(from: LocalDate, days: Int) extends ColKind
  case object BoolCol extends ColKind
  final case class EnumCol(values: IndexedSeq[String]) extends ColKind
  final case class TextCol(blankShare: Double) extends ColKind
  final case class CodeCol(prefix: String) extends ColKind

  final case class Shape(name: String, cols: IndexedSeq[(String, ColKind)])

  private val Words = IndexedSeq("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "accounts", "haggle", "blithely", "ironic", "packages", "wake", "furious",
    "pending", "requests", "detect", "slyly", "express", "theodolites", "along", "bold",
    "courts", "even", "pinto", "beans", "above", "special", "foxes")
  private val Day0 = LocalDate.of(1992, 1, 1)

  val Lineitem = Shape("lineitem", IndexedSeq(
    "l_orderkey" -> IntCol(1, 6000000), "l_partkey" -> IntCol(1, 200000),
    "l_suppkey" -> IntCol(1, 10000), "l_linenumber" -> IntCol(1, 7),
    "l_quantity" -> IntCol(1, 50), "l_extendedprice" -> MoneyCol(10000000),
    "l_discount" -> MoneyCol(10), "l_tax" -> MoneyCol(8),
    "l_returnflag" -> EnumCol(IndexedSeq("RA", "RN", "RR")),
    "l_linestatus" -> EnumCol(IndexedSeq("OPEN", "FILLED")),
    "l_shipdate" -> DateCol(Day0, 2500), "l_commitdate" -> DateCol(Day0, 2500),
    "l_receiptdate" -> DateCol(Day0, 2500),
    "l_shipmode" -> EnumCol(IndexedSeq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR")),
    "l_late" -> BoolCol, "l_comment" -> TextCol(0.1)))

  val Orders = Shape("orders", IndexedSeq(
    "o_orderkey" -> IntCol(1, 6000000), "o_custkey" -> IntCol(1, 150000),
    "o_orderstatus" -> EnumCol(IndexedSeq("OPEN", "FILLED", "PARTIAL")),
    "o_totalprice" -> MoneyCol(50000000), "o_orderdate" -> DateCol(Day0, 2400),
    "o_orderpriority" -> EnumCol(IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
    "o_clerk" -> CodeCol("Clerk#"), "o_shippriority" -> IntCol(0, 1),
    "o_comment" -> TextCol(0.05)))

  val Customer = Shape("customer", IndexedSeq(
    "c_custkey" -> IntCol(1, 150000), "c_name" -> CodeCol("Customer#"),
    "c_address" -> TextCol(0.0), "c_nationkey" -> IntCol(0, 24),
    "c_acctbal" -> MoneyCol(1000000),
    "c_mktsegment" -> EnumCol(IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
    "c_active" -> BoolCol, "c_since" -> DateCol(Day0, 3000)))

  val Shapes = IndexedSeq(Lineitem, Orders, Customer)

  def cell(k: ColKind, r: Random): String = k match {
    case IntCol(lo, hi) => (lo + r.nextInt(hi - lo + 1)).toString
    case MoneyCol(max) =>
      var c = 1 + r.nextInt(max)
      if (c % 100 == 0) c += 1
      java.lang.Double.toString(c / 100.0)
    case DateCol(from, days) => from.plusDays(r.nextInt(days).toLong).toString
    case BoolCol => if (r.nextBoolean()) "true" else "false"
    case EnumCol(vs) => vs(r.nextInt(vs.length))
    case TextCol(blank) =>
      if (r.nextDouble() < blank) ""
      else Seq.fill(2 + r.nextInt(5))(Words(r.nextInt(Words.length))).mkString(" ")
    case CodeCol(prefix) => prefix + "%09d".format(r.nextInt(1000000000)).map(d => ('a' + (d - '0')).toChar)
  }

  /** A sheet: header row plus data rows, cells as text. */
  final case class Sheet(doc: String, name: String, header: IndexedSeq[String],
      rows: IndexedSeq[Array[String]]) {
    def width: Int = header.length
    def csvLines: Iterator[String] = Iterator(header.mkString(",")) ++ rows.iterator.map(_.mkString(","))
  }

  def sheet(shape: Shape, doc: String, name: String, nRows: Int, r: Random): Sheet =
    Sheet(doc, name, shape.cols.map(_._1),
      IndexedSeq.fill(nRows)(shape.cols.map { case (_, k) => cell(k, r) }.toArray))

  /** Column letters for a 1-based column index (A..Z, AA..). */
  def letters(col: Int): String =
    if (col <= 26) ('A' + col - 1).toChar.toString else letters((col - 1) / 26) + letters((col - 1) % 26 + 1)

  /** An A1 slice that always starts on the header row. `endRow` None is
    * open-ended. */
  final case class Slice(startCol: Int, endCol: Int, endRow: Option[Int]) {
    def a1: String = s"${letters(startCol)}1:${letters(endCol)}${endRow.map(_.toString).getOrElse("")}"
  }

  /** What a job is expected to do. */
  sealed trait Kind
  case object Load extends Kind
  case object Export extends Kind
  case object MissingSheet extends Kind
  case object UnknownTarget extends Kind
  case object BadInterval extends Kind

  /** One control row. `slice` None reads the whole sheet. */
  final case class Job(row: Int, kind: Kind, sheet: Sheet, sheetCell: String,
      slice: Option[Slice], target: String, dest: String, incremental: Boolean,
      refreshNow: Boolean, interval: String) {
    def doc: String = sheet.doc
    /** Document, Sheet and Range cells: what a run-log line names. */
    def key: (String, String, String) = (doc, sheetCell, rangeCell)
    def rangeCell: String = slice.map(_.a1).getOrElse("")
    def cells: Seq[String] = Seq(doc, sheetCell, rangeCell, target, dest,
      if (incremental) "yes" else "", if (refreshNow) "yes" else "", interval, "", "", "")
    /** Header names and data rows of the slice, as a load must deliver. */
    def expectedHeader: IndexedSeq[String] = slice match {
      case None => sheet.header
      case Some(s) => sheet.header.slice(s.startCol - 1, math.min(s.endCol, sheet.width))
    }
    def expectedRows: IndexedSeq[IndexedSeq[String]] = {
      val (c0, c1, n) = slice match {
        case None => (0, sheet.width, sheet.rows.length)
        case Some(s) => (s.startCol - 1, math.min(s.endCol, sheet.width),
          math.min(sheet.rows.length, s.endRow.map(_ - 1).getOrElse(Int.MaxValue)))
      }
      sheet.rows.take(n).map(_.slice(c0, c1).toIndexedSeq)
    }
    /** Minutes between runs, None for a manual job. */
    def intervalMinutes: Option[Int] = interval.split(' ').headOption.filter(_ => interval.contains("minute"))
      .flatMap(_.toIntOption)
  }

  final case class Plan(jobs: IndexedSeq[Job]) {
    def sheets: Seq[Sheet] = jobs.map(_.sheet).distinctBy(s => (s.doc, s.name))
  }

  /** Data rows of each wide sheet. */
  val WideRows = 3000
  val MissingSheetName = "Missing"
  val UnknownTargetName = "oracle"
  val BadIntervalText = "5 weeks"

  /** `daemon_fleet`: two wide sheets (a full replace and an incremental
    * append of an A1 slice), 12 small sheets with a fixed mix of sinks,
    * schedules, table shapes, sizes and range kinds, and three designed
    * failures. The seed deals the small and failing rows out in any order
    * and picks the content and the range bounds, so every seed asks for
    * about the same work. */
  def fleet(seed: Long): Plan = {
    val r = new Random(seed)
    val sinks = r.shuffle(Seq.fill(6)("overwrite") ++ Seq.fill(3)("append") ++ Seq.fill(3)("export"))
    // every periodic row has the same interval, so every cycle after the
    // first runs the same jobs and a run's cycles are alike
    val schedules = r.shuffle(Seq.fill(10)("1 minute") ++ Seq.fill(2)(""))
    val shapes = r.shuffle(Seq.fill(4)(Lineitem) ++ Seq.fill(4)(Orders) ++ Seq.fill(4)(Customer))
    val sizes = r.shuffle((1 to 12).map(_ * 60))
    val ranges = r.shuffle(Seq.fill(4)(0) ++ Seq.fill(4)(1) ++ Seq.fill(4)(2))
    val ok = (0 until 12).map { i =>
      val (sink, iv, shape, n) = (sinks(i), schedules(i), shapes(i), sizes(i))
      val sh = sheet(shape, f"fleet$i%02d", "S1", n, r)
      val w = shape.cols.length
      val slice = ranges(i) match {
        case 0 => None
        case 1 => Some(Slice(1, w, Some(2 + n / 2 + r.nextInt(n / 2))))
        case _ =>
          val c0 = 1 + r.nextInt(3)
          Some(Slice(c0, c0 + 2 + r.nextInt(w - c0 - 1), None))
      }
      Job(0, if (sink == "export") Export else Load, sh, if (r.nextBoolean()) "S1" else "", slice,
        if (sink == "export") "" else "warehouse", f"t_fleet$i%02d", sink == "append",
        refreshNow = iv.isEmpty, interval = iv)
    }
    val c0 = 1 + r.nextInt(4)
    val wide = Seq(
      Job(0, Load, sheet(Lineitem, "fleet_wide_a", "S1", WideRows, r), "S1", None, "warehouse",
        "t_wide_replace", incremental = false, refreshNow = false, interval = "1 minute"),
      Job(0, Load, sheet(Orders, "fleet_wide_b", "S1", WideRows, r), "S1",
        Some(Slice(c0, c0 + 5, Some(WideRows / 2 + 1))), "warehouse", "t_wide_append",
        incremental = true, refreshNow = false, interval = "1 minute"))
    def small(doc: String) = sheet(Customer, doc, "S1", 50, r)
    val designed = Seq(
      Job(0, MissingSheet, small("fleet_missing"), MissingSheetName, None, "warehouse",
        "t_missing", incremental = false, refreshNow = false, interval = "1 minute"),
      Job(0, UnknownTarget, small("fleet_target"), "S1", None, UnknownTargetName,
        "t_target", incremental = false, refreshNow = false, interval = "1 minute"),
      Job(0, BadInterval, small("fleet_interval"), "S1", None, "warehouse",
        "t_interval", incremental = false, refreshNow = false, interval = BadIntervalText))
    // the wide sheets take the first rows, so every seed's cycles start
    // them first and queue the small jobs behind them in the same order
    Plan((wide ++ r.shuffle(ok ++ designed)).toIndexedSeq.zipWithIndex.map { case (j, i) =>
      j.copy(row = i + 2)
    })
  }
}
