package graft.sources.v2

import graft.sources.SheetSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DataSource V2 "sheet" format (SURVEY §4.2c): a sheet-semantics
  * connector — all-string cells, A1 range addressing, header promotion,
  * autodetect typing — readable as
  *
  * {{{
  * spark.read.format("sheet")
  *   .option("range", "B2:AD")    // optional A1 slice
  *   .option("header", "true")    // first row of the slice names columns
  *   .option("inferSchema", "true")
  *   .load("/path/to/sheet.csv")
  * }}}
  *
  * Zero-egress environment: local CSV files stand in for the live sheet
  * API; the connector boundary is exactly where a real Sheets HTTP client
  * would slot in. The sheet is read, sliced, named and typed on the
  * driver by [[graft.sources.SheetSource]]'s phases, and the scan serves
  * that grid.
  *
  * Scan design: `SupportsPushDownRequiredColumns` prunes at the CELL
  * level — unprojected columns are never type-converted (the reference's
  * server-side range fetch, `export.py:50`, is the same idea: move only
  * the cells you need). A sheet is ONE ordered file, so the scan is one
  * `InputPartition`: row order is part of sheet semantics and sheets are
  * small by nature — the big-data path in this engine is parquet, not
  * sheets. Columns without a header are named by their A1 letters.
  */
class SheetDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sheet"

  // Spark resolves one load by calling inferSchema and then getTable on
  // the same provider instance; keeping the table between the two calls
  // parses the sheet once per load, and a new load always re-reads it
  private var last: Option[(Map[String, String], SheetTable)] = None

  private def table(options: CaseInsensitiveStringMap): SheetTable = {
    val key = options.asCaseSensitiveMap().asScala.toMap
    last.collect { case (`key`, t) => t }.getOrElse {
      val t = SheetDataSource.resolve(options)
      last = Some(key -> t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = table(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties))
}

object SheetDataSource {
  /** Name of the row-number metadata column (1-based sheet row). */
  val RowCol: String = SheetSource.RowCol

  private[v2] object SheetRowColumn extends MetadataColumn {
    override def name: String = RowCol
    override def dataType: DataType = LongType
    override def comment: String = "1-based sheet row number"
  }

  /** One resolved sheet read, shipped to the reader: the sliced, named and
    * typed grid, the session time zone its cells are read in, and the
    * scan's window of 1-based sheet rows. */
  final case class SheetSpec(
      path: String,
      grid: SheetSource.Grid,
      zone: String,
      startRow: Long,
      endRow: Option[Long]) {
    val schema: StructType = grid.schema
    /** A real data column named `_sheet_row` shadows the metadata column
      * everywhere — table surface, filter pushdown, reader — so the
      * shadow decision lives HERE, once (schema names are stored exactly
      * as promoted, so exact match is the right test). */
    def rowColIsData: Boolean = schema.fieldNames.contains(RowCol)
  }

  def resolve(options: CaseInsensitiveStringMap): SheetTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("sheet source requires a path"))
    val raw = SheetSource.readRaw(SparkSession.active, path)
    val sliced = Option(options.get("range")).map(_.trim).filter(_.nonEmpty)
      .fold(raw)(SheetSource.slice(raw, _))
    val headed = if (options.getBoolean("header", false)) SheetSource.promoteHeader(sliced) else sliced
    val grid = if (options.getBoolean("inferSchema", false)) SheetSource.inferSchema(headed) else headed
    new SheetTable(SheetSpec(path, grid, SheetSource.sessionZone,
      grid.rowNums.headOption.getOrElse(1L), grid.rowNums.lastOption))
  }
}

final class SheetTable(spec: SheetDataSource.SheetSpec) extends Table
  with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"sheet:${spec.path}"
  override def schema(): StructType = spec.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SheetScanBuilder(spec)
  // 1-based sheet row number, surfaced only when referenced (Spark's
  // metadata-column contract) — the filterable axis for row pushdown.
  // A sheet that carries a REAL column of this name shadows the
  // metadata column entirely (no row pushdown either): the data column
  // must keep data semantics.
  override def metadataColumns(): Array[MetadataColumn] =
    if (spec.rowColIsData) Array.empty
    else Array(SheetDataSource.SheetRowColumn)
}

/** Pushdown on BOTH sheet axes, completing parity with the reference's
  * server-side A1 range fetch (`export.py:50` moves only the requested
  * cells): columns are pruned at the cell level, and row-number
  * predicates on `_sheet_row` narrow the scan's row window so filtered
  * rows are never converted or emitted. Accepted filters are
  * consumed entirely (not re-evaluated post-scan); anything not a simple
  * `_sheet_row` bound is left to Spark. */
final class SheetScanBuilder(spec: SheetDataSource.SheetSpec)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = spec.schema
  private var startRow: Long = spec.startRow
  private var endRow: Option[Long] = spec.endRow
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def lower(v: Long): Unit = startRow = math.max(startRow, v)
  private def upper(v: Long): Unit = endRow = Some(endRow.fold(v)(math.min(_, v)))

  private def accept(f: Filter): Boolean = if (spec.rowColIsData) false else f match {
    case GreaterThan(SheetDataSource.RowCol, v: Number) => lower(v.longValue + 1); true
    case GreaterThanOrEqual(SheetDataSource.RowCol, v: Number) => lower(v.longValue); true
    case LessThan(SheetDataSource.RowCol, v: Number) => upper(v.longValue - 1); true
    case LessThanOrEqual(SheetDataSource.RowCol, v: Number) => upper(v.longValue); true
    case EqualTo(SheetDataSource.RowCol, v: Number) => lower(v.longValue); upper(v.longValue); true
    case IsNotNull(SheetDataSource.RowCol) => true // row numbers are never null
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(accept)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    SheetScan(spec.copy(startRow = startRow, endRow = endRow), required)
}

final case class SheetScan(spec: SheetDataSource.SheetSpec, required: StructType)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"SheetScan ${spec.path} cols=${required.fieldNames.mkString(",")} " +
      s"rows=${spec.startRow}..${spec.endRow.map(_.toString).getOrElse("end")}"
  // one ordered partition — sheet row order is part of the contract
  override def planInputPartitions(): Array[InputPartition] = Array(SheetPartition(spec))
  override def createReaderFactory(): PartitionReaderFactory = SheetReaderFactory(required)
}

final case class SheetPartition(spec: SheetDataSource.SheetSpec) extends InputPartition

final case class SheetReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SheetReader(partition.asInstanceOf[SheetPartition].spec, required)
}

/** Streams the grid rows inside the row window, converting ONLY the
  * pruned-to columns; `_sheet_row` fields are served from the grid's row
  * numbers, not the cells. */
final class SheetReader(spec: SheetDataSource.SheetSpec, required: StructType)
  extends PartitionReader[InternalRow] {
  private val grid = spec.grid

  // -1 marks the _sheet_row metadata field; a DATA column of that name
  // takes precedence (the metadata column is shadowed, see SheetSpec)
  private val fieldIdx: Array[Int] = required.fieldNames.map {
    case SheetDataSource.RowCol if !spec.rowColIsData => -1
    case n => spec.schema.fieldIndex(n)
  }
  private val read: Array[String => Any] =
    fieldIdx.map(fi => if (fi < 0) null else SheetSource.cellReader(grid.types(fi), spec.zone))
  private val rows = grid.rowNums.indices.iterator.filter { i =>
    grid.rowNums(i) >= spec.startRow && spec.endRow.forall(grid.rowNums(i) <= _)
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      val i = rows.next()
      val cells = grid.rows(i)
      current = InternalRow.fromSeq(fieldIdx.indices.map { k =>
        if (fieldIdx(k) < 0) grid.rowNums(i) else read(k)(cells(fieldIdx(k)))
      })
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
