package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

/** E2e coverage for the sheet-export read path (SURVEY §7 "minimum
  * end-to-end slice", FIXTURES.md A.3): all-string cells, header row,
  * A1 slicing incl. a >26-column sheet (exercising true base-26 column
  * arithmetic where the reference's base-25 bug would misaddress), and
  * autodetect-style schema inference — through `format("sheet")`, the
  * one reader the daemon uses, which runs [[SheetSource]]'s phases.
  */
class SheetSourceSpec extends SparkSpec {

  private def writeCsv(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("sheet").toFile
    val f = new java.io.File(dir, "sheet.csv")
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  private def read(path: String, cellRange: Option[String] = None,
      header: Boolean = false, infer: Boolean = false): DataFrame =
    spark.read.format("sheet").option("range", cellRange.getOrElse(""))
      .option("header", header).option("inferSchema", infer).load(path)

  test("full-sheet scan: all cells strings, row order preserved (S1)") {
    val path = writeCsv(Seq("a,b", "1,x", "2,y"))
    val grid = SheetSource.readRaw(spark, path)
    assert(grid.types.forall(_ == StringType))
    assert(grid.rows.map(_(0)) == Seq("a", "1", "2"))
    assert(grid.rowNums == Seq(1L, 2L, 3L))
    // the connector serves the same order and row numbers
    val rows = read(path).select(SheetSource.RowCol, "A").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "1"), (3L, "2")))
  }

  test("A1 range scan slices columns and rows; >26 columns hit true base-26 (S2)") {
    // 30 columns: A..AD. The reference's base-25 math reads 'AB' as col 51
    // (export.py:23); true base-26 says 28 — this fixture would misslice
    // under the bug.
    val header = (1 to 30).map(i => s"h$i").mkString(",")
    val row = (i: Int) => (1 to 30).map(c => s"r${i}c$c").mkString(",")
    val path = writeCsv(header +: (1 to 5).map(row))
    // AB2:AD4 = columns 28..30, rows 2..4
    val df = read(path, cellRange = Some("AB2:AD4"))
    assert(df.columns.toSeq == Seq("AB", "AC", "AD"))
    val got = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(got == Seq("r1c28|r1c29|r1c30", "r2c28|r2c29|r2c30", "r3c28|r3c29|r3c30"))
  }

  test("open-ended range reads to the sheet's last row without counting (S3)") {
    val path = writeCsv(Seq("h1,h2,h3", "1,a,x", "2,b,y", "3,c,z"))
    val df = read(path, cellRange = Some("A2:B"))
    assert(df.columns.length == 2)
    assert(df.count() == 3)
  }

  test("whole-column range A:C selects columns for all rows") {
    val path = writeCsv(Seq("a,b,c,d", "1,2,3,4", "5,6,7,8"))
    val df = read(path, cellRange = Some("A:C"))
    assert(df.columns.length == 3)
    assert(df.count() == 3) // header row included: A:C starts at row 1
  }

  test("range bounds clamp to the sheet: end row/col past the data") {
    val path = writeCsv(Seq("a,b", "1,x", "2,y"))
    val df = read(path, cellRange = Some("A2:Z999"))
    assert(df.columns.length == 2) // col slice clamps to sheet width
    assert(df.count() == 2)        // row filter simply matches nothing past EOF
  }

  test("range starting past the sheet width is rejected with a clear error") {
    val path = writeCsv(Seq("a,b", "1,x"))
    val e = intercept[IllegalArgumentException](
      read(path, cellRange = Some("Z1:AA")))
    assert(e.getMessage.contains("sheet has 2"))
  }

  test("header promotion sanitizes names; inference types columns like autodetect (K4)") {
    val path = writeCsv(Seq(
      "id,price,active,born,seen at,note,blank,yn,t0,tsz,mixed",
      "1,1.5,true,2020-01-02,2020-01-02 10:00:00,hello,,yes,true,2024-01-01 10:00:00Z,2024-01-01",
      "2,2.25,false,2021-03-04,2021-03-04 11:30:00,world,,no,0,2024-01-02 11:00:00Z,2024-01-02 10:00:00",
      "3,99,true,2022-05-06,2022-05-06 12:45:00,,,YES,false,2024-01-03 12:00:00.5Z,2024-01-03 11:00:00.123"))
    val df = read(path, header = true, infer = true)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("id") == "long")
    assert(types("price") == "double")
    assert(types("active") == "boolean")
    assert(types("born") == "date")
    assert(types("seen_at") == "timestamp")
    assert(types("note") == "string")
    assert(types("blank") == "string") // all-empty: no evidence, stays string
    // Spark's cast rules, as the daemon has always typed these: yes/no and
    // 0/1 are booleans, a Z suffix is a timestamp, and a bare date among
    // timestamps makes the column a timestamp
    assert(types("yn") == "boolean")
    assert(types("t0") == "boolean")
    assert(types("tsz") == "timestamp")
    assert(types("mixed") == "timestamp")
    assert(df.count() == 3)
    // empty cells become true nulls after inference
    assert(df.filter(df("note").isNull).count() == 1)
  }

  test("edge-case sheet: every column gets the type the DataFrame reader gave it") {
    // types recorded from the removed distributed reader (try_cast census)
    // over this same sheet; warehouse tables built by it keep their schema
    val path = writeCsv(Seq(
      "id,price,active,born,seen at,note,blank,yn,t0,tsz,mixed,ws,sci,tsT,dateish,big,spaced,quoted,,NaNs,neg",
      "1,1.5,true,2020-01-02,2020-01-02 10:00:00,hello,,yes,true,2024-01-01 10:00:00Z,2024-01-01,  ,1e3,2024-01-01T10:00:00,2024-1-2,99999999999999999999, true ,\"a,b\",x,NaN,-5",
      "2,2.25,false,2021-03-04,2021-03-04 11:30:00,world,,no,0,2024-01-02 11:00:00Z,2024-01-02 10:00:00, 5 ,2.5,2024-01-02T11:30:00.25,2024-12-31,1,false,\"c,d\",y,1.0,+7",
      "3,99,true,2022-05-06,2022-05-06 12:45:00,,,YES,false,2024-01-03 12:00:00.5Z,2024-01-03 11:00:00.123,7,-1E-2,2024-01-03T12:00:00,2024-02-03,2,TRUE,plain,z,Infinity,0"))
    val df = read(path, header = true, infer = true)
    val want = Seq("id" -> "long", "price" -> "double", "active" -> "boolean",
      "born" -> "date", "seen_at" -> "timestamp", "note" -> "string", "blank" -> "string",
      "yn" -> "boolean", "t0" -> "boolean", "tsz" -> "timestamp", "mixed" -> "timestamp",
      "ws" -> "long", "sci" -> "double", "tsT" -> "timestamp", "dateish" -> "timestamp",
      "big" -> "double", "spaced" -> "boolean", "quoted" -> "string", "col18" -> "string",
      "NaNs" -> "double", "neg" -> "long")
    assert(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq == want)
    val rows = df.orderBy("id").select("ws", "big", "spaced", "quoted", "NaNs", "neg").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(rows == Seq("null|1.0E20|true|a,b|NaN|-5", "5|1.0|false|c,d|1.0|7",
      "7|2.0|true|plain|Infinity|0"))
  }

  test("slice + header + infer compose (the flusher job shape)") {
    val path = writeCsv(Seq(
      "junk,junk,junk,junk",
      "x,id,qty,y",
      "x,1,10,y",
      "x,2,20,y"))
    val df = read(path, cellRange = Some("B2:C"), header = true, infer = true)
    assert(df.columns.toSeq == Seq("id", "qty"))
    assert(df.schema.fields.forall(_.dataType.typeName == "long"))
    assert(df.agg(org.apache.spark.sql.functions.sum("qty")).collect()(0).getLong(0) == 30L)
  }
}
