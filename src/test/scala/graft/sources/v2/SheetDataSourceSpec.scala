package graft.sources.v2

import graft.SparkSpec
import java.nio.file.Files

class SheetDataSourceSpec extends SparkSpec {

  private def writeCsv(lines: Seq[String]): String = {
    val f = Files.createTempFile("sheetv2", ".csv")
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  test("format(\"sheet\"): whole-sheet read, A1 letter column names, all strings") {
    val path = writeCsv(Seq("1,a,x", "2,b,y"))
    val df = spark.read.format("sheet").load(path)
    assert(df.columns.toSeq == Seq("A", "B", "C"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
  }

  test("A1 range slice + header + inferSchema") {
    val path = writeCsv(Seq(
      "junk,junk,junk,junk",
      "x,id,price,y",
      "x,1,1.5,y",
      "x,2,2.25,y",
      "x,3,99,y"))
    val df = spark.read.format("sheet")
      .option("range", "B2:C").option("header", "true").option("inferSchema", "true")
      .load(path)
    assert(df.columns.toSeq == Seq("id", "price"))
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("price").dataType.typeName == "double")
    assert(df.count() == 3)
    import org.apache.spark.sql.functions.sum
    assert(df.agg(sum("price")).collect()(0).getDouble(0) == 102.75)
  }

  test("column pruning reaches the scan (SupportsPushDownRequiredColumns)") {
    val path = writeCsv(Seq("id,price,note", "1,2.5,a", "2,3.5,b"))
    val df = spark.read.format("sheet")
      .option("header", "true").option("inferSchema", "true").load(path)
      .select("price")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=price"), s"scan not pruned:\n$plan")
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(2.5, 3.5))
  }

  test("typed date/timestamp/boolean inference through the connector") {
    val path = writeCsv(Seq(
      "d,ts,flag",
      "2020-01-02,2020-01-02 10:30:00,true",
      "2021-03-04,2021-03-04 11:00:00.5,false"))
    val df = spark.read.format("sheet")
      .option("header", "true").option("inferSchema", "true").load(path)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types == Map("d" -> "date", "ts" -> "timestamp", "flag" -> "boolean"))
    val r = df.orderBy("d").collect()(0)
    assert(r.getDate(0).toString == "2020-01-02")
    assert(r.getBoolean(2))
  }

  test("micro/nano-precision timestamps survive inference AND conversion") {
    val path = writeCsv(Seq("ts", "2024-01-01 10:00:00.123456", "2024-01-01 11:00:00.123456789"))
    val df = spark.read.format("sheet")
      .option("header", "true").option("inferSchema", "true").load(path)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    val ts = df.orderBy("ts").collect().map(_.getTimestamp(0))
    assert(ts(0).getNanos == 123456000) // micros preserved
  }

  test("colliding sanitized headers get deduplicated names, not shared data") {
    val path = writeCsv(Seq("a b,a_b", "1,2"))
    val df = spark.read.format("sheet").option("header", "true").load(path)
    assert(df.columns.toSeq == Seq("a_b", "a_b_2"))
    val r = df.collect()(0)
    assert(r.getString(0) == "1" && r.getString(1) == "2")
  }

  test(">26-column sheet addresses correctly under true base-26 (AB = 28)") {
    val width = 30
    val head = (1 to width).map(i => s"v$i").mkString(",")
    val path = writeCsv(Seq(head, (1 to width).map(i => s"w$i").mkString(",")))
    val df = spark.read.format("sheet").option("range", "AB1:AD").load(path)
    assert(df.columns.toSeq == Seq("AB", "AC", "AD"))
    assert(df.collect().map(_.toSeq.mkString("|")).toSeq == Seq("v28|v29|v30", "w28|w29|w30"))
  }

  test("_sheet_row filters push into the scan's row window (no post-scan filter)") {
    import org.apache.spark.sql.functions.col
    val path = writeCsv(Seq("id") ++ (1 to 99).map(_.toString))
    val df = spark.read.format("sheet")
      .option("header", "true").option("inferSchema", "true").load(path)
      .filter(col("_sheet_row") >= 10 && col("_sheet_row") <= 20)
      .select("id")
    val plan = df.queryExecution.executedPlan.toString
    // both bounds landed in the scan...
    assert(plan.contains("rows=10..20"), s"row bounds not pushed:\n$plan")
    // ...and were consumed there: no Filter node remains above the scan
    assert(!plan.contains("_sheet_row"), s"post-scan row filter survived:\n$plan")
    // sheet row 10 is data value 9 (row 1 is the header)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (9L to 19L))
  }

  test("a real column named _sheet_row keeps data semantics (metadata shadowed)") {
    import org.apache.spark.sql.functions.col
    val path = writeCsv(Seq("_sheet_row,x", "a,1", "b,2"))
    val df = spark.read.format("sheet").option("header", "true").load(path)
    // reads as the DATA column (strings), not the row counter
    assert(df.select("_sheet_row").collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // filters on it select by VALUE (post-scan), not by physical row
    val hit = df.filter(col("_sheet_row") === "b").collect()
    assert(hit.map(_.getString(1)).toSeq == Seq("2"))
  }

  test("_sheet_row is readable as a metadata column and composes with ranges") {
    val path = writeCsv(Seq("a,b,c", "x1,y1,z1", "x2,y2,z2", "x3,y3,z3"))
    val df = spark.read.format("sheet")
      .option("range", "B2:C").load(path)
      .select("_sheet_row", "B")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "y1"), (3L, "y2"), (4L, "y3")))
  }
  test("a sheet rewritten with the same size and mtime is read afresh") {
    val path = writeCsv(Seq("n", "12", "34"))
    val f = new java.io.File(path)
    val read = () => spark.read.format("sheet")
      .option("header", "true").option("inferSchema", "true").load(path)
    assert(read().schema("n").dataType.typeName == "long")
    val mtime = f.lastModified()
    val before = f.length()
    Files.write(f.toPath, Seq("n", "ab", "cd").mkString("\n").getBytes)
    assert(f.setLastModified(mtime) && f.length() == before)
    val df = read()
    assert(df.schema("n").dataType.typeName == "string")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("ab", "cd"))
  }
}
