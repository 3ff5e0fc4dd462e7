package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SCD2 streaming delivery: versioned history in the warehouse,
  * micro-batch version granularity, re-delivery idempotence. Tests drive
  * the foreachBatch function directly (the upsert spec's convention —
  * cross-batch ORDER is part of the contract) plus one real writeStream
  * end-to-end.
  */
class StreamingScd2Spec extends SparkSpec {
  import spark.implicits._

  private val db = "stream_scd2_test"

  private def history(table: String): Set[(Long, String, Double, Option[Long], Option[Long])] =
    spark.table(s"`$db`.`$table`")
      .select("k", "s", "v", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "s", "v", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet

  test("N-batch delivery == N sequential Scd2.apply calls; last-batch replay converges") {
    val t = "dim_hist"
    val fn = StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, database = db)
    val b1 = Seq((1L, "a", 1.0, 100L), (2L, "b", 2.0, 100L)).toDF("k", "s", "v", "eff")
    // batch 2: key 1 changes, key 2 is a NO-OP update, key 3 is new
    val b2 = Seq((1L, "a2", 1.5, 200L), (2L, "b", 2.0, 200L), (3L, "c", 3.0, 200L))
      .toDF("k", "s", "v", "eff")
    val b3 = Seq((1L, "a3", 1.7, 300L)).toDF("k", "s", "v", "eff")
    fn(b1, 0L); fn(b2, 1L); fn(b3, 2L)

    // replay the same sequence through the BATCH operator
    val dim0 = b1.select($"k", $"s", $"v", $"eff".as("valid_from"),
      lit(null).cast("long").as("valid_to"))
    val dim1 = graft.operators.Scd2(dim0, b2, Seq("k"), Seq("s", "v"), "eff")
    val dim2 = graft.operators.Scd2(dim1, b3, Seq("k"), Seq("s", "v"), "eff")
    val want = asSet(dim2)
    assert(history(t) == want, "streamed history must equal the batch-operator fold")
    // the no-op update created no version for key 2
    assert(history(t).count(_._1 == 2L) == 1)
    // key 1 carries the full version chain 100→200→300
    assert(history(t).filter(_._1 == 1L).map(r => (r._4, r._5)) ==
      Set((Some(100L), Some(200L)), (Some(200L), Some(300L)), (Some(300L), None)))

    // crash-replay of the LAST batch (the only one that ever replays
    // under one checkpoint lineage): change detection makes it a no-op
    fn(b3, 2L)
    assert(history(t) == want)
  }

  test("tombstone closes the open row with no successor; replay and unknown keys are no-ops") {
    val t = "dim_tomb"
    val fn = StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, tombstoneCol = Some("del"), database = db)
    fn(Seq((1L, "a", 1.0, 100L, false), (2L, "b", 2.0, 100L, false))
      .toDF("k", "s", "v", "eff", "del"), 0L)
    // delete key 2, insert key 4, tombstone a key that never existed
    val b2 = Seq((2L, "b", 2.0, 200L, true), (4L, "d", 4.0, 200L, false),
      (9L, "x", 0.0, 200L, true)).toDF("k", "s", "v", "eff", "del")
    fn(b2, 1L)
    val want = Set(
      (1L, "a", 1.0, Some(100L), None),
      (2L, "b", 2.0, Some(100L), Some(200L)), // closed, no successor
      (4L, "d", 4.0, Some(200L), None))
    assert(history(t) == want, "tombstone must close without opening")
    assert(!history(t).exists(_._1 == 9L), "unknown-key tombstone is a no-op")
    // re-delivery: key 2 has no open row left to close — converges
    fn(b2, 1L)
    assert(history(t) == want)
  }

  test("version granularity is the micro-batch: in-batch versions collapse to latest") {
    val t = "dim_granularity"
    val fn = StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, database = db)
    fn(Seq((1L, "mid", 1.0, 150L), (1L, "early", 0.5, 100L), (1L, "late", 2.0, 200L))
      .toDF("k", "s", "v", "eff"), 0L)
    assert(history(t) == Set((1L, "late", 2.0, Some(200L), None)),
      "only the latest in-batch version opens")
  }

  test("bucket-count mismatch and foreign tables fail loudly") {
    val t = "dim_guards"
    StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, database = db)(
      Seq((1L, "a", 1.0, 100L)).toDF("k", "s", "v", "eff"), 0L)
    val e = intercept[IllegalStateException] {
      StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
        numBuckets = 8, database = db)(
        Seq((1L, "b", 2.0, 200L)).toDF("k", "s", "v", "eff"), 1L)
    }
    assert(e.getMessage.contains("numBuckets=4"))
    // a pre-existing non-scd2 table is never silently overwritten
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    Seq((1L, "keep")).toDF("k", "s").write.mode("overwrite")
      .format("parquet").saveAsTable(s"`$db`.`foreign_dim`")
    val e2 = intercept[IllegalStateException] {
      StreamingScd2.scd2Batch("foreign_dim", Seq("k"), Seq("s", "v"), "eff",
        database = db)(Seq((1L, "a", 1.0, 100L)).toDF("k", "s", "v", "eff"), 0L)
    }
    assert(e2.getMessage.contains("refusing to overwrite"))
    assert(spark.table(s"`$db`.`foreign_dim`").count() == 1, "foreign table intact")
    // an upsert-delivered table carries the same _kb layout but is
    // pinned by {table}_upsert_meta: it is current state, not history
    StreamingUpsert.upsertBatch("upsert_owned", Seq("k"), numBuckets = 4, database = db)(
      Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v"), 0L)
    val state = spark.table(s"`$db`.`upsert_owned`").collect().toSet
    val e3 = intercept[IllegalStateException] {
      StreamingScd2.scd2Batch("upsert_owned", Seq("k"), Seq("s", "v"), "eff",
        numBuckets = 4, database = db)(Seq((1L, "a", 1.0, 100L)).toDF("k", "s", "v", "eff"), 0L)
    }
    assert(e3.getMessage.contains("refusing to overwrite"))
    assert(spark.table(s"`$db`.`upsert_owned`").collect().toSet == state,
      "the upsert table must survive the refused SCD2 delivery")
    // and the upsert compactor refuses an SCD2 history
    val hist = history(t)
    val e4 = intercept[IllegalStateException](StreamingUpsert.compact(spark, t, database = db))
    assert(e4.getMessage.contains("upsert_meta"))
    assert(history(t) == hist)
  }

  test("a crash between the table write and the meta pin replays to a clean delivery") {
    val b0 = Seq((1L, "a", 1.0, 100L), (2L, "b", 2.0, 100L)).toDF("k", "s", "v", "eff")
    def fn(t: String) = StreamingScd2.scd2Batch(t, Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, database = db)
    def layout(t: String) = spark.table(s"`$db`.`$t`")
      .select("k", "s", "v", "valid_from", "valid_to", StreamingUpsert.BucketCol)
      .collect().toSet
    fn("dim_crash_clean")(b0, 0L)
    fn("dim_crash")(b0, 0L)
    // what a crash after the table write and before the meta write leaves
    spark.sql(s"DROP TABLE `$db`.`dim_crash_scd2_meta`")
    fn("dim_crash")(b0, 0L) // the replay of batch 0
    assert(layout("dim_crash") == layout("dim_crash_clean"))
    assert(spark.table(s"`$db`.`dim_crash_scd2_meta`").collect().map(_.getInt(0)).toSeq ==
      Seq(4), "the replay must pin the layout again")
    val b1 = Seq((1L, "a2", 1.5, 200L)).toDF("k", "s", "v", "eff")
    fn("dim_crash")(b1, 1L)
    fn("dim_crash_clean")(b1, 1L)
    assert(layout("dim_crash") == layout("dim_crash_clean"))
  }

  test("end-to-end: a file CDC stream builds the same history as the batch fold") {
    val srcDir = java.nio.file.Files.createTempDirectory("scdsrc").toString
    Seq((1L, "a", 1.0, 100L, false), (2L, "b", 2.0, 100L, false))
      .toDF("k", "s", "v", "eff", "del").coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(100) // distinct mtimes → deterministic discovery order
    Seq((1L, "A", 9.0, 200L, false), (2L, "b", 0.0, 200L, true))
      .toDF("k", "s", "v", "eff", "del").coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    StreamingScd2.startScd2(src, "dim_e2e", Seq("k"), Seq("s", "v"), "eff",
      java.nio.file.Files.createTempDirectory("scdcp").toString,
      tombstoneCol = Some("del"), database = db).awaitTermination()
    assert(history("dim_e2e") == Set(
      (1L, "a", 1.0, Some(100L), Some(200L)),
      (1L, "A", 9.0, Some(200L), None),
      (2L, "b", 2.0, Some(100L), Some(200L))))
  }
}
