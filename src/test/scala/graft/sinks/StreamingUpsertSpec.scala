package graft.sinks

import graft.SparkSpec
import java.nio.file.Files

/** MERGE-mode streaming delivery: per-key current state in the
  * warehouse, bucket-pruned rewrites, idempotent replay. Most tests
  * drive the foreachBatch function directly (cross-batch ORDER is part
  * of the contract, so the unit is exercised deterministically); one
  * end-to-end runs the real writeStream path.
  */
class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val db = "stream_upsert_test"

  private def stateOf(table: String): Map[Long, (String, Double)] =
    spark.table(s"`$db`.`$table`")
      .select("k", "s", "v")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  test("upsert applies insert, update, and tombstone delete across batches") {
    val t = "cdc_basic"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"),
      tombstoneCol = Some("del"), numBuckets = 4, database = db)
    fn(Seq((1L, "a", 1.0, false), (2L, "b", 2.0, false)).toDF("k", "s", "v", "del"), 0L)
    assert(stateOf(t) == Map(1L -> ("a", 1.0), 2L -> ("b", 2.0)))
    val batch2 = Seq((1L, "A", 10.0, false), (3L, "c", 3.0, false), (2L, "b", 0.0, true))
      .toDF("k", "s", "v", "del")
    fn(batch2, 1L)
    val want = Map(1L -> ("A", 10.0), 3L -> ("c", 3.0)) // 2 deleted
    assert(stateOf(t) == want)
    // replaying the same batch (crash-replay) converges to the same state
    fn(batch2, 1L)
    assert(stateOf(t) == want)
  }

  test("a batch only rewrites the buckets its keys hash into") {
    val t = "cdc_pruned"
    val buckets = 4
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"), numBuckets = buckets, database = db)
    // spread keys across buckets
    val keys = (1L to 40L)
    fn(keys.map(k => (k, "s", k.toDouble)).toDF("k", "s", "v"), 0L)
    val touchedKey = 7L
    val touchedBucket = spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit(touchedKey)),
        org.apache.spark.sql.functions.lit(buckets.toLong))).head().getLong(0)
    def bucketFiles(b: Long): Set[String] = {
      val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED `$db`.`$t`")
        .filter($"col_name" === "Location").head().getString(1)).getPath
      val dir = new java.io.File(s"$loc/${StreamingUpsert.BucketCol}=$b")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filterNot(_.getName.startsWith("_"))
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSet
    }
    val before = (0L until buckets).map(b => b -> bucketFiles(b)).toMap
    assert(before.values.forall(_.nonEmpty), "every bucket should hold keys")
    fn(Seq((touchedKey, "S", 99.0)).toDF("k", "s", "v"), 1L)
    (0L until buckets).foreach { b =>
      if (b == touchedBucket)
        assert(bucketFiles(b) != before(b), s"touched bucket $b must be rewritten")
      else
        assert(bucketFiles(b) == before(b), s"untouched bucket $b was rewritten")
    }
    assert(stateOf(t)(touchedKey) == ("S", 99.0))
    assert(stateOf(t).size == 40)
  }

  test("orderBy resolves multiple versions of a key within one batch") {
    val t = "cdc_versions"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"), orderBy = Seq("ver"), database = db)
    fn(Seq((1L, "old", 1.0, 1L), (1L, "new", 2.0, 2L), (2L, "x", 5.0, 1L))
      .toDF("k", "s", "v", "ver"), 0L)
    val got = spark.table(s"`$db`.`cdc_versions`").select("k", "s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "new", 2L -> "x"))
  }

  test("a NULL tombstone means 'not a delete' — the row upserts instead of vanishing") {
    // `col === true` is NULL for a NULL tombstone, so both the upsert
    // filter (!tomb) and the delete filter (tomb) would drop the row —
    // silent loss. The null-safe predicate routes it to the upsert side.
    val t = "cdc_null_tomb"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"),
      tombstoneCol = Some("del"), numBuckets = 4, database = db)
    val rows = Seq(
      (1L, "keep", 1.0, Some(false)),
      (2L, "null-tomb", 2.0, None), // must upsert, not vanish
      (3L, "dead", 3.0, Some(true)))
    fn(rows.toDF("k", "s", "v", "del"), 0L)
    assert(stateOf(t) == Map(1L -> ("keep", 1.0), 2L -> ("null-tomb", 2.0)))
  }

  test("strict tombstone mode fails loudly on a NULL delete flag instead of defaulting to keep") {
    val t = "cdc_strict_tomb"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"),
      tombstoneCol = Some("del"), numBuckets = 4, database = db,
      strictTombstones = true)
    // clean batch: strict mode changes nothing
    fn(Seq((1L, "a", 1.0, Some(false)), (2L, "b", 2.0, Some(true)))
      .toDF("k", "s", "v", "del"), 0L)
    assert(stateOf(t) == Map(1L -> ("a", 1.0)))
    // a NULL flag is a malformed CDC row under strict mode — and it must
    // be caught on the RAW batch even when a newer version of the same
    // key would win the per-key reduction
    val e = intercept[IllegalStateException] {
      fn(Seq((3L, "v1", 1.0, None), (3L, "v2", 2.0, Some(false)))
        .toDF("k", "s", "v", "del"), 1L)
    }
    assert(e.getMessage.contains("strict tombstone mode"))
    assert(stateOf(t) == Map(1L -> ("a", 1.0)), "failed batch must deliver nothing")
    // strict mode without a tombstone column is a config error
    intercept[IllegalArgumentException] {
      StreamingUpsert.upsertBatch(t, Seq("k"), strictTombstones = true)
    }
  }

  test("orderBy ties resolve deterministically regardless of partitioning") {
    // equal orderBy values: row_number over a partial order is
    // nondeterministic, so a crash-replay could converge to a different
    // state. The hash tiebreaker makes the winner a pure function of row
    // content — identical across shuffles, partitionings, re-executions.
    val rows = Seq(
      (1L, "alpha", 1.0, 5L), (1L, "beta", 2.0, 5L), (1L, "gamma", 3.0, 5L),
      (2L, "only", 4.0, 1L))
    val winners = (1 to 8).map { p =>
      StreamingUpsert.latestPerKey(
        rows.toDF("k", "s", "v", "ver").repartition(p), Seq("k"), Seq("ver"))
        .select("k", "s").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(winners.distinct.size == 1,
      s"tie winner varied with partitioning: ${winners.distinct}")
    assert(winners.head(2L) == "only")
  }

  test("duplicate keys without orderBy, wrong bucket count, reserved column all fail loudly") {
    val t = "cdc_guards"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"), numBuckets = 4, database = db)
    val dup = intercept[IllegalStateException](
      fn(Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("k", "s", "v"), 0L))
    assert(dup.getMessage.contains("orderBy"))
    fn(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), 0L) // creates with 4 buckets
    val wrong = intercept[IllegalStateException](
      StreamingUpsert.upsertBatch(t, Seq("k"), numBuckets = 8, database = db)(
        Seq((2L, "b", 2.0)).toDF("k", "s", "v"), 1L))
    assert(wrong.getMessage.contains("numBuckets=4"))
    intercept[IllegalArgumentException](
      fn(Seq((1L, "a", 1.0)).toDF("k", "s", StreamingUpsert.BucketCol), 2L))
    intercept[IllegalArgumentException](
      StreamingUpsert.upsertBatch(t, Seq("absent"), database = db)(
        Seq((1L, "a", 1.0)).toDF("k", "s", "v"), 3L))
  }

  test("compaction folds each bucket's accumulated files into one, data intact") {
    val t = "cdc_compact"
    val fn = StreamingUpsert.upsertBatch(t, Seq("k"), numBuckets = 4, database = db)
    // several batches over recurring keys → multiple file sets per bucket
    (0 to 4).foreach { b =>
      fn((1L to 20L).map(k => (k, s"v$b", k.toDouble + b)).toDF("k", "s", "v"), b.toLong)
    }
    val before = stateOf(t)
    def filesPerBucket: Map[Long, Int] = {
      val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED `$db`.`$t`")
        .filter($"col_name" === "Location").head().getString(1)).getPath
      (0L until 4L).map { b =>
        val dir = new java.io.File(s"$loc/${StreamingUpsert.BucketCol}=$b")
        b -> (if (dir.exists())
          dir.listFiles().count(f => !f.getName.startsWith("_") && !f.getName.endsWith(".crc"))
        else 0)
      }.toMap
    }
    assert(filesPerBucket.values.exists(_ > 1), "fixture produced no fragmentation")
    StreamingUpsert.compact(spark, t, database = db)
    val after = filesPerBucket
    assert(after.values.forall(_ == 1), s"buckets not fully compacted: $after")
    assert(stateOf(t) == before, "compaction changed the data")
    // compacted table still accepts deliveries
    fn(Seq((1L, "post", 0.0)).toDF("k", "s", "v"), 9L)
    assert(stateOf(t)(1L) == ("post", 0.0))
    // a non-upsert table is rejected
    intercept[IllegalStateException](
      StreamingUpsert.compact(spark, "never_delivered", database = db))
  }

  test("a pre-existing foreign table is never silently overwritten") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    Seq((1L, "precious", 1.0)).toDF("k", "s", "v")
      .write.mode("overwrite").format("parquet").saveAsTable(s"`$db`.`foreign_tbl`")
    val e = intercept[IllegalStateException](
      StreamingUpsert.upsertBatch("foreign_tbl", Seq("k"), database = db)(
        Seq((2L, "b", 2.0)).toDF("k", "s", "v"), 0L))
    assert(e.getMessage.contains("refusing to overwrite"))
    // the foreign data is untouched
    assert(spark.table(s"`$db`.`foreign_tbl`").collect()
      .map(_.getString(1)).toSeq == Seq("precious"))
    // an SCD2-delivered history carries the same _kb layout but is
    // pinned by {table}_scd2_meta: an upsert over it would keep one row
    // per key and drop the closed versions
    val scd = StreamingScd2.scd2Batch("scd2_owned", Seq("k"), Seq("s", "v"), "eff",
      numBuckets = 4, database = db)
    Seq(100L, 200L, 300L).zipWithIndex.foreach { case (eff, b) =>
      scd(Seq((1L, s"v$b", b.toDouble, eff)).toDF("k", "s", "v", "eff"), b.toLong)
    }
    val history = spark.table(s"`$db`.`scd2_owned`").collect().toSet
    assert(history.size == 3)
    val e2 = intercept[IllegalStateException](
      StreamingUpsert.upsertBatch("scd2_owned", Seq("k"), numBuckets = 4, database = db)(
        Seq((1L, "z", 9.0)).toDF("k", "s", "v"), 0L))
    assert(e2.getMessage.contains("refusing to overwrite"))
    assert(spark.table(s"`$db`.`scd2_owned`").collect().toSet == history,
      "the SCD2 history must survive the refused upsert")
  }

  test("a crash between the table write and the meta pin replays to a clean delivery") {
    val b0 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v")
    def fn(t: String) = StreamingUpsert.upsertBatch(t, Seq("k"), numBuckets = 4, database = db)
    def layout(t: String) = spark.table(s"`$db`.`$t`")
      .select("k", "s", "v", StreamingUpsert.BucketCol).collect().toSet
    fn("cdc_crash_clean")(b0, 0L)
    fn("cdc_crash")(b0, 0L)
    // what a crash after the table write and before the meta write leaves
    spark.sql(s"DROP TABLE `$db`.`cdc_crash_upsert_meta`")
    fn("cdc_crash")(b0, 0L) // the replay of batch 0
    assert(layout("cdc_crash") == layout("cdc_crash_clean"))
    assert(spark.table(s"`$db`.`cdc_crash_upsert_meta`").collect().map(_.getInt(0)).toSeq ==
      Seq(4), "the replay must pin the layout again")
    // the re-pinned table merges the next batch like the clean one
    val b1 = Seq((1L, "A", 9.0)).toDF("k", "s", "v")
    fn("cdc_crash")(b1, 1L)
    fn("cdc_crash_clean")(b1, 1L)
    assert(layout("cdc_crash") == layout("cdc_crash_clean"))
  }

  test("materialized view: update-mode aggregate + merge sink equals the batch aggregate") {
    val srcDir = Files.createTempDirectory("mvsrc").toString
    // three files → three micro-batches; keys recur across batches so
    // the view genuinely updates (not just inserts)
    Seq((1L, 10.0), (2L, 5.0)).toDF("k", "v").coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(100)
    Seq((1L, 7.0), (3L, 1.0)).toDF("k", "v").coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(100)
    Seq((2L, 2.0), (1L, 3.0)).toDF("k", "v").coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val agg = src.groupBy($"k").agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.sum($"v").as("total"))
    StreamingUpsert.startMaterializedAgg(agg, "mv_totals", Seq("k"),
      Files.createTempDirectory("mvcp").toString, numBuckets = 4, database = db)
      .awaitTermination()
    val got = spark.table(s"`$db`.`mv_totals`").select("k", "n", "total")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(
      1L -> (3L, 20.0), 2L -> (2L, 7.0), 3L -> (1L, 1.0)),
      s"view diverged from the batch aggregate: $got")
  }

  test("end-to-end: a file CDC stream delivers last-writer-wins state; full replay is a no-op") {
    val srcDir = Files.createTempDirectory("upsrc").toString
    // two files → two micro-batches (maxFilesPerTrigger=1); file 2 is
    // written after file 1 so discovery order matches CDC order
    Seq((1L, "a", 1.0, 1L, false), (2L, "b", 2.0, 2L, false))
      .toDF("k", "s", "v", "ver", "del").coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(100) // distinct mtimes → deterministic file-discovery order
    Seq((1L, "A", 9.0, 3L, false), (2L, "gone", 0.0, 4L, true), (3L, "c", 3.0, 5L, false))
      .toDF("k", "s", "v", "ver", "del").coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      StreamingUpsert.startUpsert(src, "cdc_e2e", Seq("k"),
        Files.createTempDirectory("upcp").toString, orderBy = Seq("ver"),
        tombstoneCol = Some("del"), database = db).awaitTermination()
    }
    run()
    val want = Map(1L -> ("A", 9.0), 3L -> ("c", 3.0))
    assert(stateOf("cdc_e2e") == want)
    // fresh checkpoint, same source: every batch re-merges to the same state
    run()
    assert(stateOf("cdc_e2e") == want)
  }
}
