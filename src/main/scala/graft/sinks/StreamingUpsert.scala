package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC → warehouse delivery with MERGE semantics: each
  * micro-batch is upserted (last-writer-wins per key, optional
  * tombstone deletes) into a plain-parquet warehouse table via
  * [[graft.operators.MergeUpsert]] — the third delivery mode after
  * full-replace (K2) and ledgered append (K3/[[StreamingDelivery]]),
  * and the one a change-data stream actually needs: the table tracks
  * CURRENT STATE per key, not event history.
  *
  * Scale design — bucket-pruned rewrites. Plain parquet has no row-level
  * update, so a naive merge rewrites the whole table every batch. The
  * delivered table is therefore partitioned by a key-hash bucket column
  * (`_kb` = xxhash64(keys) mod numBuckets): each batch only READS the
  * buckets its keys hash into and only REWRITES those same buckets
  * (dynamic partition overwrite). Per-batch cost is proportional to the
  * touched buckets' size, not the table's; a small batch over a huge
  * table touches a handful of partition directories. Size `numBuckets`
  * so one bucket ≈ a comfortable rewrite unit (table size / buckets);
  * the batch's own merge work is broadcast-anti-join map-side
  * (MergeUpsert's contract).
  *
  * Exactly-once without a ledger: MERGE is idempotent — re-applying the
  * SAME batch re-overwrites the same keys to the same values. Under one
  * checkpoint lineage only the latest uncommitted batch ever replays
  * (offsets commit after foreachBatch returns), so crash-replay
  * converges; a crash mid-write leaves each affected bucket either old
  * or fully merged (partition-dir replacement is the atom), and the
  * replay re-merges both kinds to the same final state. The ORDER
  * guarantee is the stream's: upserts across batches apply in batch
  * order; within a batch, `orderBy` picks the surviving version per key.
  *
  * The bucket layout is [[KeyBuckets]], shared with [[StreamingScd2]]:
  * `numBuckets` is pinned in a `{table}_upsert_meta` parquet table on
  * first delivery (the PQ-index meta discipline), since a later writer
  * with a different bucket count would scatter the same key across two
  * buckets and silently duplicate it; the same guard refuses a foreign
  * table and an SCD2-delivered one.
  */
object StreamingUpsert {

  /** Key-hash bucket partition column stamped on the delivered table. */
  val BucketCol: String = KeyBuckets.Col

  /** Reduce a batch to ONE row per key. With `orderBy` columns the
    * greatest (orderBy, then keys — callers should make orderBy total
    * per key) version survives; without, duplicate keys are a contract
    * violation and fail loudly (silently picking one would apply an
    * ARBITRARY version of the row).
    *
    * orderBy ties resolve DETERMINISTICALLY: a hash of every non-orderBy
    * column is appended to the window ordering, so two rows with equal
    * orderBy values have the same winner on every (re-)execution — a
    * crash-replay of the batch converges to the identical final state
    * (the idempotent-replay claim needs a total order, and a partial one
    * plus row_number is nondeterministic). Fully identical rows still
    * tie, but then either winner IS the same row. */
  private[sinks] def latestPerKey(batch: DataFrame, keys: Seq[String],
      orderBy: Seq[String]): DataFrame =
    if (orderBy.nonEmpty) {
      val tiebreak = batch.columns.filterNot(orderBy.contains).sorted.map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(orderBy.map(col(_).desc) :+ xxhash64(tiebreak: _*).desc: _*)
      batch.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    } else {
      val dups = batch.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dups.nonEmpty)
        throw new IllegalStateException(
          s"batch carries multiple rows for key ${dups(0).toSeq.init.mkString(",")} " +
            "and no orderBy was given — which version wins is undefined; " +
            "pass orderBy (a per-key total order) to resolve")
      batch
    }

  /** The `foreachBatch` function. `keys` identify a row; `orderBy`
    * orders versions WITHIN a batch (latest wins); rows whose
    * `tombstoneCol` is true delete their key.
    *
    * NULL tombstone values default to "keep" (`<=> true` below) — the
    * lenient reading for feeds where the delete flag is simply absent on
    * upserts. `strictTombstones = true` instead fails the batch loudly
    * on ANY NULL tombstone value (checked on the RAW batch, before
    * per-key reduction, so a malformed row cannot hide behind a newer
    * version of its key): in a CDC feed that always stamps the flag, a
    * NULL usually means a malformed row, and silently upserting it
    * corrupts current state. */
  def upsertBatch(table: String, keys: Seq[String],
      orderBy: Seq[String] = Nil, numBuckets: Int = 64,
      tombstoneCol: Option[String] = None,
      database: String = WarehouseSink.DefaultDatabase,
      strictTombstones: Boolean = false): (DataFrame, Long) => Unit = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(!strictTombstones || tombstoneCol.nonEmpty,
      "strictTombstones requires a tombstoneCol")
    StreamingDelivery.envelope(database, table, precheck = batch => {
      val missing = (keys ++ orderBy ++ tombstoneCol).filterNot(batch.columns.contains)
      require(missing.isEmpty, s"batch lacks columns: ${missing.mkString(",")}")
      require(!batch.columns.contains(BucketCol),
        s"batch already carries reserved column $BucketCol")
    }) { (snap, _) =>
      for (tc <- tombstoneCol if strictTombstones) {
        val bad = snap.filter(col(tc).isNull)
          .select(keys.map(col): _*).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"batch carries a NULL $tc tombstone value (key " +
              s"${bad(0).toSeq.mkString(",")}) — strict tombstone mode treats " +
              "a NULL delete flag as a malformed CDC row; clean the feed or " +
              "disable strictTombstones to default NULL to keep")
      }
      val reduced = latestPerKey(snap, keys, orderBy)
      // NULL-safe: a NULL tombstone means "not a delete". A plain
      // `=== true` predicate is NULL for such rows, so BOTH filters
      // below would drop them — the row would neither upsert nor
      // delete (silent loss).
      val tomb = tombstoneCol.map(col(_) <=> true).getOrElse(lit(false))
      val upserts = reduced.filter(!tomb).drop(tombstoneCol.toSeq: _*)
        .withColumn(BucketCol, KeyBuckets.of(keys, numBuckets))
      val deletes = reduced.filter(tomb)
        .select(keys.map(col): _*)
      if (!reduced.isEmpty) {
        val layout = new KeyBuckets(snap.sparkSession, KeyBuckets.Upsert, database, table)
        if (!layout.delivered(numBuckets)) layout.create(upserts, numBuckets)
        else {
          // touched buckets: from the FULL reduced batch (upserts +
          // deletes); a bucket whose every row was deleted empties out.
          // Without a tombstone column every touched bucket keeps its
          // upserted rows, so the empty-bucket scan is skipped
          val touched = layout.touched(reduced, keys, numBuckets)
          layout.swap(
            graft.operators.MergeUpsert(layout.read(touched), upserts, keys)
              .join(broadcast(deletes), keys, "left_anti"),
            dropEmpty = if (tombstoneCol.isDefined) touched else Nil)
        }
      }
    }
  }

  /** Wire a streaming CDC frame into the warehouse with MERGE delivery. */
  def startUpsert(df: DataFrame, table: String, keys: Seq[String],
      checkpointDir: String, orderBy: Seq[String] = Nil, numBuckets: Int = 64,
      tombstoneCol: Option[String] = None,
      database: String = WarehouseSink.DefaultDatabase,
      trigger: Trigger = Trigger.AvailableNow(),
      outputMode: String = "append",
      strictTombstones: Boolean = false): StreamingQuery =
    StreamingDelivery.start(df, checkpointDir, trigger, outputMode)(
      upsertBatch(table, keys, orderBy, numBuckets, tombstoneCol, database,
        strictTombstones))

  /** Compact an upsert-delivered table's buckets: every micro-batch
    * rewrite leaves one file set per touched bucket, so after N batches
    * a hot bucket holds O(N) small files and scans degrade (the classic
    * small-files problem). Compaction rewrites each bucket into a single
    * file: `repartition(numBuckets, _kb)` routes every bucket's rows to
    * exactly one task (a hash collision just means one task writes two
    * partition dirs — still one file each), and dynamic partition
    * overwrite swaps whole bucket dirs, so a crash mid-compaction leaves
    * each bucket either compacted or untouched — both complete, rerun to
    * finish. Run it out-of-band between deliveries (it takes no lock; a
    * CONCURRENT upsert batch could lose its rewrite to the compactor's
    * overwrite, the usual single-writer-per-table rule).
    */
  def compact(spark: SparkSession, table: String,
      database: String = WarehouseSink.DefaultDatabase): Unit = {
    WarehouseSink.requireIdent(database, "database")
    WarehouseSink.requireIdent(table, "destination table")
    val layout = new KeyBuckets(spark, KeyBuckets.Upsert, database, table)
    val buckets = layout.pinned.getOrElse(
      throw new IllegalStateException(
        s"${layout.qualified} has no {table}_upsert_meta — " +
          "only upsert-delivered tables can be compacted"))
    layout.swap(spark.table(layout.qualified).repartition(buckets, col(BucketCol)))
  }

  /** Incrementally-maintained MATERIALIZED VIEW: an UNWINDOWED streaming
    * aggregation (running totals per key — the view no tumbling window
    * can express) delivered through the MERGE sink. Update-mode
    * aggregation re-emits each key's FULL current aggregate row whenever
    * a batch changes it — exactly an upsert stream — so the warehouse
    * table always equals the batch aggregate over everything ingested:
    * per batch, only CHANGED keys are written, and only their buckets
    * rewrite. `aggregated` must be the result of `groupBy(keys).agg(...)`
    * on a watermark-free stream (a watermarked agg would drop late rows
    * that a from-scratch batch query counts; state is O(keys), the
    * inherent floor for a keyed running total). Replay safety is the
    * merge sink's: re-delivering a batch re-writes the same values.
    */
  def startMaterializedAgg(aggregated: DataFrame, table: String,
      keys: Seq[String], checkpointDir: String, numBuckets: Int = 64,
      database: String = WarehouseSink.DefaultDatabase,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startUpsert(aggregated, table, keys, checkpointDir,
      numBuckets = numBuckets, database = database, trigger = trigger,
      outputMode = "update")
}
