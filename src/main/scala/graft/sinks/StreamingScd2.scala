package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC → warehouse delivery with SCD TYPE 2 semantics: the
  * versioned-HISTORY complement to [[StreamingUpsert]]'s last-writer-wins
  * current state. Each micro-batch runs [[graft.operators.Scd2]] against
  * the delivered dimension: a changed key's open row closes
  * (`valid_to` = the update's effective time) and its new version opens;
  * a brand-new key inserts an open row; a no-op update (same attribute
  * values, null-safe) creates NOTHING; a tombstoned key's open row
  * closes with no successor. CDC feeds are the natural SCD2 producer —
  * the change stream IS the version stream — so this sink turns any
  * `readStream` of change rows into a queryable dimension history.
  *
  * Layout and per-batch cost are [[StreamingUpsert]]'s: the table is
  * partitioned by a key-hash bucket (`_kb`), so ALL VERSIONS of a key
  * co-locate in one bucket, and a batch reads + rewrites only the
  * buckets its keys hash into (dynamic partition overwrite; batch cost ∝
  * touched-bucket bytes, not table size). The SCD2 merge inside a bucket
  * slice is [[graft.operators.Scd2]]'s broadcast-only decomposition —
  * the dimension slice never shuffles. The bucket count pins in a
  * `{table}_scd2_meta` table on first delivery (a writer with a
  * different count would split a key's history across buckets — fail
  * loudly, the upsert sink's discipline). The two sinks' distinct meta
  * names (`{table}_scd2_meta`, `{table}_upsert_meta`) also keep an SCD2
  * writer from treating a LAST-WRITER-WINS table as history, and vice
  * versa: [[KeyBuckets.delivered]], the first-delivery guard both sinks
  * share, refuses a table the other kind's meta pins.
  *
  * Exactly-once without a ledger: replay converges because SCD2's
  * change detection is the idempotency guard. Re-applying a delivered
  * batch finds every key's open attributes already equal to the update
  * (no-op), every insert already present (no-op), every tombstoned key
  * already closed (no open row to close) — the rewrite emits identical
  * bytes. Under one checkpoint lineage only the latest uncommitted batch
  * replays (offsets commit after foreachBatch returns). VERSION
  * GRANULARITY IS THE MICRO-BATCH: multiple versions of one key inside a
  * single batch collapse to the latest by `effectiveCol`
  * ([[StreamingUpsert.latestPerKey]]'s deterministic total order) — the
  * same contract batch [[graft.operators.Scd2]] imposes (key-unique
  * updates), so an N-batch delivery equals N sequential `Scd2.apply`
  * calls (spec-pinned). Effective times must advance batch-over-batch
  * for a key (the stream's order guarantee), as in the batch operator.
  */
object StreamingScd2 {

  /** The `foreachBatch` function. `keys` identify a dimension row,
    * `attrs` are the tracked attributes (a change in any opens a new
    * version), `effectiveCol` carries each change's effective time, and
    * rows whose `tombstoneCol` is true CLOSE their key's open row with
    * no successor (null-safe: a NULL tombstone means "not a delete",
    * the upsert sink's contract). */
  def scd2Batch(table: String, keys: Seq[String], attrs: Seq[String],
      effectiveCol: String, numBuckets: Int = 64,
      tombstoneCol: Option[String] = None,
      database: String = WarehouseSink.DefaultDatabase,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): (DataFrame, Long) => Unit = {
    require(keys.nonEmpty, "scd2 delivery requires at least one key column")
    require(attrs.nonEmpty, "scd2 delivery requires at least one tracked attribute")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    StreamingDelivery.envelope(database, table, precheck = batch => {
      val missing = (keys ++ attrs ++ Seq(effectiveCol) ++ tombstoneCol)
        .filterNot(batch.columns.contains)
      require(missing.isEmpty, s"batch lacks columns: ${missing.mkString(",")}")
      require(!batch.columns.contains(StreamingUpsert.BucketCol),
        s"batch already carries reserved column ${StreamingUpsert.BucketCol}")
      require(!Seq(validFrom, validTo).exists(batch.columns.contains),
        s"batch must not carry $validFrom/$validTo — the sink owns the history columns")
    }) { (snap, _) =>
      // version granularity = the micro-batch: collapse to the latest
      // change per key (deterministic total order — content tiebreak)
      val latest = StreamingUpsert.latestPerKey(snap, keys, Seq(effectiveCol))
      val tomb = tombstoneCol.map(col(_) <=> true).getOrElse(lit(false))
      val ups = latest.filter(!tomb)
        .select((keys ++ attrs :+ effectiveCol).map(col): _*)
      val dels = latest.filter(tomb)
        .select(keys.map(col) :+ col(effectiveCol).as("_del_eff"): _*)
      if (!latest.isEmpty) {
        val layout = new KeyBuckets(snap.sparkSession, KeyBuckets.Scd2, database, table)
        if (!layout.delivered(numBuckets)) {
          // first delivery: every non-tombstone update opens a row
          // (tombstones target keys that cannot exist yet — dropped)
          val effType = ups.schema(effectiveCol).dataType
          layout.create(ups.select(
              (keys ++ attrs).map(col) :+
                col(effectiveCol).as(validFrom) :+
                lit(null).cast(effType).as(validTo): _*)
            .withColumn(StreamingUpsert.BucketCol, KeyBuckets.of(keys, numBuckets)),
            numBuckets)
        } else {
          val touched = layout.touched(latest, keys, numBuckets)
          val applied = graft.operators.Scd2(
            layout.read(touched).drop(StreamingUpsert.BucketCol), ups, keys, attrs,
            effectiveCol, validFrom, validTo)
          // tombstones: close the key's open row at the delete's
          // effective time, no successor. Replay-safe: once closed,
          // there is no open row left to close. SCD2 never drops rows,
          // so no bucket can empty out (no stale-dir cleanup, unlike the
          // upsert sink).
          layout.swap(applied
            .join(broadcast(dels), keys, "left_outer")
            .withColumn(validTo,
              when(col("_del_eff").isNotNull && col(validTo).isNull,
                col("_del_eff")).otherwise(col(validTo)))
            .drop("_del_eff")
            .withColumn(StreamingUpsert.BucketCol, KeyBuckets.of(keys, numBuckets)))
        }
      }
    }
  }

  /** Wire a streaming CDC frame into the warehouse as SCD2 history. */
  def startScd2(df: DataFrame, table: String, keys: Seq[String],
      attrs: Seq[String], effectiveCol: String, checkpointDir: String,
      numBuckets: Int = 64, tombstoneCol: Option[String] = None,
      database: String = WarehouseSink.DefaultDatabase,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingDelivery.start(df, checkpointDir, trigger)(
      scd2Batch(table, keys, attrs, effectiveCol, numBuckets, tombstoneCol, database))
}
