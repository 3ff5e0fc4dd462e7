package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming → warehouse delivery: the streaming analog of the
  * reference's whole job — get rows INTO the warehouse
  * (`/root/reference/flusher/load/bigquery.py:42-47` is the batch
  * append; this is its `writeStream` dual).
  *
  * Structured Streaming guarantees exactly-once END-TO-END only when the
  * sink is idempotent per micro-batch: after a crash between "write" and
  * "commit offsets", the SAME batch is replayed with the SAME `batchId`,
  * and a blind `foreachBatch` append would duplicate its rows. Delivery
  * therefore stamps every row with `_batch_id` and skips any batch whose
  * id already exists in the table — the table itself is the commit
  * ledger, so the guard needs no side store. A full from-scratch replay
  * of an UNCHANGED source is likewise a no-op (batch ids restart at 0
  * and reproduce); if the source grew or re-batched since the ledger was
  * written, same-id batches no longer carry the same rows, and the guard
  * fails loudly on the row-count mismatch instead of silently dropping
  * the difference. The delivered table is partitioned by `_batch_id`, so
  * the ledger probe prunes to a directory listing rather than a table
  * scan at any size.
  *
  * This object is also the one micro-batch envelope of every
  * `foreachBatch` sink in the repo ([[StreamingUpsert]],
  * [[StreamingScd2]], [[graft.pipeline.StreamingCuration]],
  * [[graft.pipeline.StreamingSemanticDedup]]): [[envelope]] (identifier
  * checks, one-shot batch snapshot, database bootstrap, release),
  * [[materialized]], [[requireReplayRows]] and [[start]]. The sinks keep
  * only their own dedup or merge logic.
  */
object StreamingDelivery {

  /** Column stamped onto every delivered row; doubles as the commit ledger. */
  val BatchIdCol = "_batch_id"

  /** Pre-dedup batch size, stamped at delivery by the sinks whose
    * delivered rows are a filtered subset of the batch; the replay
    * check's counterpart of the `_batch_id` ledger. */
  val InputRowsCol = "_input_rows"

  /** Rows already delivered for `batchId`, or -1 if the table does not
    * exist yet. Fails fast on a foreign table without the ledger column
    * (idempotent delivery into it is impossible). */
  private[graft] def deliveredRowCount(spark: org.apache.spark.sql.SparkSession,
      database: String, table: String, batchId: Long): Long =
    if (!spark.catalog.tableExists(s"$database.$table")) -1L
    else {
      val existing = spark.table(s"`$database`.`$table`")
      if (!existing.columns.contains(BatchIdCol))
        throw new IllegalStateException(
          s"`$database`.`$table` exists but has no $BatchIdCol ledger column — " +
            "streaming delivery cannot be idempotent into it; " +
            "deliver to a fresh table or add the column")
      existing.filter(col(BatchIdCol) === batchId).count()
    }

  /** Append `rows` stamped with `batchId` into the ledger table. A fresh
    * table is partitioned by the ledger column (the probe above then
    * prunes to a directory listing); an EXISTING table keeps whatever
    * layout it has — appending with a partition spec that differs from
    * the table's is an AnalysisException, which would wedge delivery into
    * tables created before partitioning (or by other writers). */
  private[graft] def appendLedgered(rows: DataFrame, database: String,
      table: String, batchId: Long, tableIsNew: Boolean): Unit = {
    val spark = rows.sparkSession
    val usePartitioning =
      tableIsNew || spark.catalog.listColumns(s"$database.$table")
        .collect().exists(c => c.isPartition && c.name == BatchIdCol)
    val w = rows.withColumn(BatchIdCol, lit(batchId))
      .write.mode(SaveMode.Append).format("parquet")
    (if (usePartitioning) w.partitionBy(BatchIdCol) else w)
      .saveAsTable(s"`$database`.`$table`")
  }

  /** The micro-batch envelope: a `foreachBatch` function that checks
    * both identifiers, runs `precheck` on the raw batch (schema checks
    * that must fail before any work), snapshots the batch, bootstraps the
    * database (like the reference's dataset bootstrap —
    * `bigquery.py:13-16`) and hands the snapshot to `body`.
    *
    * The snapshot executes the micro-batch plan EXACTLY ONCE, up front:
    * a stateful upstream (dedup, windowed agg) must commit its state
    * stores under the streaming harness every batch — a skipped batch
    * that never touches `batch`, or a `.write` that re-plans it
    * batch-side, both trip Spark's state-commit validation. The snapshot
    * is micro-batch sized (bounded by the trigger) and spills if needed. */
  private[graft] def envelope(database: String, table: String,
      precheck: DataFrame => Unit = _ => ())(
      body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      WarehouseSink.requireIdent(database, "database")
      WarehouseSink.requireIdent(table, "destination table")
      precheck(batch)
      materialized(batch) { snap =>
        snap.sparkSession.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
        body(snap, batchId)
      }
  }

  /** Run `f` over a local checkpoint of `df` (its plan executes once;
    * every read of the snapshot reuses the result) and release the
    * snapshot however `f` ends. */
  private[graft] def materialized[T](df: DataFrame)(f: DataFrame => T): T = {
    val snap = df.localCheckpoint()
    try f(snap) finally snap.unpersist(blocking = false)
  }

  /** The replay check. batchId matching is only sound while batch
    * boundaries reproduce — true for crash-replay under ONE checkpoint
    * lineage (the WAL pins each batch's offsets). After a checkpoint
    * reset over a source that grew or re-batched, "same id" no longer
    * means "same rows": skipping silently would LOSE the difference, so
    * compare the replayed batch's row count with the `recorded` one and
    * fail loudly on a mismatch. */
  private[graft] def requireReplayRows(snap: DataFrame, database: String,
      table: String, batchId: Long, recorded: Long): Unit = {
    val incoming = snap.count()
    if (incoming != recorded)
      throw new IllegalStateException(
        s"`$database`.`$table` batch $batchId was delivered from $recorded input " +
          s"rows but the replayed batch carries $incoming — the delivery ledger " +
          "disagrees with the checkpoint (checkpoint and ledger diverge after a " +
          "checkpoint reset over a changed source). Deliver to a fresh table or " +
          "restore the original checkpoint.")
  }

  /** The [[InputRowsCol]] stamp `database`.`table` recorded for `batchId`. */
  private[graft] def recordedInputRows(spark: org.apache.spark.sql.SparkSession,
      database: String, table: String, batchId: Long): Long =
    spark.table(s"`$database`.`$table`")
      .filter(col(BatchIdCol) === batchId)
      .agg(max(col(InputRowsCol))).collect()(0).getLong(0)

  /** Start `df` streaming into the `foreachBatch` function `fn`. */
  private[graft] def start(df: DataFrame, checkpointDir: String, trigger: Trigger,
      outputMode: String = "append")(fn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.outputMode(outputMode).option("checkpointLocation", checkpointDir)
      .trigger(trigger).foreachBatch(fn).start()

  /** The `foreachBatch` function: batchId-idempotent append into
    * `database`.`table` (auto-created). A replayed batch appends
    * nothing; it must carry the rows it delivered. */
  def warehouseBatch(table: String,
      database: String = WarehouseSink.DefaultDatabase): (DataFrame, Long) => Unit =
    envelope(database, table) { (snap, batchId) =>
      val deliveredRows = deliveredRowCount(snap.sparkSession, database, table, batchId)
      if (deliveredRows <= 0L)
        appendLedgered(snap, database, table, batchId, tableIsNew = deliveredRows < 0L)
      else requireReplayRows(snap, database, table, batchId, deliveredRows)
    }

  /** Wire a (transformed) streaming frame into the warehouse. Callers
    * compose: `startToWarehouse(EventStreams.dedupEvents(src), ...)`. */
  def startToWarehouse(df: DataFrame, table: String, checkpointDir: String,
      database: String = WarehouseSink.DefaultDatabase,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(df, checkpointDir, trigger)(warehouseBatch(table, database))
}
