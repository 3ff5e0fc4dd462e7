package graft.pipeline

import graft.operators.Embeddings
import graft.sinks.{StreamingDelivery, WarehouseSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming SEMANTIC dedup: embedding rows `(vec_id, v)` arrive as a
  * stream, and each micro-batch keeps only vectors with no earlier
  * near-duplicate in cosine space — the embedding-side counterpart of
  * [[StreamingCuration]]'s lexical gates, for pipelines whose duplicates
  * are paraphrases rather than shared shingles.
  *
  * The drop rule is [[Embeddings.semanticGreedy]]'s, via the SAME
  * factored kernel ([[Embeddings.greedyDroppers]]), so the streaming
  * path and the v20 catalog query cannot drift: a vector is dropped iff
  * some EARLIER vector (smaller vec_id — monotone-id production, the
  * StreamingCuration parity convention) shares a sign-LSH band code and
  * has exact fixed-point cosine >= threshold. "Earlier" includes vectors
  * that were themselves dropped, which is precisely what makes the
  * result independent of micro-batch boundaries: on any chunking of an
  * ascending-id corpus the delivered set EQUALS the batch
  * `semanticGreedy` kept set (spec-pinned on a 4-chunk replay).
  *
  * State design mirrors StreamingCuration: the warehouse IS the dedup
  * state. `<table>_codes` holds one banded-code row per (vector, band)
  * EVER SEEN — survivor or not (a dropped vector must still block later
  * ones similar only to it) — ledgered by `_batch_id` like the delivered
  * table itself. Each batch probes that history with the batch side
  * BROADCAST (trigger-bounded) so the history scans map-side past it and
  * never shuffles; per-batch cost is the batch × matching-band-bucket
  * verify, not the history size. Sign-LSH needs no training pass, so
  * row one of batch one can be coded immediately — the reason this rule
  * streams where d07's k-means cells cannot.
  *
  * Crash ordering is StreamingCuration's, plus a completion stamp:
  * codes append FIRST under their own ledger, survivors second, and a
  * one-row per-batch stamp into `<table>_done` LAST. Completion is
  * judged on the stamp — not the delivered row count, which cannot
  * distinguish "batch completed with zero survivors" (every vector was
  * a near-dup) from "batch never ran"; before the stamp existed a
  * zero-survivor batch re-ran its dedup on every restart and the
  * grown-source guard silently never covered it. A death between any
  * two appends replays the batch with the later ledgers empty: the
  * codes ledger skips its re-append, the own-batch exclusion on the
  * probe makes the dedup re-run correct rather than self-matching, and
  * the delivered ledger skips a double survivor append. A fully
  * replayed batch short-circuits on the stamp and verifies its recorded
  * pre-dedup `_input_rows` against the replayed batch — a checkpoint
  * reset over a grown or re-chunked source fails loudly, zero-survivor
  * batches included.
  */
object StreamingSemanticDedup {

  val CodesSuffix = "_codes"
  val DoneSuffix = "_done"
  val InputRowsCol: String = StreamingCuration.InputRowsCol

  /** `foreachBatch` function: code → probe history ∪ own batch → deliver
    * survivors + append codes, both ledgered. */
  def dedupBatch(table: String,
      database: String = WarehouseSink.DefaultDatabase,
      threshold: Double = 0.45, bands: Int = 4, planes: Int = 4): (DataFrame, Long) => Unit =
    StreamingDelivery.envelope(database, table) { (snap, batchId) =>
      val spark = snap.sparkSession
      import spark.implicits._
      val doneTable = table + DoneSuffix
      val doneStamps =
        StreamingDelivery.deliveredRowCount(spark, database, doneTable, batchId)
      val delivered =
        StreamingDelivery.deliveredRowCount(spark, database, table, batchId)
      if (doneStamps <= 0L) StreamingDelivery.materialized(Embeddings.bandCodes(
          snap.select(col("vec_id"), col("v")), bands, planes)) { coded =>
        val codesTable = table + CodesSuffix
        val codesQualified = s"`$database`.`$codesTable`"
        val codesDelivered =
          StreamingDelivery.deliveredRowCount(spark, database, codesTable, batchId)
        // a pre-existing codes table must be OURS (the band/code
        // schema is the dedup state) — fail clearly, not per-column
        if (codesDelivered >= 0L) {
          val cols = spark.table(codesQualified).columns.toSet
          if (!Set("vec_id", "band", "code", "v", "nrm").subsetOf(cols))
            throw new IllegalStateException(
              s"$codesQualified exists but is not a semantic-dedup codes table " +
                "— deliver to a fresh table")
        }
        val history =
          if (codesDelivered < 0L) coded.limit(0)
          else spark.table(codesQualified)
            .filter(col(StreamingDelivery.BatchIdCol) =!= batchId)
            .select("vec_id", "band", "code", "v", "nrm")
        // the kernel's ida < idb predicate NEVER fires on equal ids,
        // so a duplicate vec_id — within the batch or re-sent after
        // an earlier batch — would sail through both probes and
        // deliver twice. The monotone-id contract the parity claim
        // rests on makes both illegal; enforce it loudly (the
        // StreamingUpsert duplicate-key discipline) instead of
        // corrupting the table: one aggregate over the batch, one
        // single-column max over the pruned history ledger.
        val stats = snap.agg(count(lit(1)), countDistinct(col("vec_id")),
          min(col("vec_id"))).collect()(0)
        if (stats.getLong(0) != stats.getLong(1))
          throw new IllegalStateException(
            s"batch $batchId carries duplicate vec_ids " +
              s"(${stats.getLong(0)} rows, ${stats.getLong(1)} distinct) — " +
              "semantic dedup keys on vec_id; dedup the feed first")
        if (codesDelivered >= 0L && stats.getLong(0) > 0L) {
          val maxSeen = history.agg(max(col("vec_id"))).collect()(0)
          if (!maxSeen.isNullAt(0) && stats.getLong(2) <= maxSeen.getLong(0))
            throw new IllegalStateException(
              s"batch $batchId min vec_id ${stats.getLong(2)} does not exceed " +
                s"the history's max ${maxSeen.getLong(0)} — ids must be " +
                "monotone across batches (a re-sent id would deliver twice " +
                "and the batch-parity contract assumes ascending ingest)")
        }
        // earlier = resident history ∪ this batch's own rows; the
        // ida < idb predicate inside the kernel orders the batch
        // internally AND (under monotone ids) places history first
        val droppers = Embeddings.greedyDroppers(
          coded, history.unionByName(coded), threshold, broadcastProbe = true)
        val survivors = snap.join(droppers, Seq("vec_id"), "left_anti")
          .withColumn(InputRowsCol, lit(snap.count()))
        if (codesDelivered <= 0L)
          StreamingDelivery.appendLedgered(coded, database, codesTable, batchId,
            tableIsNew = codesDelivered < 0L)
        // delivered > 0 happens only on a crash-replay that died
        // between the survivor append and the stamp append below —
        // re-appending would double those rows
        if (delivered <= 0L)
          StreamingDelivery.appendLedgered(survivors, database, table, batchId,
            tableIsNew = delivered < 0L)
        // stamp LAST: the batch is complete (and its input size
        // recorded) even when it delivered zero survivors. Nothing
        // writes the done table between the entry probe and here,
        // so the entry value decides tableIsNew — no second
        // metastore round-trip per batch.
        StreamingDelivery.appendLedgered(
          Seq(snap.count()).toDF(InputRowsCol).select(col(InputRowsCol)),
          database, doneTable, batchId, tableIsNew = doneStamps < 0L)
      } else {
        // replayed batch: verify the pre-dedup input size recorded at
        // completion (what the batch CONTRIBUTED depends on the history
        // it first saw, so the delivered-row count proves nothing)
        StreamingDelivery.requireReplayRows(snap, database, table, batchId,
          StreamingDelivery.recordedInputRows(spark, database, doneTable, batchId))
      }
    }

  /** Wire a streaming embeddings frame `(vec_id, v)` into a
    * semantically-deduped warehouse table. */
  def start(vectors: DataFrame, table: String, checkpointDir: String,
      database: String = WarehouseSink.DefaultDatabase,
      threshold: Double = 0.45, bands: Int = 4, planes: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingDelivery.start(vectors, checkpointDir, trigger)(
      dedupBatch(table, database, threshold, bands, planes))
}
