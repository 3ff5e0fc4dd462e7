package graft.pipeline

import graft.sinks.{StreamingDelivery, WarehouseSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion form of the curation pipeline: documents arrive as
  * a stream, each micro-batch is quality-gated and exact-deduped with the
  * SAME shared predicates as [[Curation.curate]] ([[Curation.qualityGate]]
  * / [[Curation.exactDedup]] — one definition, two ingestion paths), then
  * deduped AGAINST the already-ingested corpus — exact (fingerprint
  * anti-join) AND near-dup (MinHash signature probe + exact-Jaccard
  * verify against the `<table>_sigs` history, plus the batch-local CC
  * cluster-minima rule) — and appended idempotently under
  * [[StreamingDelivery]]'s `_batch_id` ledger.
  *
  * Near-dup parity with the batch pipeline: on a corpus ingested in
  * ascending doc_id order, the delivered set equals `Curation.curate`'s
  * (spec-pinned, including the transitive-chain case — the signature
  * history keeps every candidate, so a doc dropped as a near-dup still
  * blocks later docs similar only to it). The one inherent single-pass
  * limit: two already-delivered docs can never be retro-merged by a LATER
  * doc that links their clusters — batch reprocessing is the recovery
  * path, as in any online dedup.
  *
  * Scale design: the warehouse table itself is the dedup state. A
  * streaming `dropDuplicates` on the content fingerprint would grow an
  * unbounded state store (content dedup has no event time to watermark
  * on); instead each batch left-anti-joins the table's `fingerprint`
  * column — at 100 TB that is a shuffle of the (trigger-bounded) incoming
  * batch against a columnar scan of one pruned column, and the history
  * lives where it is cheapest, in the warehouse. Cross-batch duplicates
  * are eliminated because batch N's fingerprints are already in the table
  * when batch N+1 probes it (micro-batches execute serially under one
  * query).
  *
  * Replay: a replayed batch (same `batchId` after a crash) short-circuits
  * on the ledger BEFORE the anti-join — after delivery the table contains
  * the batch's own fingerprints, so re-running the anti-join would yield
  * zero rows and [[StreamingDelivery.warehouseBatch]]'s count check would
  * misread the replay as a ledger mismatch. What a curated batch
  * CONTRIBUTED cannot be reconstructed on replay (it depends on the table
  * state it first saw), so the delivered-row count proves nothing — the
  * replay guard instead compares the batch's pre-curation INPUT row count,
  * stamped on every delivered row as `_input_rows` at delivery time,
  * against the replayed batch: a checkpoint reset over a grown or
  * re-batched source fails loudly instead of silently dropping the new
  * rows. Batches that contributed zero rows leave no stamp, but they also
  * leave no ledger entry — a replay re-executes them, and the anti-join
  * makes that re-execution self-healing.
  */
object StreamingCuration {

  /** Pre-curation batch size, stamped per delivered row (constant within
    * a batch); the replay-verification counterpart of the `_batch_id`
    * ledger. */
  val InputRowsCol: String = StreamingDelivery.InputRowsCol

  /** Suffix of the signature side table (`<table>_sigs`): one
    * [[NearDup.signatures]] row per candidate ever seen, ledgered by
    * `_batch_id` like the curated table itself. */
  val SigSuffix = "_sigs"

  /** `foreachBatch` function: curate → anti-join corpus → ledgered append. */
  def curatingBatch(table: String,
      database: String = WarehouseSink.DefaultDatabase,
      minTokens: Int = 5, minUniqRatio: Double = 0.1): (DataFrame, Long) => Unit =
    StreamingDelivery.envelope(database, table) { (snap, batchId) =>
      val spark = snap.sparkSession
      val qualified = s"`$database`.`$table`"
      val delivered =
        StreamingDelivery.deliveredRowCount(spark, database, table, batchId)
      // a pre-existing table must carry the fingerprint column (the
      // dedup state itself) — fail with a clear message, not an
      // unresolved-column error every batch. A curated table WITHOUT
      // the _input_rows stamp (written by an earlier version, or by a
      // writer that dropped it) stays usable: parquet appends cannot
      // add a column to an existing table, so delivery matches the
      // legacy schema and replay verification degrades to the ledger
      // probe alone rather than wedging the stream.
      val existingCols =
        if (delivered >= 0L) spark.table(qualified).columns.toSet
        else Set.empty[String]
      if (delivered >= 0L && !existingCols("fingerprint"))
        throw new IllegalStateException(
          s"$qualified exists but has no fingerprint column — " +
            "it was not created by curated delivery; deliver to a fresh table")
      val stamped = delivered < 0L || existingCols(InputRowsCol)
      if (delivered <= 0L) {
        val curated = Curation.exactDedup(
          Curation.qualityGate(snap, minTokens, minUniqRatio))
        // referenced by the signature build, the within-batch CC and
        // the survivor anti-join — execute the gate+dedup plan once
        StreamingDelivery.materialized(
          if (delivered < 0L) curated
          else curated.join(spark.table(qualified).select(col("fingerprint")),
            Seq("fingerprint"), "left_anti")) { fresh =>
          val sigTable = table + SigSuffix
          val sigDelivered =
            StreamingDelivery.deliveredRowCount(spark, database, sigTable, batchId)
          StreamingDelivery.materialized(NearDup.signatures(fresh)) { candSigs =>
            // cross-batch near-dups: probe the persisted signature
            // history (banded join + exact-Jaccard verify). The history
            // records EVERY candidate ever seen — survivor or not — so a
            // doc dropped as a near-dup still blocks future docs similar
            // only to IT (the transitive-chain case). Excluding this
            // batch's own rows keeps a crash-replay (sigs landed,
            // curated rows did not) from matching the batch against
            // itself.
            val seenHits =
              if (sigDelivered < 0L) candSigs.select(col("doc_id")).limit(0)
              else NearDup.probeSeen(candSigs, spark.table(s"`$database`.`$sigTable`")
                .filter(col(StreamingDelivery.BatchIdCol) =!= batchId))
            // within-batch near-dups: the SAME CC + cluster-minima rule
            // as Curation.curate. A cluster touching a seen near-dup is
            // dropped WHOLE — its component's min doc lives in an
            // earlier batch (streaming parity assumes ingest order
            // tracks doc_id, the monotone-id production case).
            val cl = NearDup.clusters(fresh)
            val contaminated = cl.join(seenHits, Seq("doc_id"))
              .select(col("cluster_id")).distinct()
            val dropIds = cl.join(contaminated, Seq("cluster_id")).select(col("doc_id"))
              .union(cl.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id")))
              .union(seenHits)
              .distinct()
            val survivors = fresh.join(dropIds, Seq("doc_id"), "left_anti")
            // signature append FIRST, under its own ledger: if the
            // process dies between the two appends, the replay sees an
            // empty curated ledger (re-runs the batch) and a set sig
            // ledger (skips re-append); the own-batch probe exclusion
            // above makes that re-run correct. The reverse order would
            // lose the batch's signatures forever.
            if (sigDelivered <= 0L)
              StreamingDelivery.appendLedgered(candSigs, database, sigTable, batchId,
                tableIsNew = sigDelivered < 0L)
            StreamingDelivery.appendLedgered(
              // the count job runs only when the stamp can be written —
              // legacy tables skip it (the value would be dead anyway)
              if (stamped) survivors.withColumn(InputRowsCol, lit(snap.count()))
              else survivors,
              database, table, batchId, tableIsNew = delivered < 0L)
          }
        }
      } else if (stamped) {
        // replayed batch: verify the one invariant that survives
        // curation — the pre-curation input size recorded at delivery
        StreamingDelivery.requireReplayRows(snap, database, table, batchId,
          StreamingDelivery.recordedInputRows(spark, database, table, batchId))
      } else {
        // legacy unstamped table: the replay skip CANNOT be verified —
        // a checkpoint reset over a grown source would be silently
        // swallowed here. Refusing outright would wedge every legacy
        // stream on its first honest replay, so degrade — but LOUDLY,
        // so the operator knows this table never regains the guarantee.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$qualified batch $batchId replayed against a table without " +
            s"$InputRowsCol — skip is UNVERIFIED (a checkpoint reset over a " +
            "changed source would be lost silently); migrate to a stamped table")
      }
    }

  /** Wire a streaming documents frame (doc_id, text, …) into a curated
    * warehouse table. */
  def start(docs: DataFrame, table: String, checkpointDir: String,
      database: String = WarehouseSink.DefaultDatabase,
      minTokens: Int = 5, minUniqRatio: Double = 0.1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingDelivery.start(docs, checkpointDir, trigger)(
      curatingBatch(table, database, minTokens, minUniqRatio))
}
