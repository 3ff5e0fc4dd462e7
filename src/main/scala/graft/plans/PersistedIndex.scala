package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** The build-once / fingerprint-skip protocol shared by the persisted
  * family indexes (simhash pairs, media pHash pairs — and the shape
  * [[graft.operators.Embeddings.buildPqIndex]] pioneered for its
  * multi-table PQ artifacts): one `_pairs` artifact table plus a
  * `_meta` freshness tuple in the `graft_index` database — and, since
  * r13, optional AUX tables (the per-doc signature history `_sigs`)
  * written in the same build so the index can be APPENDED to without a
  * full rebuild — with the crash-ordering invariant held in ONE place:
  * meta is physically invalidated FIRST and rewritten LAST, so an
  * interrupted build or append can only leave a stale-fingerprint
  * state that the next ensure repairs by rebuilding.
  *
  * Freshness is decided from the warehouse LOCATION, not the session
  * catalog, so the skip works across JVMs (the in-memory catalog dies
  * with the process while the files survive).
  *
  * Concurrency contract: SINGLE WRITER per (warehouse, table). A
  * rebuild physically deletes and rewrites the artifact directory, so
  * a concurrent reader in another JVM can observe a mid-rewrite
  * listing, and two concurrent ensures can interleave their
  * clear/write sequences. This matches the reference's operating model
  * (one scheduler owns the warehouse) and buildPqIndex's existing
  * contract; serialize external writers (e.g. parallel sweep
  * processes) at the orchestration layer.
  */
object PersistedIndex {

  val Database = "graft_index"

  /** Managed location of `graft_index.<table><suffix>` as a string path
    * — the cross-JVM address of an index artifact. */
  def location(s: SparkSession, table: String, suffix: String): String =
    CoLocated.tableLocation(s, Database, table + suffix).toString

  /** Ensure `graft_index.<table>_pairs` is fresh for the freshness
    * tuple `meta` (name → value; compared column-for-column against
    * the stored `_meta` row), computing and persisting `compute` when
    * stale or `force`d. Returns the artifact's location path. */
  def ensure(s: SparkSession, table: String, meta: Seq[(String, Long)],
      force: Boolean)(compute: => DataFrame): String =
    ensureWith(s, table, meta, force, Nil)(compute)

  /** [[ensure]] plus aux tables (`suffix` → frame thunk, e.g. `"_sigs"`
    * → per-doc signatures) written between the pairs table and the meta
    * stamp. A fresh index requires EVERY aux table present, so an
    * artifact persisted by a pre-aux version fails the probe and
    * rebuilds under the new layout — the automatic migration path
    * (appenders, by contrast, refuse old layouts loudly; see
    * [[graft.operators.Embeddings.appendToPqIndex]]'s rationale). */
  def ensureWith(s: SparkSession, table: String, meta: Seq[(String, Long)],
      force: Boolean, aux: Seq[(String, () => DataFrame)],
      auxPath: Set[String] = Set.empty)(
      compute: => DataFrame): String = {
    val fresh = !force && isFresh(s, Database, table, meta, "_pairs" +: aux.map(_._1))
    if (!fresh) {
      CoLocated.clearTable(s, Database, s"${table}_meta")
      CoLocated.replaceTable(compute, Database, s"${table}_pairs")
      aux.foreach { case (sfx, f) =>
        // auxPath tables are PATH-addressed (no catalog entry):
        // saveAsTable's catalog sync is pure overhead for an artifact
        // every reader addresses by location anyway, and the thunk owns
        // the physical layout (e.g. the _sigs kb-range clustering whose
        // row-group stats replace the r19 hive directories — the 64-dir
        // commit constant was d11's dominant cost). The clearTable still
        // runs so an older layout's catalog entry and files cannot
        // shadow the new one.
        if (auxPath(sfx)) {
          CoLocated.clearTable(s, Database, table + sfx)
          f().write.mode(SaveMode.Overwrite).parquet(location(s, table, sfx))
        } else CoLocated.replaceTable(f(), Database, table + sfx) }
      stamp(s, table, meta)
    }
    location(s, table, "_pairs")
  }

  /** The freshness probe of a persisted index in `database`: true when
    * the `{table}_meta` row at its warehouse LOCATION equals `meta`
    * column-for-column and every `{table}{suffix}` artifact directory
    * exists. All three index builds ([[ensureWith]],
    * [[graft.operators.Embeddings.buildPqIndex]],
    * [[graft.operators.Embeddings.buildBm25Index]]) decide here.
    *
    * A stale verdict is DESTRUCTIVE (the rebuild clears and rewrites the
    * directory), so only the expected miss shapes map to stale: a
    * missing/empty `_meta` (AnalysisException covers both the absent
    * path and a column-set mismatch from an older protocol version;
    * head() on a zero-row `_meta` raises NoSuchElementException) or a
    * vanished file between listing and read. Any other fault — a
    * transient filesystem error, a corrupt `_meta` footer — PROPAGATES:
    * rebuilding on it would be indistinguishable from a real
    * invalidation in logs and re-pays the full build for nothing. */
  def isFresh(s: SparkSession, database: String, table: String,
      meta: Seq[(String, Long)], artifacts: Seq[String]): Boolean = {
    def path(sfx: String) = CoLocated.tableLocation(s, database, table + sfx)
    try {
      val stored: Row = s.read.parquet(path("_meta").toString)
        .select(meta.map(m => org.apache.spark.sql.functions.col(m._1)): _*).head()
      val fs = path("_meta").getFileSystem(s.sparkContext.hadoopConfiguration)
      meta.indices.forall(i => stored.getLong(i) == meta(i)._2) &&
        artifacts.forall(sfx => fs.exists(path(sfx)))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => false
      case _: java.util.NoSuchElementException => false
      case _: java.io.FileNotFoundException => false
      // the vanished-between-listing-and-read race surfaces driver-side
      // as FileNotFoundException but EXECUTOR-side wrapped in a
      // SparkException — walk the cause chain so that shape also maps
      // to stale, while other wrapped faults still propagate
      case e: org.apache.spark.SparkException
          if Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
            .take(8).exists(_.isInstanceOf[java.io.FileNotFoundException]) => false
    }
  }

  /** Physically invalidate `_meta` BEFORE an append mutates the
    * artifact tables — the buildPqIndex crash discipline: if the append
    * dies mid-write, the fingerprint is already invalid and the next
    * ensure rebuilds instead of fingerprint-matching a half-appended
    * table (append-then-poison would leave exactly that window). The
    * sentinel row keeps the stored schema (same columns, value -1) so a
    * later freshness probe reads it and mismatches rather than erroring. */
  def poison(s: SparkSession, table: String, metaCols: Seq[String]): Unit =
    stamp(s, table, metaCols.map(_ -> -1L))

  /** Write the `_meta` freshness tuple — the LAST step of any build or
    * append. PATH-addressed overwrite (r20): every `_meta` reader
    * addresses the location directly (the cross-JVM contract), so the
    * former DROP + CTAS + catalog sync was pure overhead — two of these
    * run per append (poison + stamp) and each paid ~0.15 s of the
    * builder rows' fixed floor. Crash discipline is unchanged: an
    * interrupted overwrite leaves an absent/partial directory that the
    * freshness probe maps to stale. */
  def stamp(s: SparkSession, table: String, meta: Seq[(String, Long)]): Unit = {
    val schema = org.apache.spark.sql.types.StructType(meta.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType,
        nullable = false) })
    s.createDataFrame(java.util.Arrays.asList(Row(meta.map(_._2): _*)), schema)
      .write.mode(SaveMode.Overwrite).parquet(location(s, table, "_meta"))
  }

  /** Append rows to an existing plain artifact table WITHOUT touching
    * its resident files (each append adds new files only — the
    * incremental-maintenance invariant the append specs pin
    * byte-for-byte). PATH append (r20): readers address these artifacts
    * by location (and a catalog read of the CTAS'd table lists the same
    * directory, so path-added files stay visible to it); the former
    * catalog append (saveAsTable) required the table in THIS session's
    * catalog and paid a catalog sync per append for nothing. */
  def appendTable(df: DataFrame, table: String, suffix: String): Unit =
    appendTablePath(df, table, suffix)

  /** [[appendTable]] for a PATH-addressed aux table (the kb-clustered
    * `_sigs` layout) — each append adds new files only; resident files
    * stay byte-identical. The caller shapes the frame (partition count,
    * within-file clustering); path append, not catalog append: see the
    * ensureWith aux writer. */
  def appendTablePath(df: DataFrame, table: String, suffix: String): Unit =
    df.write.mode(SaveMode.Append)
      .parquet(location(df.sparkSession, table, suffix))
}
