package graft.plans

import graft.sources.ParquetTables
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, max, xxhash64}

/** The persisted-index protocol of the `graft_index` database, shared by
  * every index family: sign-LSH ([[graft.operators.Embeddings.buildIndex]]),
  * PQ ([[graft.operators.Embeddings.buildPqIndex]]), BM25
  * ([[graft.operators.Embeddings.buildBm25Index]]), simhash pairs
  * ([[graft.operators.Documents.ensureSimhashIndex]]) and media pHash
  * pairs ([[graft.operators.Multimodal.ensureMediaIndex]]). Each index is
  * a set of artifact tables `<table><suffix>` plus, for the
  * fingerprint-skipped families, a `_meta` freshness tuple, with the
  * crash-ordering invariant held in ONE place: a [[rebuild]] clears
  * `_meta` FIRST and stamps it LAST, an [[append]] poisons it before the
  * first artifact write and stamps the grown tuple LAST, so an
  * interrupted build or append can only leave a stale-fingerprint state
  * that the next ensure repairs by rebuilding.
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
  * (one scheduler owns the warehouse); serialize external writers
  * (e.g. parallel sweep processes) at the orchestration layer.
  */
object PersistedIndex {

  val Database = "graft_index"

  /** (row count, XOR of per-row `xxhash64(id, payload)`, max id). */
  type Fingerprint = (Long, Long, Long)

  /** Managed location of `graft_index.<table><suffix>` as a string path
    * — the cross-JVM address of an index artifact. */
  def location(s: SparkSession, table: String, suffix: String): String =
    CoLocated.tableLocation(s, Database, table + suffix).toString

  /** The corpus fingerprint every freshness tuple is keyed on, in one
    * map-side scan: XOR is order-independent and cannot overflow (ids
    * are distinct and part of the hash, so cancellation needs a 64-bit
    * collision). The hash runs over `df`'s own column types — the caller
    * passes the frame exactly as its index has always hashed it, since a
    * cast changes `xxhash64` and would stale every `_meta` on disk. The
    * max id rides along for the media append's order contract. Empty
    * frame → (0, 0, Long.MinValue). */
  def fingerprint(df: DataFrame, id: String, payload: String): Fingerprint = {
    import df.sparkSession.implicits._
    val (n, fp, mx) = df
      .agg(count(lit(1)), bit_xor(xxhash64(col(id), col(payload))), max(col(id)))
      .as[(Long, Option[Long], Option[Long])].head()
    (n, fp.getOrElse(0L), mx.getOrElse(Long.MinValue))
  }

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
    * [[readArtifact]]). */
  def ensureWith(s: SparkSession, table: String, meta: Seq[(String, Long)],
      force: Boolean, aux: Seq[(String, () => DataFrame)],
      auxPath: Set[String] = Set.empty)(
      compute: => DataFrame): String = {
    rebuild(s, table, meta, "_pairs" +: aux.map(_._1), force) {
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
    }
    location(s, table, "_pairs")
  }

  /** The rebuild step of every fingerprint-skipped index: unless
    * `force`d or stale ([[isFresh]] over `artifacts`), nothing; else
    * clear `_meta` FIRST (catalog entry and files — a catalog drop alone
    * leaves the files "valid" for a fresh JVM if the rewrite crashes),
    * `write` the artifact tables, and [[stamp]] `meta` LAST. */
  def rebuild(s: SparkSession, table: String, meta: Seq[(String, Long)],
      artifacts: Seq[String], force: Boolean)(write: => Unit): Unit =
    if (force || !isFresh(s, table, meta, artifacts)) {
      CoLocated.clearTable(s, Database, s"${table}_meta")
      write
      stamp(s, table, meta)
    }

  /** The stored `_meta` row's `cols`, or None for the expected MISS
    * shapes: a missing/empty `_meta` (AnalysisException covers both the
    * absent path and a column-set mismatch from an older protocol
    * version; head() on a zero-row `_meta` raises
    * NoSuchElementException) or a vanished file between listing and
    * read. Any other fault — a transient filesystem error, a corrupt
    * `_meta` footer — PROPAGATES: a miss is destructive downstream (a
    * rebuild clears and rewrites the directory), and rebuilding on a
    * fault would be indistinguishable from a real invalidation in logs
    * and re-pay the full build for nothing. */
  private def storedMeta(s: SparkSession, table: String, cols: Seq[String]): Option[Row] =
    try Some(ParquetTables.read(s, location(s, table, "_meta")).select(cols.map(col): _*).head())
    catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case _: java.util.NoSuchElementException => None
      case _: java.io.FileNotFoundException => None
      // the vanished-between-listing-and-read race surfaces driver-side
      // as FileNotFoundException but EXECUTOR-side wrapped in a
      // SparkException — walk the cause chain so that shape also maps
      // to a miss, while other wrapped faults still propagate
      case e: org.apache.spark.SparkException
          if Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
            .take(8).exists(_.isInstanceOf[java.io.FileNotFoundException]) => None
    }

  private def matches(stored: Row, meta: Seq[(String, Long)]): Boolean =
    meta.indices.forall(i => stored.getLong(i) == meta(i)._2)

  /** The freshness probe: true when the `{table}_meta` row at its
    * warehouse LOCATION equals `meta` column-for-column (read by name,
    * so a `_meta` written as a catalog table by an older version still
    * matches) and every `{table}{suffix}` artifact directory exists. */
  private def isFresh(s: SparkSession, table: String, meta: Seq[(String, Long)],
      artifacts: Seq[String]): Boolean =
    storedMeta(s, table, meta.map(_._1)).exists(matches(_, meta)) && {
      val fs = new org.apache.hadoop.fs.Path(location(s, table, "_meta"))
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      artifacts.forall(sfx => fs.exists(new org.apache.hadoop.fs.Path(location(s, table, sfx))))
    }

  /** The verified append of the pair families. Refuses unless the stored
    * `_meta` equals `base` — the tuple the caller BUILT the resident
    * index under — so a retried append after a crash hits the poison
    * sentinel instead of appending the same rows a second time and
    * re-stamping them durably fresh; every refusal names the family's
    * rebuilding `ensure`. Then `delta` runs its own validation and hands
    * its artifact writes to `commit`, which [[poison]]s `_meta`, runs
    * them and stamps `grown` LAST. A `delta` that never commits is an
    * EMPTY delta: the grown corpus IS the base corpus, so `grown` must
    * equal `base` (else the delta frame lost rows the caller counted)
    * and nothing is written. Returns the `_pairs` location. */
  def append(s: SparkSession, table: String, ensure: String,
      base: Seq[(String, Long)], grown: Seq[(String, Long)])(
      delta: ((=> Unit) => Unit) => Unit): String = {
    def show(m: Seq[(String, Long)]) = m.map { case (n, v) => s"$n=$v" }.mkString(", ")
    val stored = storedMeta(s, table, base.map(_._1)).getOrElse(
      throw new IllegalStateException(
        s"$Database.$table has no readable _meta in the appendable layout " +
          s"(${base.map(_._1).mkString(", ")}) — nothing verified to append to. " +
          s"Run $ensure to build or migrate first."))
    require(matches(stored, base),
      s"append($table): resident _meta (${show(base.indices.map(i =>
        base(i)._1 -> stored.getLong(i)))}) does not match the expected base " +
        s"(${show(base)}) — the index is poisoned, mid-append, or built from " +
        "a different corpus. Appending would duplicate or orphan pairs; run " +
        s"$ensure to rebuild instead.")
    var committed = false
    delta { writes =>
      poison(s, table, base.map(_._1))
      writes
      stamp(s, table, grown)
      committed = true
    }
    require(committed || base == grown,
      s"append($table): empty delta but grown meta (${show(grown)}) differs " +
        s"from base (${show(base)}) — the delta frame lost rows the caller counted")
    location(s, table, "_pairs")
  }

  /** Read artifact `{table}{suffix}` as `cols`, or refuse as an OLD
    * LAYOUT: appenders never half-migrate, and ONE call of the family's
    * `ensure` rebuilds under the current layout (its freshness probe
    * requires the artifact). Only the not-found / missing-column shapes
    * mean "old layout"; transient I/O or corruption propagates as
    * itself — rebranding it as a migration prompt would steer an
    * operator into a needless full rebuild for an index that only
    * needed a retry. */
  def readArtifact(s: SparkSession, table: String, suffix: String,
      cols: Seq[String], ensure: String): DataFrame =
    try ParquetTables.read(s, location(s, table, suffix)).select(cols.map(col): _*)
    catch {
      case e @ (_: org.apache.spark.sql.AnalysisException |
                _: java.io.FileNotFoundException) =>
        throw new IllegalStateException(
          s"$Database.$table has no $suffix artifact with (${cols.mkString(", ")}) " +
            s"— it predates the appendable layout. Run $ensure once to migrate " +
            s"(the freshness probe requires $suffix and will rebuild).", e)
    }

  /** Physically invalidate `_meta` BEFORE an append mutates the
    * artifact tables: if the append dies mid-write, the fingerprint is
    * already invalid and the next ensure rebuilds instead of
    * fingerprint-matching a half-appended table (append-then-poison
    * would leave exactly that window). The sentinel row keeps the stored
    * schema (same columns, value -1) so a later freshness probe reads it
    * and mismatches rather than erroring. */
  def poison(s: SparkSession, table: String, metaCols: Seq[String]): Unit =
    stamp(s, table, metaCols.map(_ -> -1L))

  /** Write the `_meta` freshness tuple — the LAST step of any build or
    * append. PATH-addressed overwrite: every `_meta` reader addresses
    * the location directly (the cross-JVM contract), so a DROP + CTAS +
    * catalog sync would be pure overhead — two of these run per append
    * (poison + stamp). Crash discipline: an interrupted overwrite leaves
    * an absent/partial directory that the freshness probe maps to
    * stale. */
  def stamp(s: SparkSession, table: String, meta: Seq[(String, Long)]): Unit = {
    val schema = org.apache.spark.sql.types.StructType(meta.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType,
        nullable = false) })
    s.createDataFrame(java.util.Arrays.asList(Row(meta.map(_._2): _*)), schema)
      .write.mode(SaveMode.Overwrite).parquet(location(s, table, "_meta"))
  }

  /** Append rows to an existing artifact table WITHOUT touching its
    * resident files (each append adds new files only — the
    * incremental-maintenance invariant the append specs pin
    * byte-for-byte). PATH append: readers address these artifacts by
    * location (and a catalog read of a CTAS'd table lists the same
    * directory, so path-added files stay visible to it); a catalog
    * append would require the table in THIS session's catalog and pay
    * a catalog sync per append for nothing. The caller shapes the frame
    * (partition count, within-file clustering). */
  def appendArtifact(df: DataFrame, table: String, suffix: String): Unit =
    df.write.mode(SaveMode.Append)
      .parquet(location(df.sparkSession, table, suffix))
}
