package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Physical-layout helpers for the 100 TB regime: bucketing to pre-pay a
  * join shuffle once at write time, and salting to split hot keys that
  * AQE's skew handling can't reach (e.g. a skewed aggregation key).
  * `CoLocated` also holds the engine's one full table replace (`swap`,
  * behind [[CoLocated.writeBucketed]] and [[CoLocated.replaceTable]]):
  * the new table is staged beside the old one and swapped in, so a
  * failed write keeps the last good table.
  */
object CoLocated {

  /** Write a table bucketed+sorted on its join key. Two tables bucketed
    * on the same key with the same bucket count join WITHOUT a shuffle
    * (and without a sort, since buckets are pre-sorted): the exchange is
    * paid once at load time instead of on every join. A full replace
    * through [[swap]]: rebuilding an index into the same name always
    * succeeds, across JVMs too (pinned in EmbeddingsSpec), and a failed
    * rebuild leaves the last good index readable (pinned in ScaleSpec).
    * The staged slot is a `saveAsTable`: `DataFrameWriter.save` refuses
    * `bucketBy`, so the bucket spec can only come from a CTAS. */
  def writeBucketed(df: DataFrame, database: String, table: String,
      key: String, buckets: Int): String =
    swap(df, database, table) { (staged, _) =>
      df.write.format("parquet").bucketBy(buckets, key).sortBy(key)
        .saveAsTable(s"`$database`.`$staged`")
    }

  /** Full-replace a plain (unbucketed) managed table through [[swap]] —
    * for model-sized artifacts (codebooks, metadata rows) that accompany
    * a bucketed index and need no layout guarantee of their own, and for
    * the warehouse sink's non-incremental load. The staged slot is a
    * path write plus [[register]], not a CTAS: a CTAS lists and resolves
    * the relation it has just written to build the entry, whose every
    * field is known before the write. */
  def replaceTable(df: DataFrame, database: String, table: String): String =
    swap(df, database, table) { (staged, location) =>
      df.write.parquet(location.toString)
      register(df.sparkSession, database, staged, df.schema, location)
    }

  /** Resolve the managed location of `database.table` (creating the
    * database entry if this JVM has not seen it yet). Warehouse data
    * OUTLIVES the in-memory catalog — a fresh JVM finds the files but no
    * table entries — so cross-JVM consumers (e.g. the PQ index freshness
    * probe) address artifacts by location, not by catalog name. Catalog
    * calls, not SQL commands: a warm lookup is two map reads. */
  def tableLocation(spark: SparkSession, database: String, table: String): Path = {
    val catalog = spark.sessionState.catalog
    if (!catalog.databaseExists(database))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    new Path(new Path(catalog.getDatabaseMetadata(database).locationUri), table.toLowerCase)
  }

  /** Register the parquet files at `location` as the MANAGED table
    * `database.table`, with the entry a CTAS of a `schema` frame records
    * there (provider parquet; every field, array element and map value
    * nullable), without listing or reading the files. The replace's
    * staged slot and the sink's re-adopted orphan directory both come
    * through here. */
  private[graft] def register(spark: SparkSession, database: String, table: String,
      schema: StructType, location: Path): Unit =
    spark.sessionState.catalog.createTable(CatalogTable(
      identifier = TableIdentifier(table, Some(database)),
      tableType = CatalogTableType.MANAGED,
      storage = CatalogStorageFormat.empty.copy(locationUri = Some(location.toUri)),
      schema = schema.toNullable,
      provider = Some("parquet")), ignoreIfExists = false, validateLocation = false)

  /** Drop the catalog entry AND delete the managed location — for
    * callers that must invalidate an artifact before starting a
    * multi-table rewrite. */
  def clearTable(spark: SparkSession, database: String, table: String): Unit =
    dropAndClear(spark, database, table)

  /** Table names starting with this prefix are staging slots of
    * [[swap]]; `WarehouseSink.requireIdent` refuses them as destinations,
    * so no destination can collide with a staging slot. Catalog names
    * fold case, so the check does too. */
  private[graft] val StagingPrefix = "graft_staged_"

  /** The one full replace: the table is written beside the old one and
    * swapped in, so a failed write leaves the last good table readable
    * (the reference deletes and then loads, `bigquery.py:38-47`, and
    * loses the old table when the load fails). Clear the staging slot
    * (whatever a dead process left there), `write` `df` into it (given
    * the slot's name and managed location; it leaves a MANAGED entry
    * there), drop the target's entry and clear its managed location,
    * then rename the staged table onto the target, which also moves its
    * directory there. Every restart shape follows that one rule: an
    * orphan directory, an entry an append re-adopted at the managed
    * location and a user-registered foreign table all lose their entry,
    * the managed slot is rewritten, and files outside it are never
    * touched. Not for partitioned tables: the in-memory catalog does not
    * move partition locations on a rename. Only the write is a Spark
    * job or a SQL execution; the rest is catalog and file-system calls. */
  private def swap(df: DataFrame, database: String, table: String)(
      write: (String, Path) => Unit): String = {
    val spark = df.sparkSession
    val staged = StagingPrefix + table
    write(staged, dropAndClear(spark, database, staged))
    dropAndClear(spark, database, table)
    // the catalog call, not `ALTER TABLE … RENAME`: the SQL command
    // first resolves the staged relation (listing its files) to uncache
    // it, 27 ms against 0.5 ms on a 4-core host, and nothing caches a
    // staging slot; the target's cached data went with its drop above
    spark.sessionState.catalog.renameTable(
      TableIdentifier(staged, Some(database)), TableIdentifier(table, Some(database)))
    s"$database.$table"
  }

  /** Drop the catalog entry AND any managed location a previous JVM left
    * behind without an entry (a write onto it fails: a CTAS throws
    * LOCATION_ALREADY_EXISTS — the r4 failure mode, pinned in
    * EmbeddingsSpec — and a path write PATH_ALREADY_EXISTS); returns
    * that location. `DROP TABLE`'s steps as catalog calls, skipped when
    * there is no entry: uncache every cached plan that reads the table,
    * by name (the SQL command resolves the relation, a file listing, to
    * find them by plan), then drop the session's cached relation and the
    * entry. */
  private def dropAndClear(spark: SparkSession, database: String, table: String): Path = {
    val loc = tableLocation(spark, database, table)
    val catalog = spark.sessionState.catalog
    val ident = catalog.qualifyIdentifier(TableIdentifier(table, Some(database)))
    if (catalog.tableExists(ident)) {
      spark.sharedState.cacheManager.uncacheTableOrView(castToImpl(spark), ident.nameParts,
        cascade = true)
      catalog.refreshTable(ident)
      catalog.dropTable(ident, ignoreIfNotExists = true, purge = false)
    }
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    loc
  }

  /** Append rows into an existing bucketed table with the SAME bucket
    * spec: new rows hash into their buckets independently of the resident
    * data (each append adds one sorted file per non-empty bucket), so the
    * table keeps satisfying ClusteredDistribution on `key` — readers stay
    * Exchange-free — without rewriting the resident files. This is the
    * incremental-maintenance path for [[graft.operators.Embeddings
    * .buildIndex]]-style layouts: the alternative, rebuild-on-ingest,
    * rewrites the full corpus for every delta. */
  def appendBucketed(df: DataFrame, database: String, table: String,
      key: String, buckets: Int): String = {
    df.write.mode(SaveMode.Append)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(s"`$database`.`$table`")
    s"$database.$table"
  }
}

object Salting {

  /** Skew-safe aggregation: count/sum-like partial aggregation over
    * (key, salt) first — hot keys spread across `buckets` reducers — then
    * the final (cheap, one row per (key, salt)) re-aggregation by key.
    * `uniqueCol` supplies deterministic row identity for the salt. */
  def saltedCounts(df: DataFrame, key: String, uniqueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    df.withColumn("_salt", pmod(xxhash64(col(uniqueCol)), lit(buckets.toLong)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("n"))
  }

  /** Skew-safe inner equi-join: every `big` row gets a deterministic salt
    * from `uniqueCol`; `small` is replicated once per salt bucket, so a
    * hot key's rows land on `buckets` different reducers instead of one.
    * Results are identical to `big.join(small, key)` — only the
    * partitioning changes. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      uniqueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    val salted = big.withColumn("_salt", pmod(xxhash64(col(uniqueCol)), lit(buckets.toLong)))
    val replicated = small.withColumn("_salt",
      explode(array((0 until buckets).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
