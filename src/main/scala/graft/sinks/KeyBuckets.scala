package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The key-hash bucket layout of the two MERGE-style sinks
  * ([[StreamingUpsert]] and [[StreamingScd2]]), held in one place.
  *
  * The delivered table is partitioned by `_kb` = xxhash64(keys) mod
  * numBuckets, so all rows of a key live in one bucket and a batch reads
  * and rewrites only the buckets its keys hash into (dynamic partition
  * overwrite: batch cost ∝ touched-bucket bytes, not table size). The
  * bucket count is pinned on first delivery in a `{table}_{kind}_meta`
  * parquet table with one `num_buckets` column (`{table}_upsert_meta`,
  * `{table}_scd2_meta`): a later writer with a different count would
  * scatter a key across two buckets, so it fails loudly instead.
  *
  * The meta name also records WHICH sink owns the table. On first
  * delivery (no meta of its own kind) a writer may overwrite an existing
  * table only if it carries the `_kb` partition layout AND no other
  * kind's meta pins it — that is, only its own crash-window
  * half-delivery (table written, meta not yet). A foreign table, or one
  * the other sink delivered, is refused: an upsert over SCD2 history
  * would otherwise keep one row per key and drop the rest.
  */
private[graft] final class KeyBuckets(spark: SparkSession, kind: String,
    database: String, table: String) {
  import KeyBuckets.Col

  val qualified = s"`$database`.`$table`"

  private def metaTable(k: String) = s"${table}_${k}_meta"

  private def exists(t: String) = spark.catalog.tableExists(s"$database.$t")

  /** The bucket count this kind's meta pins, if the table was delivered. */
  def pinned: Option[Int] =
    if (!exists(metaTable(kind))) None
    else Some(spark.table(s"`$database`.`${metaTable(kind)}`")
      .select("num_buckets").head().getInt(0))

  /** True when the table is already delivered with `numBuckets` (merge
    * into it); false on a first delivery the guard lets through (create
    * it). Throws on a bucket-count mismatch, a foreign table, or a table
    * pinned by the other kind. */
  def delivered(numBuckets: Int): Boolean = pinned match {
    case Some(stored) =>
      if (stored != numBuckets)
        throw new IllegalStateException(
          s"$qualified was delivered with numBuckets=$stored but this writer " +
            s"uses $numBuckets — the same key would hash to two buckets; " +
            "use the stored bucket count")
      true
    case None =>
      val ours = !exists(table) || (
        spark.catalog.listColumns(s"$database.$table").collect()
          .exists(c => c.isPartition && c.name == Col) &&
        !KeyBuckets.Kinds.exists(k => k != kind && exists(metaTable(k))))
      if (!ours)
        throw new IllegalStateException(
          s"$qualified exists but is not a $kind-delivered table (no $Col " +
            s"partition layout and no {table}_${kind}_meta, or another sink's " +
            "meta pins it) — refusing to overwrite it; deliver to a fresh table")
      false
  }

  /** First delivery: write `rows` (already carrying `_kb`) as the
    * bucketed table, then pin the layout. Meta lands AFTER the table, so
    * a crash between the two leaves the half-delivery [[delivered]] lets
    * the replay re-create. */
  def create(rows: DataFrame, numBuckets: Int): Unit = {
    rows.write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(Col).saveAsTable(qualified)
    import spark.implicits._
    Seq(numBuckets).toDF("num_buckets")
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"`$database`.`${metaTable(kind)}`")
  }

  /** The buckets `frame`'s keys hash into — a ≤numBuckets driver list. */
  def touched(frame: DataFrame, keys: Seq[String], numBuckets: Int): Array[Long] =
    frame.select(KeyBuckets.of(keys, numBuckets).as(Col))
      .distinct().collect().map(_.getLong(0))

  /** The resident rows of the `touched` buckets (partition-pruned). */
  def read(touched: Seq[Long]): DataFrame =
    spark.table(qualified).filter(col(Col).isin(touched: _*))

  /** Replace the buckets present in `rows` (which carries `_kb`) and
    * leave every other bucket untouched. `rows` is materialized BEFORE
    * the overwrite, since it usually reads the buckets it replaces;
    * partition-dir replacement is the atom, so a crash leaves each bucket
    * old or new. `dropEmpty` names buckets that were read but may have
    * no rows left: dynamic overwrite only replaces partitions PRESENT in
    * the output, so their stale dirs are dropped explicitly, after the
    * insert (a crash in between replays the batch, which re-derives the
    * same empty set). */
  def swap(rows: DataFrame, dropEmpty: Seq[Long] = Nil): Unit =
    StreamingDelivery.materialized(rows) { out =>
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(modeKey)
      spark.conf.set(modeKey, "dynamic")
      try out.select(spark.table(qualified).columns.map(col): _*)
        .write.mode(SaveMode.Overwrite).insertInto(qualified)
      finally prev.fold(spark.conf.unset(modeKey))(spark.conf.set(modeKey, _))
      if (dropEmpty.nonEmpty) {
        val kept = out.select(col(Col)).distinct().collect().map(_.getLong(0)).toSet
        dropEmpty.filterNot(kept).foreach { b =>
          spark.sql(s"ALTER TABLE $qualified DROP IF EXISTS PARTITION ($Col=$b)")
        }
      }
      // a session holding a cached file listing for the relation whose
      // partitions were just replaced would chase deleted part files on
      // its next read. Refresh BOTH sessions in play: under foreachBatch
      // `spark` is the stream's CLONED session, while the user reads the
      // table through the original (default) one.
      spark.catalog.refreshTable(s"$database.$table")
      SparkSession.getDefaultSession.filter(_ ne spark)
        .foreach(_.catalog.refreshTable(s"$database.$table"))
    }
}

private[graft] object KeyBuckets {

  /** Key-hash bucket partition column of the delivered table. */
  val Col = "_kb"

  val Upsert = "upsert"
  val Scd2 = "scd2"
  private val Kinds = Seq(Upsert, Scd2)

  /** The bucket of a row: xxhash64(keys) mod numBuckets. */
  def of(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong))
}
