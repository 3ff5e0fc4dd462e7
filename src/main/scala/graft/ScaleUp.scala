package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10x scale-up of a driver testdata directory, for scale
  * evidence above the official bench SF (the r8 verdict's "no evidence
  * above sf0.1" gap). The driver only ships sf0.001/0.01/0.1; this tool
  * derives an sfN directory from sf0.1 the way dbgen derives a bigger SF:
  * same distributions, N times the rows.
  *
  * Construction: each fact/doc table is replicated `factor` times with all
  * integer keys shifted by `replica * STRIDE`, so every replica is a
  * self-consistent shard (orders(rep i) reference customers(rep i), every
  * foreign key resolves, no cross-replica key collisions). The shared
  * dimensions region/nation are copied unshifted, exactly like dbgen's
  * fixed-size dimensions. On top of the key shifts, two content transforms
  * keep the CORPUS-level distributions proportional instead of degenerate:
  *
  *  - documents.text: replica r > 0 suffixes every token with "~r". A
  *    replica keeps its internal token/shingle structure (lengths, term
  *    frequencies, planted near-dups, duplicated spans are isomorphic) but
  *    shares no shingles with other replicas — so the near-dup rate stays
  *    the sf0.1 rate instead of every document acquiring 9 exact clones.
  *  - embeddings.embedding: replica r is cyclically rotated by r
  *    positions. Rotation is an isometry, so within-replica geometry
  *    (norms, pairwise cosines, cluster structure, planted duplicates) is
  *    EXACTLY preserved, while cross-replica vectors decorrelate. Labels
  *    shift with the replica so each shard keeps its own label space.
  *
  * Everything is a pure column transform of the source parquet — no
  * Date.now, no rand() — so the output is byte-stable across runs and the
  * DuckDB oracle (tools/check_oracle.py) can replay any catalog SQL
  * against the scaled directory.
  */
object ScaleUp {

  /** Key shift per replica. Far above any key in the source tables
    * (sf0.1 max key ~6e5) and round in binary for readable debugging. */
  val Stride = 1L << 33

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST",
      sys.env.getOrElse("SPARK_GRAFT_REPO", ".") + "/target/sfdata/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    require(factor >= 1 && factor <= 64, s"factor out of range: $factor")
    val spark = Sessions.build()
    try run(spark, src, dst, factor)
    finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** Explode one source row into `factor` rows tagged 0..factor-1. */
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("_rep", explode(sequence(lit(0), lit(factor - 1))))

    def shift(c: String): Column = col(c) + col("_rep").cast("long") * Stride

    /** Replicate, shift the named long keys, restore column order. */
    def scaled(df: DataFrame, keys: String*): DataFrame = {
      val cols = df.columns
      keys.foldLeft(replicate(df))((d, k) => d.withColumn(k, shift(k)))
        .select(cols.map(col).toIndexedSeq: _*)
    }

    // file counts sized so a 1000-executor cluster (or local[32]) gets
    // parallel splits without producing a spray of tiny files
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")

    // shared dimensions: copied, not replicated (dbgen semantics)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(scaled(read("customer"), "c_custkey"), "customer", 4)
    write(scaled(read("supplier"), "s_suppkey"), "supplier", 1)
    write(scaled(read("part"), "p_partkey"), "part", 4)
    write(scaled(read("orders"), "o_orderkey", "o_custkey"), "orders", 8)
    write(scaled(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem", 16)
    write(scaled(read("events"), "event_id", "user_id"), "events", 8)

    val docs = scaled(read("documents"), "doc_id")
      // token-suffix transform: replica 0 is the verbatim source corpus
      .withColumn("text",
        when(col("doc_id") < Stride, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), (col("doc_id") / Stride).cast("long"))))))
      // the driver fixture guarantees n_chars == character count of text
      // and the m-family oracles PREDICT blob sizes from n_chars, so the
      // metadata must track the transformed text (replica 0 is unchanged:
      // length(text) == the source n_chars there by the same invariant)
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", 8)

    val dim = read("embeddings").selectExpr("size(embedding) d").head.getInt(0)
    require(dim >= factor, s"embedding dim $dim < factor $factor: rotation would collide")
    val emb = replicate(read("embeddings"))
      .withColumn("embedding",
        when(col("_rep") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), col("_rep") + 1, lit(dim) - col("_rep")),
          slice(col("embedding"), lit(1), col("_rep")))))
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("label",
        (col("label").cast("long") + col("_rep").cast("long") * 100000L)
          .cast("int"))
      .select("vec_id", "embedding", "label")
    write(emb, "embeddings", 4)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => t -> spark.read.parquet(s"$dst/$t.parquet").count())
    counts.foreach { case (t, n) => println(s"[scaleup] $t: $n rows") }
  }
}
