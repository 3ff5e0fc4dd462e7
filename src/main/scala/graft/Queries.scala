package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a Spark implementation plus (when SQL-expressible) an
  * equivalent DuckDB oracle query over the same parquet tables.
  *
  * Oracle discipline (hash-match requires bit-identical values):
  *   - aggregates over doubles go through exact fixed-point BIGINT summation
  *     (see [[QueryHelpers.sumExact]]) and are cast back to double
  *     (order-independent, engine-independent);
  *   - per-row arithmetic uses only IEEE ops in the same association order
  *     in both engines;
  *   - every query ends in a TOTAL order (unique sort key);
  *   - counts are BIGINT in both engines (DuckDB SUM(int) is HUGEINT — cast).
  *
  * DuckDB-side (1.0) execution rules, learned the hard way in round 5:
  *   - a CTE referenced more than once MUST be `AS MATERIALIZED` — plain
  *     CTEs re-inline per reference, so chained definitions re-evaluate
  *     combinatorially (v09's un-hinted Lloyd rounds: 199 s and
  *     memory-flaky vs 0.46 s materialized, identical rows);
  *   - no `WITH RECURSIVE` for constant tables — a recursive CTE leaves
  *     connection buffers unreclaimed and the next heavy oracle dies with
  *     a spurious out-of-memory; generate a VALUES literal from Scala
  *     instead (d04's power table), which also keeps the constants single-
  *     sourced with the kernel.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryHelpers {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** The engines' shared deterministic "random": Knuth multiplicative
    * hash of an id column — fold to 1048573, multiply by 2654435761,
    * reduce by the prime 1e9+7 (the reducing modulus is what scrambles
    * order; the bare product is monotone in the folded id). Pure
    * function of the id, so every consumer (p05 holdout, p09 balanced
    * sample, kMeansModel seeding) replays exactly across runs, and the
    * DuckDB oracles mirror it as
    * `((((id % 1048573) + 1048573) % 1048573) * 2654435761) % 1000000007`
    * (the double-% emulates pmod for negative ids). One definition so
    * the constants cannot drift per-operator. */
  def knuthHash(id: Column): Column =
    (pmod(id, lit(1048573L)) * lit(2654435761L)) % lit(1000000007L)

  /** Order-independent exact sum of a double expression, returned as double.
    *
    * Fixed-point fold: round each value to 6 decimals as a BIGINT
    * (`floor(x*1e6 + 0.5)` — Spark's `floor(double)` already yields long),
    * sum exactly in i64, divide once at the end. The earlier DECIMAL(30,6)
    * form was equally exact but precision 30 > 18 leaves Spark's long-backed
    * Decimal fast path and allocates a BigDecimal per row per accumulator —
    * a same-JVM A/B on sf0.1 q01 measured 2.0 s (decimal) vs 0.45 s (fixed),
    * 4x on the hottest aggregation path. DuckDB computes the identical
    * formula bit-for-bit, so oracles hash-match.
    *
    * Overflow headroom: the i64 accumulator holds |Σx| up to 9.2e12 at
    * scale 1e6. lineitem's largest magnitude column (extendedprice ~1e5)
    * over the sf0.1-equivalent 6e5 rows sums to ~6e16 scaled units — 150x
    * headroom. At cluster scale re-derive the bound per column; ANSI mode
    * makes a genuine overflow throw loudly rather than wrap (and partial
    * sums overflow no later than the final sum — map-side combine does not
    * hide it).
    */
  def sumExact(c: Column): Column =
    sum(floor(c * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)

  /** Oracle-side (DuckDB) spelling of [[sumExact]]; interpolate into oracle
    * SQL so both engines compute the identical fold. */
  def sumExactSql(expr: String): String =
    s"(CAST(SUM(CAST(FLOOR(($expr)*1e6+0.5) AS BIGINT)) AS DOUBLE)/1e6)"

  /** Deterministic average: exact sum divided by count (single IEEE divide). */
  def avgExact(c: Column): Column = sumExact(c) / count(c)

  /** Load one test table from the scale-factor directory. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    sources.ParquetTables.read(spark, s"$dir/$name.parquet")

  /** The `events` table stores TIMESTAMP(NANOS) parquet. How Spark reads
    * that column varies by version: older readers reject it unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to BIGINT nanos;
    * Spark 4.1+ reads it natively as TIMESTAMP_NTZ micros (ignoring the
    * legacy conf). Assuming either one is exactly the cross-version
    * brittleness that zeroed every e-query in round 7 — so branch on the
    * schema Spark ACTUALLY produced and normalize both paths to the same
    * contract: a session-TZ `timestamp` column named `ts`, micros
    * precision. DuckDB keeps nanos; queries truncate outputs to whole
    * seconds (or coarser) so both engines agree.
    *
    * Bench/Verify set `nanosAsLong` once at session build; the
    * conditional set below only covers foreign sessions (e.g. driver
    * smoke) and never flips an already-correct value, so concurrent
    * queries cannot race on session conf.
    */
  def eventsTbl(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    val raw = sources.ParquetTables.read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division: `div` truncates toward zero, which for a
        // pre-1970 nanosecond value not on a whole microsecond would
        // round the "wrong" way vs DuckDB's epoch_ns floor semantics
        raw.withColumn("ts", timestamp_micros(
          expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // Native read of MICROS-precision NTZ data (the driver testdata's
        // actual layout: timestamp[us], isAdjustedToUTC=false). This
        // branch can NEVER carry nanos whose sub-µs floor Spark decided:
        // on Spark 4.1.2 a TIMESTAMP(NANOS) parquet column is
        // PARQUET_TYPE_ILLEGAL without nanosAsLong and BIGINT with it
        // (pinned by EventsTblSpec on real parquet-mr fixtures), so
        // there is no remainder to floor here. Session TZ is UTC
        // (Sessions.build), so the NTZ→TZ cast is instant-exact
        // (EventsTblSpec pins pre-1970 values too).
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — extend eventsTbl")
    }
  }
}
