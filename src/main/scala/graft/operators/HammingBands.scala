package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The banded Hamming pair kernel shared by both 64-bit near-dup
  * families: SimHash over text shingles (d00/d04/d11) and the media
  * aHash (m00/m05/m06/m09/m10, packed `h0 | h1 << 32` — band b of the
  * packed value is the aHash's byte b and the popcount of the packed
  * XOR is the two-half sum, so the pair sets and hammings are those of
  * the two-half form).
  *
  * A signature is sliced into eight 8-bit bands; two signatures within
  * hamming ≤ [[MaxHamming]] differ in at most 6 bytes, so they share at
  * least one band (pigeonhole covers hamming ≤ 7). Pairing only
  * band-colliding signatures and verifying XOR + popcount therefore
  * EQUALS the n² scan the DuckDB oracles run, without n² cost.
  *
  * Shape (r19): one shuffle keyed on (band, value), then a per-bucket
  * primitive kernel that emits a qualifying pair only in its FIRST
  * matching band (a band j < i collides iff the XOR's byte j is zero),
  * so the output carries no cross-band duplicates. The banded SELF-JOIN
  * it replaced shuffled the banded stream twice (both join inputs),
  * sorted both sides, and paid a third exchange for the `distinct()`
  * that dropped cross-band duplicates: plan 3 Exchange → 1, d00 build
  * portion 2.0 → 1.3 s warm at sf0.1. Under structural skew (at 30×
  * scale ~46k short-doc blobs share four whole aHash band values) the
  * kernel grinds the hot bucket at register speed instead of
  * materializing 1e9 candidate rows. Bucket state is primitive-sized
  * (16 B/row) and the quadratic probe is the SAME candidate set the
  * join co-located per bucket anyway. */
object HammingBands {

  /** The verification threshold both families pair at. */
  val MaxHamming = 6

  /** Band `b`'s 8-bit value of a signature. */
  def slice(b: Int, sig: Long): Long = (sig >>> (b * 8)) & 0xFFL

  /** Band rows `(doc_id, <sig>, i, k)` of a `(doc_id, <sig>)` frame —
    * one row per band `i`, `k` its 8-bit value. A Catalyst expansion, so
    * the rows stay unboxed up to the kernel's shuffle. */
  def bandRows(sigs: DataFrame, sig: String): DataFrame =
    sigs.select(col("doc_id"), col(sig),
      explode(array((0 until 8).map(i =>
        struct(lit(i).as("i"),
          shiftrightunsigned(col(sig), i * 8).bitwiseAND(lit(0xFFL)).as("k"))): _*)).as("b"))
      .select(col("doc_id"), col(sig), col("b.i").as("i"), col("b.k").as("k"))

  /** Band-bucket occupancy `(i, k, cnt)` of band rows: one row per
    * populated bucket, ≤ 8·256 rows at any corpus size (per cell for
    * cell-keyed rows). */
  def profile(banded: DataFrame): DataFrame =
    banded.groupBy(col("i"), col("k")).agg(count(lit(1)).as("cnt"))

  /** Population of the hottest `(i, k)` bucket — the kernel's cost
    * driver (a bucket of B rows costs B²/2 probes), the quantity the
    * media gate bounds. Zero for no rows (max over nothing is NULL). */
  def hottest(banded: DataFrame): Long =
    Option(profile(banded).agg(max(col("cnt"))).head.get(0))
      .fold(0L)(_.asInstanceOf[Long])

  /** Verified pairs `(doc_a, doc_b, hamming)`, `doc_a < doc_b`, over a
    * `(doc_id, <sig>)` frame: every pair at hamming ≤ [[MaxHamming]],
    * each exactly once. */
  def pairs(sigs: DataFrame, sig: String): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    bandRows(sigs, sig).select(col("i"), col("k"), col("doc_id"), col(sig))
      .as[(Int, Long, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Long), iter: Iterator[(Int, Long, Long, Long)]) =>
        val bucket = new Bucket
        iter.foreach(t => bucket.add(t._3, t._4))
        bucket.pairs(key._1)((_, _) => true)
      }.toDF("doc_a", "doc_b", "hamming")
  }

  /** [[pairs]] over cell-probed band rows `(i, cell·256 + k, doc_id,
    * sig, probes)`, each row carrying its signature's sorted probe-cell
    * set (m10). A pair co-buckets once per shared probed cell, so it is
    * emitted only where this bucket's cell is the pair's MINIMUM shared
    * cell — the first-matching-band argument applied to the probe
    * dimension, unique by construction with no output distinct() (an
    * r16 distinct() here measured ~9.5 s of a 12.4 s warm total at sf3,
    * PROBES_r17). The shared-set walk runs only on hamming hits that
    * already won the band rule, never in the n²/2 probe loop. */
  def cellPairs(banded: Dataset[(Int, Long, Long, Long, Array[Long])]): DataFrame = {
    val s = banded.sparkSession
    import s.implicits._
    banded.groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Long),
          iter: Iterator[(Int, Long, Long, Long, Array[Long])]) =>
        val cell = key._2 >>> 8
        val bucket = new Bucket
        val probes = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        iter.foreach { t => bucket.add(t._3, t._4); probes += t._5 }
        bucket.pairs(key._1)((a, b) => minShared(probes(a), probes(b)) == cell)
      }.toDF("doc_a", "doc_b", "hamming")
  }

  /** The append's cross stratum: resident × delta band rows (both
    * `(doc_id, <sig>, i, k)`), joined on the bucket with the delta-sized
    * side broadcast so the resident side is scanned, never shuffled;
    * verified, then deduplicated (a cross pair sharing several bands
    * joins once per band). */
  def crossPairs(resident: DataFrame, delta: DataFrame, sig: String): DataFrame =
    resident.as("x").join(broadcast(delta).as("y"),
        col("x.i") === col("y.i") && col("x.k") === col("y.k"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col(s"x.$sig").bitwiseXOR(col(s"y.$sig"))).cast("long").as("hamming"))
      // filter BEFORE the dedup exchange: non-qualifying band-colliding
      // candidates dominate in hot buckets and the output set is
      // identical either way (r14 advice)
      .filter(col("hamming") <= MaxHamming)
      .distinct()

  /** One bucket's rows drained straight into growable primitive arrays:
    * a bucket is corpus/2048 rows on average at scale (and far more in a
    * structurally hot one), so materializing the group iterator as boxed
    * tuples first (~60 B/row) would hold tens of millions of objects per
    * task where 16 B/row suffices, and the probe loop must touch nothing
    * but longs (probing boxed tuples measured ~50× slower at 30× scale). */
  private final class Bucket {
    private var ids = new Array[Long](64)
    private var sigs = new Array[Long](64)
    private var n = 0

    def add(id: Long, sig: Long): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n << 1)
        sigs = java.util.Arrays.copyOf(sigs, n << 1)
      }
      ids(n) = id; sigs(n) = sig; n += 1
    }

    /** Verified pairs of this bucket, which shares band `band`: each
      * pair within [[MaxHamming]] whose first shared band is `band` and
      * that `keep` (given the two row indices) accepts. */
    def pairs(band: Int)(keep: (Int, Int) => Boolean): Iterator[(Long, Long, Long)] = {
      if (n < 2) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var a = 0
      while (a < n) {
        var b = a + 1
        while (b < n) {
          val x = sigs(a) ^ sigs(b)
          val ham = java.lang.Long.bitCount(x)
          if (ham <= MaxHamming) {
            var j = 0
            var firstHere = true
            while (firstHere && j < band) {
              if (((x >>> (j * 8)) & 0xFFL) == 0L) firstHere = false
              j += 1
            }
            if (firstHere && keep(a, b))
              out += ((math.min(ids(a), ids(b)), math.max(ids(a), ids(b)), ham.toLong))
          }
          b += 1
        }
        a += 1
      }
      out.iterator
    }
  }

  /** First common element of two sorted probe sets; -1 when disjoint. */
  private def minShared(a: Array[Long], b: Array[Long]): Long = {
    var x = 0; var y = 0
    while (x < a.length && y < b.length) {
      if (a(x) == b(y)) return a(x)
      else if (a(x) < b(y)) x += 1
      else y += 1
    }
    -1L
  }
}
