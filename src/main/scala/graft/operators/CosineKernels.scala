package graft.operators

import graft.operators.Embeddings.{fpCos, sqlGt}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The cosine kernels shared by the vector family: every argmax,
  * ranked-cells scan, within-bucket top-k, probe top-k and block-pair
  * loop in [[Embeddings]] runs through this object, so a ranking or
  * threshold rule cannot drift between the operators (v02/v08 buckets,
  * v06/d07/p09/m10 cell assignment, the PQ encode, ivfTopK/v18 probes,
  * annTopK, v04 and d07's pair prune).
  *
  * The arithmetic is [[Embeddings]]'s fixed-point contract (`fpCos`,
  * `sqlGt`): NaN (a zero-norm vector's 0/0 cosine) ranks first, as it
  * does in Spark's and DuckDB's ORDER BY ... DESC, and ties keep the
  * smallest id or cell. The distributed kernels take rows
  * `(key, vec_id, v, nrm)` ([[Tagged]]); the key is a sign bucket, a
  * probed cell or a k-means cell, per caller. */
object CosineKernels {

  /** A trained centroid array `(cell, centroid, norm)`, ascending cell —
    * the [[Embeddings.kMeansModel]] shape. */
  type Centroids = Array[(Long, Array[Double], Double)]

  /** A kernel input row: `(key, vec_id, v, nrm)`. */
  type Tagged = (Long, Long, Array[Double], Double)

  /** Bounded top-k insertion under (score desc, id asc) SQL ordering —
    * the one ranking buffer of [[topCells]], [[bucketTopK]],
    * [[probeTopK]] and v17's hamming prerank. */
  private[operators] final class TopKBuffer(k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var filled = 0
    def insert(score: Double, id: Long): Unit = {
      var p = 0
      while (p < filled && !(sqlGt(score, scores(p)) ||
        ((score == scores(p) || (score.isNaN && scores(p).isNaN)) && id < ids(p)))) p += 1
      if (p < k) {
        var q = math.min(filled, k - 1)
        while (q > p) { scores(q) = scores(q - 1); ids(q) = ids(q - 1); q -= 1 }
        scores(p) = score; ids(p) = id
        if (filled < k) filled += 1
      }
    }
  }

  /** Argmax fixed-point cosine against a centroid array in ascending-id
    * order under SQL NaN semantics ([[sqlGt]] — NaN ranks first, ties
    * keep the smallest id, zero-norm rows land on the first centroid).
    * THE assignment arithmetic: the trainer, [[Embeddings.CellModel]]'s
    * assignment, the PQ encode (subspace codes and coarse cell) and v06's
    * label cells all call this one loop, so engine and oracle cannot
    * drift per consumer. `Long.MinValue` for no centroids. */
  private[operators] def argmaxCell(cs: Centroids, v: Array[Double], nrm: Double): Long = {
    var best = Long.MinValue; var bestC = Double.NegativeInfinity; var any = false
    var ci = 0
    while (ci < cs.length) {
      val c = fpCos(v, cs(ci)._2, nrm, cs(ci)._3)
      if (!any || sqlGt(c, bestC)) { bestC = c; best = cs(ci)._1; any = true }
      ci += 1
    }
    best
  }

  /** The row's `p` nearest cells, nearest first, under [[argmaxCell]]'s
    * (cosine desc, cell asc) ordering — `topCells(cs, v, n, 1)` is
    * `Array(argmaxCell(cs, v, n))`. The probe selection of
    * [[Embeddings.CellModel]], ivfTopK and v18. */
  private[operators] def topCells(cs: Centroids, v: Array[Double], nrm: Double,
      p: Int): Array[Long] = {
    val top = new TopKBuffer(p)
    var ci = 0
    while (ci < cs.length) {
      top.insert(fpCos(v, cs(ci)._2, nrm, cs(ci)._3), cs(ci)._1)
      ci += 1
    }
    top.ids.take(top.filled)
  }

  /** Top-`k` of `cand` for one query, skipping the candidates `skip`
    * names (the query's own row). */
  private def rank(k: Int, qv: Array[Double], qn: Double, cand: Array[Tagged])(
      skip: Int => Boolean): TopKBuffer = {
    val top = new TopKBuffer(k)
    var ci = 0
    while (ci < cand.length) {
      if (!skip(ci)) top.insert(fpCos(qv, cand(ci)._3, qn, cand(ci)._4), cand(ci)._2)
      ci += 1
    }
    top
  }

  /** All-vs-all top-`k` within each bucket of `(bucket, vec_id, v, nrm)`
    * rows: `(query_id, rnk, neighbor_id, bucket, cosine)`, a row never
    * its own neighbor. Grouping runs on the `bucket` COLUMN, so a scan
    * already bucketed on it (a [[Embeddings.buildIndex]] table) plans
    * with no Exchange. v02 (a fresh sign bucketing) and v08 (the
    * persisted index) both rank here. */
  def bucketTopK(rows: DataFrame, k: Int): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.select($"bucket".as("_1"), $"vec_id".as("_2"), $"v".as("_3"), $"nrm".as("_4"))
      .groupBy($"_1").as[Long, Tagged]
      .flatMapGroups { (bkt, iter) =>
        val items = iter.toArray
        items.indices.iterator.flatMap { qi =>
          val (_, qid, qv, qn) = items(qi)
          val top = rank(k, qv, qn, items)(_ == qi)
          (0 until top.filled).iterator.map(r =>
            (qid, (r + 1).toLong, top.ids(r), bkt, top.scores(r)))
        }
      }.toDF("query_id", "rnk", "neighbor_id", "bucket", "cosine")
  }

  /** Query × corpus top-`k`: queries meet the corpus rows sharing their
    * key (a query row per probed bucket or cell, a corpus row in exactly
    * one), so a (query, candidate) pair is scored at most once; a
    * per-key top-k, then one global `row_number ≤ k` merges a query's
    * per-probe lists (Spark's WindowGroupLimit keeps that partial).
    * Returns `(query_id, rnk, neighbor_id, cosine)`. annTopK and
    * ivfTopK serve through it. */
  def probeTopK(queries: Dataset[Tagged], corpus: Dataset[Tagged], k: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val scored = queries.groupByKey(_._1).cogroup(corpus.groupByKey(_._1)) { (_, qs, cs) =>
      val cand = cs.toArray
      qs.flatMap { case (_, qid, qv, qn) =>
        val top = rank(k, qv, qn, cand)(cand(_)._2 == qid)
        (0 until top.filled).iterator.map(r => (qid, top.ids(r), top.scores(r)))
      }
    }.toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
  }

  /** The block self-join pair kernel over `(cell, vec_id, v, nrm)` rows:
    * every pair of rows sharing a cell whose fixed-point cosine is
    * `>= threshold` or NaN (SQL ranks NaN above any threshold in both
    * engines) is handed to `emit(lo id, hi id, cosine)`, and each
    * group's emitted values are collected in a fresh `newOut()`.
    *
    * Rows get a block `floorMod(vec_id, blocks)` (ids may be negative in
    * foreign corpora) and are replicated to the `blocks` unordered block
    * pairs they belong to, keyed `cell·B² + lo·B + hi`; a diagonal group
    * pairs one block's rows, an off-diagonal group crosses its two
    * blocks. Quadratic work stays within a cell, per-task memory is two
    * blocks of one cell, and products commute, so block order cannot
    * change a value. v04 (cell 0) and d07's prune call it. */
  def blockPairs[A: Encoder](rows: Dataset[Tagged], blocks: Int, threshold: Double,
      newOut: () => mutable.Growable[A] with Iterable[A])(
      emit: (Long, Long, Double) => A): Dataset[A] = {
    val s = rows.sparkSession
    import s.implicits._
    val B = blocks
    val BB = (B * B).toLong
    rows.flatMap { case (cell, id, v, nrm) =>
      val b = java.lang.Math.floorMod(id, B.toLong).toInt
      (0 until B).iterator.map(c =>
        (cell * BB + (math.min(b, c) * B + math.max(b, c)), b, id, v, nrm))
    }.groupByKey(_._1).flatMapGroups { (key, iter) =>
      val pair = (key % BB).toInt
      val lo = pair / B
      val hi = pair % B
      val left = mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      val right = mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      iter.foreach { case (_, b, id, v, n) =>
        if (b == lo) left += ((id, v, n)) else right += ((id, v, n))
      }
      val out = newOut()
      def test(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Unit = {
        val c = fpCos(a._2, b._2, a._3, b._3)
        if (c >= threshold || c.isNaN) out += emit(math.min(a._1, b._1), math.max(a._1, b._1), c)
      }
      var i = 0
      while (i < left.length) {
        if (lo == hi) { var j = i + 1; while (j < left.length) { test(left(i), left(j)); j += 1 } }
        else { var j = 0; while (j < right.length) { test(left(i), right(j)); j += 1 } }
        i += 1
      }
      out.iterator
    }
  }
}
