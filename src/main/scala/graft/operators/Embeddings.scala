package graft.operators

import graft.QueryDef
import graft.QueryHelpers._
import graft.operators.CosineKernels._
import graft.plans.PersistedIndex
import graft.sources.ParquetTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  * No reference counterpart (SURVEY.md §2.2) — driver-mandated §2.3.
  *
  * Oracle-exactness discipline: dot products and squared norms are sums of
  * double products rounded to 1e-12 fixed point — exact integer addition
  * is ORDER-INDEPENDENT, so Spark's fold and DuckDB's SUM-over-unnest
  * produce bit-identical values regardless of partitioning; the remaining
  * ops (sqrt, multiply, divide) are single IEEE ops on identical inputs.
  *
  * Scale design (100 TB):
  *  - v01 brute-force is the correctness baseline; it broadcasts the small
  *    query set and streams the corpus — linear in corpus size, no shuffle
  *    of the corpus itself. Right shape for "few queries vs huge corpus".
  *  - v02 is the scale path for all-pairs-style workloads: an LSH bucket
  *    (sign pattern of leading dimensions = fixed axis-aligned hyperplanes)
  *    keys a shuffle, and the quadratic work happens only WITHIN buckets.
  *    More planes → smaller buckets; planes are data-independent so the
  *    bucketing is a plain repartition, no global index build.
  *  - v03 shows the aggregation shape: per-(label, dim) partial sums give
  *    centroids without ever collecting a vector to the driver.
  */
object Embeddings {

  /** embeddings with double-cast vector and exact L2 norm. Also installs
    * the `fp_dot` native expression on the session — every catalog entry
    * flows through here before any `expr(NormSql)`/`dotSql` analysis. */
  private def based(s: SparkSession, dir: String): DataFrame = {
    graft.functions.FixedPointDot.install(s)
    tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** Exact fixed-point arithmetic: each double product is rounded to
    * 1e-12 (floor(p*1e12 + 0.5): multiply/add/floor are single IEEE ops —
    * Spark's ROUND on doubles would allocate a BigDecimal per element)
    * and summed as BIGINT — exact integer addition is order-independent.
    * The DuckDB oracle applies the identical FLOOR(p*1e12 + 0.5) →
    * BIGINT → SUM, so values match bit-for-bit. Magnitudes: |product| ≲ 1
    * ⇒ |term| ≲ 1e12, 64 dims ⇒ |sum| ≲ 6.4e13, far inside both i64 and
    * double-exact (2^53) range.
    *
    * Form matters, measured at sf0.1: the `aggregate()` lambda fold is
    * the FASTEST declarative shape here (~3 s on the bucketed join) —
    * an unrolled 64-term expression tree blows past codegen method
    * limits and runs interpreted (~10 s), and a DECIMAL accumulator
    * leaves the long-backed fast path (~9 s). v04's all-pairs kernel
    * skips expressions entirely (mapPartitions, same arithmetic).
    */
  private val ScaleD = 1000000000000.0
  private val Scale = "1000000000000.0"

  /** Row bound above which [[cosineNearDupPairs]] refuses to run: 2^17
    * rows ≈ 8.6e9 exact pair evaluations — the edge of what an exact
    * all-pairs anchor can justify on a real cluster, and far above any
    * oracle corpus. Mirrors [[graft.pipeline.NearDup
    * .LocalComponentsMaxPairs]]'s role for the CC driver path. */
  val AllPairsMaxRows: Long = 1L << 17

  /** The scalar fixed-point fold every kernel shares — THE oracle-
    * exactness contract in one place (a scale or rounding tweak here is
    * automatically consistent across v02/v04/v06 and must only be
    * mirrored in the SQL forms below). Top-level object methods compile
    * to static module calls, so closures using these capture nothing. */
  private[operators] def fpDot(a: Array[Double], b: Array[Double]): Long = {
    var acc = 0L
    var j = 0
    while (j < a.length) { acc += math.floor(a(j) * b(j) * ScaleD + 0.5).toLong; j += 1 }
    acc
  }
  private[graft] def fpNorm(v: Array[Double]): Double =
    math.sqrt(fpDot(v, v).toDouble / ScaleD)
  private[operators] def fpCos(a: Array[Double], b: Array[Double], na: Double, nb: Double): Double =
    (fpDot(a, b).toDouble / ScaleD) / (na * nb)

  /** SQL-comparison ordering for doubles: NaN compares LARGER than any
    * value and equal to itself (both Spark and DuckDB rank NaN first
    * under DESC) — the kernels must rank candidates the same way or a
    * zero-norm vector (cosine 0/0 = NaN) silently diverges from the
    * declarative forms and the oracle. */
  private[operators] def sqlGt(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b

  /** Declarative faces of the fixed-point contract, now routed through
    * the native `fp_dot` expression ([[graft.functions.FixedPointDot]],
    * installed by [[based]]/[[annTopK]]/[[indexRows]] before analysis).
    * The previous `aggregate(zip_with(...))` higher-order-function form
    * computed the identical values but evaluated INTERPRETED with a
    * per-row zipped intermediate array; `fp_dot` is a primitive loop
    * inside whole-stage codegen. Arithmetic is unchanged term for term,
    * so every oracle hash is unmoved (asserted across the catalog by the
    * unchanged CORRECTNESS pass, and HOF==fp_dot equality is pinned in
    * FixedPointDotSpec). */
  private def normSqlOf(c: String): String =
    s"sqrt(CAST(fp_dot($c, $c) AS DOUBLE) / $Scale)"

  private val NormSql = normSqlOf("v")

  private def dotSql(a: String, b: String): String =
    s"CAST(fp_dot($a, $b) AS DOUBLE) / $Scale"

  private val DotSql = dotSql("qv", "cv")

  /** Exact embedding-cosine near-dup pairs (`doc_a < doc_b`, cosine ≥
    * threshold) over any `(vec_id: Long, v: Array[Double])` frame —
    * inherently an n² dense matrix product, which relational operators
    * execute as a nested-loop join with per-pair expression eval
    * (interpreted in BroadcastNestedLoopJoin — measured 80-180 s at
    * sf0.1). This is the genuine custom-kernel case (SURVEY §2.1
    * preference (d)): [[CosineKernels.blockPairs]]'s BLOCK SELF-JOIN over
    * one cell — each of the B(B+1)/2 block-pair groups runs a tight
    * primitive-array kernel over its two blocks. Nothing is ever
    * collected to the driver; per-task memory is two blocks (~2n/B
    * vectors), so B scales with the corpus (B ≈ n·rowBytes /
    * executorBudget) at the price of a B× shuffle replication — the
    * standard dense all-pairs decomposition. The kernel keeps the SAME
    * fixed-point arithmetic as the declarative ops, so v04's DuckDB
    * oracle hash-matches it.
    *
    * SIZE-GATED: block decomposition bounds per-task MEMORY, but the
    * WORK is O(n²) no matter how the blocks slice it — the one kernel in
    * this catalog whose cost curve cannot survive corpus scale. It exists
    * as the exact anchor the approximate paths are gated against; pointed
    * at a real corpus it would burn a cluster-year before failing. So the
    * operator refuses inputs above `maxRows` (the [[graft.pipeline
    * .NearDup.components]] localMaxPairs pattern: count first, fail
    * loudly) instead of letting the trap be hit — the error names the
    * scale-safe routes: [[semanticDedup]] (d07, within-cell only) and
    * [[annTopK]]'s LSH buckets (v02). The count is one column-pruned
    * pass; a caller who has genuinely budgeted the quadratic cost can
    * raise the bound explicitly.
    *
    * Since r15 the refusal is a [[graft.util.GateRefusal]] (an
    * IllegalStateException) where it was previously a `require`
    * (IllegalArgumentException) — callers catching the gate by type
    * must catch GateRefusal.
    */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double, blocks: Int = 8,
      maxRows: Long = AllPairsMaxRows): DataFrame = {
    require(blocks > 0, s"blocks must be positive, got $blocks")
    val session = vectors.sparkSession
    import session.implicits._
    val nRows = vectors.select(col("vec_id")).count()
    if (nRows > maxRows)
      throw new graft.util.GateRefusal(
        s"cosineNearDupPairs is exact all-pairs: O(n^2) work regardless of block " +
          s"decomposition. Input has $nRows rows > maxRows=$maxRows. For corpus-scale " +
          "near-dup use Embeddings.semanticDedup (d07: k-means cells, quadratic within " +
          "cells only) or Embeddings.annTopK (v02: LSH buckets); raise maxRows only " +
          "with the quadratic cost explicitly budgeted.")
    val rows = vectors.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) => (0L, id, v, fpNorm(v)) }
    blockPairs(rows, blocks, threshold,
      () => scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)])(
      (lo, hi, c) => (lo, hi, c)).toDF("doc_a", "doc_b", "cosine")
  }

  /** Parameterized all-pairs ANN: approximate top-`k` cosine neighbors
    * for EVERY vector. Sign-LSH over the first `planes` dimensions keys
    * the search buckets (data-independent — no training pass); with
    * `multiProbe` each query ALSO probes the `planes` buckets at Hamming
    * distance 1 from its own code, which recovers most neighbors lost to
    * a single near-zero coordinate flipping one bit — the standard
    * recall knob when raising the plane count shrinks buckets faster
    * than recall can stand. Corpus rows live in exactly ONE bucket and
    * only query rows replicate (×(planes+1)), so a (query, candidate)
    * pair is generated at most once and the final per-query rank needs
    * no dedup. Execution: the source is scanned ONCE into a tagged frame
    * ([[indexRows]]: the v02/v08 sign bucket + norm per row) built from
    * deterministic COLUMN expressions and retained under
    * [[graft.CacheRegistry]] — plan-matched repeat calls hit one entry,
    * and the storage is released by `Engine.close` / `unpersistAll`
    * instead of waiting on the ContextCleaner the way the earlier
    * `localCheckpoint` form did (the repo's own argument against
    * localCheckpoint, `Curation.clusters` scaladoc). Both sides of
    * [[CosineKernels.probeTopK]] read that frame.
    * Returns (query_id, rnk, neighbor_id, cosine).
    *
    * Relation to the catalog: v02 pins the same buckets (no probing,
    * all-vs-all within a bucket) under a DuckDB oracle; v06 is the IVF
    * alternative. annTopK itself is recall-gated against brute force
    * and pinned to a driver-side same-bucket top-k in EmbeddingsSpec
    * rather than oracled (approximate by design).
    */
  def annTopK(vectors: DataFrame, k: Int, planes: Int = 4,
      multiProbe: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(planes > 0 && planes <= 16, s"planes must be in 1..16, got $planes")
    val session = vectors.sparkSession
    import session.implicits._
    val P = planes
    // tuple-named columns so the retained frame converts straight back to
    // the kernel's typed Dataset
    val tagged = graft.CacheRegistry.retain(s"ann.tagged.p$P",
      indexRows(vectors, P).toDF("_1", "_2", "_3", "_4")).as[Tagged]
    val queries =
      if (!multiProbe) tagged
      else tagged.flatMap { case (c, id, v, n) =>
        (Iterator(c) ++ (0 until P).iterator.map(p => c ^ (1L << p))).map(pb => (pb, id, v, n))
      }
    probeTopK(queries, tagged, k)
  }

  /** The trainer's deterministic sample bound: Knuth-hash values BELOW
    * this cut select ~`sampleTarget` of the `n` rows (hash is ~uniform
    * on `[0, 1000000007)`, so `cut/1000000007 ≈ sampleTarget/n`). Pure
    * integer arithmetic — `max(1, 1000000007·S ÷ n)` with floor
    * division — so a SQL oracle derives the IDENTICAL cut from its own
    * `COUNT(*)` (the `scut` CTE). When `n ≤ sampleTarget` the cut is
    * ≥ 1000000007, above every possible hash, and the filter is a
    * NO-OP: small corpora train on everything and existing hashes are
    * unchanged — one formula, no branch, in both engines. */
  def trainSampleCut(n: Long, sampleTarget: Long): Long = {
    require(sampleTarget > 0, s"sampleTarget must be positive, got $sampleTarget")
    if (n <= 0L) 1000000007L else math.max(1L, 1000000007L * sampleTarget / n)
  }

  /** Default trainer sample size for the derived-cells families
    * (d07/p09/m10): centroids need statistics, not every row, and the
    * per-round assignment argmax is rows × cells flops — unsampled that
    * is n²/targetCell once the cell count is corpus-derived (the r15
    * verdict's remaining 100 TB-posture gap). 65536 training rows keep
    * every sub-64× tier EXACTLY as before (the cut is a no-op below
    * 65536 rows) and bound the trainer at sample × cells forever. */
  val TrainSampleTarget: Long = 65536L

  /** Deterministic Lloyd's k-means over a `(vec_id, v)` frame — the
    * trainer v06's label-centroid stand-in lacks, making IVF possible on
    * UNLABELED data (the normal case). Every step is reproducible:
    *
    *  - seeding: the `k` vectors with the smallest Knuth multiplicative
    *    hash of `vec_id` (p02's sign/overflow-safe fold — data-independent
    *    of insert order, cross-engine computable, ties by vec_id);
    *  - assignment: argmax fixed-point cosine against the broadcast model
    *    in ascending-cell order under SQL NaN semantics ([[sqlGt]]) — ties
    *    keep the smallest cell, zero-norm vectors land in cell 0;
    *  - update: per-(cell, dim) exact DECIMAL(38,12) mean (v03's shape —
    *    order-independent), collected once per round (the model is
    *    O(cells × dims) VALUES, the KMeansModel shape — never the data);
    *    a cell that loses all members keeps its previous centroid;
    *  - a FIXED iteration count, no convergence RNG.
    *
    * `sampleTarget > 0` trains on the deterministic Knuth-hash sample
    * `hash(vec_id) < trainSampleCut(n, sampleTarget)` instead of the
    * full corpus — the r15 scaladoc's "sample the trainer" guidance as
    * code: seeding and every Lloyd round see only ~`sampleTarget` rows,
    * so per-round cost is sample × cells however big `n` grows. The cut
    * is a NO-OP when `n ≤ sampleTarget` (existing corpora/hashes
    * unchanged), and because the sample is a hash PREFIX (everything
    * below the cut), the k smallest hashes — the seeds — are the same
    * rows the unsampled trainer picks whenever the sample holds ≥ k
    * rows. `knownN` skips the count when the caller already has it.
    *
    * Scale: each round is one narrow map pass (argmax against a broadcast
    * array) plus one partial-aggregated groupBy of (cell, dim) — no
    * shuffle of vectors by cell, no driver materialization of data. At
    * 100 TB pass `sampleTarget` (the derived-cells families default to
    * [[TrainSampleTarget]]) and raise `k` toward √n — past
    * [[TwoLevelCellCap]] cells use [[cellModel]]'s coarse→fine form.
    */
  def kMeansModel(vectors: DataFrame, k: Int, iters: Int = 3,
      sampleTarget: Long = 0L, knownN: Long = -1L): Array[(Long, Array[Double], Double)] = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val session = vectors.sparkSession
    import session.implicits._
    val src = vectors.select(col("vec_id").cast("long"), col("v"))
    if (sampleTarget > 0L) {
      // SAMPLED route (r19): the sample is bounded at ~sampleTarget rows
      // BY CONTRACT (the hash-prefix cut), i.e. model-building input, not
      // data — collect it once and run the identical Lloyd fold locally
      // ([[lloydLocal]]). The distributed form paid 1 + iters tiny jobs
      // whose shuffle/collect round-trips dominate at EVERY corpus size
      // (each round's work is sample × cells flops); one collect replaces
      // them all. Results are bit-identical — seeding order, argmax
      // arithmetic and the DECIMAL(38,12) mean are the same code or an
      // exact replica (spec-gated against the distributed form; the
      // sf0.01 oracle gate re-verifies every consumer).
      val n = if (knownN >= 0L) knownN else src.select(col("vec_id")).count()
      val sample = src.filter(graft.QueryHelpers.knuthHash(col("vec_id")) <
        lit(trainSampleCut(n, sampleTarget))).as[(Long, Array[Double])].collect()
      return lloydLocal(sample, k, iters)
    }
    val base = src.as[(Long, Array[Double])]
    val seeds = base.toDF("vec_id", "v")
      .withColumn("_r", graft.QueryHelpers.knuthHash($"vec_id"))
      .orderBy($"_r", $"vec_id").limit(k)
      .select($"vec_id", $"v").as[(Long, Array[Double])].collect()
    var model = seeds.zipWithIndex.map { case ((_, v), i) => (i.toLong, v, fpNorm(v)) }
    var round = 0
    while (round < iters) {
      // One treeAggregate per round (r20): the former form posexploded
      // every vector into dims rows and pushed them through a decimal
      // HashAggregate + exchange + a second collect stage — per-row
      // explosion and shuffle machinery for an aggregate whose true
      // state is model-sized. The fold below accumulates the identical
      // per-(cell, pos) DECIMAL(38,12) sums and counts in primitive
      // loops ([[lloydFold]] — the machinery [[lloydLocal]] already
      // proves bit-identical to the SQL decimal mean, and the sampled-
      // trainer spec crosses this boundary), merges partials with exact
      // order-independent decimal adds, and ships ONE model-sized
      // accumulator per partition; depth 2 keeps the final merge off a
      // single node when the partition count is cluster-sized.
      val bc = session.sparkContext.broadcast(model)
      val merged = base.rdd.treeAggregate(new LloydAcc())(
        (acc, row) => lloydFold(acc, argmaxCell(bc.value, row._2, fpNorm(row._2)), row._2),
        (a, b) => lloydMerge(a, b),
        depth = 2)
      model = lloydMeans(model, merged)
      bc.destroy()
      round += 1
    }
    model
  }

  /** Exact scala replica of [[graft.QueryHelpers.knuthHash]]'s column
    * form: `pmod(id, 1048573) * 2654435761 % 1000000007`, all i64 (the
    * product is < 2.8e15 — no overflow). One constant source with the
    * column form (spec-gated equal) so the local trainer's seed order
    * cannot drift from the distributed one. */
  private[operators] def knuthHashLong(id: Long): Long = {
    val m = 1048573L
    ((id % m + m) % m) * 2654435761L % 1000000007L
  }

  /** The distributed trainer's per-(cell, pos) mean, replicated exactly:
    * Spark computes `sum(cast(x as DECIMAL(38,12))).cast(double) /
    * count`. Cast double→decimal(38,12) is `BigDecimal.valueOf(x)`
    * (shortest decimal form) rounded HALF_UP to scale 12; the sum is
    * exact decimal addition (order-independent — what makes the chunked
    * parallel fold below deterministic); decimal→double is
    * `BigDecimal.doubleValue` (correctly rounded); the divide is IEEE
    * double division. */
  private def sqlDecimalMean(sum: java.math.BigDecimal, count: Long): Double =
    sum.doubleValue() / count.toDouble

  private def toDecimal12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)

  /** The Lloyd round's per-(cell, position) exact accumulator — ONE
    * implementation shared by the driver-local chunk folds
    * ([[lloydLocal]], [[twoLevelLocal]]'s fine rounds) and the
    * distributed treeAggregate round ([[kMeansModel]], r20), so the
    * trainer routes cannot drift:
    * exact DECIMAL(38,12) sums (order-independent — what makes any
    * chunking/partitioning deterministic) with per-position counts
    * (ragged rows contribute only to the positions they carry, exactly
    * like the former posexplode + count(*) per (cell, pos)). */
  private type LloydAcc =
    java.util.HashMap[Long, (Array[java.math.BigDecimal], Array[Long])]

  private def lloydFold(acc: LloydAcc, cell: Long, v: Array[Double]): LloydAcc = {
    var st = acc.get(cell)
    if (st == null) {
      st = (Array.fill(v.length)(java.math.BigDecimal.ZERO), new Array[Long](v.length))
      acc.put(cell, st)
    } else if (st._1.length < v.length) {
      st = (st._1.padTo(v.length, java.math.BigDecimal.ZERO),
        st._2.padTo(v.length, 0L))
      acc.put(cell, st)
    }
    var p = 0
    while (p < v.length) {
      st._1(p) = st._1(p).add(toDecimal12(v(p)))
      st._2(p) += 1L
      p += 1
    }
    acc
  }

  /** Merge `b` into `a` (exact decimal adds; returns `a`). */
  private def lloydMerge(a: LloydAcc, b: LloydAcc): LloydAcc = {
    b.forEach { (cell, st) =>
      val cur = a.get(cell)
      if (cur == null) a.put(cell, st)
      else {
        val len = math.max(cur._1.length, st._1.length)
        val sums = new Array[java.math.BigDecimal](len)
        val cnts = new Array[Long](len)
        var p = 0
        while (p < len) {
          val x = if (p < cur._1.length) cur._1(p) else java.math.BigDecimal.ZERO
          val y = if (p < st._1.length) st._1(p) else java.math.BigDecimal.ZERO
          sums(p) = x.add(y)
          cnts(p) = (if (p < cur._2.length) cur._2(p) else 0L) +
            (if (p < st._2.length) st._2(p) else 0L)
          p += 1
        }
        a.put(cell, (sums, cnts))
      }
    }
    a
  }

  /** The round's model update from a merged accumulator: per-cell
    * DECIMAL(38,12) HALF_UP mean over the positions that received rows
    * ([[sqlDecimalMean]]); an emptied cell keeps its old centroid. */
  private def lloydMeans(model: Array[(Long, Array[Double], Double)],
      merged: LloydAcc): Array[(Long, Array[Double], Double)] =
    model.map { case (cell, cv, cn) =>
      val st = merged.get(cell)
      if (st == null) (cell, cv, cn)
      else {
        val m = st._1.indices.filter(st._2(_) > 0L)
          .map(p => sqlDecimalMean(st._1(p), st._2(p))).toArray
        (cell, m, fpNorm(m))
      }
    }

  /** Driver-local [[kMeansModel]] over an already-collected sample —
    * the SAMPLED trainer route. Bit-identical to the distributed form:
    * same seed order (knuth hash asc, vec_id asc, take k), same
    * [[CosineKernels.argmaxCell]] assignment, same DECIMAL(38,12) HALF_UP mean
    * ([[sqlDecimalMean]]), same keep-old-centroid rule for emptied
    * cells. The fold is chunk-parallel over [[fork]] threads; exact
    * decimal addition and per-row argmax make the result independent of
    * chunking. Cost: iters × sample × k cosines on local cores — the
    * same flops the executors did, minus 1 + iters job round-trips. */
  private[operators] def lloydLocal(sample: Array[(Long, Array[Double])], k: Int,
      iters: Int): Array[(Long, Array[Double], Double)] = {
    val seeds = sample.sortBy { case (id, _) => (knuthHashLong(id), id) }.take(k)
    var model = seeds.zipWithIndex.map { case ((_, v), i) => (i.toLong, v, fpNorm(v)) }
    if (model.isEmpty) return model
    val nrms = sample.map(r => fpNorm(r._2))
    val nThreads = math.max(1, math.min(Runtime.getRuntime.availableProcessors(), 16))
    val chunk = math.max(1, (sample.length + nThreads - 1) / nThreads)
    var round = 0
    while (round < iters) {
      val cs = model
      // per-chunk partial state: (cell, pos) -> (exact decimal sum, count)
      // shared fold/merge/update machinery with the distributed round
      // ([[lloydFold]]/[[lloydMerge]]/[[lloydMeans]]) — ragged rows grow
      // the accumulator to the longest seen (positions beyond a row's
      // length receive no contribution, exactly like posexplode)
      val parts = sample.indices.by(chunk).map { lo =>
        val hi = math.min(lo + chunk, sample.length)
        fork(s"graft-lloyd-$lo") {
          val acc = new LloydAcc()
          var r = lo
          while (r < hi) {
            val v = sample(r)._2
            lloydFold(acc, argmaxCell(cs, v, nrms(r)), v)
            r += 1
          }
          acc
        }
      }.map(_())
      val merged = parts.foldLeft(new LloydAcc())(lloydMerge)
      model = lloydMeans(model, merged)
      round += 1
    }
    model
  }

  /** Cell count above which [[cellModel]] switches from the flat
    * [[kMeansModel]] to the coarse→fine two-level form: flat assignment
    * is rows × cells flops and the broadcast model is cells × dims
    * doubles, both fine to ~4096 cells (the r15 cap) and degrading
    * linearly past it; two-level splits cells into ~√cells coarse ×
    * ~√cells fine so assignment is rows × 2√cells — at the 100 TB
    * posture (≥10⁸ vectors, ≥48k derived cells) that is the difference
    * between 48k and 440 flops per row. */
  val TwoLevelCellCap: Int = 4096

  /** A trained cell assignment model: flat (fine empty — exactly
    * [[kMeansModel]]'s array) or two-level (coarse centroids plus
    * per-coarse fine centroids carrying GLOBAL cell ids
    * `coarse · fineStride + fineIdx`, ascending). [[assign]] is the one
    * assignment rule every derived-cells consumer (d07/p09/m10) shares:
    * coarse argmax, then fine argmax within the winning coarse cell's
    * centroids; a coarse cell that trained no fine centroids (no sample
    * row landed there) assigns `coarse · fineStride` — deterministic,
    * replayed by the v22 oracle's COALESCE. */
  final class CellModel(
      val coarse: Array[(Long, Array[Double], Double)],
      val fine: Map[Long, Array[(Long, Array[Double], Double)]],
      val fineStride: Long) extends Serializable {
    def isEmpty: Boolean = coarse.isEmpty
    /** Total distinct cell-id space (for occupancy math in specs). */
    def cellSpace: Long =
      if (fineStride <= 0L) coarse.length.toLong else coarse.length * fineStride
    def assign(v: Array[Double], nrm: Double): Long = {
      val cc = argmaxCell(coarse, v, nrm)
      if (fineStride <= 0L) cc
      else fine.get(cc) match {
        case Some(fcs) if fcs.nonEmpty => argmaxCell(fcs, v, nrm)
        case _ => cc * fineStride
      }
    }
    /** The row's `probes` nearest cells under the trainer's (cosine
      * desc, cell asc) ordering — multi-probe for bucketed consumers
      * (m10): a pair split by the argmax BOUNDARY is recovered whenever
      * the two probe sets intersect, [[ivfTopK]]'s query-side economics
      * applied to candidate generation. `probe(v, n, 1)` equals
      * `assign(v, n)`. Two-level models probe the top-`probes` FINE
      * cells within the winning coarse cell (the fine boundary is where
      * near-identical rows split; a residual coarse-boundary split is
      * part of the two-level approximation, disclosed in v22's doc). */
    def probe(v: Array[Double], nrm: Double, probes: Int): Array[Long] = {
      require(probes > 0, s"probes must be positive, got $probes")
      if (fineStride <= 0L) topCells(coarse, v, nrm, probes)
      else {
        val cc = argmaxCell(coarse, v, nrm)
        fine.get(cc) match {
          case Some(fcs) if fcs.nonEmpty => topCells(fcs, v, nrm, probes)
          case _ => Array(cc * fineStride)
        }
      }
    }
    /** Coarse-SPANNING probe: the `probes` budget split as evenly as
      * possible over the row's top-`coarseSpan` coarse cells (earlier
      * coarse ranks get the remainder — `coarseSpan = 2, probes = 3`
      * probes 2 fine cells of the nearest coarse cell and 1 of the
      * second), each coarse cell contributing the prefix of its OWN
      * fine ranking; an empty-fine coarse cell contributes its single
      * fallback cell (`cc · fineStride`, [[assign]]'s contract).
      * `coarseSpan = 1` is byte-identical to [[probe]]. This is the
      * knob that lifts the two-level probe's measured recall ceiling:
      * fine-only probing cannot bridge a COARSE argmax boundary, so
      * two-level recall saturates at p = 2 (~0.46-0.53 of true pairs at
      * the derived sf1 shapes, PROBES_r19) while flat multi-probe keeps
      * climbing; spanning probes the neighbor coarse cell's fine
      * structure instead. Flat models ignore `coarseSpan` (every cell
      * is already globally ranked). */
    def probe(v: Array[Double], nrm: Double, probes: Int,
        coarseSpan: Int): Array[Long] = {
      require(coarseSpan > 0, s"coarseSpan must be positive, got $coarseSpan")
      if (coarseSpan <= 1 || fineStride <= 0L) probe(v, nrm, probes)
      else {
        require(probes > 0, s"probes must be positive, got $probes")
        val span = math.min(coarseSpan, probes)
        val ccs = topCells(coarse, v, nrm, span)
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var i = 0
        while (i < ccs.length) {
          val quota = probes / span + (if (i < probes % span) 1 else 0)
          if (quota > 0) fine.get(ccs(i)) match {
            case Some(fcs) if fcs.nonEmpty => out ++= topCells(fcs, v, nrm, quota)
            case _ => out += ccs(i) * fineStride
          }
          i += 1
        }
        out.toArray
      }
    }
  }

  /** Coarse→fine two-level trainer — the designed answer past
    * [[TwoLevelCellCap]] cells (r15 verdict #1): train `coarseCells`
    * centroids with the sampled [[kMeansModel]], assign the SAMPLE to
    * its final coarse cells, then train `finePer` centroids per coarse
    * cell on that sample partition (seeds = the `finePer` smallest
    * Knuth hashes within each coarse cell; Lloyd update = exact
    * per-(cell, dim) DECIMAL(38,12) mean; empty cells keep their
    * previous centroid — the flat trainer's rules, partitioned). Every
    * step is a pure function of `vec_id` hashes and fixed-point
    * arithmetic, so the v22 DuckDB oracle replays the whole composition.
    *
    * Scale shape: the corpus is scanned ONCE to build the hash-prefix
    * sample (bounded at ~`sampleTarget` rows, localCheckpointed so the
    * coarse trainer, the seed rank and each fine round re-read the
    * small frame, not the corpus); both models are broadcast
    * (coarse + fine ≈ total-cells × dims — the same size the flat
    * model would be); full-corpus assignment is one map pass at
    * coarse + fine ≈ 2√cells flops per row. Nothing shuffles vectors
    * by cell at any step. */
  def twoLevelModel(vectors: DataFrame, coarseCells: Int, finePer: Int,
      iters: Int = 3, sampleTarget: Long = TrainSampleTarget,
      knownN: Long = -1L): CellModel = {
    require(coarseCells > 0, s"coarseCells must be positive, got $coarseCells")
    require(finePer > 0, s"finePer must be positive, got $finePer")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val session = vectors.sparkSession
    import session.implicits._
    val src = vectors.select(col("vec_id").cast("long"), col("v"))
    if (sampleTarget > 0L) {
      // SAMPLED route (r19): one collect of the contract-bounded sample,
      // then coarse + fine Lloyd run locally ([[lloydLocal]] /
      // [[twoLevelLocal]]) — the kMeansModel rationale; the distributed
      // form below paid ~2 + 2·(1 + iters) tiny jobs per training.
      val n = if (knownN >= 0L) knownN else src.select(col("vec_id")).count()
      val sample = src.filter(graft.QueryHelpers.knuthHash(col("vec_id")) <
        lit(trainSampleCut(n, sampleTarget))).as[(Long, Array[Double])].collect()
      return twoLevelLocal(sample, coarseCells, finePer, iters)
    }
    // the sample feeds the coarse trainer (1 + iters scans), the seed
    // rank and each fine round — checkpoint the bounded frame so none
    // of those re-scan the corpus-sized input
    val samp = src.localCheckpoint()
    try {
      val coarse = kMeansModel(samp, coarseCells, iters)
      if (coarse.isEmpty)
        return new CellModel(coarse, Map.empty, finePer.toLong)
      val bcC = session.sparkContext.broadcast(coarse)
      val sampAssigned = samp.as[(Long, Array[Double])].mapPartitions { rows =>
        val cs = bcC.value
        rows.map { case (id, v) =>
          val nrm = fpNorm(v)
          (id, argmaxCell(cs, v, nrm), v, nrm)
        }
      }.toDF("vec_id", "cc", "v", "nrm").localCheckpoint()
      try {
        val wseed = Window.partitionBy($"cc").orderBy($"h".asc, $"vec_id".asc)
        // fine seeds are model-sized (≤ coarse × finePer rows) — the
        // only collects here are the model, never the data
        val seedRows = sampAssigned
          .withColumn("h", graft.QueryHelpers.knuthHash($"vec_id"))
          .withColumn("rn", row_number().over(wseed))
          .filter($"rn" <= finePer)
          .select($"cc", ($"rn" - 1).cast("long").as("fi"), $"v")
          .as[(Long, Long, Array[Double])].collect()
        val stride = finePer.toLong
        var fine: Map[Long, Array[(Long, Array[Double], Double)]] =
          seedRows.groupBy(_._1).map { case (cc, rows) =>
            cc -> rows.sortBy(_._2).map { case (_, fi, v) =>
              (cc * stride + fi, v, fpNorm(v))
            }
          }
        var round = 0
        while (round < iters) {
          val bcF = session.sparkContext.broadcast(fine)
          val means = sampAssigned.as[(Long, Long, Array[Double], Double)]
            .mapPartitions { rows =>
              val fm = bcF.value
              rows.flatMap { case (_, cc, v, nrm) =>
                fm.get(cc) match {
                  case Some(fcs) if fcs.nonEmpty =>
                    Iterator.single((argmaxCell(fcs, v, nrm), v))
                  case _ => Iterator.empty
                }
              }
            }.toDF("cell", "v")
            .select($"cell", posexplode($"v").as(Seq("pos", "x")))
            .groupBy($"cell", $"pos")
            .agg((sum($"x".cast(DecimalType38)).cast("double") / count(lit(1))).as("m"))
            // model-sized: driver-side array assembly (kMeansModel's
            // r19 treatment — one exchange per round, not two)
            .as[(Long, Int, Double)].collect()
            .groupBy(_._1).map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3) }
          fine = fine.map { case (cc, fcs) =>
            cc -> fcs.map { case (g, cv, cn) =>
              means.get(g).map(m => (g, m, fpNorm(m))).getOrElse((g, cv, cn))
            }
          }
          bcF.destroy()
          round += 1
        }
        new CellModel(coarse, fine, stride)
      } finally sampAssigned.unpersist(false)
    } finally samp.unpersist(false)
  }

  /** Driver-local [[twoLevelModel]] over an already-collected sample —
    * bit-identical replay of the distributed form: coarse =
    * [[lloydLocal]]; assignment = the same [[CosineKernels.argmaxCell]]; fine seeds =
    * per-coarse (knuth hash asc, vec_id asc) rank ≤ finePer (the
    * distributed window's exact order); fine rounds = the same
    * argmax-within-coarse + DECIMAL(38,12) mean fold, rows whose coarse
    * cell trained no seeds contributing nothing (the flatMap's
    * Iterator.empty branch). */
  private[operators] def twoLevelLocal(sample: Array[(Long, Array[Double])],
      coarseCells: Int, finePer: Int, iters: Int): CellModel = {
    val stride = finePer.toLong
    val coarse = lloydLocal(sample, coarseCells, iters)
    if (coarse.isEmpty) return new CellModel(coarse, Map.empty, stride)
    val nrms = sample.map(r => fpNorm(r._2))
    val ccOf = sample.indices.map(i => argmaxCell(coarse, sample(i)._2, nrms(i))).toArray
    var fine: Map[Long, Array[(Long, Array[Double], Double)]] =
      sample.indices.groupBy(ccOf(_)).map { case (cc, idxs) =>
        cc -> idxs.sortBy(i => (knuthHashLong(sample(i)._1), sample(i)._1))
          .take(finePer).zipWithIndex.map { case (i, fi) =>
            (cc * stride + fi, sample(i)._2, fpNorm(sample(i)._2))
          }.toArray
      }
    var round = 0
    while (round < iters) {
      val fm = fine
      // lloydLocal's chunk-parallel exact fold, keyed by the GLOBAL fine
      // cell id
      val nThreads = math.max(1, math.min(Runtime.getRuntime.availableProcessors(), 16))
      val chunk = math.max(1, (sample.length + nThreads - 1) / nThreads)
      val parts = sample.indices.by(chunk).map { lo =>
        val hi = math.min(lo + chunk, sample.length)
        fork(s"graft-fine-$lo") {
          val acc = new LloydAcc()
          var r = lo
          while (r < hi) {
            fm.get(ccOf(r)) match {
              case Some(fcs) if fcs.nonEmpty =>
                lloydFold(acc, argmaxCell(fcs, sample(r)._2, nrms(r)), sample(r)._2)
              case _ => ()
            }
            r += 1
          }
          acc
        }
      }.map(_())
      val merged = parts.foldLeft(new LloydAcc())(lloydMerge)
      fine = fine.map { case (cc, fcs) => cc -> lloydMeans(fcs, merged) }
      round += 1
    }
    new CellModel(coarse, fine, stride)
  }

  /** The one router every derived-cells consumer calls: flat sampled
    * [[kMeansModel]] up to [[TwoLevelCellCap]] cells (every measured
    * tier — results byte-identical to the flat trainer), the
    * [[twoLevelModel]] coarse→fine split above it (`coarse = ⌈√cells⌉`,
    * `finePer = ⌈cells/coarse⌉`, so the id space covers ≥ `cells` and
    * per-level argmax stays ~√cells). This is what lifts r15's 4096-cell
    * cap: [[kMeansCells]] now derives uncapped and occupancy stays at
    * the target forever. */
  def cellModel(vectors: DataFrame, cells: Int, iters: Int = 3,
      sampleTarget: Long = TrainSampleTarget, knownN: Long = -1L): CellModel = {
    require(cells > 0, s"cells must be positive, got $cells")
    if (cells <= TwoLevelCellCap)
      new CellModel(kMeansModel(vectors, cells, iters, sampleTarget, knownN),
        Map.empty, 0L)
    else {
      val kc = math.ceil(math.sqrt(cells.toDouble)).toInt
      val kf = (cells + kc - 1) / kc
      twoLevelModel(vectors, kc, kf, iters, sampleTarget, knownN)
    }
  }

  /** One map pass assigning every `(vec_id, v)` row its [[CellModel]]
    * cell — the broadcast-argmax assignment d07/p09/m10 inline, exposed
    * so v22 (and any external consumer of a trained model) serves the
    * assignment directly. No shuffle: the model rides the broadcast,
    * rows never leave their partitions. */
  def assignCells(vectors: DataFrame, model: CellModel): DataFrame = {
    val session = vectors.sparkSession
    import session.implicits._
    if (model.isEmpty)
      return Seq.empty[(Long, Long)].toDF("vec_id", "cell")
    val bc = session.sparkContext.broadcast(model)
    vectors.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val m = bc.value
        rows.map { case (id, v) => (id, m.assign(v, fpNorm(v))) }
      }.toDF("vec_id", "cell")
  }

  /** IVF ANN over k-means cells for every vector: approximate top-`k`
    * cosine neighbors, probing each query's `probes` nearest cells.
    * Corpus rows live in exactly ONE cell (their nearest) and only query
    * rows replicate ×probes, so a (query, candidate) pair is generated at
    * most once — [[annTopK]]'s economics with data-ADAPTED cells instead
    * of data-independent sign planes (better recall per probed fraction
    * on clustered data; needs the training pass). Assignment is a single
    * broadcast-argmax map; the quadratic work happens only within cells.
    * Recall-gated in EmbeddingsSpec (approximate by design, like
    * annTopK); the tagged frame is CacheRegistry-owned. Its plan is
    * rooted on a kernel closure, so repeat calls can never plan-match a
    * prior entry — the registry's same-name eviction replaces the old
    * cache instead of accumulating one full corpus copy per call.
    */
  def ivfTopK(vectors: DataFrame, k: Int, cells: Int = 8, probes: Int = 2,
      iters: Int = 3, queryPred: Long => Boolean = _ => true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(probes > 0 && probes <= cells, s"probes must be in 1..$cells, got $probes")
    val session = vectors.sparkSession
    import session.implicits._
    val model = kMeansModel(vectors, cells, iters)
    // an empty corpus trains an empty model — return a typed empty frame
    // instead of letting the per-row probe (pc(0)) throw downstream
    if (model.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rnk", "neighbor_id", "cosine")
    val bc = session.sparkContext.broadcast(model)
    val P = probes
    val base = vectors.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
    val tagged = graft.CacheRegistry.retain(s"ivf.tagged.c$cells.p$P",
      base.mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          val nrm = fpNorm(v)
          (topCells(cs, v, nrm, P), id, v, nrm)
        }
      }.toDF())
      .as[(Array[Long], Long, Array[Double], Double)]
    val corpus = tagged.map { case (pc, id, v, n) => (pc(0), id, v, n) }
    // the query restriction prunes BEFORE the per-cell pair generation:
    // a panel-sized query set does panel×cell work, not corpus×cell —
    // serving q queries is O(q·probes·cellsize) however big the corpus
    // (the default keeps the all-queries ANN-join form)
    val qp = queryPred
    val queries = tagged.filter(t => qp(t._2))
      .flatMap { case (pc, id, v, n) => pc.iterator.map(c => (c, id, v, n)) }
    probeTopK(queries, corpus, k)
  }

  /** SemDeDup-shaped semantic dedup over a `(vec_id, v)` frame: cluster
    * with the deterministic [[kMeansModel]], then prune embedding
    * near-duplicates ONLY within each cell — the standard third leg of
    * LLM-corpus dedup after exact (d01) and lexical near-dup (d02–d05),
    * per the public SemDeDup recipe (cluster the embedding space, keep
    * one representative per within-cluster epsilon-ball). The keep rule
    * is deterministic pairwise keep-first: a vector is dropped when a
    * SMALLER-id vector in the SAME cell has fixed-point cosine ≥
    * `threshold` (no RNG, SQL-expressible, so the d07 oracle replays it
    * exactly on top of v09's trainer replay).
    *
    * Scale shape: training is [[kMeansModel]] (broadcast model, no
    * vector shuffle); assignment is one map pass against the broadcast
    * model; candidate generation is v04's block self-join kernel
    * ([[CosineKernels.blockPairs]]) keyed by (cell, block-pair) —
    * quadratic work happens within
    * cells only, never across the corpus, and each cell further splits
    * into B(B+1)/2 block tasks so per-task memory stays two blocks of
    * ONE cell. Cross-cell pairs are structurally impossible (the group
    * key carries the cell id; pinned in EmbeddingsSpec).
    *
    * `cells <= 0` (the default) derives the count from the corpus via
    * [[kMeansCells]] — average cell occupancy pinned at 2048, so the
    * within-cell quadratic stays ~linear in n as the corpus grows (a
    * FIXED count fattens every cell linearly and the pair kernel
    * quadratically: measured 5.8 s at 60k → 20.0 s at 128k vectors
    * under cells=8). The derivation is UNCAPPED since r16: past
    * [[TwoLevelCellCap]] cells [[cellModel]] routes to the coarse→fine
    * two-level trainer, and the trainer itself runs on the
    * deterministic `sampleTarget` hash-prefix sample (a no-op below
    * [[TrainSampleTarget]] rows — every sub-64× tier is byte-identical
    * to the r15 flat form), so neither the trainer argmax nor cell
    * occupancy re-quadratifies at ANY n. The count() that feeds the
    * derivation also feeds the sample cut. Pass an explicit positive
    * `cells` only to pin a shape (tests, cross-query consistency at a
    * known scale). Returns survivors as (vec_id, cell).
    *
    * `probes = 0` (the default) resolves via [[autoProbes]]: flat models
    * keep the classic single-assignment prune (byte-identical to every
    * pre-knob round — all derived counts up to [[TwoLevelCellCap]], i.e.
    * every DuckDB-holdable corpus), while two-level-routed models run
    * [[semanticDedupWith]] at `probes = 2` so the coarse/fine boundary's
    * measured 12–23% relative pair-recall cost (PROBES_r17) is bought
    * back by top-2 fine probing (~2× split-pair recall, v23's measured
    * knob) exactly where that cost exists. Explicit `probes >= 1`
    * overrides (1 = classic prune on any model — the opt-out). */
  def semanticDedup(vectors: DataFrame, cells: Int = 0, iters: Int = 3,
      threshold: Double = 0.45, blocks: Int = 4,
      sampleTarget: Long = TrainSampleTarget, probes: Int = 0): DataFrame = {
    // cheap argument gates BEFORE the full-corpus count and the trainer:
    // an invalid blocks/probes must fail in microseconds, not after the
    // expensive model fit (r17 advice)
    require(blocks > 0, s"blocks must be positive, got $blocks")
    require(probes >= 0, s"probes must be >= 0 (0 = auto), got $probes")
    val session = vectors.sparkSession
    import session.implicits._
    val nAll = vectors.select(col("vec_id")).count()
    val k = if (cells > 0) cells else kMeansCells(nAll)
    val model = cellModel(vectors, k, iters, sampleTarget, nAll)
    if (model.isEmpty)
      return Seq.empty[(Long, Long)].toDF("vec_id", "cell")
    // AUTO (probes = 0) on a two-level route also SPANS the top-2 coarse
    // cells (r18 verdict #1, measured r19): fine-only probing saturates
    // at p = 2 (the coarse argmax boundary is never bridged — recall
    // ceiling 0.46/0.36 of true pairs at the sf1/sf3 derived shapes no
    // matter how many fine cells are probed), while the SAME p = 2
    // budget split 1 + 1 over the two nearest coarse cells reads
    // 0.59/0.39 and keeps climbing with p (PROBES_r19 semcurve).
    // Explicit probes >= 1 keeps the classic fine-only contract
    // (span = 1) — the documented opt-out, and v23's pinned semantics.
    val span = if (probes == 0 && model.fineStride > 0L) 2 else 1
    semanticDedupWith(vectors, model, threshold, blocks,
      probes = autoProbes(model, probes), cacheTag = s"c$k.s$sampleTarget",
      coarseSpan = span)
  }

  /** Probe-count resolution for the production semantic-dedup paths
    * (d07's serving form, [[graft.pipeline.Curation.curateSemantic]]):
    * an explicit `probes >= 1` wins; `0` means AUTO — 2 on a two-level
    * model (where the fine argmax boundary costs measured pair recall
    * and top-2 probing recovers it — PROBES_r17/r18), 1 on a flat model
    * (no fine boundary exists; single assignment is already the exact
    * within-cell contract, and probing flat cells would change d07's
    * pinned hashes for no recall reason at DuckDB-holdable scales). */
  private[graft] def autoProbes(model: CellModel, probes: Int): Int =
    if (probes > 0) probes
    else if (model.fineStride > 0L) 2
    else 1

  /** [[semanticDedup]]'s core over an already-trained [[CellModel]],
    * with the boundary-recall knob the two-level posture needs:
    * `probes > 1` evaluates each row inside its top-`probes` cells
    * (`CellModel.probe` — m10's multi-probe move applied to SemDeDup),
    * so a near-dup pair split by the argmax boundary is still pruned
    * whenever the two probe sets intersect. The default `probes = 1`
    * is byte-identical to the classic form (`probe(v, n, 1)` ==
    * `assign`, and the tagged stream reuses the cached assignment
    * directly). Survivors keep their PRIMARY (rank-1) cell in the
    * output either way. Measured on the fixture corpora: two-level
    * models lose 12–23% relative pair recall to the coarse/fine
    * boundaries at probes = 1 (PROBES_r17); probes = 2 recovers the
    * fine-boundary share at the cost of ≤ `probes` × the tagged rows
    * (the dropped-id set stays id-bounded — the cross-probe dedup is a
    * distinct over vec_id, never over pairs). */
  def semanticDedupWith(vectors: DataFrame, model: CellModel,
      threshold: Double = 0.45, blocks: Int = 4, probes: Int = 1,
      cacheTag: String = "explicit", coarseSpan: Int = 1): DataFrame = {
    require(blocks > 0, s"blocks must be positive, got $blocks")
    require(probes > 0, s"probes must be positive, got $probes")
    require(coarseSpan > 0, s"coarseSpan must be positive, got $coarseSpan")
    val session = vectors.sparkSession
    import session.implicits._
    if (model.isEmpty)
      return Seq.empty[(Long, Long)].toDF("vec_id", "cell")
    val bc = session.sparkContext.broadcast(model)
    val base = vectors.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
    // same argmax arithmetic and (cosine desc, cell asc) ordering as the
    // trainer's assignment step — so the cells equal v09's `corp` CTE
    val assigned = base.mapPartitions { rows =>
      val m = bc.value
      rows.map { case (id, v) =>
        val nrm = fpNorm(v)
        (id, m.assign(v, nrm), v, nrm)
      }
    }
    // the assignment pass (full-corpus scan + per-row argmax over the
    // broadcast model) feeds BOTH the pair kernel and the final anti-
    // join: retain it so one action doesn't pay the dominant map-side
    // cost twice (same discipline as annTopK/ivfTopK's tagged frames;
    // kernel-rooted plans never sameResult-match, so the registry keeps
    // exactly one live copy per cell count). The tag deliberately omits
    // `probes`: the assigned frame (vec_id, cell, v, nrm) is
    // probe-INDEPENDENT — multi-probe re-ranks inside the flatMap below —
    // so the registry is BOUNDED at one live entry across probe settings
    // (a later probes=2 call SUPERSEDES the probes=1 entry rather than
    // pinning a second identical copy). Note this bounds memory, not
    // recompute: retain only reuses on sameResult, and kernel-rooted
    // plans never sameResult-match across calls, so the superseding call
    // recomputes the assignment — cross-call reuse would need the caller
    // to hold the returned frame (r18 advice)
    val assignedDf = graft.CacheRegistry.retain(s"semdedup.assigned.$cacheTag",
      assigned.toDF("vec_id", "cell", "v", "nrm"))
    val assignedDs = assignedDf.as[(Long, Long, Array[Double], Double)]
    val P = probes
    val S = coarseSpan
    // probes = 1 rides the cached assignment (cell) untouched; the
    // multi-probe path re-ranks against the broadcast model once per row
    // — the same flops the assignment pass paid
    val rows = assignedDs.flatMap { case (id, cell, v, nrm) =>
      val cs = if (P == 1) Iterator.single(cell) else bc.value.probe(v, nrm, P, S).iterator
      cs.map(c => (c, id, v, nrm))
    }
    // keep-first: the larger id of a qualifying pair is dropped
    val dropped = blockPairs(rows, blocks, threshold,
      () => scala.collection.mutable.HashSet.empty[Long])((_, hi, _) => hi)
      .toDF("vec_id").distinct()
    assignedDf
      .join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** p09: cluster-balanced corpus sampling — the topic-balance
    * downsampling step a pretraining mix runs after dedup: train
    * [[kMeansModel]]'s deterministic cells on the embeddings, then keep
    * AT MOST a fixed per-cell cap of `ceil(ceil(n/keepDiv)/cells)` vectors
    * per cell, so over-represented topics are cut to the cap while rare
    * cells survive whole (the same motivation as cluster-proportional
    * mixing in data-curation pipelines; composes with p03's
    * quality-weighted mix, which balances SOURCES, not semantics).
    * Membership within a cell is p05's Knuth multiplicative-hash rank
    * (pure function of vec_id — re-runs over the same corpus reproduce
    * the sample exactly; a Bernoulli sample guarantees neither the
    * per-cell count nor replayability).
    *
    * Scale shape: assignment is ONE broadcast-argmax map pass (model is
    * `cells` rows — no shuffle); the cell population and the rank share
    * ONE exchange keyed by `cell` (two Window ops over the same
    * partitioning reuse the exchange). Cells are model-bounded (`cells`
    * partitions), so for corpora where single cells exceed a partition
    * sort, p01's hash-shard + offset two-phase rank is the documented
    * path — same note as p05's strata. Cap arithmetic is pure integer
    * (ceil-div twice) so the DuckDB oracle derives the IDENTICAL cap
    * from its own COUNT(*). */
  def clusterBalancedSample(vectors: DataFrame, cells: Int = 0, iters: Int = 3,
      keepDiv: Long = 2L, sampleTarget: Long = TrainSampleTarget): DataFrame = {
    require(keepDiv > 0, s"keepDiv must be positive, got $keepDiv")
    val session = vectors.sparkSession
    import session.implicits._
    // `cells <= 0` derives the count from the corpus ([[kMeansCells]],
    // d07's treatment but with a PARTITION-SIZED occupancy target of
    // 65536): p09's per-cell work is a linear window rank, not d07's
    // quadratic pair kernel, so the only thing the cell count must
    // bound is the per-cell SORT (8 cells = 1/8 of the corpus on one
    // window partition however big it grows — the bound this operator's
    // scaladoc hedged with p01's two-phase fallback). 65536-row cells
    // keep every bench tier at the floor of 8 and start splitting cells
    // exactly when they outgrow a comfortable partition sort; the
    // trainer runs on the `sampleTarget` hash-prefix sample (no-op at
    // n ≤ 65536), so its per-round argmax is sample · cells, not
    // n · cells — r15's "trainer-cost inflation" caveat dissolved
    val nPre = vectors.select(col("vec_id")).count()
    val k = if (cells > 0) cells else kMeansCells(nPre, targetCell = 65536L)
    val model = cellModel(vectors, k, iters, sampleTarget, nPre)
    if (model.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)].toDF("cell", "vec_id", "rk", "n_c")
    val bc = session.sparkContext.broadcast(model)
    val base = vectors.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
    // same argmax arithmetic and tie order as the trainer's assignment
    // step — the cells equal v09's `corp` CTE (semanticDedup's contract)
    val assigned = base.mapPartitions { rows =>
      val m = bc.value
      rows.map { case (id, v) =>
        (id, m.assign(v, fpNorm(v)))
      }
    }.toDF("vec_id", "cell")
    // Both divisions take the CEILING (ceil(ceil(n/keepDiv)/cells)) so a
    // nonempty corpus always keeps at least one row per populated cell —
    // a floored n/keepDiv goes to 0 whenever n < keepDiv and the
    // "sample" would silently discard the whole corpus (review catch;
    // the oracle derives the identical double-ceil — and the identical
    // derived cell count — from its COUNT(*))
    val cap = (((nPre + keepDiv - 1) / keepDiv) + k - 1) / k
    val wc = Window.partitionBy($"cell").orderBy($"h".asc, $"vec_id".asc)
    val cw = Window.partitionBy($"cell")
    assigned
      .withColumn("h", graft.QueryHelpers.knuthHash($"vec_id"))
      .withColumn("rk", row_number().over(wc).cast("long"))
      .withColumn("n_c", count(lit(1)).over(cw))
      .where($"rk" <= lit(cap))
      .select($"cell", $"vec_id", $"rk", $"n_c")
  }

  /** Corpus-sized sign-LSH plane count: the smallest `p` in
    * `[minPlanes, maxPlanes]` whose `2^p` buckets hold on average at
    * most `targetBucket` vectors (i.e. `targetBucket * 2^p >= n`),
    * capped at `maxPlanes`. Bucketed kernels are bucket-QUADRATIC, so a
    * fixed plane count silently degrades toward all-pairs as the corpus
    * grows (the 4-plane shape measured n²/16 at 60k vectors); deriving
    * `p` from `n` pins the average bucket population — and therefore the
    * per-vector candidate work — as the corpus scales, making total cost
    * ~linear in `n`. Pure integer arithmetic so a SQL oracle derives the
    * IDENTICAL count from `COUNT(*)` with no float-log rounding hazard
    * (the cross-engine contract: `MIN(i) WHERE (512 << i) >= n OR i =
    * cap` over a generated series). Above the cap (n > targetBucket *
    * 2^maxPlanes) buckets grow again — raise the cap toward the vector
    * dimensionality, or move to the trained-cell families (v09/v18). */
  def lshPlanes(n: Long, minPlanes: Int, maxPlanes: Int,
      targetBucket: Long = 512L): Int = {
    require(minPlanes >= 1 && maxPlanes >= minPlanes && maxPlanes <= 62,
      s"bad plane range: $minPlanes..$maxPlanes")
    require(targetBucket >= 1, s"targetBucket must be positive: $targetBucket")
    var p = minPlanes
    while (p < maxPlanes && (targetBucket << p) < n) p += 1
    p
  }

  /** Corpus-sized k-means cell count — [[lshPlanes]]'s treatment for the
    * TRAINED-cell families: the smallest cell count keeping the average
    * cell occupancy at most `targetCell` (`ceil(n / targetCell)`, clamped
    * to `[minCells, maxCells]`). Within-cell kernels ([[semanticDedup]]'s
    * pair prune) are cell-QUADRATIC, so a fixed cell count silently
    * degrades toward all-pairs as the corpus grows — per-cell population
    * is n/cells, total pair work n²/cells; deriving `cells` from `n`
    * pins occupancy, making total pair work ~`n · targetCell` — linear.
    * Pure integer arithmetic (one ceil-div + clamp) so a SQL oracle
    * derives the IDENTICAL count from its own `COUNT(*)`
    * ([[kMeansCellsSql]]). The floor of 8 preserves the small-corpus
    * shape (≤ `minCells · targetCell` rows train exactly as before).
    * UNCAPPED by default since r16: the r15 cap of 4096 existed to
    * bound the flat trainer's n × cells argmax and let occupancy grow
    * again past ~8.4M vectors; with the trainer sampled
    * ([[TrainSampleTarget]]) and [[cellModel]] routing to the
    * coarse→fine two-level form past [[TwoLevelCellCap]] cells, the
    * derived count can track ⌈n/targetCell⌉ forever. */
  def kMeansCells(n: Long, minCells: Int = 8, maxCells: Int = Int.MaxValue,
      targetCell: Long = 2048L): Int = {
    require(minCells >= 1 && maxCells >= minCells,
      s"bad cell range: $minCells..$maxCells")
    require(targetCell >= 1, s"targetCell must be positive: $targetCell")
    math.min(maxCells.toLong,
      math.max(minCells.toLong, (n + targetCell - 1) / targetCell)).toInt
  }

  /** The SQL fragment of [[kMeansCells]] — a `cellp` CTE deriving the
    * identical cell count from `COUNT(*)` over `baseSelect`, integer
    * arithmetic only (DuckDB `//` is integer floor-div on BIGINT, so
    * `(n + target-1) // target` is the same ceil-div). Splice as the
    * first CTE of a derived-cells oracle; the prolog's seed filter then
    * reads `(SELECT k FROM cellp)`. */
  private[operators] def kMeansCellsSql(minCells: Int, maxCells: Int, targetCell: Long,
      baseSelect: String): String = {
    val clamp =
      if (maxCells == Int.MaxValue)
        s"GREATEST($minCells, (t.n + ${targetCell - 1}) // $targetCell)"
      else
        s"LEAST($maxCells, GREATEST($minCells, (t.n + ${targetCell - 1}) // $targetCell))"
    s"""cellp AS MATERIALIZED (
          SELECT CAST($clamp AS BIGINT) AS k
          FROM (SELECT COUNT(*) AS n FROM ($baseSelect) _cnt) t)"""
  }

  /** The SQL fragment of [[lshPlanes]] — a params CTE deriving the
    * identical plane count from `COUNT(*) over `embeddings``, integer
    * arithmetic only. Splice as the first CTE of a bucketed oracle. */
  private def lshPlanesSql(minPlanes: Int, maxPlanes: Int): String =
    s"""params AS (
          SELECT CAST((SELECT MIN(i) FROM generate_series($minPlanes, $maxPlanes) g(i)
                       WHERE (512::BIGINT << i) >= t.n OR i = $maxPlanes) AS INT) AS p
          FROM (SELECT COUNT(*) AS n FROM embeddings) t)"""

  /** v02's deterministic sign-LSH bucket over `planes` leading
    * coordinates (bit `planes-1-j` = sign of dim `j` — dim 0 is the
    * HIGH bit) as a column expression — the index build and any
    * cross-engine oracle reconstruct it identically. */
  private def signBucketCol(planes: Int): Column =
    (0 until planes).map(j =>
      when(col("v").getItem(j) >= 0.0, lit(1L << (planes - 1 - j))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** The stored index row: sign-LSH bucket, id, vector, precomputed norm.
    * One definition for build and append, so the two write paths cannot
    * diverge on the code/norm arithmetic. */
  private def indexRows(vectors: DataFrame, planes: Int): DataFrame = {
    graft.functions.FixedPointDot.install(vectors.sparkSession)
    vectors.select(signBucketCol(planes).as("bucket"), col("vec_id").cast("long").as("vec_id"),
      col("v"), expr(NormSql).as("nrm"))
  }

  /** Build-once ANN index: persist `(bucket, vec_id, v, nrm)` bucketed +
    * sorted on the sign-LSH `bucket` via [[graft.plans.CoLocated
    * .writeBucketed]]. The expensive per-row work (norms, codes) is paid
    * ONCE at build time; [[queryIndex]] then serves top-k with no
    * recomputation and — because the stored layout already clusters by
    * `bucket` — no shuffle. At 100 TB this is the difference between an
    * index and a query plan: v02 rebuilds codes+norms on every call,
    * this table amortizes them across every future query; new vectors
    * enter via [[appendToIndex]] without touching the resident files.
    * Rebuilding into an existing name always succeeds — stale warehouse
    * directories from earlier JVMs are replaced, not tripped over (see
    * writeBucketed). Returns the qualified `database.table` name.
    *
    * `planes` is the index GEOMETRY — size it for the corpus the index
    * will ultimately hold ([[lshPlanes]] over the anticipated count, as
    * the v08/v11 catalog entries do), because [[appendToIndex]] must
    * reuse the build-time value (a persisted bucket layout cannot be
    * re-coded incrementally; when the corpus outgrows its geometry,
    * rebuild). */
  def buildIndex(vectors: DataFrame, table: String, planes: Int = 4): String =
    graft.plans.CoLocated.writeBucketed(
      indexRows(vectors, planes), PersistedIndex.Database, table, "bucket", buckets = 16)

  /** Incremental index maintenance: bucket-code + norm the NEW vectors
    * only and append them into the existing [[buildIndex]] table (same
    * bucket spec AND the same `planes` geometry, so the layout invariant
    * [[queryIndex]] relies on is preserved). Append-then-query equals a
    * full rebuild over the union — pinned in EmbeddingsSpec. */
  def appendToIndex(vectors: DataFrame, table: String, planes: Int = 4): String =
    graft.plans.CoLocated.appendBucketed(
      indexRows(vectors, planes), PersistedIndex.Database, table, "bucket", buckets = 16)

  /** Top-3 neighbors per vector from a [[buildIndex]] table. The read is
    * `groupBy(bucket).as[…].flatMapGroups` — grouping on the STORED
    * bucket column lets Catalyst prove the bucketed scan already
    * satisfies the ClusteredDistribution, so the physical plan is scan →
    * partition-local sort → kernel with NO Exchange and no norm/bucket
    * recomputation (asserted in EmbeddingsSpec). v02 ranks a fresh
    * bucketing through the same [[CosineKernels.bucketTopK]], so the
    * output is bit-identical to rebuilding from scratch. */
  def queryIndex(s: SparkSession, table: String): DataFrame =
    bucketTopK(s.table(s"`${PersistedIndex.Database}`.`$table`"), 3)

  // ---- Product quantization: shared kernels + persisted index ----
  //
  // PQ geometry (Jégou, Douze & Schmid 2011): the 64-dim space factors
  // into 4 independent 16-dim subspaces, each with a 16-centroid
  // codebook; a vector stores only its 4 centroid ids (4 bytes — a 128×
  // compression of the float64 corpus). ONE set of kernels serves both
  // the in-session form (v12: train+encode+score per call, the
  // correctness-auditable shape the oracle replays) and the persisted
  // index (v15: train/encode ONCE into warehouse tables, serve from
  // them) — so the two paths cannot drift on the arithmetic.

  private[operators] val PqS = 4
  private[operators] val PqD = 16
  private[operators] val PqK = 16

  /** One deterministic [[kMeansModel]] codebook per subspace, trained on
    * the sliced corpus. This is the EXPENSIVE step — PqS × iters full
    * corpus passes — which is why the persisted path pays it once. */
  /** Run `body` on its own daemon thread; the returned thunk joins and
    * yields the result (rethrowing `body`'s failure). Spark's scheduler
    * happily runs jobs from several driver threads at once, and local
    * properties (job descriptions) are InheritableThreadLocal, so a
    * forked chain keeps the caller's labeling. Used to OVERLAP
    * independent driver-synchronous job chains (optimization-guide
    * §2.6): each Lloyd round is a small job ending in a model-sized
    * collect, so a sequential chain leaves the executor pool idle at
    * every round's tail — concurrent chains back-fill it. Never changes
    * results: forked chains share nothing but the immutable input
    * frame. */
  private def fork[A](name: String)(body: => A): () => A = {
    @volatile var out: Either[Throwable, A] = null
    val th = new Thread(() => {
      out = try Right(body) catch { case e: Throwable => Left(e) }
    }, name)
    th.setDaemon(true)
    th.start()
    () => { th.join(); out.fold(e => throw e, identity) }
  }

  /** The 4 subspace codebooks train CONCURRENTLY (fork/join): each is an
    * independent chain of 4 tiny jobs (seed scan + 3 Lloyd rounds) whose
    * per-round collect round-trips dominate its wall-clock at every
    * corpus size (rows × 16 flops per round is nothing), so running the
    * chains sequentially paid 16 job tails back-to-back — measured 3.5 s
    * warm at sf0.1 for v12, ~2.4 s of it this training ladder; overlapped
    * ≈ the slowest chain. Models are byte-identical: the subspaces share
    * no state, and each chain is the exact sequential computation. */
  private[operators] def pqTrain(base: DataFrame): Seq[Array[(Long, Array[Double], Double)]] =
    (0 until PqS).map { si =>
      fork(s"graft-pq-train-$si") {
        kMeansModel(base.select(col("vec_id"), slice(col("v"), si * PqD + 1, PqD).as("v")), PqK, 3)
      }
    }.map(_())

  /** Encode every vector to its 4 nearest-centroid ids (one broadcast of
    * the model-sized codebooks, one map over the corpus — no shuffle).
    * Centroids are scanned in ascending-cell order, so equal-cosine ties
    * keep the LOWEST cell — [[pqReadBooks]] restores exactly this order
    * on read-back, which is what makes append-encode == build-encode.
    * With `coarse` supplied, the SAME single pass also emits each
    * vector's nearest coarse cell (`ccell` — the IVF half of the index;
    * same scan order and tie rule as [[kMeansModel]]'s assignment), so
    * build and append never pay a second corpus scan or a join for the
    * assignment. */
  private[operators] def pqEncode(base: DataFrame,
      models: Seq[Array[(Long, Array[Double], Double)]],
      coarse: Option[Array[(Long, Array[Double], Double)]] = None): DataFrame = {
    // an EMPTY supplied coarse model would silently stamp ccell = -1 on
    // every row — vectors invisible to cell-pruned serving forever
    // (e.g. a truncated _coarse table read back as zero rows); reject
    require(coarse.forall(_.nonEmpty),
      "coarse model must be non-empty when supplied — a truncated " +
        "_coarse table needs a buildPqIndex rebuild, not an encode")
    val s = base.sparkSession
    import s.implicits._
    val S = PqS; val D = PqD
    val bc = s.sparkContext.broadcast(models.map(_.toArray).toArray)
    val bcCoarse = s.sparkContext.broadcast(coarse.getOrElse(Array.empty))
    val withCc = base.select(col("vec_id").cast("long"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val ms = bc.value
        val cc = bcCoarse.value
        rows.map { case (id, v) =>
          val ks = new Array[Long](S)
          var si = 0
          while (si < S) {
            val sub = java.util.Arrays.copyOfRange(v, si * D, si * D + D)
            ks(si) = argmaxCell(ms(si), sub, fpNorm(sub)); si += 1
          }
          val cbest = if (cc.nonEmpty) argmaxCell(cc, v, fpNorm(v)) else -1L
          (id, ks(0), ks(1), ks(2), ks(3), cbest)
        }
      }.toDF("vec_id", "k0", "k1", "k2", "k3", "ccell")
    if (coarse.isEmpty) withCc.drop("ccell") else withCc
  }

  /** Asymmetric-distance tables: per query × subspace × cell, the exact
    * fixed-point dot of the query subvector against the centroid — an
    * O(queries · PqS · PqK) DRIVER computation over already-collected
    * codebooks (model-sized, like v10's scales); the corpus is never
    * touched. */
  private[operators] def pqAdc(queryRows: Array[(Long, Array[Double])],
      models: Seq[Array[(Long, Array[Double], Double)]]): Seq[(Long, Int, Long, Long)] =
    for {
      (qid, qv) <- queryRows.toSeq
      si <- 0 until PqS
      (cell, cv, _) <- models(si)
    } yield (qid, si, cell,
      fpDot(java.util.Arrays.copyOfRange(qv, si * PqD, si * PqD + PqD), cv))

  /** Shared ADC ranking tail of v12/v15 (all-pairs) and v18 (candidate-
    * restricted): dt lookup join → per-(query, neighbor) sum → top-10
    * under (adc desc, id asc). ONE copy so the tie order and rank cap
    * cannot drift between the serving forms. */
  private def adcRank(exploded: DataFrame, dtDF: DataFrame,
      keys: Seq[String]): DataFrame = {
    val s = exploded.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"adc_fp".desc, $"neighbor_id")
    exploded.join(dtDF, keys)
      .filter($"query_id" =!= $"neighbor_id")
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"d").as("adc_fp"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 10)
      .select($"query_id", $"rnk", $"neighbor_id", $"adc_fp")
  }

  /** ADC scoring: each candidate's score is 4 broadcast-table lookups
    * summed — map-side join + partial agg, no full-vector arithmetic
    * against the corpus. Top-10 per query under (adc desc, id asc). */
  private[operators] def pqScore(codes: DataFrame, dt: Seq[(Long, Int, Long, Long)]): DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    val dtDF = broadcast(dt.toDF("query_id", "s", "cell", "d"))
    adcRank(
      codes.select($"vec_id".as("neighbor_id"),
        posexplode(array($"k0", $"k1", $"k2", $"k3")).as(Seq("s", "cell"))),
      dtDF, Seq("s", "cell"))
  }

  /** Build-once PQ index: train the 4 codebooks and encode the corpus
    * into FOUR warehouse tables — `{table}_books` (s, cell, cv, cn:
    * model-sized), `{table}_coarse` (the IVF quantizer), `{table}_codes`
    * (vec_id + 4 tinyint cell ids + the coarse cell, bucketed on vec_id)
    * and `{table}_meta` (the [[PersistedIndex.fingerprint]] of
    * (vec_id, v)). If the stored fingerprint already matches the input,
    * the build is SKIPPED entirely — "train rarely, encode once, serve
    * from 4-byte codes" is the whole point of PQ at 100 TB, and the
    * fingerprint probe is one map-side scan vs 12 full training passes
    * (decided from the warehouse LOCATION, so the skip works across
    * sessions: a per-JVM skip measured 17.7 s vs 0.8 s at sf0.1). A
    * mismatched or missing fingerprint (including the poison an
    * [[appendToPqIndex]] leaves) always retrains, under
    * [[PersistedIndex.rebuild]]'s crash ordering. */
  def buildPqIndex(vectors: DataFrame, table: String): String = {
    val s = vectors.sparkSession
    import s.implicits._
    val prepared = vectors.select(col("vec_id").cast("long").as("vec_id"), col("v"))
    val (n, fp, _) = PersistedIndex.fingerprint(prepared, "vec_id", "v")
    PersistedIndex.rebuild(s, table, Seq("n" -> n, "fp" -> fp),
        Seq("_books", "_codes", "_coarse"), force = false) {
      // the IVF half of an IVFADC index: the coarse quantizer (8 full-
      // dim centroids) and each vector's nearest coarse cell persist
      // WITH the codes, so cell-pruned serving (v18) reads no raw
      // vector — the inverted-list assignment is part of the index,
      // exactly as the codes are. Trained CONCURRENTLY with the 4
      // subspace books (the [[fork]]/§2.6 overlap — a fifth independent
      // Lloyd chain over the same immutable input).
      val coarseJoin = fork("graft-pq-coarse")(kMeansModel(prepared, 8, 3))
      val models = pqTrain(prepared)
      val books = models.zipWithIndex.flatMap { case (m, si) =>
        m.map { case (cell, cv, cn) => (si, cell, cv.toSeq, cn) }
      }
      graft.plans.CoLocated.replaceTable(books.toDF("s", "cell", "cv", "cn"),
        PersistedIndex.Database, s"${table}_books")
      val coarse = coarseJoin()
      graft.plans.CoLocated.replaceTable(
        coarse.toSeq.map { case (cell, cv, cn) => (cell, cv.toSeq, cn) }
          .toDF("cell", "cv", "cn"), PersistedIndex.Database, s"${table}_coarse")
      graft.plans.CoLocated.writeBucketed(
        pqCodeRows(pqEncode(prepared, models, Some(coarse))),
        PersistedIndex.Database, s"${table}_codes", "vec_id", buckets = 16)
    }
    s"${PersistedIndex.Database}.$table"
  }

  /** Read the persisted coarse quantizer back in [[kMeansModel]]'s
    * shape, ascending-cell order (the assignment tie order). An index
    * persisted before the IVF half has no `_coarse`: the read refuses
    * with the migration route (one [[buildPqIndex]] call retrains under
    * the current layout). */
  private[operators] def pqReadCoarse(s: SparkSession,
      table: String): Array[(Long, Array[Double], Double)] = {
    import s.implicits._
    PersistedIndex.readArtifact(s, table, "_coarse", Seq("cell", "cv", "cn"), "buildPqIndex")
      .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
  }

  /** The stored code row: 4 tinyint cell ids (cells are 0..15) — the
    * 4-byte-per-vector representation that IS the PQ compression claim —
    * plus the tinyint coarse cell when the encode pass carried one. */
  private def pqCodeRows(codes: DataFrame): DataFrame = {
    val cols = Seq(col("vec_id")) ++
      Seq("k0", "k1", "k2", "k3").map(k => col(k).cast("tinyint").as(k)) ++
      (if (codes.columns.contains("ccell"))
        Seq(col("ccell").cast("tinyint").as("ccell")) else Nil)
    codes.select(cols: _*)
  }

  /** Read the persisted codebooks back into [[pqEncode]]/[[pqAdc]]'s
    * model shape — sorted by cell within each subspace, restoring the
    * exact tie-break order the build used. Reads by location so it works
    * in sessions that never built the index. */
  private[operators] def pqReadBooks(s: SparkSession,
      table: String): Seq[Array[(Long, Array[Double], Double)]] = {
    import s.implicits._
    val rows = ParquetTables.read(s, PersistedIndex.location(s, table, "_books"))
      .select($"s", $"cell", $"cv", $"cn")
      .as[(Int, Long, Array[Double], Double)].collect()
    (0 until PqS).map { si =>
      rows.filter(_._1 == si).sortBy(_._2).map { case (_, cell, cv, cn) => (cell, cv, cn) }
    }
  }

  /** Encode NEW vectors with the PERSISTED codebooks (no retraining —
    * that is the production ingest path: codebooks change rarely, codes
    * append daily) and append them to the codes table without touching
    * resident files ([[graft.plans.CoLocated.appendBucketed]]). The
    * stored fingerprint is [[PersistedIndex.poison]]ed (n = -1 can never
    * match a real count) BEFORE the codes table mutates, so a later
    * [[buildPqIndex]] retrains instead of wrongly skipping over a corpus
    * the codebooks never saw — even if this append crashes mid-write.
    * The append never re-stamps: its codebooks were not trained on the
    * grown corpus, so only a retrain may declare it fresh. Indexes
    * persisted before the IVF half (no `_coarse` table / no `ccell`
    * column) are refused with the migration route — appending rows WITH
    * a ccell into a codes table without one corrupts the layout, and an
    * append never rewrites resident files. Appending needs the
    * codes table in THIS session's catalog (appendBucketed is a catalog
    * write) — same session-or-metastore caveat as [[appendToIndex]];
    * reads ([[queryPqIndex]]) and the build's freshness skip are
    * location-based and have no such constraint. */
  def appendToPqIndex(vectors: DataFrame, table: String): String = {
    val s = vectors.sparkSession
    val prepared = vectors.select(col("vec_id").cast("long").as("vec_id"), col("v"))
    val models = pqReadBooks(s, table)
    val coarse = pqReadCoarse(s, table)
    PersistedIndex.readArtifact(s, table, "_codes", Seq("ccell"), "buildPqIndex")
    PersistedIndex.poison(s, table, Seq("n", "fp"))
    graft.plans.CoLocated.appendBucketed(
      pqCodeRows(pqEncode(prepared, models, Some(coarse))),
      PersistedIndex.Database, s"${table}_codes", "vec_id", buckets = 16)
    s"${PersistedIndex.Database}.$table"
  }

  /** Serve top-10 per query from a [[buildPqIndex]] table. The plan
    * contains NO training and never touches the raw corpus: codebooks
    * are a model-sized collect, ADC tables are computed on the driver
    * from them, and the only distributed input is the 4-byte code table
    * (pinned in EmbeddingsSpec — the physical plan scans `{table}_codes`
    * and no embeddings parquet). */
  def queryPqIndex(s: SparkSession, queryRows: Array[(Long, Array[Double])],
      table: String): DataFrame = {
    import s.implicits._
    val models = pqReadBooks(s, table)
    val codes = ParquetTables.read(s, PersistedIndex.location(s, table, "_codes"))
      .select($"vec_id",
        $"k0".cast("long").as("k0"), $"k1".cast("long").as("k1"),
        $"k2".cast("long").as("k2"), $"k3".cast("long").as("k3"))
    pqScore(codes, pqAdc(queryRows, models))
  }

  /** The (term, doc_id, bm25_e9) score table — the inverted-index form
    * of BM25 (Robertson & Zaragoza 2009; k1=1.2, b=0.75, robust +1
    * IDF), shared by v16's in-session form and [[buildBm25Index]] so
    * the arithmetic cannot drift (the v12/v15 shared-kernel
    * discipline). Input: (doc_id, toks). Each (term, doc) contribution
    * is quantized to the 1e-9 integer grid (t07's ln discipline —
    * per-row IEEE ops in a fixed association order), so any downstream
    * per-query score is an exact BIGINT sum: order-independent,
    * hash-gate stable. Query-independent — computed once for ANY
    * number of queries, which is what makes it worth persisting. */
  private[operators] def bm25ScoreTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(size($"toks").cast("long")).cast("double") / count(lit(1))).as("avgdl"))
    val posting = docs
      .select($"doc_id", size($"toks").cast("long").as("dl"), explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(max($"dl").as("dl"), count(lit(1)).as("tf"))
    val dfreq = posting.groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = log(((($"n_docs" - $"df") + lit(0.5)) / ($"df" + lit(0.5))) + lit(1.0))
    val tfPart = ($"tf" * lit(2.2)) /
      ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / $"avgdl")))
    posting.join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("bm25_e9", floor((idf * tfPart) * lit(1e9) + lit(0.5)).cast("long"))
      .select($"term", $"doc_id", $"bm25_e9")
  }

  /** Build-once BM25 inverted index: persist [[bm25ScoreTable]] as a
    * term-bucketed warehouse table `{table}_postings` plus a
    * `{table}_meta` corpus fingerprint — the [[PersistedIndex]]
    * rebuild protocol applied to the LEXICAL leg of hybrid retrieval. v16
    * recomputes the corpus-wide tokenize → tf/df aggregation on every
    * call (the same per-call-cost smell the r6 verdict flagged for
    * v12's training, one scale rung down: one corpus pass instead of
    * 12); at 100 TB the posting table is built once and re-read, and a
    * matching fingerprint turns repeat builds into one map-side scan.
    * Input: (doc_id, text) — ALREADY restricted to the retrieval
    * universe (the fingerprint covers exactly that frame, so a changed
    * universe — including changed embedding coverage — retrains). */
  def buildBm25Index(docs: DataFrame, table: String): String = {
    val s = docs.sparkSession
    import s.implicits._
    val prepared = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val (n, fp, _) = PersistedIndex.fingerprint(prepared, "doc_id", "text")
    PersistedIndex.rebuild(s, table, Seq("n" -> n, "fp" -> fp), Seq("_postings"),
        force = false) {
      graft.plans.CoLocated.writeBucketed(
        bm25ScoreTable(prepared.select($"doc_id", split($"text", " ").as("toks"))),
        PersistedIndex.Database, s"${table}_postings", "term", buckets = 16)
    }
    s"${PersistedIndex.Database}.$table"
  }

  /** Serve per-query BM25 top-k from a [[buildBm25Index]] table. The
    * query term panel arrives as a driver-side array ([[queryPqIndex]]'s
    * queryRows convention — panels are query-sized, never corpus-sized),
    * so the plan's ONLY distributed input is the persisted posting
    * table: no tokenize, no tf/df aggregation, no documents scan
    * (pinned in EmbeddingsSpec). Scores are exact BIGINT sums of the
    * stored 1e-9-grid contributions — identical to summing the freshly
    * computed table. */
  def queryBm25Index(s: SparkSession, queryTerms: Array[(Long, String)],
      table: String, k: Int): DataFrame = {
    import s.implicits._
    val qterm = queryTerms.toSeq.toDF("query_id", "term")
    val wb = Window.partitionBy($"query_id").orderBy($"bm25".desc, $"doc_id")
    ParquetTables.read(s, PersistedIndex.location(s, table, "_postings"))
      .join(broadcast(qterm), Seq("term"))
      .filter($"query_id" =!= $"doc_id")
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"bm25_e9").as("bm25"))
      .withColumn("r_lex", row_number().over(wb).cast("long"))
      .filter($"r_lex" <= k)
      .select($"query_id", $"doc_id", $"r_lex")
  }

  /** Shared DuckDB oracle for v08 and v11: reconstructs the sign-LSH
    * index (bucket codes + norms) from scratch over the FULL corpus and
    * serves top-3 per query. v08 gates build-then-query; v11 gates
    * build-on-subset + append-then-query — both must equal this full
    * reconstruction, which is exactly the append-invisibility claim. */
  /** Shared by v02/v08/v11: replays the corpus-sized sign bucket
    * ([[lshPlanes]] from COUNT(*), integer arithmetic — see
    * [[lshPlanesSql]]), the within-bucket fixed-point cosine, and the
    * (cosine desc, id asc) rank. `base` is MATERIALIZED: it is
    * referenced twice by the bucket self-join and DuckDB re-inlines
    * plain CTEs per reference (the list-comprehension bucket would be
    * recomputed per side). */
  private val SignIndexOracleSql: String =
    s"""WITH ${lshPlanesSql(4, 16)},
        base AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 CAST(list_sum([CASE WHEN embedding[i] >= 0 THEN (1::BIGINT << (p.p - i)) ELSE 0::BIGINT END
                                FOR i IN generate_series(1, p.p)]) AS BIGINT) AS bucket
          FROM embeddings, params p),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, bkt, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket AS bkt,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c
                       WHERE q.bucket = c.bucket AND q.vec_id <> c.vec_id)
                 GROUP BY 1, 2, 3),
        scored AS (SELECT qid AS query_id, cid AS neighbor_id, bkt AS bucket,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, bucket, cosine FROM scored
        WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Template for [[kMeansPrologSql]]: the trainer-replay CTE chain
    * (no leading WITH) with `__BASE__` = the (vec_id, v) source select,
    * `__K__` = the cell count, `__TRAIN__` = the frame the TRAINER
    * reads (seeding + the three Lloyd rounds — `base` for the full
    * corpus, `samp` for the sampled form; the final `pd`/`pr`/`corp`
    * assignment always reads `base`), and `__SAMPLE_CTES__` = the
    * sample-cut CTEs (empty for the unsampled form). */
  private val KMeansPrologTemplate: String =
    """base AS MATERIALIZED (__BASE__),__SAMPLE_CTES__
        n2 AS MATERIALIZED (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        -- seeding: k smallest Knuth multiplicative hashes of vec_id, ties by id;
        -- cell = position in that order (kMeansModel's zipWithIndex)
        seeds AS MATERIALIZED (SELECT vec_id, v,
                         row_number() OVER (ORDER BY
                           ((vec_id % 1048573 + 1048573) % 1048573) * 2654435761 % 1000000007,
                           vec_id) AS rn
                  FROM __TRAIN__),
        m0v AS MATERIALIZED (SELECT CAST(rn - 1 AS BIGINT) AS cell, v AS cv FROM seeds WHERE rn <= __K__),
        m0n AS MATERIALIZED (SELECT cell, sqrt(CAST(SUM(CAST(FLOOR((e*e) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS cn
                FROM (SELECT cell, unnest(cv) AS e FROM m0v) GROUP BY cell),
        m0 AS MATERIALIZED (SELECT v.cell, v.cv, n.cn FROM m0v v JOIN m0n n ON v.cell = n.cell),
        -- Lloyd round 1: argmax fixed-point cosine (NaN ranks first, ties
        -- keep the smallest cell), exact DECIMAL(38,12) per-(cell,dim)
        -- mean, empty cells carry the previous centroid
        d1 AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM __TRAIN__ b, m0 m) GROUP BY 1, 2),
        a1 AS MATERIALIZED (SELECT vid, cell FROM (
                 SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                          ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rn
                 FROM d1 d JOIN n2 ON d.vid = n2.vec_id JOIN m0 m ON d.cell = m.cell)
               WHERE rn = 1),
        g1 AS MATERIALIZED (SELECT cell, pos, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mn
               FROM (SELECT a.cell, generate_subscripts(b.v, 1) AS pos, unnest(b.v) AS x
                     FROM __TRAIN__ b JOIN a1 a ON b.vec_id = a.vid) GROUP BY 1, 2),
        u1 AS MATERIALIZED (SELECT cell, list(mn ORDER BY pos) AS cv FROM g1 GROUP BY cell),
        w1 AS MATERIALIZED (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv FROM m0 p LEFT JOIN u1 u ON p.cell = u.cell),
        x1 AS MATERIALIZED (SELECT cell, sqrt(CAST(SUM(CAST(FLOOR((e*e) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS cn
               FROM (SELECT cell, unnest(cv) AS e FROM w1) GROUP BY cell),
        m1 AS MATERIALIZED (SELECT w.cell, w.cv, x.cn FROM w1 w JOIN x1 x ON w.cell = x.cell),
        -- Lloyd round 2
        d2 AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM __TRAIN__ b, m1 m) GROUP BY 1, 2),
        a2 AS MATERIALIZED (SELECT vid, cell FROM (
                 SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                          ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rn
                 FROM d2 d JOIN n2 ON d.vid = n2.vec_id JOIN m1 m ON d.cell = m.cell)
               WHERE rn = 1),
        g2 AS MATERIALIZED (SELECT cell, pos, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mn
               FROM (SELECT a.cell, generate_subscripts(b.v, 1) AS pos, unnest(b.v) AS x
                     FROM __TRAIN__ b JOIN a2 a ON b.vec_id = a.vid) GROUP BY 1, 2),
        u2 AS MATERIALIZED (SELECT cell, list(mn ORDER BY pos) AS cv FROM g2 GROUP BY cell),
        w2 AS MATERIALIZED (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv FROM m1 p LEFT JOIN u2 u ON p.cell = u.cell),
        x2 AS MATERIALIZED (SELECT cell, sqrt(CAST(SUM(CAST(FLOOR((e*e) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS cn
               FROM (SELECT cell, unnest(cv) AS e FROM w2) GROUP BY cell),
        m2 AS MATERIALIZED (SELECT w.cell, w.cv, x.cn FROM w2 w JOIN x2 x ON w.cell = x.cell),
        -- Lloyd round 3
        d3 AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM __TRAIN__ b, m2 m) GROUP BY 1, 2),
        a3 AS MATERIALIZED (SELECT vid, cell FROM (
                 SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                          ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rn
                 FROM d3 d JOIN n2 ON d.vid = n2.vec_id JOIN m2 m ON d.cell = m.cell)
               WHERE rn = 1),
        g3 AS MATERIALIZED (SELECT cell, pos, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mn
               FROM (SELECT a.cell, generate_subscripts(b.v, 1) AS pos, unnest(b.v) AS x
                     FROM __TRAIN__ b JOIN a3 a ON b.vec_id = a.vid) GROUP BY 1, 2),
        u3 AS MATERIALIZED (SELECT cell, list(mn ORDER BY pos) AS cv FROM g3 GROUP BY cell),
        w3 AS MATERIALIZED (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv FROM m2 p LEFT JOIN u3 u ON p.cell = u.cell),
        x3 AS MATERIALIZED (SELECT cell, sqrt(CAST(SUM(CAST(FLOOR((e*e) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS cn
               FROM (SELECT cell, unnest(cv) AS e FROM w3) GROUP BY cell),
        m3 AS MATERIALIZED (SELECT w.cell, w.cv, x.cn FROM w3 w JOIN x3 x ON w.cell = x.cell),
        -- search: probe ranks under the final model; corpus lives in its
        -- nearest cell, queries probe their 2 nearest
        pd AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM base b, m3 m) GROUP BY 1, 2),
        pr AS MATERIALIZED (SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                        ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rn
               FROM pd d JOIN n2 ON d.vid = n2.vec_id JOIN m3 m ON d.cell = m.cell),
        corp AS MATERIALIZED (SELECT vid AS cid, cell FROM pr WHERE rn = 1)"""

  /** CTE names the template defines, longest-first so suffixing via
    * word-boundary replace cannot clip a longer name (m0v before m0). */
  private val KMeansCteNames: Seq[String] = Seq(
    "base", "n2", "scut", "samp", "seeds", "m0v", "m0n", "m0",
    "d1", "a1", "g1", "u1", "w1", "x1", "m1",
    "d2", "a2", "g2", "u2", "w2", "x2", "m2",
    "d3", "a3", "g3", "u3", "w3", "x3", "m3",
    "pd", "pr", "corp").sortBy(-_.length)

  /** DuckDB replay of [[kMeansModel]] (3 unrolled Lloyd rounds) plus
    * the final-model assignment `corp<suffix>` = (cid, cell) for every
    * vector of `baseSelect`. Emitted WITHOUT the leading WITH so
    * callers can compose several trainers (v12 runs four, one per PQ
    * subspace, distinguished by `suffix`) in one WITH clause. Every
    * CTE MATERIALIZED — DuckDB 1.0 re-inlines plain CTEs per reference
    * and the chained rounds re-evaluate combinatorially otherwise
    * (measured 199 s vs 0.46 s, memory-flaky). */
  private def kMeansPrologSql(suffix: String, cells: Int, baseSelect: String): String =
    kMeansPrologSqlK(suffix, cells.toString, baseSelect)

  /** [[kMeansPrologSql]] with the cell count as a SQL EXPRESSION instead
    * of an integer literal — the derived-cells form splices
    * `(SELECT k FROM cellp)` so the oracle's seed filter reads the same
    * corpus-derived count [[kMeansCells]] computes on the Spark side. */
  private[operators] def kMeansPrologSqlK(suffix: String, kExpr: String, baseSelect: String): String =
    kMeansPrologSqlT(suffix, kExpr, baseSelect, sampleTarget = 0L)

  /** [[kMeansPrologSqlK]] with the trainer SAMPLED: adds the `scut`
    * (the [[trainSampleCut]] integer arithmetic over the replay's own
    * COUNT(*)) and `samp` (the hash-prefix filter) CTEs and points the
    * seeding + Lloyd rounds at `samp` while the final `pd`/`pr`/`corp`
    * assignment still covers every `base` row — exactly
    * [[kMeansModel]]'s `sampleTarget` form. Below `sampleTarget` rows
    * the cut exceeds every hash and the replay degenerates to the
    * unsampled chain (same results, slightly more SQL). */
  private[operators] def kMeansPrologSqlSampled(suffix: String, kExpr: String,
      baseSelect: String, sampleTarget: Long): String = {
    require(sampleTarget > 0, s"sampleTarget must be positive, got $sampleTarget")
    kMeansPrologSqlT(suffix, kExpr, baseSelect, sampleTarget)
  }

  private def kMeansPrologSqlT(suffix: String, kExpr: String, baseSelect: String,
      sampleTarget: Long): String = {
    val sampleCtes =
      if (sampleTarget <= 0L) ""
      else s"""
        -- deterministic trainer sample: hash-prefix cut derived from the
        -- corpus's own COUNT(*) (trainSampleCut's integer arithmetic; a
        -- no-op whenever n <= $sampleTarget because the cut then exceeds
        -- every possible hash value)
        scut AS MATERIALIZED (SELECT GREATEST(1, (1000000007::BIGINT * $sampleTarget) // t.n) AS cut
                 FROM (SELECT GREATEST(COUNT(*), 1) AS n FROM base) t),
        samp AS MATERIALIZED (SELECT b.vec_id, b.v FROM base b, scut
                 WHERE ((b.vec_id % 1048573 + 1048573) % 1048573) * 2654435761 % 1000000007 < scut.cut),"""
    val body = KMeansPrologTemplate
      .replace("__BASE__", baseSelect)
      .replace("__K__", kExpr)
      .replace("__SAMPLE_CTES__", sampleCtes)
      .replace("__TRAIN__", if (sampleTarget > 0L) "samp" else "base")
    if (suffix.isEmpty) body
    else KMeansCteNames.foldLeft(body)((acc, n) =>
      acc.replaceAll("\\b" + n + "\\b", n + suffix))
  }

  private val EmbeddingsBaseSelect: String =
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

  private val KMeansOracleProlog: String =
    "WITH " + kMeansPrologSql("", 8, EmbeddingsBaseSelect)

  /** d07's prolog: the same trainer replay with the cell count DERIVED
    * from COUNT(*) ([[kMeansCells]]'s integer arithmetic, default
    * bounds), matching `semanticDedup`'s derived default. At the sf0.01
    * gate (500 vectors) the derived count clamps to the floor of 8, so
    * this prolog and [[KMeansOracleProlog]] agree there; above
    * 8 · 2048 vectors they diverge and only this form stays linear. */
  private val KMeansOraclePrologDerived: String =
    kMeansOraclePrologDerived(2048L)

  /** [[KMeansOraclePrologDerived]] with the occupancy target as a
    * parameter: d07's pair kernel is within-cell QUADRATIC so its
    * target is small (2048); p09's per-cell work is a window rank
    * (linear) and only the per-cell SORT size needs bounding, so its
    * target is partition-sized (65536) — cells stay at the floor of 8
    * through every bench tier and grow only past 0.5M vectors. */
  private[operators] def kMeansOraclePrologDerived(targetCell: Long): String =
    // uncapped cell derivation + sampled trainer, matching semanticDedup/
    // clusterBalancedSample's r16 defaults. This single-level replay is
    // valid while the derived count stays <= TwoLevelCellCap (4096 —
    // n <= 8.4M vectors at d07's target, every tier DuckDB can hold);
    // past it the engine routes to cellModel's two-level form, whose
    // replay is v22's oracle.
    "WITH " + kMeansCellsSql(8, Int.MaxValue, targetCell, EmbeddingsBaseSelect) + ",\n        " +
      kMeansPrologSqlSampled("", "(SELECT k FROM cellp)", EmbeddingsBaseSelect,
        TrainSampleTarget)

  /** v22's DuckDB replay of the FULL two-level composition
    * ([[twoLevelModel]] + [[assignCells]]): the sampled coarse prolog
    * (scut/samp + 3 Lloyd rounds + full-corpus coarse assignment
    * `corp`), the per-coarse-cell fine trainer (seeds = the `finePer`
    * smallest Knuth hashes WITHIN each coarse cell, `iters` unrolled
    * Lloyd rounds whose argmax joins each sample row to its own coarse
    * cell's fine centroids only, exact DECIMAL(38,12) means, empty
    * cells keeping their previous centroid via COALESCE), and the final
    * full-corpus fine assignment with the engine's fallback — a coarse
    * cell that trained no fine centroids assigns `coarse · finePer`.
    * Generated by the same loop that fixes the round count, so the
    * engine's `iters` and the SQL's unroll depth cannot drift (the
    * MmrOracleSql discipline). */
  private[operators] def twoLevelRankedCtes(coarseCells: Int, finePer: Int,
      iters: Int, sampleTarget: Long, baseSelect: String): String = {
    val kf = finePer
    val fp = "1000000000000.0"
    val coarse = kMeansPrologSqlSampled("", coarseCells.toString, baseSelect, sampleTarget)
    def normCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (SELECT cell, sqrt(CAST(SUM(CAST(FLOOR((e*e) * $fp + 0.5) AS BIGINT)) AS DOUBLE) / $fp) AS cn
               FROM (SELECT cell, unnest(cv) AS e FROM $src) GROUP BY cell)"""
    val head = s"""scorp AS MATERIALIZED (
          SELECT c.cid AS vec_id, c.cell AS cc, s.v, n2.nrm
          FROM corp c JOIN samp s ON c.cid = s.vec_id JOIN n2 ON c.cid = n2.vec_id),
        fseeds AS MATERIALIZED (
          SELECT cc, vec_id, v, row_number() OVER (PARTITION BY cc ORDER BY
            ((vec_id % 1048573 + 1048573) % 1048573) * 2654435761 % 1000000007,
            vec_id) AS rn
          FROM scorp),
        fm0v AS MATERIALIZED (SELECT cc, CAST(cc * $kf + rn - 1 AS BIGINT) AS cell, v AS cv
          FROM fseeds WHERE rn <= $kf),
        ${normCte("fm0n", "fm0v")},
        fm0 AS MATERIALIZED (SELECT v.cc, v.cell, v.cv, n.cn FROM fm0v v JOIN fm0n n ON v.cell = n.cell)"""
    val rounds = (1 to iters).map { r =>
      val prev = s"fm${r - 1}"
      s"""fd$r AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * $fp + 0.5) AS BIGINT)) AS DOUBLE) / $fp AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM scorp b JOIN $prev m ON m.cc = b.cc) GROUP BY 1, 2),
        fa$r AS MATERIALIZED (SELECT vid, cell FROM (
                 SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                          ORDER BY d.dot / (b.nrm * m.cn) DESC, d.cell) AS rn
                 FROM fd$r d JOIN scorp b ON d.vid = b.vec_id JOIN $prev m ON d.cell = m.cell)
               WHERE rn = 1),
        fg$r AS MATERIALIZED (SELECT cell, pos, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mn
               FROM (SELECT a.cell, generate_subscripts(b.v, 1) AS pos, unnest(b.v) AS x
                     FROM scorp b JOIN fa$r a ON b.vec_id = a.vid) GROUP BY 1, 2),
        fu$r AS MATERIALIZED (SELECT cell, list(mn ORDER BY pos) AS cv FROM fg$r GROUP BY cell),
        fw$r AS MATERIALIZED (SELECT p.cc, p.cell, COALESCE(u.cv, p.cv) AS cv FROM $prev p LEFT JOIN fu$r u ON p.cell = u.cell),
        ${normCte(s"fx$r", s"fw$r")},
        fm$r AS MATERIALIZED (SELECT w.cc, w.cell, w.cv, x.cn FROM fw$r w JOIN fx$r x ON w.cell = x.cell)"""
    }
    val last = s"fm$iters"
    // ffr carries the FULL fine ranking per row (rank 1 = assign; the
    // top-P prefix = CellModel.probe(v, nrm, P)) so both the v22
    // assignment tail and v23's multi-probe tail share one chain
    val ranked = s"""ffd AS MATERIALIZED (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * $fp + 0.5) AS BIGINT)) AS DOUBLE) / $fp AS dot
               FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM base b JOIN corp c ON b.vec_id = c.cid JOIN $last m ON m.cc = c.cell) GROUP BY 1, 2),
        ffr AS MATERIALIZED (
                 SELECT d.vid, d.cell, row_number() OVER (PARTITION BY d.vid
                          ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rn
                 FROM ffd d JOIN n2 ON d.vid = n2.vec_id JOIN $last m ON d.cell = m.cell),
        ffa AS MATERIALIZED (SELECT vid, cell FROM ffr WHERE rn = 1)"""
    "WITH " + coarse + ",\n        " + head + ",\n        " +
      (rounds :+ ranked).mkString(",\n        ")
  }

  private[operators] def twoLevelOracleSql(coarseCells: Int, finePer: Int,
      iters: Int, sampleTarget: Long, baseSelect: String): String =
    twoLevelRankedCtes(coarseCells, finePer, iters, sampleTarget, baseSelect) +
      s"""
        SELECT c.cid AS vec_id, COALESCE(f.cell, c.cell * $finePer) AS cell
        FROM corp c LEFT JOIN ffa f ON c.cid = f.vid ORDER BY vec_id"""

  /** v23's oracle: the two-level chain's ranked assignment at
    * `rn <= probes` (plus the no-fine-cells COALESCE fallback, which
    * probes exactly its one fallback cell — [[CellModel.probe]]'s
    * contract), then [[semanticDedupWith]]'s prune replayed over the
    * PROBED cells: a pair is evaluated whenever the probe sets
    * intersect, the larger id drops, survivors keep their rank-1 cell.
    * Same per-pair fixed-point list-fold and join shape as the d07
    * oracle (corpus enriched first, ONE self-join straight into the
    * DISTINCT — nothing builds on the pair stream). Since r18 the pair
    * WHERE leads with v04's native `list_inner_product` PREFILTER
    * (norm-relative slack, same bound: float-vs-fixed divergence ≤
    * ~1e-12·‖a‖‖b‖ + 3.2e-11 absolute, dominated by 1e-6·(‖a‖‖b‖+1) at
    * every norm scale; zero-norm rows pass the prefilter since
    * 1e-6 ≥ 0) so only ~pair-count rows pay the exact fold that decides
    * membership — the probed pair stream at sf3 is ~9× sf1's and the
    * un-prefiltered form exceeded the sweep budget there (PROBES_r17);
    * admitted-superset + exact decision keeps the result bit-identical. */
  private[operators] def multiProbeDedupOracleSql(coarseCells: Int, finePer: Int,
      iters: Int, sampleTarget: Long, probes: Int, threshold: Double,
      baseSelect: String): String =
    twoLevelRankedCtes(coarseCells, finePer, iters, sampleTarget, baseSelect) +
      s""",
        prim AS MATERIALIZED (
                 SELECT c.cid AS vid, COALESCE(f.cell, c.cell * $finePer) AS cell
                 FROM corp c LEFT JOIN ffa f ON c.cid = f.vid),
        probed AS MATERIALIZED (
                 SELECT vid, cell FROM ffr WHERE rn <= $probes
                 UNION ALL
                 SELECT c.cid, c.cell * $finePer FROM corp c
                 WHERE NOT EXISTS (SELECT 1 FROM ffr f WHERE f.vid = c.cid)),
        enp AS MATERIALIZED (
                 SELECT p.vid AS cid, p.cell, b.v, n.nrm
                 FROM probed p JOIN base b ON p.vid = b.vec_id
                 JOIN n2 n ON p.vid = n.vec_id),
        dropped AS (
                 SELECT DISTINCT c.cid AS vec_id
                 FROM enp q JOIN enp c ON q.cell = c.cell AND q.cid < c.cid
                 WHERE list_inner_product(q.v, c.v) + 1e-6 * (q.nrm * c.nrm + 1)
                          >= $threshold * (q.nrm * c.nrm)
                   AND (CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                          i -> CAST(FLOOR((q.v[i] * c.v[i]) * 1000000000000.0 + 0.5) AS BIGINT))) AS DOUBLE)
                          / 1000000000000.0) / (q.nrm * c.nrm) >= $threshold)
        SELECT p.vid AS vec_id, p.cell FROM prim p
        LEFT JOIN dropped d ON p.vid = d.vec_id
        WHERE d.vec_id IS NULL ORDER BY vec_id"""

  /** Shared DuckDB oracle for v12 and v15: replays the 4 subspace
    * trainers ([[kMeansPrologSql]] once per slice), the corpus encoding,
    * the ADC tables, and the search. Everything is deterministic, so the
    * persisted index (v15: train once into warehouse tables, serve from
    * codes) must equal the in-session form (v12) must equal this
    * replay — serving from the persisted artifacts is exactly as
    * auditable as recomputing. */
  private val PqOracleSql: String = {
    val prologs = (0 until 4).map { si =>
      kMeansPrologSql(s"_s$si", 16,
        s"SELECT vec_id, list_slice(embedding::DOUBLE[], ${si * 16 + 1}, ${si * 16 + 16}) AS v FROM embeddings")
    }
    val dts = (0 until 4).map { si =>
      s"""dt$si AS MATERIALIZED (SELECT vid AS qid, cell,
            CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
          FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                FROM base_s$si b, m3_s$si m WHERE b.vec_id < 10) GROUP BY 1, 2)"""
    }
    "WITH " + (prologs ++ Seq(
      """codes AS MATERIALIZED (SELECT c0.cid AS nid, c0.cell AS k0, c1.cell AS k1, c2.cell AS k2, c3.cell AS k3
          FROM corp_s0 c0 JOIN corp_s1 c1 ON c0.cid = c1.cid
          JOIN corp_s2 c2 ON c0.cid = c2.cid JOIN corp_s3 c3 ON c0.cid = c3.cid)""") ++ dts ++ Seq(
      """sc AS MATERIALIZED (SELECT d0.qid, c.nid,
            d0.d + d1.d + d2.d + d3.d AS adc_fp
          FROM codes c
          JOIN dt0 d0 ON d0.cell = c.k0
          JOIN dt1 d1 ON d1.qid = d0.qid AND d1.cell = c.k1
          JOIN dt2 d2 ON d2.qid = d0.qid AND d2.cell = c.k2
          JOIN dt3 d3 ON d3.qid = d0.qid AND d3.cell = c.k3
          WHERE d0.qid <> c.nid)""")).mkString(",\n        ") + """
    SELECT qid AS query_id, rnk, nid AS neighbor_id, adc_fp FROM (
      SELECT qid, nid, adc_fp,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY adc_fp DESC, nid) AS BIGINT) AS rnk
      FROM sc)
    WHERE rnk <= 10 ORDER BY query_id, rnk"""
  }


  /** DuckDB replay for v18: the coarse-quantizer prolog (v09's, over
    * full vectors) + the four PQ subspace prologs (v12's) + ADC scoring
    * RESTRICTED to each query's 2 probed coarse cells — the IVF-PQ
    * composition is exactly the conjunction of the two verified
    * replays, so the candidate pruning and the code scoring are both
    * DuckDB-checked in one query. */
  private val IvfPqOracleSql: String = {
    val coarse = kMeansPrologSql("", 8,
      "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")
    val prologs = (0 until 4).map { si =>
      kMeansPrologSql(s"_s$si", 16,
        s"SELECT vec_id, list_slice(embedding::DOUBLE[], ${si * 16 + 1}, ${si * 16 + 16}) AS v FROM embeddings")
    }
    val dts = (0 until 4).map { si =>
      s"""dt$si AS MATERIALIZED (SELECT vid AS qid, cell,
            CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
          FROM (SELECT b.vec_id AS vid, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                FROM base_s$si b, m3_s$si m WHERE b.vec_id < 10) GROUP BY 1, 2)"""
    }
    "WITH " + (Seq(coarse) ++ prologs ++ Seq(
      """codes AS MATERIALIZED (SELECT c0.cid AS nid, c0.cell AS k0, c1.cell AS k1, c2.cell AS k2, c3.cell AS k3
          FROM corp_s0 c0 JOIN corp_s1 c1 ON c0.cid = c1.cid
          JOIN corp_s2 c2 ON c0.cid = c2.cid JOIN corp_s3 c3 ON c0.cid = c3.cid)""") ++ dts ++ Seq(
      """sc AS MATERIALIZED (SELECT q.vid AS qid, c.nid,
            d0.d + d1.d + d2.d + d3.d AS adc_fp
          FROM codes c
          JOIN corp cc ON cc.cid = c.nid
          JOIN pr q ON q.cell = cc.cell AND q.rn <= 2 AND q.vid < 10 AND q.vid <> c.nid
          JOIN dt0 d0 ON d0.qid = q.vid AND d0.cell = c.k0
          JOIN dt1 d1 ON d1.qid = q.vid AND d1.cell = c.k1
          JOIN dt2 d2 ON d2.qid = q.vid AND d2.cell = c.k2
          JOIN dt3 d3 ON d3.qid = q.vid AND d3.cell = c.k3)""")).mkString(",\n        ") + """
    SELECT qid AS query_id, rnk, nid AS neighbor_id, adc_fp FROM (
      SELECT qid, nid, adc_fp,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY adc_fp DESC, nid) AS BIGINT) AS rnk
      FROM sc)
    WHERE rnk <= 10 ORDER BY query_id, rnk"""
  }

  /** Shared DuckDB oracle for v16 and v19 (v08/v11's technique): the
    * full from-scratch BM25 + vector + RRF replay. v16 gates the
    * in-session computation; v19 gates build-index-then-serve — both
    * must equal this recomputation, which is exactly the persisted-
    * index-invisibility claim. */
  private val Bm25HybridOracleSql: String =
    """WITH docsall AS MATERIALIZED (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        base AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v FROM embeddings e
          WHERE e.vec_id IN (SELECT doc_id FROM docsall)),
        docs AS MATERIALIZED (
          SELECT * FROM docsall WHERE doc_id IN (SELECT vec_id FROM base)),
        st AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(len(toks) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM docs),
        tfp AS MATERIALIZED (
          SELECT doc_id, term, MAX(dl) AS dl, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term FROM docs)
          GROUP BY 1, 2),
        dfp AS MATERIALIZED (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1),
        sc AS MATERIALIZED (
          SELECT t.term, t.doc_id,
                 CAST(FLOOR((ln((((st.n - d.df) + 0.5) / (d.df + 0.5)) + 1.0) *
                   ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (t.dl / st.avgdl)))))
                   * 1000000000.0 + 0.5) AS BIGINT) AS bm25_e9
          FROM tfp t JOIN dfp d USING (term), st),
        qt AS MATERIALIZED (
          SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
          FROM docs WHERE doc_id < 10),
        bm AS MATERIALIZED (
          SELECT q.query_id, s.doc_id, CAST(SUM(s.bm25_e9) AS BIGINT) AS bm25
          FROM qt q JOIN sc s USING (term) WHERE q.query_id <> s.doc_id
          GROUP BY 1, 2),
        lex AS (SELECT query_id, doc_id, r_lex FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25 DESC, doc_id) AS r_lex
          FROM bm) WHERE r_lex <= 60),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
                 GROUP BY 1, 2),
        vec AS (SELECT query_id, doc_id, r_vec FROM (
          SELECT qid AS query_id, cid AS doc_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS r_vec
          FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
          WHERE r_vec <= 60),
        fused AS (
          SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 COALESCE(1.0 / (60.0 + l.r_lex), 0.0)
                   + COALESCE(1.0 / (60.0 + v.r_vec), 0.0) AS fused,
                 l.r_lex, v.r_vec
          FROM lex l FULL OUTER JOIN vec v
            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY fused DESC, doc_id) AS rnk
          FROM fused)
        SELECT query_id, rnk, doc_id, fused, r_lex, r_vec
        FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** Sign-LSH band coding for the greedy ONLINE dedup family: band `b`'s
    * `planes`-bit code is the sign pattern of coordinates
    * `[b*planes, (b+1)*planes)`. Data-independent (no training pass, so a
    * stream can code rows the moment they arrive) and cross-engine exact
    * (a sign test per coordinate). Two vectors are dedup CANDIDATES iff
    * they share at least one band's code — d03's banded-candidates shape
    * transplanted to cosine space. Requires `dim >= bands*planes` (ANSI
    * element_at throws otherwise). Returns
    * `(vec_id, band, code, v, nrm)` — one row per (vector, band). */
  private[graft] def bandCodes(vectors: DataFrame, bands: Int, planes: Int): DataFrame = {
    require(bands >= 1 && planes >= 1 && planes <= 16,
      s"bands/planes out of range: $bands/$planes")
    graft.functions.FixedPointDot.install(vectors.sparkSession)
    vectors.select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .withColumn("nrm", expr(NormSql))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("code", (0 until planes).map(p =>
        when(element_at(col("v"), col("band") * planes + p + 1) >= 0.0,
          lit(1 << p)).otherwise(lit(0))).reduce(_ + _).cast("long"))
  }

  /** The drop rule of greedy online semantic dedup, factored so the batch
    * catalog query and the streaming sink CANNOT drift: a `probe` row is
    * dropped by the MINIMUM `earlier` vec_id that (a) is strictly smaller
    * than the probe's, (b) shares at least one band code, and (c) has
    * exact fixed-point cosine >= `threshold`. "Earlier" needs NOT have
    * survived its own dedup — the any-earlier-similar semantics (d07's
    * rule, not the kept-chain rule), which is what makes the result
    * independent of where micro-batch boundaries fall. Returns
    * `(vec_id, dropped_by)` for dropped probes only.
    *
    * Scale shape: candidates come from the band equi-join (never
    * all-pairs); `broadcastProbe` marks the probe side broadcastable —
    * the streaming case, where the probe is one trigger-bounded
    * micro-batch and `earlier` is the whole resident history (the big
    * side streams map-side past it, the d02-probe convention). */
  private[graft] def greedyDroppers(probe: DataFrame, earlier: DataFrame,
      threshold: Double, broadcastProbe: Boolean = false): DataFrame = {
    val a = earlier.select(col("vec_id").as("ida"), col("band"), col("code"),
      col("v").as("va"), col("nrm").as("na"))
    val b0 = probe.select(col("vec_id").as("idb"), col("band"), col("code"),
      col("v").as("vb"), col("nrm").as("nb"))
    val b = if (broadcastProbe) broadcast(b0) else b0
    a.join(b, Seq("band", "code"))
      .filter(col("ida") < col("idb"))
      // a pair sharing several bands appears once per shared band. The
      // terminal min-aggregate absorbs the duplicates, so they are NOT
      // deduped here: a dropDuplicates would exchange every candidate
      // row with both 64-dim vectors aboard (measured as the dominant
      // cost at 20k vectors), while re-verifying a duplicate is one
      // map-side fp_dot bounded by the band count
      .withColumn("cos", expr(dotSql("va", "vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .groupBy(col("idb").as("vec_id"))
      .agg(min(col("ida")).as("dropped_by"))
  }

  /** Greedy online semantic dedup over a `(vec_id, v)` frame: every
    * vector is kept unless an EARLIER (smaller-id) vector shares a
    * sign-LSH band and sits within `threshold` cosine — the single-pass
    * rule a streaming ingest can honor incrementally (see
    * [[graft.pipeline.StreamingSemanticDedup]]), where d07's k-means
    * cells would need the full corpus before assigning the first row.
    * Approximate by the banding (a true near-dup pair sharing no band
    * survives — the d03-vs-d02 trade); the DuckDB oracle replays the
    * SAME bands, so the catalog gate is hash-exact. Returns one row per
    * input: `(vec_id, kept, dropped_by)`.
    *
    * Sizing at scale: each band has `2^planes` buckets and candidate
    * work is bucket-quadratic, so `planes` must GROW with the corpus
    * (16 buckets/band measured 50M candidate pairs at 20k vectors; 64
    * buckets/band ~3M). More planes lowers per-band collision
    * probability for true pairs — compensate with more `bands` (recall
    * ≈ 1-(1-p^planes)^bands, p = 1-θ/π). For dedup-grade thresholds
    * (cos ≥ 0.8, θ ≤ 37°) p ≈ 0.8 and 6×6 keeps recall ≈ 0.85; the
    * catalog's 0.45 threshold is the harder semantic regime and its
    * gate checks exactness of THIS shape, not recall. */
  def semanticGreedy(vectors: DataFrame, threshold: Double = 0.45,
      bands: Int = 4, planes: Int = 4): DataFrame = {
    val coded = graft.CacheRegistry.retain(s"semgreedy.codes.b$bands.p$planes",
      bandCodes(vectors, bands, planes))
    vectors.select(col("vec_id").cast("long").as("vec_id"))
      .join(greedyDroppers(coded, coded, threshold), Seq("vec_id"), "left")
      .withColumn("kept", col("dropped_by").isNull)
      .select(col("vec_id"), col("kept"), col("dropped_by"))
  }

  val entries: Seq[QueryDef] = Seq(

    QueryDef("v18_ivf_pq",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // IVF-PQ — the production ANN architecture (Jégou et al. 2011's
        // IVFADC): a coarse quantizer prunes the corpus to each query's
        // nprobe nearest cells, and ONLY those candidates are scored
        // with the 4-byte ADC codes. Composes verified kernels with
        // nothing re-implemented: [[buildPqIndex]] persists the PQ
        // books/codes AND the IVF half (coarse centroids + each
        // vector's cell, `_coarse` table + `ccell` column — the
        // inverted-list assignment is part of the index, exactly as
        // the codes are), all under one fingerprint skip shared with
        // v15; serving reads ONLY persisted artifacts — no training
        // job, no raw-vector scan. Scale shape: probes and ADC tables
        // are driver-computed from the model-sized coarse/books reads
        // and broadcast; candidates = probed cells only (nprobe/cells
        // of the corpus per query) pruned ON the code scan; the shared
        // [[adcRank]] tail runs partial agg under WindowGroupLimit.
        val table = "v15_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val base = based(s, dir)
        Embeddings.buildPqIndex(base, table)
        val books = pqReadBooks(s, table)
        val coarse = pqReadCoarse(s, table)
        val queryRows = base.filter($"vec_id" < 10)
          .as[(Long, Array[Double])].collect()
        // probe selection under the trainer's (cosine desc, cell asc)
        // tie order — ivfTopK's topCells scan
        val probes = queryRows.flatMap { case (qid, qv) =>
          topCells(coarse, qv, fpNorm(qv), 2).map(c => (qid, c))
        }.toSeq
        val dtDF = broadcast(pqAdc(queryRows, books).toDF("query_id", "s", "cell", "d"))
        val probeDF = broadcast(probes.toDF("query_id", "ccell"))
        val codes = ParquetTables.read(s, PersistedIndex.location(s, table, "_codes"))
          .select($"vec_id",
            $"k0".cast("long").as("k0"), $"k1".cast("long").as("k1"),
            $"k2".cast("long").as("k2"), $"k3".cast("long").as("k3"),
            $"ccell".cast("long").as("ccell"))
        adcRank(
          codes.join(probeDF, Seq("ccell"))
            .filter($"query_id" =!= $"vec_id")
            .select($"query_id", $"vec_id".as("neighbor_id"),
              posexplode(array($"k0", $"k1", $"k2", $"k3")).as(Seq("s", "cell"))),
          dtDF, Seq("query_id", "s", "cell"))
          .orderBy($"query_id", $"rnk")
      },
      Some(IvfPqOracleSql)),

    QueryDef("v01_similarity_topk",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val base = based(s, dir).withColumn("nrm", expr(NormSql))
        val queries = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val corpus = base
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
                 GROUP BY 1, 2),
        scored AS (SELECT qid AS query_id, cid AS neighbor_id,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cosine FROM scored
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v13_filtered_topk",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // filtered ("hybrid") retrieval — the standard production search
        // shape: top-k cosine among vectors whose companion DOCUMENT
        // passes a metadata predicate. The predicate prunes the corpus
        // BEFORE any vector arithmetic (left_semi against the pushed-
        // down documents scan), which both does less work and keeps the
        // k-guarantee — the naive alternative, post-filtering an
        // unfiltered top-k, silently returns fewer than k when
        // neighbors fail the predicate. Same broadcast-panel + partial
        // WindowGroupLimit shape as v01 on the (smaller) filtered
        // corpus; at 100 TB the predicate rides the parquet scan
        // (PushedFilters, plan-pinned) so pruning costs no extra pass.
        val base = based(s, dir)
        val meta = tbl(s, dir, "documents")
          .filter($"lang" === "en" && $"n_chars" >= 200)
          .select($"doc_id".as("vec_id"))
        val queries = base.filter($"vec_id" < 10)
          .withColumn("nrm", expr(NormSql))
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        // norm AFTER the semi-join: nrm is per-row, so the result is
        // identical, but the 64-dim self-dot runs only on survivors —
        // with a selective predicate the saving is proportional
        val corpus = base.join(meta, Seq("vec_id"), "left_semi")
          .withColumn("nrm", expr(NormSql))
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 5)
          .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c
                       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
                         AND c.vec_id IN (SELECT doc_id FROM keep))
                 GROUP BY 1, 2),
        scored AS (SELECT qid AS query_id, cid AS neighbor_id,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cosine FROM scored
        WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    QueryDef("v14_rrf_fusion",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
        // 2009), the production combiner's ACTUAL list semantics: each
        // system contributes its top-60 list over the SAME candidate
        // universe (docs that have an embedding — both rankers are
        // restricted to the id intersection, or partial embedding
        // coverage would skew r_lex), candidates are the UNION of the
        // lists, and a system that did not retrieve a doc contributes
        // nothing: fused = Σ_present 1/(60+r). Ranks are integers and
        // the IEEE divisions + add evaluate identically in both
        // engines, so the fusion is hash-gate exact with no recursion.
        // Scale shape: the rank filters sit directly above row_number,
        // so both rankers run as broadcast-panel + partial
        // WindowGroupLimit (plan-pinned) and the fusion join sees two
        // top-K lists, not corpus-sized rankings; the corpus norm is
        // computed AFTER the universe semi-join (survivors only).
        val K = 60
        val docsAll = tbl(s, dir, "documents")
          .select($"doc_id", array_distinct(split($"text", " ")).as("toks"))
        val base = based(s, dir)
          .join(docsAll.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
          .withColumn("nrm", expr(NormSql))
        val docs = docsAll
          .join(base.select($"vec_id".as("doc_id")), Seq("doc_id"), "left_semi")
        val qtok = docs.filter($"doc_id" < 10)
          .select($"doc_id".as("query_id"), $"toks".as("qtoks"))
        val wl = Window.partitionBy($"query_id").orderBy($"overlap".desc, $"doc_id")
        val lex = docs.join(broadcast(qtok), $"query_id" =!= $"doc_id")
          .withColumn("overlap", size(array_intersect($"qtoks", $"toks")).cast("long"))
          .withColumn("r_lex", row_number().over(wl).cast("long"))
          .filter($"r_lex" <= K)
          .select($"query_id", $"doc_id", $"r_lex")
        val qv = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val wv = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"doc_id")
        val vec = base.select($"vec_id".as("doc_id"), $"v".as("cv"), $"nrm".as("cn"))
          .join(broadcast(qv), $"query_id" =!= $"doc_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("r_vec", row_number().over(wv).cast("long"))
          .filter($"r_vec" <= K)
          .select($"query_id", $"doc_id", $"r_vec")
        val wf = Window.partitionBy($"query_id").orderBy($"fused".desc, $"doc_id")
        lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("fused",
            coalesce(lit(1.0) / (lit(60.0) + $"r_lex"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + $"r_vec"), lit(0.0)))
          .withColumn("rnk", row_number().over(wf).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"doc_id", $"fused", $"r_lex", $"r_vec")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH docsall AS MATERIALIZED (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        base AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v FROM embeddings e
          WHERE e.vec_id IN (SELECT doc_id FROM docsall)),
        docs AS MATERIALIZED (
          SELECT * FROM docsall WHERE doc_id IN (SELECT vec_id FROM base)),
        lex AS (SELECT query_id, doc_id, r_lex FROM (
          SELECT q.doc_id AS query_id, d.doc_id,
                 row_number() OVER (PARTITION BY q.doc_id
                   ORDER BY CAST(len(list_intersect(q.toks, d.toks)) AS BIGINT) DESC,
                            d.doc_id) AS r_lex
          FROM docs q, docs d WHERE q.doc_id < 10 AND q.doc_id <> d.doc_id)
          WHERE r_lex <= 60),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
                 GROUP BY 1, 2),
        vec AS (SELECT query_id, doc_id, r_vec FROM (
          SELECT qid AS query_id, cid AS doc_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS r_vec
          FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
          WHERE r_vec <= 60),
        fused AS (
          SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                 COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 COALESCE(1.0 / (60.0 + l.r_lex), 0.0)
                   + COALESCE(1.0 / (60.0 + v.r_vec), 0.0) AS fused,
                 l.r_lex, v.r_vec
          FROM lex l FULL OUTER JOIN vec v
            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY fused DESC, doc_id) AS rnk
          FROM fused)
        SELECT query_id, rnk, doc_id, fused, r_lex, r_vec
        FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v16_bm25_hybrid",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // v14 with a REAL lexical leg (r6 verdict #3): BM25 (Robertson &
        // Zaragoza 2009; k1=1.2, b=0.75, the robust +1 IDF) replaces the
        // raw token-overlap count — production hybrid search is BM25 +
        // vector, not intersection-count + vector. Oracle exactness
        // follows t07's ln discipline: each (term, doc) contribution is
        // quantized to a 1e-9 integer grid (per-row IEEE ops in the same
        // association order in both engines), and the per-(query, doc)
        // score is an exact BIGINT sum of those integers — order-
        // independent, so partitioning cannot drift the hash. Scale
        // shape: the term-doc score table is the inverted-index form
        // (explode → tf/df aggregations — query-independent, computed
        // once for ANY number of queries); the 10-query term panel is
        // broadcast onto it map-side, partial aggs reduce to top-60
        // lists under WindowGroupLimit, and the RRF combiner fuses two
        // top-K lists exactly as v14. Universe discipline unchanged:
        // both legs are restricted to docs∩embeddings BEFORE ranking,
        // and docs sharing NO query term are absent from the BM25 list
        // (true top-K-list semantics) rather than ranked at overlap 0.
        val K = 60
        val docsTok = tbl(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("toks"))
        val base = based(s, dir)
          .join(docsTok.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
          .withColumn("nrm", expr(NormSql))
        val docs = docsTok
          .join(base.select($"vec_id".as("doc_id")), Seq("doc_id"), "left_semi")
        val scored = bm25ScoreTable(docs)
        val qterm = docs.filter($"doc_id" < 10)
          .select($"doc_id".as("query_id"), explode(array_distinct($"toks")).as("term"))
        val wb = Window.partitionBy($"query_id").orderBy($"bm25".desc, $"doc_id")
        val lex = scored.join(broadcast(qterm), Seq("term"))
          .filter($"query_id" =!= $"doc_id")
          .groupBy($"query_id", $"doc_id")
          .agg(sum($"bm25_e9").as("bm25"))
          .withColumn("r_lex", row_number().over(wb).cast("long"))
          .filter($"r_lex" <= K)
          .select($"query_id", $"doc_id", $"r_lex")
        val qv = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val wv = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"doc_id")
        val vec = base.select($"vec_id".as("doc_id"), $"v".as("cv"), $"nrm".as("cn"))
          .join(broadcast(qv), $"query_id" =!= $"doc_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("r_vec", row_number().over(wv).cast("long"))
          .filter($"r_vec" <= K)
          .select($"query_id", $"doc_id", $"r_vec")
        val wf = Window.partitionBy($"query_id").orderBy($"fused".desc, $"doc_id")
        lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("fused",
            coalesce(lit(1.0) / (lit(60.0) + $"r_lex"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + $"r_vec"), lit(0.0)))
          .withColumn("rnk", row_number().over(wf).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"doc_id", $"fused", $"r_lex", $"r_vec")
          .orderBy($"query_id", $"rnk")
      },
      Some(Bm25HybridOracleSql)),

    QueryDef("v19_bm25_hybrid_persisted",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the PRODUCTION form of v16's lexical leg — the r6-verdict v12
        // criticism ("its cost is training, not search") applied one
        // scale rung down: v16 recomputes the corpus-wide (term, doc)
        // BM25 score table (tokenize → tf/df aggregation, a full corpus
        // pass) on EVERY call. [[buildBm25Index]] persists that table
        // term-bucketed under [[buildPqIndex]]'s fingerprint-skip
        // discipline, and [[queryBm25Index]] serves the lexical top-60
        // from it: the lex leg's plan scans ONLY the posting table (the
        // query term panel is a driver-side array — pinned in
        // EmbeddingsSpec). The vector leg and RRF combiner are v16's
        // verbatim (at 100 TB the vector leg would serve from v15/v18's
        // persisted index; it stays exact here so the oracle can remain
        // v16's IDENTICAL SQL — serving the lexical leg from the
        // persisted index must be indistinguishable from recomputing
        // it, v15's claim pattern). Table name from the sanitized dir
        // (v08's discipline), so each SF keeps its own index.
        val K = 60
        val table = "v19_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val docsTok = tbl(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("toks"))
        val base = based(s, dir)
          .join(docsTok.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
          .withColumn("nrm", expr(NormSql))
        val docsText = tbl(s, dir, "documents").select($"doc_id", $"text")
          .join(base.select($"vec_id".as("doc_id")), Seq("doc_id"), "left_semi")
        Embeddings.buildBm25Index(docsText, table)
        val qterms = docsText.filter($"doc_id" < 10)
          .select($"doc_id".as("query_id"),
            explode(array_distinct(split($"text", " "))).as("term"))
          .as[(Long, String)].collect()
        val lex = Embeddings.queryBm25Index(s, qterms, table, K)
        val qv = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val wv = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"doc_id")
        val vec = base.select($"vec_id".as("doc_id"), $"v".as("cv"), $"nrm".as("cn"))
          .join(broadcast(qv), $"query_id" =!= $"doc_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("r_vec", row_number().over(wv).cast("long"))
          .filter($"r_vec" <= K)
          .select($"query_id", $"doc_id", $"r_vec")
        val wf = Window.partitionBy($"query_id").orderBy($"fused".desc, $"doc_id")
        lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("fused",
            coalesce(lit(1.0) / (lit(60.0) + $"r_lex"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + $"r_vec"), lit(0.0)))
          .withColumn("rnk", row_number().over(wf).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"doc_id", $"fused", $"r_lex", $"r_vec")
          .orderBy($"query_id", $"rnk")
      },
      Some(Bm25HybridOracleSql)),

    QueryDef("v17_binary_hamming",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // 1-bit (sign) embedding quantization with Hamming prerank and
        // exact cosine rerank — the binary-retrieval serving recipe
        // (sign-random-projection hashing per Charikar 2002; the
        // binary-code + rerank split per Yamada et al. 2021's Binary
        // Passage Retriever): quantize each dim to its sign bit, scan
        // 16 bytes/vector instead of 512 for the candidate pass, then
        // pay the exact fixed-point cosine ONLY on the top-C Hamming
        // candidates. Completes the quantization ladder fp64 (v01) →
        // int8 (v10) → 4-byte PQ (v12/v15) → 1-bit. 64 dims pack into
        // two BIGINT halves (m05's convention — bit 63 of one word
        // would overflow signed); ties break (hamming, neighbor_id) so
        // the candidate set is deterministic. Scale shape: the packed
        // frame is a map-side projection of the corpus scan, the panel
        // broadcasts, the crnk filter runs as partial WindowGroupLimit
        // — no shuffle touches a full-width vector; a production
        // deployment would persist the packed bits (v08's pattern), the
        // in-session form is the catalog query.
        val C = 50
        def half(off: Int) = expr((0 until 32)
          .map(i => s"IF(v[${off + i}] >= 0D, ${1L << i}L, 0L)").mkString(" + "))
        val bits = based(s, dir).select($"vec_id", $"v",
          half(0).as("b0"), half(32).as("b1"))
        // the prerank frame carries ONLY (ids, bit halves, hamming):
        // the crnk window's exchange must not ship 64-dim arrays
        // (review finding — the first cut joined the vectors in before
        // the window); the C survivors rejoin the corpus for their
        // vectors below, where the candidate list is broadcast-sized
        // by construction (queries × C rows).
        // Candidate scan shape (r19): the panel (10 packed rows by
        // construction) broadcasts into a mapPartitions kernel keeping
        // a per-query [[TopKBuffer]] (score = −hamming reproduces the
        // (hamming asc, id asc) order, ints exact in double), emitting
        // ≤ queries × C rows per partition; the global row_number
        // window then ranks the per-partition survivors — the exact
        // global top-C, since every global survivor is its partition's
        // survivor. The former BroadcastNestedLoopJoin materialized
        // all queries × n joined rows through the window's partial
        // limit at row-copy cost — measured 6.0 s at sf3 / 12.8 s at
        // sf6.4, vs the same candidate arithmetic at register speed
        // here (sf3 ~1.3 s).
        val qRows = bits.filter($"vec_id" < 10)
          .select($"vec_id", $"b0", $"b1").as[(Long, Long, Long)]
          .collect().sortBy(_._1)
        val bcQ = s.sparkContext.broadcast(qRows)
        val wh = Window.partitionBy($"query_id").orderBy($"hamming".asc, $"neighbor_id")
        val lean = bits.select($"vec_id", $"b0", $"b1").as[(Long, Long, Long)]
          .mapPartitions { rows =>
            val qs = bcQ.value
            val bufs = qs.map(_ => new TopKBuffer(C))
            rows.foreach { case (id, b0, b1) =>
              var qi = 0
              while (qi < qs.length) {
                val q = qs(qi)
                if (q._1 != id) {
                  val h = java.lang.Long.bitCount(b0 ^ q._2) +
                    java.lang.Long.bitCount(b1 ^ q._3)
                  bufs(qi).insert(-h.toDouble, id)
                }
                qi += 1
              }
            }
            qs.indices.iterator.flatMap { qi =>
              val b = bufs(qi)
              (0 until b.filled).iterator.map(p =>
                (qs(qi)._1, b.ids(p), (-b.scores(p)).toLong))
            }
          }.toDF("query_id", "neighbor_id", "hamming")
          .withColumn("crnk", row_number().over(wh))
          .filter($"crnk" <= C)
          .select($"query_id", $"neighbor_id", $"hamming")
        val qv = bits.filter($"vec_id" < 10)
          .withColumn("qn", expr(NormSql))
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"qn")
        // norm AFTER the prune (v13's discipline): only C candidates
        // per query pay the 64-dim self-dot; cosine is computed and the
        // wide columns dropped BEFORE the rank window, so no exchange
        // in the plan carries a vector
        val wc = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        bits.select($"vec_id".as("neighbor_id"), $"v".as("cv"))
          .join(broadcast(lean), Seq("neighbor_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("cn", expr(normSqlOf("cv")))
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .select($"query_id", $"neighbor_id", $"hamming", $"cosine")
          .withColumn("rnk", row_number().over(wc).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"neighbor_id", $"hamming", $"cosine")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pos AS (SELECT unnest(generate_series(1, 64)) AS i),
        bits AS MATERIALIZED (
          SELECT b.vec_id,
            CAST(SUM(CASE WHEN p.i <= 32 AND b.v[p.i] >= 0
              THEN CAST(1 AS BIGINT) << (p.i - 1) ELSE 0 END) AS BIGINT) AS b0,
            CAST(SUM(CASE WHEN p.i > 32 AND b.v[p.i] >= 0
              THEN CAST(1 AS BIGINT) << (p.i - 33) ELSE 0 END) AS BIGINT) AS b1
          FROM base b, pos p GROUP BY b.vec_id),
        kept AS MATERIALIZED (
          SELECT qid, nid, hamming FROM (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)), c.vec_id) AS crnk
            FROM bits q, bits c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
          WHERE crnk <= 50),
        n2 AS MATERIALIZED (
          SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
          FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS MATERIALIZED (
          SELECT qid, nid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
          FROM (SELECT k.qid, k.nid, unnest(q.v) AS qx, unnest(c.v) AS cx
                FROM kept k JOIN base q ON q.vec_id = k.qid
                JOIN base c ON c.vec_id = k.nid)
          GROUP BY 1, 2)
        SELECT qid AS query_id, rnk, nid AS neighbor_id, hamming, cosine FROM (
          SELECT d.qid, d.nid, k.hamming, d.dot / (a.nrm * b.nrm) AS cosine,
                 CAST(row_number() OVER (PARTITION BY d.qid
                   ORDER BY d.dot / (a.nrm * b.nrm) DESC, d.nid) AS BIGINT) AS rnk
          FROM dots d JOIN kept k ON k.qid = d.qid AND k.nid = d.nid
          JOIN n2 a ON d.qid = a.vec_id JOIN n2 b ON d.nid = b.vec_id)
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v02_ann_bucketed",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // LSH bucket: sign pattern of the leading [[lshPlanes]] dims
        // (axis-aligned hyperplanes, plane count derived from COUNT(*)
        // so the average bucket population — and the bucket-quadratic
        // kernel's per-vector work — stays pinned at ~512 as the corpus
        // grows: 4 planes to 8k vectors, then one more per doubling up
        // to 16). Neighbors are searched WITHIN the bucket only.
        //
        // Execution: one column-pruned COUNT(*), the index row (bucket +
        // norm as column expressions, [[indexRows]]), then ONE shuffle
        // keyed on the bucket and v08's [[CosineKernels.bucketTopK]] per
        // bucket group (dot products + a bounded top-3 per query).
        // The earlier declarative form — a bucket-keyed self-join with
        // an `aggregate()` lambda fold per candidate pair — paid an
        // interpreted 64-term HOF outside whole-stage codegen on every
        // candidate plus a row_number window over the bucket-quadratic
        // candidate rows; the kernel does the identical fixed-point
        // arithmetic (bit-for-bit — the oracle replays the same derived
        // planes from its own COUNT(*)) at memory bandwidth. Per-task
        // memory is one bucket; past the 16-plane cap (33M vectors)
        // apply v04's block decomposition inside oversized buckets or
        // move to the trained-cell families.
        val base = based(s, dir)
        val planes = lshPlanes(base.count(), minPlanes = 4, maxPlanes = 16)
        bucketTopK(indexRows(base, planes), 3).orderBy($"query_id", $"rnk")
      },
      // same oracle as v08/v11: the rebuilt-from-scratch and persisted-
      // index forms must agree exactly, planes derivation included
      Some(SignIndexOracleSql)),

    QueryDef("v05_topk_aggregated",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // same semantics as v01 but ranked by the TopKAggregator typed
        // aggregate instead of a rank window: partial top-k buffers merge
        // map-side, so no per-group full sort / full materialization —
        // the §4.2b shape for huge candidate sets. Shares v01's oracle:
        // two independent top-k implementations must agree exactly.
        val topk = udaf(new graft.functions.TopKAggregator(10))
        val base = based(s, dir).withColumn("nrm", expr(NormSql))
        val queries = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val corpus = base
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .groupBy($"query_id")
          .agg(topk($"cosine", $"neighbor_id").as("top"))
          .select($"query_id", posexplode($"top.items").as(Seq("pos", "item")))
          .select($"query_id", ($"pos" + 1).cast("long").as("rnk"),
            $"item.id".as("neighbor_id"), $"item.score".as("cosine"))
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        dots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q, base c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
                 GROUP BY 1, 2),
        scored AS (SELECT qid AS query_id, cid AS neighbor_id,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cosine FROM scored
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v04_cosine_neardup",
      (s: SparkSession, dir: String) =>
        // exact all-pairs cosine near-dups via the reusable block
        // self-join kernel (see [[cosineNearDupPairs]] for the scale
        // argument); v02's LSH bucketing remains the cheaper 100 TB path
        // when approximate recall is acceptable
        cosineNearDupPairs(based(s, dir), threshold = 0.45)
          .orderBy(col("doc_a"), col("doc_b")),
      // still an all-pairs scan (the SEMANTICS are exact all-pairs), but
      // priced for the sf1 sweep: a native float inner-product PREFILTER
      // admits every exactly-qualifying pair, then the survivors — pair
      // count, not n² — pay the exact FLOOR-per-term fold that defines
      // the reported cosine. The slack is NORM-RELATIVE and the test
      // division-free (dot + 1e-6·(‖a‖‖b‖+1) ≥ 0.45·‖a‖‖b‖): the
      // float-vs-fixed divergence is ≤ 64·u·Σ|xᵢyᵢ| ≤ ~1e-12·‖a‖‖b‖
      // (Cauchy-Schwarz) plus ≤ 3.2e-11 absolute from the half-ulp
      // quantizations, both dominated by the slack at EVERY norm scale
      // — a cosine-scale absolute slack would be outrun by tiny-norm
      // vectors (3e-11/‖a‖‖b‖ grows without bound) and a dot-scale one
      // by huge-norm vectors. The unnest×dims GROUP BY form exceeded
      // the sweep budget (386 s at 20k vectors; this form replays in
      // ~10 s), and only exact-path values reach the output.
      Some("""WITH base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        n2 AS MATERIALIZED (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        cand AS MATERIALIZED (
          SELECT q.vec_id AS qid, c.vec_id AS cid, q.v AS qv, c.v AS cv,
                 a.nrm AS na, b.nrm AS nb
          FROM base q JOIN n2 a ON q.vec_id = a.vec_id,
               base c JOIN n2 b ON c.vec_id = b.vec_id
          WHERE q.vec_id < c.vec_id
            AND list_inner_product(q.v, c.v) + 1e-6 * (a.nrm * b.nrm + 1)
                >= 0.45 * (a.nrm * b.nrm)),
        dots AS (SELECT qid, cid,
                   CAST(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> CAST(FLOOR((qv[i] * cv[i]) * 1000000000000.0 + 0.5) AS BIGINT))) AS DOUBLE)
                     / 1000000000000.0 AS dot, na, nb
                 FROM cand)
        SELECT qid AS doc_a, cid AS doc_b, dot / (na * nb) AS cosine
        FROM dots
        WHERE dot / (na * nb) >= 0.45
        ORDER BY doc_a, doc_b""")),

    QueryDef("v06_ann_ivf",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // IVF (inverted-file) ANN: vectors are assigned to CELLS — here
        // the exact per-label centroids (deterministic, so the DuckDB
        // oracle can replicate the index bit-for-bit; [[kMeansModel]] +
        // [[ivfTopK]] are the trainer/search pair for UNLABELED data) —
        // and a query searches only its own cell.
        // The IVF scale shape: the coarse quantizer (10 centroids)
        // BROADCASTS, assignment is one linear pass (n × #cells fixed-
        // point cosines), and quadratic work happens only within cells —
        // the complement of v02's data-independent hyperplanes (IVF
        // adapts cells to the data's clusters; LSH needs no training).
        // At 100 TB: more centroids (√n is the textbook pick) keep cells
        // bounded; multi-probe (nearest P cells) buys recall linearly.
        //
        // The coarse quantizer is a MODEL, not data: O(#centroids) values
        // that the driver collects once and broadcasts (the KMeansModel
        // shape) — assignment is then a single embarrassingly-parallel
        // mapPartitions pass with a primitive argmax kernel. A
        // crossJoin + interpreted HOF fold + per-vector row_number window
        // would shuffle n×#cells rows to do the same arithmetic.
        val base = based(s, dir)
          .withColumn("nrm", expr(NormSql))
          .join(tbl(s, dir, "embeddings")
            .select($"vec_id", $"label".cast("long").as("label")), "vec_id")
        val comps = base
          .select($"label", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"label", $"pos")
          .agg((sum($"x".cast(DecimalType38)).cast("double") / count(lit(1))).as("m"))
        // ascending label order ⇒ strict-greater replacement (under SQL
        // ordering, where NaN ranks first) keeps the smallest cell on
        // cosine ties — identical to the declarative row_number ordering
        // (ccos DESC, cell ASC) the oracle uses, including for zero-norm
        // vectors whose every cell cosine is 0/0 = NaN.
        // comps is collected ONCE (label × dims rows — the model) and cv
        // / cn assemble driver-side: the pre-r19 cents ⋈ cnorm form
        // aggregated the comps subtree TWICE (self-referencing subtrees
        // never stage-reuse — the d03 finding) and paid a join for a
        // model-sized result. cn replays the identical arithmetic:
        // sqrt(Σ floor(m·m·1e12 + 0.5) / 1e12) IS fpNorm.
        val model = comps.as[(Long, Int, Double)].collect()
          .groupBy(_._1).map { case (label, rows) =>
            val cv = rows.sortBy(_._2).map(_._3)
            (label, cv, fpNorm(cv))
          }.toArray.sortBy(_._1)
        val bcModel = s.sparkContext.broadcast(model)
        val cells = base.select($"vec_id", $"v", $"nrm").as[(Long, Array[Double], Double)]
          .mapPartitions { it =>
            val cs = bcModel.value
            it.map { case (id, v, nrm) => (id, argmaxCell(cs, v, nrm)) }
          }.toDF("vec_id", "cell")
        val withCell = base.join(cells, "vec_id")
        val queries = withCell.filter($"vec_id" < 10)
          .select($"cell", $"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val corpus = withCell
          .select($"cell", $"vec_id".as("neighbor_id"), $"v".as("nv"), $"nrm".as("nn"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        // the query panel is 10 rows by construction — broadcast it so
        // the serve join is a map-side BHJ over ONE corpus pass instead
        // of a SortMergeJoin that exchanges + sorts both sides (and
        // recomputes the corpus subtree for the panel side; the panel
        // side's recomputation under broadcast is a vec_id < 10
        // pushed-down scan)
        broadcast(queries).join(corpus, Seq("cell")).filter($"query_id" =!= $"neighbor_id")
          .withColumn("cosine", expr(dotSql("qv", "nv")) / ($"qn" * $"nn"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 3)
          .select($"query_id", $"rnk", $"neighbor_id", $"cell", $"cosine")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     CAST(label AS BIGINT) AS label FROM embeddings),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        comps AS (SELECT label, i AS pos,
                         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
                  FROM (SELECT label, unnest(v) AS x,
                               generate_subscripts(v, 1) AS i FROM base)
                  GROUP BY 1, 2),
        cents AS (SELECT label AS cell, list(m ORDER BY pos) AS cv FROM comps GROUP BY label),
        cnorm AS (SELECT label AS cell, sqrt(CAST(SUM(CAST(FLOOR((m*m) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS cn
                  FROM comps GROUP BY label),
        adots AS (SELECT vid, cell, CAST(SUM(CAST(FLOOR((bx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                  FROM (SELECT b.vec_id AS vid, c.cell, unnest(b.v) AS bx, unnest(c.cv) AS cx
                        FROM base b, cents c)
                  GROUP BY 1, 2),
        assign AS (SELECT vid AS vec_id, cell,
                          row_number() OVER (PARTITION BY vid
                            ORDER BY dot / (n2.nrm * cnorm.cn) DESC, cell) AS arn
                   FROM adots JOIN n2 ON vid = n2.vec_id JOIN cnorm USING (cell)),
        cells AS (SELECT vec_id, cell FROM assign WHERE arn = 1),
        dots AS (SELECT qid, cid, cl, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.vec_id AS qid, c.vec_id AS cid, qc.cell AS cl,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM base q JOIN cells qc ON q.vec_id = qc.vec_id,
                            base c JOIN cells cc ON c.vec_id = cc.vec_id
                       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
                         AND qc.cell = cc.cell)
                 GROUP BY 1, 2, 3),
        scored AS (SELECT qid AS query_id, cid AS neighbor_id, cl AS cell,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cell, cosine FROM scored
        WHERE rnk <= 3 ORDER BY query_id, rnk""")),

    QueryDef("v08_ann_index_persisted",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // build-once / query-many: [[buildIndex]] persists the sign-LSH
        // index (codes + norms paid once, bucketed layout paid once),
        // [[queryIndex]] serves top-k from it with no shuffle and no
        // recomputation. The catalog entry exercises BOTH phases so the
        // driver's gate covers the round trip; only the final ORDER BY
        // (oracle total-order requirement) adds an exchange. The index
        // is deterministic, so the DuckDB oracle simply reconstructs it
        // — same oracle as v02, and the two queries must agree exactly
        // (index read-back == rebuild, pinned in EmbeddingsSpec).
        // table name from the SANITIZED dir string, not dir.hashCode —
        // a 32-bit hash lets two dirs collide and silently share an index
        val table = "v08_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val base = based(s, dir)
        Embeddings.buildIndex(base, table,
          planes = lshPlanes(base.count(), minPlanes = 4, maxPlanes = 16))
        Embeddings.queryIndex(s, table)
          .orderBy($"query_id", $"rnk")
      },
      Some(SignIndexOracleSql)),

    QueryDef("v11_ann_index_append",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // incremental index maintenance under the hash gate (r5 verdict
        // #5): build the persisted sign-LSH index on ~2/3 of the corpus,
        // [[appendToIndex]] the remaining third, then serve top-k from
        // the combined table. The oracle is IDENTICAL to v08's full-
        // corpus reconstruction — append-then-query must be
        // indistinguishable from a full rebuild (the resident files are
        // untouched by the append; file-listing diff pinned in
        // EmbeddingsSpec). The % 3 split is deterministic and leaves
        // both sides non-empty at every SF. buildIndex's full-replace
        // semantics keep the entry idempotent within and across JVMs
        // (same stale-warehouse discipline as v08).
        val table = "v11_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val all = based(s, dir)
        // geometry sized for the FULL corpus the index will hold (see
        // buildIndex's scaladoc): append must reuse the build-time plane
        // count, and the oracle derives planes from the full COUNT(*)
        val planes = lshPlanes(all.count(), minPlanes = 4, maxPlanes = 16)
        Embeddings.buildIndex(all.filter($"vec_id" % 3 =!= 0), table, planes)
        Embeddings.appendToIndex(all.filter($"vec_id" % 3 === 0), table, planes)
        Embeddings.queryIndex(s, table)
          .orderBy($"query_id", $"rnk")
      },
      Some(SignIndexOracleSql)),

    QueryDef("v12_ann_pq",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Product quantization (Jégou, Douze & Schmid 2011, "Product
        // Quantization for Nearest Neighbor Search") — THE memory-bound
        // 100 TB retrieval form: the 64-dim vector space factors into 4
        // independent 16-dim subspaces, each with its own deterministic
        // [[kMeansModel]] codebook (16 centroids), and every vector
        // stores only its 4 centroid ids — 4 bytes/vector, a 128×
        // compression of the float64 corpus. Search is asymmetric
        // distance computation (ADC): per query, a 4×16 table of exact
        // fixed-point dot products query-subvector × centroid (a MODEL-
        // sized driver computation over the broadcast codebooks — the
        // corpus is never touched), and each candidate's score is 4
        // table lookups summed — map-side join + partial agg, no
        // full-vector arithmetic against the corpus at all. Everything
        // is deterministic (4 Lloyd replays + integer ADC sums), so the
        // DuckDB oracle replays training, encoding, and search: the
        // trainer prolog is [[kMeansPrologSql]] instantiated once per
        // subspace over the sliced base. Approximation quality is
        // spec-gated (recall vs exact dot top-10) like v02/v06.
        val base = based(s, dir)
        val models = pqTrain(base)
        val queryRows = base.filter($"vec_id" < 10).as[(Long, Array[Double])].collect()
        pqScore(pqEncode(base, models), pqAdc(queryRows, models))
          .orderBy($"query_id", $"rnk")
      },
      Some(PqOracleSql)),

    QueryDef("v15_ann_pq_persisted",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the PRODUCTION form of v12 (r6 verdict #1): "train rarely,
        // encode once, serve from 4-byte codes". [[buildPqIndex]]
        // persists codebooks + tinyint codes as warehouse tables — and
        // SKIPS the 12-pass training entirely when the stored corpus
        // fingerprint already matches, so repeat invocations (and every
        // future query against an unchanged corpus) pay one map-side
        // fingerprint scan instead of 12 Lloyd passes + a re-encode.
        // [[queryPqIndex]] serves top-10 from the persisted artifacts:
        // its plan scans ONLY the 4-byte code table (no training stage,
        // no raw-corpus access — pinned in EmbeddingsSpec). The oracle is
        // IDENTICAL to v12's full train+encode+search replay: serving
        // from the persisted index must be indistinguishable from
        // recomputing it. Table name from the sanitized dir (v08's
        // discipline), so each SF keeps its own index.
        val table = "v15_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val base = based(s, dir)
        Embeddings.buildPqIndex(base, table)
        val queryRows = base.filter($"vec_id" < 10).as[(Long, Array[Double])].collect()
        Embeddings.queryPqIndex(s, queryRows, table)
          .orderBy($"query_id", $"rnk")
      },
      Some(PqOracleSql)),

    QueryDef("v09_ann_kmeans_ivf",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the UNLABELED-data IVF path under the driver's hash gate:
        // [[kMeansModel]] (deterministic Lloyd's — Knuth-hash seeding,
        // broadcast-argmax assignment, exact DECIMAL means, fixed
        // iterations) trains the coarse quantizer and [[ivfTopK]] serves
        // multi-probe top-k from it. Every step is cross-engine
        // computable, so the DuckDB oracle replays the trainer round for
        // round (3 unrolled Lloyd iterations) and the search — this
        // upgrades the pair from its recall-spec to a hash-match.
        // k=3/cells=8/probes=2/iters=3 keep the oracle's 8·n assignment
        // cross-join bounded; output restricted to the v06-style 10-query
        // panel, and the restriction is PUSHED INTO candidate generation
        // (queryPred) exactly like the oracle's own `qp` CTE — the r10
        // form computed all n queries and post-filtered, paying the
        // full n²/cells pair sweep for a 30-row answer (the measured
        // 7.7×-for-3×-data superlinear at 30×; serving the panel is
        // linear in corpus size).
        //
        // Every oracle CTE is MATERIALIZED: the Lloyd rounds reference
        // each other repeatedly, and DuckDB 1.0 re-inlines plain CTEs
        // per reference — the un-hinted form re-evaluates the chain
        // combinatorially (measured 199 s and memory-flaky vs 0.46 s
        // materialized, identical 30 rows).
        Embeddings.ivfTopK(based(s, dir), k = 3, cells = 8, probes = 2, iters = 3,
            queryPred = _ < 10)
          .orderBy($"query_id", $"rnk")
      },
      Some(KMeansOracleProlog + """,
        qp AS MATERIALIZED (SELECT vid AS qid, cell FROM pr WHERE rn <= 2 AND vid < 10),
        dots AS MATERIALIZED (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT q.qid, c.cid, unnest(qb.v) AS qx, unnest(cb.v) AS cx
                       FROM qp q JOIN corp c ON q.cell = c.cell AND q.qid <> c.cid
                       JOIN base qb ON q.qid = qb.vec_id
                       JOIN base cb ON c.cid = cb.vec_id)
                 GROUP BY 1, 2),
        scored AS MATERIALIZED (SELECT qid AS query_id, cid AS neighbor_id,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cosine FROM scored
        WHERE rnk <= 3 ORDER BY query_id, rnk""")),

    QueryDef("d07_semantic_dedup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // SemDeDup composition under the hash gate (r5 verdict #4):
        // [[kMeansModel]] cells + within-cell keep-first cosine pruning
        // via [[semanticDedup]] — the oracle replays the same trainer
        // CTE chain as v09's prolog and adds the within-cell pair
        // prune, so the cluster AND prune semantics are both DuckDB-
        // verified. The cell count is CORPUS-DERIVED ([[kMeansCells]],
        // occupancy pinned at 2048 — the lshPlanes treatment; a fixed
        // count measured 3.4× slower for 2.13× data at 128k vectors),
        // and the oracle derives the identical count from COUNT(*)
        // (`cellp`). At the sf0.01 gate it clamps to 8, v09's shape;
        // threshold matches v04's 0.45 so the within-cell prune is
        // exercised by the same near-dup population v04 finds
        // corpus-wide.
        Embeddings.semanticDedup(based(s, dir),
            cells = 0, iters = 3, threshold = 0.45, blocks = 4)
          .orderBy($"vec_id")
      },
      // within-cell pairs score via a per-pair list fold (identical
      // FLOOR-per-term fixed-point arithmetic, just not routed through
      // an unnest × dims GROUP BY — the unnest form built pairs×64 rows
      // and priced this oracle out of the sf1 sweep). Join SHAPE is the
      // 30×-survival property: the corpus is enriched with its vector
      // and norm FIRST (`en`, vector-count-sized, MATERIALIZED because
      // it is referenced twice), then ONE self-join expands the
      // within-cell pair stream (~200M rows at 30×) straight into the
      // DISTINCT hash set — nothing joins AFTER the expansion, so no
      // operator ever builds on the big stream. The r11 form
      // materialized the pair CTE and joined norms onto it post-hoc:
      // >100 GB RSS + 35 GB spill, OOM-killed/timed-out in the first
      // sf3 sweep; this form holds bounded memory at any scale factor.
      Some(KMeansOraclePrologDerived + """,
        en AS MATERIALIZED (
                 SELECT g.cid, g.cell, b.v, n.nrm
                 FROM corp g JOIN base b ON g.cid = b.vec_id
                 JOIN n2 n ON g.cid = n.vec_id),
        dropped AS (
                 SELECT DISTINCT c.cid AS vec_id
                 FROM en q JOIN en c ON q.cell = c.cell AND q.cid < c.cid
                 WHERE (CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                          i -> CAST(FLOOR((q.v[i] * c.v[i]) * 1000000000000.0 + 0.5) AS BIGINT))) AS DOUBLE)
                          / 1000000000000.0) / (q.nrm * c.nrm) >= 0.45)
        SELECT g.cid AS vec_id, g.cell FROM corp g
        LEFT JOIN dropped d ON g.cid = d.vec_id
        WHERE d.vec_id IS NULL ORDER BY vec_id""")),

    QueryDef("v03_label_centroid_sim",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // per-(label, dim) exact mean → centroid cosine per label pair,
        // computed entirely as joins/aggs (no vector ever collected).
        // comps is referenced FOUR times downstream (both dot sides and
        // both norm joins); without an explicit cache each reference
        // replays the full corpus explode+aggregate — the r11 verdict's
        // 6.1×-for-3× sf3 smell (PROBES_r12.md: warm sf3 6.0 s → 1.9 s
        // once the |labels|×64-row frame is retained; AQE exchange reuse
        // does not fire across the four branches because each wraps the
        // shared Exchange in a different parent aggregate).
        val comps = graft.CacheRegistry.retain("v03.comps", tbl(s, dir, "embeddings")
          .select($"label".cast("long").as("label"),
            posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
          .groupBy($"label", $"pos")
          .agg((sum($"x".cast(DecimalType38)).cast("double") / count(lit(1))).as("m")))
        val norms = comps.groupBy($"label")
          .agg(sqrt(sum(($"m" * $"m").cast(DecimalType38)).cast("double")).as("nrm"))
        val dots = comps.as("a")
          .join(comps.as("b"),
            col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
          .agg(sum((col("a.m") * col("b.m")).cast(DecimalType38)).cast("double").as("dot"))
        dots
          .join(norms.select($"label".as("label_a"), $"nrm".as("na")), "label_a")
          .join(norms.select($"label".as("label_b"), $"nrm".as("nb")), "label_b")
          .select($"label_a", $"label_b", ($"dot" / ($"na" * $"nb")).as("cosine"))
          .orderBy($"label_a", $"label_b")
      },
      Some("""WITH comps AS (
          SELECT CAST(label AS BIGINT) AS label, i AS pos,
                 CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
          FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)
          GROUP BY 1, 2),
        norms AS (SELECT label, sqrt(CAST(SUM(CAST(m*m AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
                  FROM comps GROUP BY label),
        dots AS MATERIALIZED (SELECT a.label AS label_a, b.label AS label_b,
                        CAST(SUM(CAST(a.m * b.m AS DECIMAL(38,12))) AS DOUBLE) AS dot
                 FROM comps a JOIN comps b ON a.pos = b.pos AND a.label < b.label
                 GROUP BY 1, 2)
        SELECT label_a, label_b, dot / (na.nrm * nb.nrm) AS cosine
        FROM dots JOIN norms na ON label_a = na.label JOIN norms nb ON label_b = nb.label
        ORDER BY label_a, label_b""")),

    QueryDef("v07_prefix_rerank",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Matryoshka-style two-stage retrieval: a COARSE rank on the
        // leading 8 dimensions prunes the corpus to 30 candidates per
        // query; only those pay the full 64-dim exact cosine. At test
        // scale both stages touch the same rows, but the SHAPE is the
        // scale win: the coarse pass reads an 8x narrower vector (or a
        // separately stored truncated copy — column pruning does this for
        // free with a `prefix` column), so the wide vectors stream
        // through the dot product only for candidates, not the corpus.
        // Both stages are deterministic (fixed-point dots, ties by id),
        // so the DuckDB oracle reproduces candidate sets exactly.
        // Recall caveat: on ISOTROPIC vectors (this fixture) a prefix
        // carries only dims/64 of the signal (measured 0.23 vs exact
        // top-10, ~4x the random-candidate baseline — spec-gated);
        // matryoshka-trained embeddings concentrate energy in leading
        // dims, which is what makes this shape standard in production.
        val base = based(s, dir)
          .withColumn("pv", expr("slice(v, 1, 8)"))
          .withColumn("nrm", expr(NormSql))
          .withColumn("pnrm", expr(normSqlOf("pv")))
        val queries = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"pv".as("qpv"),
            $"nrm".as("qn"), $"pnrm".as("qpn"))
        val corpus = base
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"pv".as("cpv"),
            $"nrm".as("cn"), $"pnrm".as("cpn"))
        val wCoarse = Window.partitionBy($"query_id").orderBy($"pcos".desc, $"neighbor_id")
        val wExact = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("pcos", expr(dotSql("qpv", "cpv")) / ($"qpn" * $"cpn"))
          .withColumn("crnk", row_number().over(wCoarse))
          .filter($"crnk" <= 30)
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("rnk", row_number().over(wExact).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
                     (embedding::DOUBLE[])[1:8] AS pv FROM embeddings),
        n2 AS MATERIALIZED (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        p2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS pnrm
               FROM (SELECT vec_id, unnest(pv) AS x FROM base) GROUP BY vec_id),
        pdots AS (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS pdot
                  FROM (SELECT q.vec_id AS qid, c.vec_id AS cid,
                               unnest(q.pv) AS qx, unnest(c.pv) AS cx
                        FROM base q, base c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
                  GROUP BY 1, 2),
        coarse AS (SELECT qid, cid,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY pdot / (pa.pnrm * pb.pnrm) DESC, cid) AS crnk
                   FROM pdots JOIN p2 pa ON qid = pa.vec_id JOIN p2 pb ON cid = pb.vec_id),
        cand AS (SELECT qid, cid FROM coarse WHERE crnk <= 30),
        dots AS MATERIALIZED (SELECT qid, cid, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT cand.qid, cand.cid,
                              unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM cand JOIN base q ON cand.qid = q.vec_id
                                 JOIN base c ON cand.cid = c.vec_id)
                 GROUP BY 1, 2),
        scored AS MATERIALIZED (SELECT qid AS query_id, cid AS neighbor_id,
                          dot / (a.nrm * b.nrm) AS cosine,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY dot / (a.nrm * b.nrm) DESC, cid) AS rnk
                   FROM dots JOIN n2 a ON qid = a.vec_id JOIN n2 b ON cid = b.vec_id)
        SELECT query_id, rnk, neighbor_id, cosine FROM scored
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v10_ann_int8",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Scalar int8 quantization + integer-exact search — the
        // COMPRESSION path for 100 TB retrieval. Per-dimension symmetric
        // scales (127 / max|x_d|, a 64-row global aggregate) quantize
        // every vector to int8 codes: 8× less storage/scan/cache than
        // float64, and the search arithmetic becomes EXACT integer sums
        // (no fixed-point rounding needed — int products are closed
        // under i64), so this stays under the hash gate rather than a
        // recall spec. At cluster scale the codes table is what you
        // persist (v08's bucketed layout applies unchanged); the scales
        // are a broadcast model like v06's coarse quantizer, and the
        // quantize pass is map-side behind a scan.
        //
        // Determinism: max|x| per dim is exact (no arithmetic); the
        // driver computes s = 127.0/m with one IEEE division exactly as
        // the oracle's SQL does; FLOOR(x*s + 0.5) is single-op IEEE
        // round-half-up (matches the engine-wide fixed-point contract);
        // everything after is integer. n² norm products ≤ (64·127²)² ≈
        // 1.07e12 < 2^53, so the final CAST(...AS DOUBLE)/sqrt is exact
        // on its inputs in both engines. (In-flight codes ride as i64
        // lanes so the fold needs no per-element widening; a PERSISTED
        // code table would pack them to tinyint — the 8× claim is about
        // that storage form.)
        val base = based(s, dir)
        val scales: Array[Double] = base
          .select(posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"pos").agg(max(abs($"x")).as("m"))
          .orderBy($"pos")
          .as[(Int, Double)].collect()
          .map { case (_, m) => if (m == 0.0) 0.0 else 127.0 / m }
        val scLit = array(scales.map(lit(_)): _*)
        val quant = base.select(
          $"vec_id",
          transform($"v", (x, i) =>
            floor(x * element_at(scLit, i + lit(1)) + lit(0.5)).cast("long")).as("q"))
          .withColumn("nn", expr(
            "aggregate(q, CAST(0 AS BIGINT), (acc, y) -> acc + y * y)"))
        val queries = quant.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"q".as("qq"), $"nn".as("qn"))
        val corpus = quant
          .select($"vec_id".as("neighbor_id"), $"q".as("cq"), $"nn".as("cn"))
        val w = Window.partitionBy($"query_id").orderBy($"cos_q8".desc, $"neighbor_id")
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("dot_q8", expr(
            "aggregate(zip_with(qq, cq, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, p) -> acc + p)"))
          // GREATEST(nn, 1): an all-zero code vector (tiny vector vs the
          // per-dim max) would give nn=0 and dot/sqrt(0) — NaN/Inf in
          // Spark but engine-setting-dependent in DuckDB, so the hash
          // agreement would be fixture luck. Clamping makes the ranking
          // expression total in both engines: a zero-code vector scores
          // cosine 0 (its dot is 0 too) instead of NaN (ADVICE r5).
          .withColumn("cos_q8",
            $"dot_q8".cast("double") /
              sqrt((greatest($"qn", lit(1L)) * greatest($"cn", lit(1L))).cast("double")))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 10)
          .select($"query_id", $"rnk", $"neighbor_id", $"dot_q8", $"cos_q8")
          .orderBy($"query_id", $"rnk")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM base),
        sc AS (SELECT pos, CASE WHEN MAX(ABS(x)) = 0 THEN 0.0 ELSE 127.0 / MAX(ABS(x)) END AS s
               FROM ex GROUP BY pos),
        q AS (SELECT e.vec_id, e.pos, CAST(FLOOR(e.x * sc.s + 0.5) AS BIGINT) AS qx
              FROM ex e JOIN sc ON e.pos = sc.pos),
        n2 AS (SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS nn FROM q GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                        CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot_q8
                 FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id
                 WHERE a.vec_id < 10 GROUP BY 1, 2),
        scored AS (SELECT query_id, neighbor_id, dot_q8,
                          CAST(dot_q8 AS DOUBLE)
                            / sqrt(CAST(GREATEST(na.nn, 1) * GREATEST(nb.nn, 1) AS DOUBLE)) AS cos_q8,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY CAST(dot_q8 AS DOUBLE)
                              / sqrt(CAST(GREATEST(na.nn, 1) * GREATEST(nb.nn, 1) AS DOUBLE)) DESC,
                                     neighbor_id) AS rnk
                   FROM dots JOIN n2 na ON query_id = na.vec_id
                             JOIN n2 nb ON neighbor_id = nb.vec_id)
        SELECT query_id, rnk, neighbor_id, dot_q8, cos_q8 FROM scored
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    QueryDef("v20_semantic_greedy",
      (s: SparkSession, dir: String) => {
        // greedy ONLINE semantic dedup (see [[semanticGreedy]]): the
        // single-pass drop rule the streaming ingest honors per
        // micro-batch, under the hash gate in its batch form. 6 bands ×
        // [[lshPlanes]](n, 6..10) sign planes: the per-band bucket count
        // grows with the corpus so candidate volume stays ~linear — the
        // fixed 4×4 shape measured 50M candidate pairs at 20k vectors,
        // 6×6 ~3M but trending quadratic again by 60k; deriving planes
        // from COUNT(*) pins the average band-bucket population at ~512.
        // Cap 10 (6 bands × 10 planes = 60 of the 64 coordinates): past
        // 524k vectors buckets grow again — raise bands via explicit
        // [[semanticGreedy]] params or pre-partition the id space.
        // Exact fp cosine verify on band-sharing candidates — never
        // all-pairs. The oracle derives the SAME plane count from its
        // own COUNT(*) (integer arithmetic both sides).
        val base = based(s, dir)
        val planes = lshPlanes(base.count(), minPlanes = 6, maxPlanes = 10)
        semanticGreedy(base, threshold = 0.45, bands = 6, planes = planes)
          .orderBy(col("vec_id"))
      },
      // oracle replays the derived planes, bands, candidates, fp cosine
      // and the min-earlier dropper; DuckDB arrays are 1-based like
      // element_at. codes is MATERIALIZED: the band self-join references
      // it twice and DuckDB re-inlines plain CTEs per reference.
      Some(s"""WITH ${lshPlanesSql(6, 10)},
        base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bands AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5)) t(b)),
        codes AS MATERIALIZED (SELECT vec_id, b,
            CAST(list_sum([CASE WHEN v[b * p.p + i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END
                           FOR i IN generate_series(1, p.p)]) AS BIGINT) AS code
          FROM base, bands, params p),
        n2 AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        cand AS (SELECT DISTINCT a.vec_id AS ida, c.vec_id AS idb
                 FROM codes a JOIN codes c ON a.b = c.b AND a.code = c.code
                   AND a.vec_id < c.vec_id),
        dots AS (SELECT ida, idb, CAST(SUM(CAST(FLOOR((qx*cx) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot
                 FROM (SELECT cand.ida, cand.idb, unnest(q.v) AS qx, unnest(c.v) AS cx
                       FROM cand JOIN base q ON q.vec_id = cand.ida
                                 JOIN base c ON c.vec_id = cand.idb)
                 GROUP BY 1, 2),
        droppers AS (SELECT idb AS vec_id, MIN(ida) AS dropped_by
                     FROM dots JOIN n2 a ON ida = a.vec_id JOIN n2 b ON idb = b.vec_id
                     WHERE dot / (a.nrm * b.nrm) >= 0.45
                     GROUP BY idb)
        SELECT base.vec_id, d.dropped_by IS NULL AS kept, d.dropped_by
        FROM base LEFT JOIN droppers d ON base.vec_id = d.vec_id
        ORDER BY base.vec_id""")),

    QueryDef("v21_mmr_rerank",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // MMR diversified re-ranking (Carbonell & Goldstein 1998,
        // "The Use of MMR, Diversity-Based Reranking"): the standard
        // RAG serving step between retrieval and the prompt — plain
        // top-k hands the context window five paraphrases of the same
        // passage; MMR greedily picks argmax λ·rel(d) − (1−λ)·max
        // sim(d, selected) so each slot adds NEW information. Stage 1
        // is v01's exact top-20 panel (broadcast queries, fixed-point
        // cosines, WindowGroupLimit top-k); stage 2 is a per-query
        // kernel over those 20 rows — the greedy loop touches 20
        // vectors per query, model-sized work after the corpus-sized
        // retrieval already paid. λ = 0.7, k = 5; every arithmetic
        // step (fixed-point rel/sim doubles, the 0.7·rel − 0.3·maxSim
        // combination, ties by id) is replayed by the oracle as five
        // UNROLLED selection CTEs — greedy selection needs no
        // recursion when k is fixed. Assumes non-degenerate vectors
        // (a zero-norm candidate's NaN similarity would rank
        // differently across engines; the corpus has none).
        val base = based(s, dir).withColumn("nrm", expr(NormSql))
        val queries = base.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val corpus = base
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
          .withColumn("cosine", expr(DotSql) / ($"qn" * $"cn"))
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 20)
          .select($"query_id", $"neighbor_id", $"cosine".as("rel"), $"cv", $"cn")
          .as[(Long, Long, Double, Array[Double], Double)]
          .groupByKey(_._1)
          .flatMapGroups { (qid, it) =>
            val cs = it.toArray
            val n = cs.length
            val picked = new Array[Boolean](n)
            (1 to math.min(5, n)).iterator.map { step =>
              var best = -1
              var bestScore = Double.NegativeInfinity
              var i = 0
              while (i < n) {
                if (!picked(i)) {
                  var maxSim = 0.0
                  if (step > 1) {
                    maxSim = Double.NegativeInfinity
                    var j = 0
                    while (j < n) {
                      if (picked(j)) {
                        val sim = fpCos(cs(i)._4, cs(j)._4, cs(i)._5, cs(j)._5)
                        if (sim > maxSim) maxSim = sim
                      }
                      j += 1
                    }
                  }
                  val score = 0.7 * cs(i)._3 - 0.3 * maxSim
                  if (score > bestScore ||
                      (score == bestScore && (best < 0 || cs(i)._2 < cs(best)._2))) {
                    bestScore = score
                    best = i
                  }
                }
                i += 1
              }
              picked(best) = true
              (qid, step.toLong, cs(best)._2, cs(best)._3, bestScore)
            }
          }
          .toDF("query_id", "step", "neighbor_id", "rel", "mmr")
          .orderBy($"query_id", $"step")
      },
      Some(MmrOracleSql)),

    QueryDef("p09_cluster_balanced_sample",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // cluster-balanced downsampling under the hash gate: the same
        // deterministic trainer as d07 with the CORPUS-DERIVED cell
        // count at p09's partition-sized occupancy target (65536 —
        // clamps to 8 through every bench tier, splits cells only when
        // one would outgrow a comfortable window-partition sort; see
        // clusterBalancedSample's comment for why p09's target differs
        // from d07's 2048), keepDiv=2 targets half the corpus spread
        // evenly over cells. The oracle replays the derived count from
        // its own COUNT(*) (`cellp`), reapplies p05's hash-rank inside
        // each cell, and derives the SAME integer cap — clustering,
        // cell-count arithmetic, per-cell ordering and the budget cap
        // all DuckDB-checked in one query.
        Embeddings.clusterBalancedSample(based(s, dir),
            cells = 0, iters = 3, keepDiv = 2L)
          .orderBy($"cell", $"rk")
      },
      Some(kMeansOraclePrologDerived(65536L) + """,
        ranked AS MATERIALIZED (
          SELECT cell, cid AS vec_id, h,
            CAST(row_number() OVER (PARTITION BY cell ORDER BY h, cid) AS BIGINT) AS rk,
            CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS n_c
          FROM (SELECT cell, cid,
                  ((((cid % 1048573) + 1048573) % 1048573) * 2654435761) % 1000000007 AS h
                FROM corp)),
        cap AS MATERIALIZED (
          SELECT (((COUNT(*) + 1) // 2) + MAX(c.k) - 1) // MAX(c.k) AS cap
          FROM corp, cellp c)
        SELECT cell, vec_id, rk, n_c FROM ranked, cap
        WHERE rk <= cap ORDER BY cell, rk""")),

    QueryDef("v22_twolevel_cells",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the r16 trainer posture's BOTH mechanisms as one hash-gated
        // row: the deterministic hash-prefix trainer sample AND the
        // coarse→fine two-level assignment ([[twoLevelModel]] +
        // [[assignCells]] — the code path cellModel routes d07/p09/m10
        // through past TwoLevelCellCap cells, where no DuckDB-holdable
        // corpus can push the DERIVED count). Pinned at an explicit
        // small shape (coarse=3, fine-per=3, sampleTarget=256) so the
        // sampled path DIVERGES from the full trainer at every tier —
        // 256 < the sf0.01 gate's corpus — and the fine trainer, the
        // per-coarse seeding, the empty-cell fallback and the final
        // two-argmax assignment are all DuckDB-replayed everywhere the
        // sweeps run. Scale shape under test is the real one: one
        // corpus scan builds the bounded sample, models broadcast, the
        // full-corpus assignment is one map pass at coarse+fine flops
        // per row, nothing shuffles vectors by cell.
        val base = based(s, dir)
        val model = Embeddings.twoLevelModel(base, coarseCells = 3,
          finePer = 3, iters = 3, sampleTarget = 256L)
        Embeddings.assignCells(base, model).orderBy($"vec_id")
      },
      Some(twoLevelOracleSql(3, 3, 3, 256L, EmbeddingsBaseSelect))),

    QueryDef("v24_semantic_spanprobe",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the COARSE-boundary half of the multi-probe story (r18 verdict
        // #1): v23 pinned fine-only probing, whose recall saturates at
        // p = 2 because a pair split by the coarse argmax boundary can
        // never co-probe; this row pins [[CellModel.probe]]'s SPANNING
        // form — the same p = 2 budget split 1 + 1 over the row's two
        // nearest coarse cells, each contributing the prefix of its own
        // fine ranking (an empty-fine coarse cell contributes its
        // fallback cell, assign's contract). This is what AUTO deploys
        // on two-level routes since r19 (measured: 0.59/0.39 pair
        // recall at the sf1/sf3 derived shapes vs fine-only's
        // 0.46/0.32 at the SAME probe count — PROBES_r19). The oracle
        // replays the full composition: both trainers, the coarse
        // top-2 ranking, the per-coarse fine ranking prefixes with the
        // fallback branch, the probed-cell pair prune (v04's native
        // prefilter + exact fixed-point fold) and rank-1 survivor
        // cells. COST class: pinned 3×3 shape = n²/9 by construction —
        // anchor-classed like v04/v23; the deployment path derives
        // occupancy-pinned cells and stays ~linear.
        val base = based(s, dir)
        val model = Embeddings.twoLevelModel(base, coarseCells = 3,
          finePer = 3, iters = 3, sampleTarget = 256L)
        Embeddings.semanticDedupWith(base, model, threshold = 0.45,
          blocks = 4, probes = 2, cacheTag = "v24", coarseSpan = 2)
          .orderBy($"vec_id")
      },
      Some(spanProbeDedupOracleSql(3, 3, 3, 256L, 2, 2, 0.45, EmbeddingsBaseSelect))),

    QueryDef("v23_semantic_multiprobe",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the boundary-recall knob for the 100 TB two-level posture as
        // a hash-gated row: SemDeDup over v22's explicit coarse→fine
        // shape with [[semanticDedupWith]]'s top-2 multi-probe — a
        // near-dup pair split by the fine argmax boundary (the 12–23%
        // relative recall cost PROBES_r17 measured at probes = 1) is
        // still pruned whenever the two probe sets intersect. The
        // oracle replays the ENTIRE composition: the sampled coarse
        // trainer, the per-coarse fine trainer, the ranked two-level
        // assignment at rn <= 2 (+ the empty-cell fallback probing its
        // one fallback cell), the probed-cell pair prune and the
        // rank-1 survivor cells — so the knob's exact semantics are
        // cross-engine pinned, not a tuning anecdote. Scale shape: the
        // tagged stream is probes × the classic row count, the
        // dropped-id dedup stays id-bounded (distinct over vec_id,
        // never pairs), and nothing shuffles vectors by cell. COST
        // class: the PINNED 3×3 shape makes within-cell pair work
        // n²/9 by construction (the price of a DuckDB-replayable
        // oracle), so this row is ANCHOR-classified in Bench
        // (anchors_s, reps-capped like v04) since r18; the deployment
        // path is semanticDedup's derived occupancy-pinned cells +
        // autoProbes, which stays ~linear.
        val base = based(s, dir)
        val model = Embeddings.twoLevelModel(base, coarseCells = 3,
          finePer = 3, iters = 3, sampleTarget = 256L)
        Embeddings.semanticDedupWith(base, model, threshold = 0.45,
          blocks = 4, probes = 2, cacheTag = "v23").orderBy($"vec_id")
      },
      Some(multiProbeDedupOracleSql(3, 3, 3, 256L, 2, 0.45, EmbeddingsBaseSelect)))
  )

  /** v24's oracle: [[multiProbeDedupOracleSql]] with the probed-cell set
    * replaced by [[CellModel.probe]]'s SPANNING form — the `probes`
    * budget split as evenly as possible over each row's top-`span`
    * coarse cells (earlier coarse ranks take the remainder), each coarse
    * cell contributing the prefix of its OWN fine ranking, and a coarse
    * cell that trained no fine centroids contributing its single
    * fallback cell `cc · finePer`. The coarse top-`span` ranking is the
    * prolog's own `pr` CTE (the full per-row coarse ranking the probe
    * tail of [[KMeansPrologTemplate]] already computes); the per-coarse
    * fine ranking re-ranks `ffd`'s dots PARTITIONed BY (vid, coarse).
    * Assignment (`prim`) and the pair-prune tail are v23's verbatim —
    * spanning changes candidate generation only, never the survivor's
    * rank-1 cell. */
  private[operators] def spanProbeDedupOracleSql(coarseCells: Int, finePer: Int,
      iters: Int, sampleTarget: Long, probes: Int, span: Int, threshold: Double,
      baseSelect: String): String = {
    require(span >= 2, s"span >= 2 is the spanning form (got $span); use " +
      "multiProbeDedupOracleSql for fine-only probing")
    val eff = math.min(span, probes)
    // quota per coarse rank r (1-based): the engine's even split with the
    // remainder to earlier ranks
    val quotaCase = (1 to eff).map { r =>
      s"WHEN $r THEN ${probes / eff + (if (r - 1 < probes % eff) 1 else 0)}"
    }.mkString("CASE crn ", " ", " ELSE 0 END")
    val last = s"fm$iters"
    val fp = "1000000000000.0"
    twoLevelRankedCtes(coarseCells, finePer, iters, sampleTarget, baseSelect) +
      s""",
        prim AS MATERIALIZED (
                 SELECT c.cid AS vid, COALESCE(f.cell, c.cell * $finePer) AS cell
                 FROM corp c LEFT JOIN ffa f ON c.cid = f.vid),
        cor$eff AS MATERIALIZED (SELECT vid, cell AS cc, rn AS crn
                 FROM pr WHERE rn <= $eff),
        -- per-(row, probed-coarse) fine dots and ranking: the engine's
        -- topCells over THAT coarse cell's fine centroids
        sfd AS MATERIALIZED (SELECT vid, crn, cell, CAST(SUM(CAST(FLOOR((bx*cx) * $fp + 0.5) AS BIGINT)) AS DOUBLE) / $fp AS dot
               FROM (SELECT b.vec_id AS vid, t.crn, m.cell, unnest(b.v) AS bx, unnest(m.cv) AS cx
                     FROM base b JOIN cor$eff t ON b.vec_id = t.vid
                     JOIN $last m ON m.cc = t.cc) GROUP BY 1, 2, 3),
        sfr AS MATERIALIZED (
                 SELECT d.vid, d.crn, d.cell, row_number() OVER (
                          PARTITION BY d.vid, d.crn
                          ORDER BY d.dot / (n2.nrm * m.cn) DESC, d.cell) AS rnf
                 FROM sfd d JOIN n2 ON d.vid = n2.vec_id JOIN $last m ON d.cell = m.cell),
        probedS AS MATERIALIZED (
                 SELECT vid, cell FROM sfr WHERE rnf <= $quotaCase
                 UNION ALL
                 -- empty-fine coarse cells probe their one fallback cell
                 SELECT t.vid, t.cc * $finePer FROM cor$eff t
                 WHERE ($quotaCase) > 0
                   AND NOT EXISTS (SELECT 1 FROM $last m WHERE m.cc = t.cc)),
        enp AS MATERIALIZED (
                 SELECT p.vid AS cid, p.cell, b.v, n.nrm
                 FROM probedS p JOIN base b ON p.vid = b.vec_id
                 JOIN n2 n ON p.vid = n.vec_id),
        dropped AS (
                 SELECT DISTINCT c.cid AS vec_id
                 FROM enp q JOIN enp c ON q.cell = c.cell AND q.cid < c.cid
                 WHERE list_inner_product(q.v, c.v) + 1e-6 * (q.nrm * c.nrm + 1)
                          >= $threshold * (q.nrm * c.nrm)
                   AND (CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                          i -> CAST(FLOOR((q.v[i] * c.v[i]) * $fp + 0.5) AS BIGINT))) AS DOUBLE)
                          / $fp) / (q.nrm * c.nrm) >= $threshold)
        SELECT p.vid AS vec_id, p.cell FROM prim p
        LEFT JOIN dropped d ON p.vid = d.vec_id
        WHERE d.vec_id IS NULL ORDER BY vec_id"""
  }

  /** v21's oracle: top-20 exact panel, candidate-pair similarities, and
    * the greedy MMR selection UNROLLED into five argmax CTEs (fixed k
    * needs no recursion): sel_i picks, per query, the unselected
    * candidate maximizing 0.7·rel − 0.3·max-sim-to-selected (ties by
    * id), selup_i accumulates the chosen set. Generated by the same
    * loop that defines the step count, so Spark's k and the SQL's
    * unroll depth cannot drift. */
  private def MmrOracleSql: String = {
    val dotFold =
      "CAST(list_sum(list_transform(range(1, len(__A__.v) + 1), " +
        "i -> CAST(FLOOR((__A__.v[i] * __B__.v[i]) * 1000000000000.0 + 0.5) AS BIGINT))) AS DOUBLE)" +
        " / 1000000000000.0"
    def fold(a: String, b: String) = dotFold.replace("__A__", a).replace("__B__", b)
    val steps = (2 to 5).map { i =>
      s""",
        msim$i AS (SELECT c.qid, c.d, MAX(s.sim) AS m
            FROM cand c JOIN selup${i - 1} p ON p.qid = c.qid
            JOIN sims s ON s.qid = c.qid AND s.da = c.d AND s.db = p.d
            WHERE NOT EXISTS (SELECT 1 FROM selup${i - 1} x
                              WHERE x.qid = c.qid AND x.d = c.d)
            GROUP BY 1, 2),
        sel$i AS (SELECT qid, d, rel, mmr FROM (
            SELECT m.qid, m.d, c.rel, 0.7 * c.rel - 0.3 * m.m AS mmr,
                   ROW_NUMBER() OVER (PARTITION BY m.qid
                     ORDER BY 0.7 * c.rel - 0.3 * m.m DESC, m.d) AS rn
            FROM msim$i m JOIN cand c ON c.qid = m.qid AND c.d = m.d)
          WHERE rn = 1),
        selup$i AS (SELECT qid, d FROM selup${i - 1}
                    UNION ALL SELECT qid, d FROM sel$i)"""
    }.mkString
    val unions = (2 to 5).map(i =>
      s"SELECT qid, CAST($i AS BIGINT) AS step, d, rel, mmr FROM sel$i")
      .mkString("\n        UNION ALL ", "\n        UNION ALL ", "")
    s"""WITH base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        n2 AS MATERIALIZED (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR((x*x) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nrm
               FROM (SELECT vec_id, unnest(v) AS x FROM base) GROUP BY vec_id),
        rel0 AS (SELECT q.vec_id AS qid, c.vec_id AS d,
                   ${fold("q", "c")} / (nq.nrm * nc.nrm) AS rel
                 FROM base q JOIN n2 nq ON nq.vec_id = q.vec_id,
                      base c JOIN n2 nc ON nc.vec_id = c.vec_id
                 WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        cand AS MATERIALIZED (SELECT qid, d, rel FROM (
            SELECT qid, d, rel,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, d) AS rn
            FROM rel0)
          WHERE rn <= 20),
        sims AS MATERIALIZED (SELECT a.qid, a.d AS da, b.d AS db,
                   ${fold("va", "vb")} / (na.nrm * nb.nrm) AS sim
                 FROM cand a JOIN cand b ON a.qid = b.qid AND a.d <> b.d
                 JOIN base va ON va.vec_id = a.d JOIN base vb ON vb.vec_id = b.d
                 JOIN n2 na ON na.vec_id = a.d JOIN n2 nb ON nb.vec_id = b.d),
        sel1 AS (SELECT qid, d, rel, 0.7 * rel - 0.3 * 0.0 AS mmr FROM (
            SELECT qid, d, rel,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, d) AS rn
            FROM cand)
          WHERE rn = 1),
        selup1 AS (SELECT qid, d FROM sel1)$steps
        SELECT query_id, step, neighbor_id, rel, mmr FROM (
          SELECT qid AS query_id, CAST(1 AS BIGINT) AS step, d AS neighbor_id, rel, mmr FROM sel1$unions
        ) t(query_id, step, neighbor_id, rel, mmr)
        ORDER BY query_id, step"""
  }

  import org.apache.spark.sql.types.DecimalType
  private val DecimalType38 = DecimalType(38, 12)
}
