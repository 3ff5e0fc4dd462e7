package graft.operators

import graft.QueryDef
import graft.QueryHelpers._
import graft.plans.PersistedIndex
import graft.sources.ParquetTables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata (SURVEY §2.3 / driver brief). No media codecs exist in
  * this environment, so the DECODE STEP IS A DETERMINISTIC FAKE — a tiny
  * self-describing container format ("GRFT" magic + kind + dims) replaces
  * JPEG/WAV parsing — but everything Spark-side is real: binary schema,
  * typed Dataset records, iterator-batched decode (`mapPartitions`, the
  * Scala analog of arrow-batched pandas UDFs), size-balanced
  * repartitioning, frame sampling and resize as column transforms.
  *
  * Scale design: payloads never leave executors (no collect); decode is
  * narrow (per-partition, no shuffle); the stats aggregation shuffles only
  * (kind, partial-agg) pairs. Blob-size skew is handled by bucketing on
  * payload length before decode.
  */
object Multimodal {

  /** Typed metadata traveling WITH the opaque payload. */
  final case class MediaMeta(kind: String, width: Int, height: Int, nBytes: Long)
  final case class MediaRecord(doc_id: Long, meta: MediaMeta, payload: Array[Byte])

  val Magic: Array[Byte] = "GRFT".getBytes("UTF-8")
  private val Kinds = Array("image", "audio", "video")

  /** Deterministic blob format (stands in for a real container):
    * bytes 0-3 magic, 4 kind ordinal, 5 width, 6 height, 7 reserved,
    * then the payload bytes. Dims derive from (doc_id, n_chars) so tests
    * and oracles can predict them without parsing binary.
    *
    * The payload is one byte per CODE POINT (7-bit projection — a
    * deterministic fake codec; real codecs belong behind [[decode]]), so
    * decoded `nBytes == n_chars` is STRUCTURAL: Spark's `length()` and
    * DuckDB's `length()` both count code points, so the m01 oracle's
    * `SUM(n_chars)` identity holds for any fixture text — including
    * non-ASCII and astral characters (iterating UTF-16 `char`s instead
    * would count a surrogate pair twice). The earlier UTF-8 encoding
    * made the identity hold only while the fixture stayed pure ASCII.
    */
  def encodeBlob(docId: Long, text: String): Array[Byte] = {
    val body = new Array[Byte](text.codePointCount(0, text.length))
    var i = 0
    var k = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      body(k) = (cp & 0x7F).toByte
      k += 1
      i += Character.charCount(cp)
    }
    // floorMod: ids may be negative in foreign corpora (the convention
    // everywhere in this repo) — Scala % would emit a negative kind byte
    // (decode drops it as malformed) and a width byte that reads back
    // shifted by 256 via & 0xFF, silently diverging from the oracles'
    // arithmetic. floorMod keeps both in range for any id.
    val kind = java.lang.Math.floorMod(docId, 3L).toInt
    val width = (java.lang.Math.floorMod(docId, 64L) + 1).toInt
    val height = (body.length % 64 + 1)
    Magic ++ Array(kind.toByte, width.toByte, height.toByte, 0.toByte) ++ body
  }

  /** documents → binary multimodal frame: (doc_id, payload BINARY). */
  def fromDocuments(docs: DataFrame): DataFrame = {
    val enc = udf((id: Long, text: String) => encodeBlob(id, text))
    docs.select(col("doc_id"), enc(col("doc_id"), col("text")).as("payload"))
  }

  /** The "decode" stage: iterator-batched per partition — exactly where a
    * real image decoder would run. Malformed blobs (bad magic) are dropped
    * like undecodable files. */
  def decode(frames: DataFrame): Dataset[MediaRecord] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, blob) =>
        // a bad kind byte is malformed input too — drop it rather than
        // crash the stage (Scala % keeps sign, so 0x80.. bytes would
        // index Kinds(-2) otherwise)
        if (blob.length < 8 || !blob.take(4).sameElements(Magic)
            || blob(4) < 0 || blob(4) > 2) Iterator.empty
        else {
          val meta = MediaMeta(Kinds(blob(4).toInt),
            blob(5) & 0xFF, blob(6) & 0xFF, blob.length - 8L)
          Iterator.single(MediaRecord(id, meta, blob.drop(8)))
        }
      })
  }

  /** Feature extraction: a 16-bucket byte histogram normalized to a unit
    * density vector — the stand-in for a real image/audio embedding model
    * (which would run here, batched per partition). Output plugs straight
    * into the `graft.operators.Embeddings` similarity machinery. */
  def featureExtract(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      val hist = new Array[Double](16)
      r.payload.foreach(b => hist((b & 0xFF) / 16) += 1.0)
      val n = math.max(1.0, r.payload.length.toDouble)
      (r.doc_id, r.meta.kind, hist.map(_ / n))
    }.toDF("doc_id", "kind", "features")
  }

  /** STUB resize: a real implementation would re-encode pixels; the fake
    * deterministically truncates/pads the payload to w*h bytes and stamps
    * the new dims. The signature and partition behavior are the real
    * contract. */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      val target = w * h
      val body = r.payload.padTo(target, 0.toByte).take(target)
      MediaRecord(r.doc_id, MediaMeta(r.meta.kind, w, h, target.toLong), body)
    }
  }

  /** Frame sampling for video-kind payloads: treat the payload as fixed-
    * size frames and keep every `everyN`-th. */
  def frameSample(media: Dataset[MediaRecord], frameBytes: Int, everyN: Int): Dataset[MediaRecord] = {
    require(frameBytes > 0 && everyN > 0,
      s"frameBytes and everyN must be positive (got $frameBytes, $everyN)")
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      val sampled = r.payload.grouped(frameBytes).zipWithIndex
        .collect { case (f, i) if i % everyN == 0 => f }.flatten.toArray
      MediaRecord(r.doc_id, r.meta.copy(nBytes = sampled.length.toLong), sampled)
    }
  }

  /** Balance blob-size skew before an expensive decode: bucket by payload
    * length so each partition carries a similar byte volume. */
  def sizeBalanced(frames: DataFrame, partitions: Int): DataFrame =
    frames.repartition(partitions, pmod(length(col("payload")), lit(partitions)))

  /** Band-bucket population bound for [[phashPairs]]: kernel work is
    * bucket-quadratic (a band value shared by B representatives costs
    * B²/2 XOR+popcount probes). Exact duplicates are already collapsed
    * before banding, so a bucket this hot means >65k perceptually-
    * concentrated-but-byte-distinct blobs share one 8-bit hash slice —
    * ~2e9 probes (tens of seconds) in ONE task, and growing
    * quadratically from there. Above the bound the kernel refuses with
    * guidance rather than burning the cluster, mirroring
    * [[Embeddings.AllPairsMaxRows]]; raise it explicitly when the
    * quadratic cost is budgeted (the probes are register-speed — the
    * bound is a skew/wall-clock guard, not a memory one). */
  val MaxBandBucket: Long = 1L << 16

  /** m10's cell-count derivation: the smallest count splitting the
    * hottest flat band bucket to an expected half-gate occupancy
    * (`max(8, ceil(2·hottest/gate))` — 2× headroom for an uneven
    * split), floored at 8. Pure integer arithmetic so the oracle
    * derives the IDENTICAL count from its own band profile. Unlike
    * d07's rep-count occupancy derivation, this tracks the quantity
    * the GATE measures: cells here exist to split hot buckets, and
    * every cell past that costs recall (PROBES_r16: 0.92 at 8 cells
    * vs 0.75 at 25 on the same corpus). */
  def mediaCells(hottest: Long, gate: Long): Int = {
    require(gate > 0, s"gate must be positive, got $gate")
    math.min(Int.MaxValue.toLong,
      math.max(8L, (2L * hottest + gate - 1L) / gate)).toInt
  }

  /** Warm-call memo for [[phashPairs]]: the hash frame is rooted on a
    * map-closure, so the registry's plan matching can never reuse it
    * across calls — without this every m05/m06 invocation re-paid the
    * decode→resize→hash build AND the banded self-join (m06's first warm
    * profile read ~13 s at sf0.1, mostly this re-pay plus the CC loop's).
    * Object identity of the returned handle is the semantic key
    * downstream (NearDup.components memoizes on it); invalidated when
    * the registry entry is gone (Bench's isolation pass, Engine.close),
    * the owning session stopped, or the data dir differs. */
  private val phashPairsMemo = new java.util.concurrent.atomic.AtomicReference[
    (String, SparkSession, Long, PersistedIndex.Fingerprint, DataFrame)]()

  /** Serve-path entry for the verified media pair set: fingerprint the
    * corpus (one map-side scan, every call — staleness is decided by
    * CONTENT, never by call history), freshness-check the persisted
    * index, build it only when the corpus changed, and hand consumers
    * the SAME retained frame while the fingerprint holds (m06's CC memo
    * keys on object identity; a changed corpus yields a new frame, so
    * the CC recomputes). The expensive decode→collapse→hash→banded-
    * verify build lives in [[mediaBuild]] and its cost in the
    * m00 builder row — the [[Embeddings.buildPqIndex]] "train rarely,
    * serve from artifacts" split applied to the media family. */
  private[operators] def phashPairs(s: SparkSession, dir: String,
      maxBandBucket: Long = MaxBandBucket): DataFrame = {
    val nfp = PersistedIndex.fingerprint(tbl(s, dir, "documents"), "doc_id", "text")
    val memo = phashPairsMemo.get()
    if (memo != null && memo._1 == dir && (memo._2 eq s) &&
      memo._3 == maxBandBucket && memo._4 == nfp && !s.sparkContext.isStopped &&
      graft.CacheRegistry.entries.contains("media.pairs"))
      return memo._5
    val pairsPath = ensureMediaIndexFp(s, dir, force = false, maxBandBucket, nfp)
    // the artifact path (and so the read PLAN) is identical across
    // rebuilds of the same dir, so a registry entry cached before a
    // rebuild would plan-match and serve the PRE-rebuild rows — release
    // the name first. The release must be UNCONDITIONAL on this cold
    // path (not gated on "ensure rebuilt just now"): m00 force-rebuilds
    // the artifact out-of-band, so a skip-because-fresh here proves
    // nothing about when the cached frame's rows were read. The cost is
    // one redundant re-cache in rare multi-session/alternating-dir
    // sequences the memo cannot hold; the supersede path inside retain
    // would evict those cross-dir entries anyway (one live entry per
    // name).
    graft.CacheRegistry.release("media.pairs")
    // re-spread the read before caching: the persisted pair table is
    // many small files (32.5M rows / 112 MB at 30×) that the scan packs
    // into 2-3 input partitions, and a cache built at parallelism 3
    // starves every downstream pass (m06's CC loop measured 32 s vs 14
    // on a 32-partition frame — the whole serve-path win gone). One
    // round-robin exchange at cold-serve buys full parallelism for the
    // retained frame; order is irrelevant (consumers re-sort or
    // aggregate).
    val out = graft.CacheRegistry.retain("media.pairs",
      ParquetTables.read(s, pairsPath).select(col("doc_a"), col("doc_b"), col("hamming"))
        .repartition(s.sparkContext.defaultParallelism))
    phashPairsMemo.set((dir, s, maxBandBucket, nfp, out))
    out
  }

  /** The media index's freshness tuple: corpus fingerprint, the
    * band-bucket gate the build ran under (a different bound is a
    * different build contract, so it rebuilds rather than serving an
    * artifact gated differently), and the corpus MAX doc_id — persisted
    * because [[appendToMediaIndex]]'s order contract must be checked
    * against the whole resident corpus, not just the representatives
    * `_sigs` retains (a collapsed duplicate's id never reaches `_sigs`
    * but still bounds what a later delta may reuse). */
  def mediaMeta(nfp: PersistedIndex.Fingerprint, maxBandBucket: Long): Seq[(String, Long)] =
    Seq("n" -> nfp._1, "fp" -> nfp._2, "gate" -> maxBandBucket, "maxid" -> nfp._3)

  /** Build-once persisted media near-dup index — the shared
    * [[graft.plans.PersistedIndex]] protocol with the [[mediaMeta]]
    * freshness tuple. `force` is the named-builder path (m00): always
    * rebuild, so the bench attributes the build cost to its own row
    * instead of whichever serve query runs first. Single-writer
    * contract: see [[graft.plans.PersistedIndex]]. */
  def ensureMediaIndex(s: SparkSession, dir: String, force: Boolean = false,
      maxBandBucket: Long = MaxBandBucket): String =
    ensureMediaIndexFp(s, dir, force, maxBandBucket,
      PersistedIndex.fingerprint(tbl(s, dir, "documents"), "doc_id", "text"))

  private def ensureMediaIndexFp(s: SparkSession, dir: String, force: Boolean,
      maxBandBucket: Long, nfp: PersistedIndex.Fingerprint): String =
    mediaBuild(s, tbl(s, dir, "documents"),
      "media_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_"),
      mediaMeta(nfp, maxBandBucket), force, maxBandBucket)

  /** [[ensureMediaIndex]] over an explicit docs frame and table name —
    * the build half of the m09 incremental-maintenance pair (the
    * [[graft.operators.Documents.ensureSimhashIndexFor]] shape). */
  def ensureMediaIndexFor(s: SparkSession, docs: DataFrame, table: String,
      meta: Seq[(String, Long)], force: Boolean = false,
      maxBandBucket: Long = MaxBandBucket): String =
    mediaBuild(s, docs, table, meta, force, maxBandBucket)

  /** The aHash core over the 8×8 canonical grid: truncate/pad the
    * payload to 64 bytes ([[resize]]'s contract) and set bit i when
    * value·64 ≥ sum — factored out so the build and the append hash
    * with identical arithmetic. */
  private[operators] def aHash64(payload: Array[Byte]): (Long, Long) = {
    val body =
      if (payload.length == 64) payload else payload.padTo(64, 0.toByte).take(64)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += (body(i) & 0xFF).toLong; i += 1 }
    var h0 = 0L
    var h1 = 0L
    i = 0
    while (i < 64) {
      if ((body(i) & 0xFF).toLong * 64L >= sum) {
        if (i < 32) h0 |= (1L << i) else h1 |= (1L << (i - 32))
      }
      i += 1
    }
    (h0, h1)
  }

  /** Per-representative signature frame `(doc_id, md5, h0, h1)` — stages
    * 1+2 of the build: exact-payload collapse to the min-doc_id
    * representative per md5 group (reduceGroups combines map-side, so a
    * mass-duplicated corpus never ships its duplicate payloads through
    * the shuffle), then [[aHash64]]. The md5 travels with the signature
    * because the APPEND path must absorb new byte-identical blobs into
    * their resident representative instead of minting a duplicate rep. */
  private[graft] def phashSigsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    decode(fromDocuments(docs)).groupByKey { r =>
        val d = java.security.MessageDigest.getInstance("MD5").digest(r.payload)
        java.util.Base64.getEncoder.encodeToString(d)
      }.reduceGroups((a, b) => if (a.doc_id <= b.doc_id) a else b)
      .map { case (k, r) =>
        val (h0, h1) = aHash64(r.payload)
        (r.doc_id, k, h0, h1)
      }.toDF("doc_id", "md5", "h0", "h1")
  }

  /** A signature frame's aHash as ONE 64-bit signature `(doc_id, sig)`,
    * `sig = h0 | h1 << 32`: band b of `sig` is the aHash's byte b and
    * the popcount of a packed XOR is the two-half sum, so
    * [[HammingBands]] pairs it exactly as the two halves would pair. */
  private def packedSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("h0").bitwiseOR(shiftleft(col("h1"), 32)).as("sig"))

  /** Band-bucket occupancy profile of a signature frame — `(bi, bv,
    * cnt)`, one row per populated 8-bit band bucket (≤ 8·256 rows at any
    * corpus size). Persisted as the `_prof` aux so appends gate the
    * merged corpus without re-scanning the resident signature history. */
  private def bandProfile(sigs: DataFrame): DataFrame =
    HammingBands.profile(HammingBands.bandRows(packedSigs(sigs), "sig"))
      .select(col("i").as("bi"), col("k").as("bv"), col("cnt"))

  /** The hot-bucket gate (see [[MaxBandBucket]]) over a hottest-bucket
    * count — shared by the build ([[HammingBands.hottest]] over the
    * band rows), the cell-partitioned kernel and the append's
    * incremental profile merge, so the paths cannot drift on the
    * refusal contract; `what` names the corpus in the refusal so an
    * append-time firing reads differently from a build-time one. */
  private[graft] def gateCheck(hottest: Long, maxBandBucket: Long,
      what: String): Unit = {
    if (hottest > maxBandBucket) {
      // context-specific route: the FLAT kernel's refusal points at the
      // cell-partitioned operator; a refusal from INSIDE that operator
      // means one feature cell still concentrates past the bound — the
      // lever there is a finer partition, not a re-route to itself
      val route =
        if (what == "cells")
          "pass a larger explicit `cells` to phashPairsViaCells (more, " +
            "smaller cells split the concentrated slice further), or " +
            "raise maxBandBucket explicitly if the quadratic cost is budgeted."
        else
          "use Multimodal.phashPairsViaCells (m10: k-means cells over the " +
            "hash's band bytes, top-2 probed, banded kernel within cells — " +
            "measured recall 0.92+ vs this exact kernel at sf0.1/sf1, " +
            "PROBES_r16) to pair such a corpus under this bound, or raise " +
            "maxBandBucket explicitly if the exact pair set is required and " +
            "the quadratic cost is budgeted."
      throw new graft.util.GateRefusal(
        s"media near-dup band bucket ($what) holds $hottest blobs (> $maxBandBucket): " +
          "byte-identical blobs are already collapsed, so the corpus " +
          "concentrates this many DISTINCT payloads into one 8-bit hash " +
          "slice and the kernel task owning it would run quadratically — " + route)
    }
  }

  /** Signature + feature rows `(doc_id, sig, v)` per representative —
    * [[phashSigsOf]] packed ([[packedSigs]]) plus the clustering feature
    * vector [[phashPairsViaCells]] trains on: the aHash's 8 band bytes
    * / 255, the exact slices the kernel buckets on (why: see
    * [[phashPairsViaCells]]). */
  private[graft] def phashSigFeats(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    packedSigs(phashSigsOf(docs)).as[(Long, Long)]
      .map { case (id, sig) =>
        (id, sig, Array.tabulate(8)(b => HammingBands.slice(b, sig).toDouble / 255.0))
      }.toDF("doc_id", "sig", "v")
  }

  /** Cell-partitioned media near-dup pairing — the escape hatch the
    * flat kernel's gate refusal names: for corpora that LEGITIMATELY
    * concentrate more than `maxBandBucket` distinct payloads into one
    * 8-bit band slice (near-dup-heavy crawls do this; the 64× synthetic
    * corpus does it structurally), pre-cluster the representatives and
    * run the banded hamming kernel WITHIN cells only. A structurally
    * hot band bucket splits across cells, so each (cell, band, value)
    * task stays under the same per-bucket gate the flat kernel
    * enforces — bounded wall-clock where [[phashPairs]] refuses.
    *
    * The cells are trained ON THE HASH'S OWN BAND BYTES
    * (`HammingBands.slice(b)/255`, b = 0..7 — [[phashSigFeats]]) and every rep
    * probes its top-`probes` cells ([[Embeddings.CellModel.probe]], the
    * IVF multi-probe move): a hamming ≤ 6 pair survives whenever the
    * two probe sets intersect. MEASURED recall vs the exact kernel
    * (PROBES_r16): 0.92+ at sf0.1/sf1 under the defaults; the r15
    * design (m03 byte-histogram cells, single probe) measured
    * 0.218/0.123 on the same corpora because histogram proximity
    * correlates only weakly with aHash hamming. Still APPROXIMATE by
    * design, like [[Embeddings.semanticDedup]]'s within-cell contract —
    * a pair whose probe sets are disjoint is not emitted — and the
    * DuckDB oracle replays the whole composition (collapse, aHash, band
    * bytes, the sampled trainer prolog, top-2 probe ranks, the
    * cell-keyed band join), so the approximation is pinned, not fuzzy.
    * A user needing the EXACT pair set must raise `maxBandBucket` on
    * the flat kernel with the quadratic cost budgeted.
    *
    * Scale shape: one decode→collapse pass (map-side combining), one
    * broadcast-probe assignment fused into band-row generation (no
    * join — the cell id packs into the band-value key), one shuffle
    * keyed (band, cell·256+value) carrying `probes ×` the flat row
    * count, then [[HammingBands.cellPairs]], which emits a pair sharing
    * several probed cells only in the minimum one (no distinct()). The
    * gate still fires if a single CELL's band bucket exceeds the
    * bound — raise `cells` (more, smaller cells) before raising the
    * gate. */
  def phashPairsViaCells(docs: DataFrame, cells: Int = 0, iters: Int = 3,
      maxBandBucket: Long = MaxBandBucket,
      sampleTarget: Long = Embeddings.TrainSampleTarget,
      probes: Int = 2): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sf = graft.CacheRegistry.retain("media.cellsigs", phashSigFeats(docs))
    val nReps = sf.count()
    // cell count derived from the HOTTEST flat band bucket — the exact
    // quantity the gate measures — not from rep count (d07's occupancy
    // derivation): cells exist here only to split hot buckets below the
    // gate, and every extra cell costs recall (boundary-split pairs).
    // ceil(2·hottest/gate) targets an even split at half the gate bound
    // (2× headroom for skew); the rep-count form derived 156 cells at
    // 64× where 8 suffice, and recall falls with the cell count (0.75
    // at 25 cells vs 0.92 at 8, PROBES_r16). One extra bounded
    // aggregation over the 8×reps band rows, map-side combined.
    val k =
      if (cells > 0) cells
      else mediaCells(HammingBands.hottest(HammingBands.bandRows(sf, "sig")),
        maxBandBucket)
    // d07's r16 trainer posture, shared: trainer on the deterministic
    // hash-prefix sample (no-op below 65536 reps), coarse→fine routing
    // past 4096 cells — see Embeddings.cellModel
    val model = Embeddings.cellModel(
      sf.select($"doc_id".as("vec_id"), $"v"), k, iters, sampleTarget, nReps)
    if (model.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "hamming")
    val bc = s.sparkContext.broadcast(model)
    val P = probes
    val banded = sf.select($"doc_id", $"sig", $"v")
      .as[(Long, Long, Array[Double])]
      .flatMap { case (id, sig, v) =>
        // same ranking arithmetic and (cosine desc, cell asc) tie order
        // as the trainer's assignment step — probe cells are the
        // oracle's `pr WHERE rn <= probes`
        val nrm = Embeddings.fpNorm(v)
        val pc = bc.value.probe(v, nrm, P)
        java.util.Arrays.sort(pc)
        // the cell id packs into the band VALUE (bv is 8-bit), so the
        // kernel's (band, value) bucketing becomes (band, cell, value)
        // with no schema change; each row also carries its rep's full
        // sorted probe set so the kernel can apply the min-shared-cell
        // emission rule without a post-hoc distinct
        pc.iterator.flatMap(c =>
          (0 until 8).iterator.map(b =>
            (b, c * 256L + HammingBands.slice(b, sig), id, sig, pc)))
      }
    gateCheck(HammingBands.hottest(banded.select($"_1".as("i"), $"_2".as("k"))),
      maxBandBucket, "cells")
    HammingBands.cellPairs(banded)
  }

  /** Shared build body for the dir-keyed and frame-keyed ensures:
    * verified media near-dup pairs `(doc_a, doc_b, hamming)` over
    * exact-payload REPRESENTATIVES in `_pairs` — the shared engine of
    * m05 (pair listing) and m06 (cluster + canonical pick) — plus the
    * per-representative signature history in the `_sigs` aux (what
    * [[appendToMediaIndex]] probes).
    *
    * Stage 1, exact collapse: byte-identical blobs (same decoded
    * payload) are collapsed to one representative — the smallest
    * doc_id — via a map-side-combining reduceGroups on the payload md5.
    * Mass-duplicated media (the degenerate regime the r9 scale run hit:
    * replicated corpora whose identical blobs densified the pair graph
    * 685×) collapses BEFORE any quadratic work, and the within-group
    * pairs (all hamming 0, quadratic in group size by definition) are
    * deliberately not emitted: exact-dup group membership is the
    * md5-group itself (d01's composition), not a near-dup finding.
    *
    * Stage 2, classic average-hash on representatives: resize to the
    * 8×8 canonical grid (64 bytes) → bit i = value_i ≥ mean, computed
    * as the INTEGER comparison v*64 ≥ sum so both engines agree exactly
    * (no division). The 64-bit hash is stored as two BIGINT halves (bit
    * 63 would overflow signed) and packed into one signature for
    * pairing ([[packedSigs]]).
    *
    * Stage 3, the banded kernel d04 shares ([[HammingBands.pairs]]):
    * candidates share one of eight 8-bit bands, so the banded result
    * EQUALS the n² scan the oracle runs, without n² cost, and a hot
    * bucket (at 30× scale ~46k short-doc blobs share h1 = 0 and
    * therefore four whole band values) is ground at register speed. */
  private def mediaBuild(s: SparkSession, docs: DataFrame, table: String,
      meta: Seq[(String, Long)], force: Boolean, maxBandBucket: Long): String = {
    // Evaluated only when the ensure decides to BUILD:
    lazy val hashed = {
      // the decode→collapse→hash plan is rooted on the documents scan,
      // so a warm "media.phash" entry from a PRE-rewrite corpus would
      // plan-match (rootPath equality) and the rebuild would persist
      // stale signatures under the new fingerprint — the simhashBuild
      // staleness class; release unconditionally before hashing
      graft.CacheRegistry.release("media.phash")
      // retained: the banded kernel, the gate and the _sigs aux write
      // all read the hash frame (same reason d04 retains
      // `neardup.simhash`) — without it the encode-UDF + decode +
      // collapse + hash pipeline executes once per consumer
      graft.CacheRegistry.retain("media.phash", phashSigsOf(docs))
    }
    PersistedIndex.ensureWith(s, table, meta, force,
      // _prof persists the band-bucket occupancy profile (bi, bv, cnt —
      // ≤ 8·256 rows) so the APPEND can gate the merged corpus from a
      // profile MERGE (stored + delta counts; exact, since absorption
      // guarantees rep disjointness) instead of re-profiling the whole
      // resident history per append — the corpus-proportional piece of
      // m09's bookkeeping floor (r18 verdict #6)
      aux = Seq("_sigs" -> (() => hashed),
        "_prof" -> (() => bandProfile(hashed)))) {
      val packed = packedSigs(hashed)
      gateCheck(HammingBands.hottest(HammingBands.bandRows(packed, "sig")),
        maxBandBucket, "build")
      HammingBands.pairs(packed, "sig")
    }
  }

  /** Incremental append for the persisted media index — the verified
    * [[graft.plans.PersistedIndex.append]], as
    * [[graft.operators.Documents.appendToSimhashIndex]] uses it, with
    * two media-specific twists:
    *
    *   - ORDER contract instead of plain disjointness: representatives
    *     are the MIN doc_id of each byte-identical payload group, so an
    *     append is sound only when every new doc_id exceeds the whole
    *     resident corpus's max (else a new duplicate could displace a
    *     resident representative, which would require rewriting resident
    *     pair rows). Checked against the `maxid` the build persisted in
    *     `_meta` — monotone ids are the natural shape of daily ingest.
    *   - byte-identical ABSORPTION: a new blob whose md5 matches a
    *     resident representative collapses into it exactly as the full
    *     rebuild would — it mints no rep, no pairs, and no `_sigs` row.
    *
    * Validation (base-meta match, order check, band gate on the MERGED
    * band profile — resident reps ∪ fresh delta reps, exactly the grown
    * corpus's rep set, so a refusal here equals the rebuild's refusal)
    * all happens BEFORE the poison, so a refused append leaves the
    * resident index fresh. Then the commit appends the cross
    * (resident×delta, delta broadcast) and within-delta verified pairs
    * plus the fresh-rep `_sigs` rows — resident files untouched, pinned
    * byte-for-byte in PersistedIndexSpec. Under the contract, appended ∪
    * resident EQUALS a full rebuild on the grown corpus (each stratum
    * keeps the pigeonhole argument; absorption reproduces the rebuild's
    * collapse). At 100 TB with daily media ingest this replaces the
    * dominant recurring cost (a full m00 decode→hash→verify rebuild per
    * batch) with work proportional to the delta. */
  def appendToMediaIndex(s: SparkSession, newDocs: DataFrame, table: String,
      base: Seq[(String, Long)], grown: Seq[(String, Long)],
      maxBandBucket: Option[Long] = None): String = {
    import s.implicits._
    // same plan-match staleness class as the build: the delta's hash
    // plan could substitute a warm pre-rewrite cache entry
    graft.CacheRegistry.release("media.phash")
    PersistedIndex.append(s, table, "ensureMediaIndex", base, grown) { commit =>
      val baseMaxId = base.collectFirst { case ("maxid", v) => v }.getOrElse(
        throw new IllegalArgumentException(
          s"appendToMediaIndex($table): base meta carries no maxid — build with " +
            "mediaMeta/ensureMediaIndex so the order contract is checkable"))
      val resident = PersistedIndex.readArtifact(s, table, "_sigs",
        Seq("doc_id", "md5", "h0", "h1"), "ensureMediaIndex")
      // order contract over ALL new docs (not just the reps the collapse
      // keeps): a sub-maxid duplicate would displace a resident rep; an
      // EMPTY delta (no min) never commits
      val minNew = newDocs.agg(min(col("doc_id"))).head().get(0)
      if (minNew != null) {
        require(minNew.asInstanceOf[Long] > baseMaxId,
          s"appendToMediaIndex($table): delta min doc_id $minNew is not above the " +
            s"resident corpus max $baseMaxId — media reps are min-doc_id per " +
            "payload group, so out-of-order ingest would displace resident " +
            "representatives; rebuild with ensureMediaIndex instead")
        // enforce the gate the BASE was built under (it is part of the
        // verified _meta tuple): a caller who built with a custom bound and
        // omits it here (None) must not gate the merged profile under the
        // default (spurious refusal) or silently append past a tighter
        // stored contract — and ANY explicit argument must agree, including
        // an explicit Some(MaxBandBucket) against a custom-gate index (the
        // r15 Long-default form made that disagreement indistinguishable
        // from an omission and silently used the stored gate).
        val baseGate = base.collectFirst { case ("gate", v) => v }
          .orElse(maxBandBucket).getOrElse(MaxBandBucket)
        maxBandBucket.foreach { explicit =>
          require(explicit == baseGate,
            s"appendToMediaIndex($table): explicit maxBandBucket=$explicit " +
              s"disagrees with the gate the index was built under ($baseGate) — " +
              "the append enforces the stored contract; rebuild with " +
              "ensureMediaIndex to change the gate")
        }
        // the GROWN tuple is stamped verbatim as the next append's verified
        // base — a grown "gate" entry that differs from baseGate would
        // silently rewrite the stored gate contract for every future append
        // (r15 advice), the drift class this validation exists to close
        grown.collectFirst { case ("gate", v) => v }.foreach { g =>
          require(g == baseGate,
            s"appendToMediaIndex($table): grown meta carries gate=$g but the " +
              s"index's verified gate is $baseGate — the append cannot change " +
              "the gate contract; rebuild with ensureMediaIndex to re-gate")
        }
        val newSigs = phashSigsOf(newDocs).localCheckpoint()
        try {
          // absorption: md5 matches collapse into the resident rep (no new
          // rep, no pairs — the rebuild's collapse, reproduced); only
          // genuinely new payloads survive as fresh reps
          val freshNew = absorptionSurvivors(newSigs, resident).localCheckpoint()
          try {
            // gate BEFORE the commit, on the merged profile == grown corpus
            // reps. The stored _prof carries the RESIDENT profile, so the
            // merge is stored + delta counts (exact: absorption guarantees
            // the fresh reps are disjoint from resident reps) — no resident
            // re-scan. Materialized driver-side (≤ 8·256 + delta-bucket
            // rows) because the _prof rewrite below must not read the files
            // it replaces.
            val storedProf = PersistedIndex.readArtifact(s, table, "_prof",
              Seq("bi", "bv", "cnt"), "ensureMediaIndex").as[(Int, Long, Long)].collect()
            val deltaProf = bandProfile(freshNew).as[(Int, Long, Long)].collect()
            val mergedProf = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
            (storedProf.iterator ++ deltaProf.iterator).foreach { case (bi, bv, c) =>
              mergedProf.updateWith((bi, bv))(prev => Some(prev.getOrElse(0L) + c)) }
            gateCheck(if (mergedProf.isEmpty) 0L else mergedProf.values.max, baseGate,
              "append")
            commit {
              val freshPacked = packedSigs(freshNew)
              val cross = HammingBands.crossPairs(
                HammingBands.bandRows(packedSigs(resident), "sig"),
                HammingBands.bandRows(freshPacked, "sig"), "sig")
              PersistedIndex.appendArtifact(
                cross.unionByName(HammingBands.pairs(freshPacked, "sig")), table, "_pairs")
              PersistedIndex.appendArtifact(freshNew.select($"doc_id", $"md5", $"h0", $"h1"),
                table, "_sigs")
              // rewrite the (profile-sized) _prof with the merged counts so
              // the NEXT append's gate also merges instead of re-profiling;
              // inside the commit, so a crash here leaves the poisoned meta
              // the next ensure repairs by rebuilding everything incl. _prof
              graft.plans.CoLocated.replaceTable(
                mergedProf.iterator.map { case ((bi, bv), c) => (bi, bv, c) }
                  .toSeq.toDF("bi", "bv", "cnt"),
                PersistedIndex.Database, table + "_prof")
            }
          } finally freshNew.unpersist(false)
        } finally newSigs.unpersist(false)
      }
    }
  }

  /** The append's absorption probe: delta signature rows whose md5 does
    * NOT match a resident representative (those that will mint fresh
    * reps). Shaped so the RESIDENT side is scanned, never shuffled —
    * the family's append discipline: the absorbed md5 set is a
    * broadcast semi-join of resident against the (delta-sized,
    * broadcast) new md5s, and the survivors anti-join against that
    * small absorbed set, also broadcast. The r14 form (`newSigs.md5
    * intersect resident.md5`) planned BOTH sides into the set-op
    * aggregate, exchanging every resident md5 on every append — cheap
    * at 16 bytes/rep, the wrong shape at 10⁹ reps. Plan-pinned (no
    * shuffle exchange anywhere) in PersistedIndexSpec. */
  private[operators] def absorptionSurvivors(newSigs: DataFrame,
      resident: DataFrame): DataFrame = {
    val s = newSigs.sparkSession
    import s.implicits._
    // md5 is the collapse key, so it is unique within each side — the
    // semi/anti pair needs no distinct() (which would add an exchange
    // on the delta)
    val absorbed = resident.select($"md5")
      .join(broadcast(newSigs.select($"md5")), Seq("md5"), "left_semi")
    newSigs.join(broadcast(absorbed), Seq("md5"), "left_anti")
  }

  /** Shared m05/m06 oracle prolog (no leading WITH): closed-form
    * container arithmetic (code point % 128 = the decoded byte,
    * zero-pad past the text), the exact-payload collapse (one rep —
    * min doc_id — per identical full-length code list), and the aHash
    * halves `hs(doc_id, h0, h1)` over representatives. ONE definition
    * so the pair listing and the clustering oracle cannot drift on the
    * hash or the collapse key (the ShinglePairsCtes discipline). */
  private val MediaHashCtes =
    """pos AS (SELECT unnest(generate_series(1, 64)) AS i),
          ch AS (SELECT d.doc_id, p.i,
                   CASE WHEN p.i <= length(d.text)
                     THEN ascii(substr(d.text, p.i, 1)) % 128 ELSE 0 END AS v
                 FROM documents d, pos p),
          reps AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM (
                   SELECT doc_id, list_transform(generate_series(1, length(text)),
                     i -> ascii(substr(text, i, 1)) % 128) AS k
                   FROM documents) GROUP BY k),
          sums AS MATERIALIZED (SELECT doc_id, SUM(v) AS s FROM ch GROUP BY doc_id),
          hs AS MATERIALIZED (SELECT c.doc_id,
                   CAST(SUM(CASE WHEN c.i <= 32 AND c.v * 64 >= s.s
                     THEN (CAST(1 AS BIGINT) << (c.i - 1)) ELSE 0 END) AS BIGINT) AS h0,
                   CAST(SUM(CASE WHEN c.i > 32 AND c.v * 64 >= s.s
                     THEN (CAST(1 AS BIGINT) << (c.i - 33)) ELSE 0 END) AS BIGINT) AS h1
                 FROM ch c JOIN sums s USING (doc_id) JOIN reps r USING (doc_id)
                 GROUP BY c.doc_id)"""

  /** Banded-hamming pair replay over [[MediaHashCtes]]'s `hs` — the
    * continuation CTEs shared by m05 (pair listing) and m00 (builder
    * summary), single-sourced so the two oracles cannot drift on band
    * slicing or the threshold. */
  private val MediaPairsCtes =
    """bnd AS MATERIALIZED (
            SELECT doc_id, h0, h1, b,
                   ((CASE WHEN b < 4 THEN h0 >> (b * 8)
                          ELSE h1 >> ((b - 4) * 8) END) & 255) AS bv
            FROM hs, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b)),
          mpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) AS BIGINT) AS hamming
            FROM bnd a JOIN bnd b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6)"""

  /** m10's DuckDB replay: the shared collapse+aHash prolog, the m03
    * feature-vector reconstruction per representative, the SAME
    * derived-cells trainer replay as d07 ([[Embeddings.kMeansCellsSql]]
    * + [[Embeddings.kMeansPrologSqlK]] over the feature vectors), and
    * the banded hamming join RESTRICTED to same-cell pairs — the whole
    * approximate composition is hash-pinned, including which pairs the
    * cell partition drops. */
  private def M10OracleSql: String = {
    // clustering features = the hash's own 8 band bytes / 255 (exactly
    // phashSigFeats / the engine's HammingBands.slice order: b 0..3 from h0,
    // 4..7 from h1)
    val bandExprs = (0 until 8).map { b =>
      val src = if (b < 4) s"(h0 >> ${b * 8})" else s"(h1 >> ${(b - 4) * 8})"
      s"CAST(($src & 255) AS DOUBLE) / 255.0"
    }.mkString(", ")
    val fvecCtes =
      s"""fvec AS MATERIALIZED (
            SELECT doc_id AS vec_id, [$bandExprs] AS v FROM hs)"""
    // mediaCells' replay: k = max(8, ceil(2·hottest/gate)) from the
    // replay's own flat band profile (the quantity the gate measures)
    val cellp =
      s"""heat AS MATERIALIZED (
            SELECT MAX(c) AS h FROM (
              SELECT COUNT(*) AS c FROM (
                SELECT t.b, ((CASE WHEN t.b < 4 THEN h0 >> (t.b * 8)
                                   ELSE h1 >> ((t.b - 4) * 8) END) & 255) AS bv
                FROM hs, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b))
              GROUP BY b, bv)),
          cellp AS MATERIALIZED (
            SELECT CAST(GREATEST(8, (2 * t.h + ${MaxBandBucket - 1}) // $MaxBandBucket) AS BIGINT) AS k
            FROM heat t)"""
    val prolog = Embeddings.kMeansPrologSqlSampled("", "(SELECT k FROM cellp)",
      "SELECT vec_id, v FROM fvec", Embeddings.TrainSampleTarget)
    // top-2 probe cells per rep: the prolog's `pr` rank (the same
    // (cosine desc, cell asc) ordering v09's probe replay uses) at
    // rn <= 2 — the engine's CellModel.probe(v, nrm, 2)
    s"""WITH $MediaHashCtes,
          $fvecCtes,
          $cellp,
          $prolog,
          bndc AS MATERIALIZED (
            SELECT h.doc_id, h.h0, h.h1, c.cell, t.b,
                   ((CASE WHEN t.b < 4 THEN h.h0 >> (t.b * 8)
                          ELSE h.h1 >> ((t.b - 4) * 8) END) & 255) AS bv
            FROM hs h JOIN pr c ON h.doc_id = c.vid AND c.rn <= 2,
                 (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b)),
          cpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) AS BIGINT) AS hamming
            FROM bndc a JOIN bndc b ON a.cell = b.cell AND a.b = b.b
                 AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6)
        SELECT doc_a, doc_b, hamming FROM cpairs ORDER BY doc_a, doc_b"""
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("m00_build_phash_index",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the NAMED BUILDER row for the media near-dup family: force a
        // full decode→exact-collapse→aHash→banded-verify rebuild of the
        // persisted pair index (ensureMediaIndex force=true) and return
        // the index summary. m05/m06 SERVE from the artifact this
        // publishes (fingerprint-skip, any JVM), so the bench attributes
        // the family's build cost here — m00 sorts before every serve —
        // instead of inside whichever serve query runs first (the r11
        // verdict's "anonymous in-query build", m06 27.4 s isolated at
        // 30×). Same split as v12 (in-session PQ train) vs v15
        // (persisted serve). The summary aggregates the persisted pairs
        // (count + hamming mass), so the oracle gates the BUILD OUTPUT,
        // not just its row count.
        val path = ensureMediaIndex(s, dir, force = true)
        ParquetTables.read(s, path)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum($"hamming"), lit(0L)).cast("long").as("sum_hamming"))
      },
      Some(s"""WITH $MediaHashCtes,
          $MediaPairsCtes
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(hamming), 0) AS BIGINT) AS sum_hamming
        FROM mpairs""")),

    QueryDef("m01_media_stats",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // real binary round-trip: encode → decode (mapPartitions) → agg
        val media = decode(fromDocuments(tbl(s, dir, "documents")))
        media.toDF()
          .select($"doc_id", $"meta.kind".as("kind"),
            $"meta.width".as("width"), $"meta.nBytes".as("n_bytes"))
          .groupBy($"kind")
          .agg(
            count(lit(1)).as("n"),
            sum($"n_bytes").as("sum_bytes"),
            (sum($"width".cast("long")) / count(lit(1))).as("avg_width"))
          .orderBy($"kind")
      },
      // the blob dims are deterministic functions of (doc_id, n_chars), so
      // the oracle predicts the decoded stats without touching binary;
      // ((x % m) + m) % m mirrors encodeBlob's floorMod for negative ids
      Some("""SELECT CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        COUNT(*) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS sum_bytes,
        CAST(SUM(((doc_id % 64) + 64) % 64 + 1) AS BIGINT) / COUNT(*) AS avg_width
        FROM documents GROUP BY 1 ORDER BY kind""")),

    QueryDef("m02_frame_sample_stats",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the REAL typed pipeline end-to-end: encode → decode → frame-
        // sample (32-byte frames, keep every 3rd) → aggregate. Narrow
        // until the final (kind) aggregation, like m01.
        val media = decode(fromDocuments(tbl(s, dir, "documents")))
        frameSample(media, frameBytes = 32, everyN = 3).toDF()
          .select($"doc_id", $"meta.kind".as("kind"), $"meta.nBytes".as("kept_bytes"))
          .groupBy($"kind")
          .agg(count(lit(1)).as("n"), sum($"kept_bytes").as("sum_kept_bytes"))
          .orderBy($"kind")
      },
      // closed-form frame arithmetic: payload length == n_chars (see
      // encodeBlob), frames of 32 bytes with a partial tail, every 3rd
      // kept; the tail frame is kept iff its index (n_frames-1) is a
      // multiple of 3, and then contributes only its partial size
      Some("""WITH m AS (
          SELECT CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                   WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 n_chars,
                 CAST((n_chars + 31) // 32 AS BIGINT) AS n_frames
          FROM documents)
        SELECT kind, COUNT(*) AS n,
          CAST(SUM(((n_frames + 2) // 3) * 32 -
            CASE WHEN n_frames > 0 AND (n_frames - 1) % 3 = 0 AND n_chars % 32 <> 0
              THEN 32 - (n_chars % 32) ELSE 0 END) AS BIGINT) AS sum_kept_bytes
        FROM m GROUP BY kind ORDER BY kind""")),

    QueryDef("m03_feature_histogram",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the FEATURE-EXTRACTION stage under the hash gate: encode →
        // decode → per-blob byte-histogram densities ([[featureExtract]],
        // previously spec-only) → per-(kind, bucket) aggregate. The
        // pipeline is narrow until the final 3×16-group aggregation —
        // at scale the feature map runs where the decode ran, and only
        // (kind, bucket, partial-sum) triples shuffle. Densities are
        // single IEEE divisions (count/len, both exact ints), so the
        // sumExact fixed-point fold keeps the cross-doc sum
        // order-independent and the DuckDB oracle replays it from the
        // deterministic container arithmetic (7-bit body ⇒ ascii/16
        // buckets; empty payloads clamp the denominator to 1).
        val media = decode(fromDocuments(tbl(s, dir, "documents")))
        featureExtract(media).toDF()
          .select($"kind", posexplode($"features").as(Seq("bucket", "d")))
          .groupBy($"kind", $"bucket".cast("long").as("bucket"))
          .agg(sumExact($"d").as("sum_density"))
          .orderBy($"kind", $"bucket")
      },
      // featureExtract emits all 16 buckets per blob (zeros included), so
      // the oracle LEFT JOINs a dense kind×bucket grid over the nonzero
      // sums — a missing group is a zero sum, not a missing row
      Some("""WITH docs2 AS (SELECT doc_id,
               CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               text, GREATEST(length(text), 1) AS n FROM documents),
          ch AS (SELECT doc_id, kind, n,
                        unnest(generate_series(1, length(text))) AS i, text FROM docs2),
          per AS (SELECT doc_id, kind, n, ascii(substr(text, i, 1)) // 16 AS bucket,
                         COUNT(*) AS c
                  FROM ch GROUP BY doc_id, kind, n, bucket),
          sums AS (SELECT kind, bucket,
                          SUM(CAST(FLOOR((CAST(c AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT)) AS st
                   FROM per GROUP BY kind, bucket),
          grid AS (SELECT DISTINCT kind, unnest(generate_series(0, 15)) AS bucket FROM docs2)
        SELECT g.kind, CAST(g.bucket AS BIGINT) AS bucket,
               CAST(COALESCE(st, 0) AS DOUBLE) / 1e6 AS sum_density
        FROM grid g LEFT JOIN sums s ON g.kind = s.kind AND g.bucket = s.bucket
        ORDER BY g.kind, g.bucket""")),

    QueryDef("m04_resize_stats",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the RESIZE stage under the hash gate (previously spec-only —
        // this completes the mandated decode/feature-extract/resize/
        // frame-sample quartet with oracled rows): encode → decode →
        // resize to 8×4 (stub re-encode: truncate/pad to w·h bytes,
        // stamp dims) → per-kind aggregate. Narrow until the 3-group
        // agg, like m01-m03; byte sums are exact integers. The oracle
        // replays the container arithmetic: resized payload = the first
        // min(32, n) 7-bit code points, zero-padded (pads add nothing
        // to the sum; truncation = LEAST in the oracle).
        val media = decode(fromDocuments(tbl(s, dir, "documents")))
        resize(media, w = 8, h = 4)
          .map(r => (r.meta.kind, r.meta.nBytes,
            { var sv = 0L; r.payload.foreach(b => sv += (b & 0xFF).toLong); sv }))
          .toDF("kind", "n_bytes", "sv")
          .groupBy($"kind")
          .agg(
            count(lit(1)).as("n"),
            sum($"n_bytes").as("sum_bytes"),
            sum($"sv").as("sum_byte_values"))
          .orderBy($"kind")
      },
      Some("""WITH docs2 AS (SELECT doc_id,
               CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               text FROM documents),
          ch AS (SELECT doc_id, kind,
                        unnest(generate_series(1, LEAST(length(text), 32))) AS i, text
                 FROM docs2),
          per AS (SELECT doc_id, SUM(ascii(substr(text, i, 1)) % 128) AS sv
                  FROM ch GROUP BY doc_id)
        SELECT d.kind, COUNT(*) AS n,
               CAST(COUNT(*) * 32 AS BIGINT) AS sum_bytes,
               CAST(SUM(COALESCE(p.sv, 0)) AS BIGINT) AS sum_byte_values
        FROM docs2 d LEFT JOIN per p ON d.doc_id = p.doc_id
        GROUP BY d.kind ORDER BY kind""")),

    QueryDef("m05_phash_neardup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // perceptual-hash near-dup for MEDIA — dedup extended across
        // modalities (the text side has d01-d09; this is the image/
        // audio/video analog); pair generation shared with m06's
        // clustering via [[phashPairs]]. Pairs are between exact-payload
        // REPRESENTATIVES (byte-identical blobs collapse first — see
        // phashPairs stage 1); exact-dup membership itself is d01's
        // composition, not a near-dup finding.
        phashPairs(s, dir).orderBy($"doc_a", $"doc_b")
      },
      // oracle: the shared MediaHashCtes prolog (collapse + aHash), then
      // the banded hamming replay over representatives
      Some(s"""WITH $MediaHashCtes,
          $MediaPairsCtes
        SELECT doc_a, doc_b, hamming FROM mpairs
        ORDER BY doc_a, doc_b""")),

    QueryDef("m06_media_canonical",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // cross-modal dedup COMPLETED (r6 verdict #4): m05 stops at
        // pairs; production media dedup keeps one best representative
        // per duplicate group, like text's d05 → d09. Composed from the
        // three existing kernels — [[phashPairs]] (banded candidate
        // generation), [[graft.pipeline.NearDup.components]] (the same
        // bounded CC loop d05 runs), [[Documents.canonicalPick]] (d09's
        // quality-window survivor) — nothing re-implemented, so text and
        // media dedup share component and pick semantics by
        // construction. The oracle replays reachability over the full n²
        // hamming dual plus the quality window, so cluster AND pick are
        // both DuckDB-verified.
        val cl = graft.pipeline.NearDup.components(phashPairs(s, dir), "media.clusters")
        Documents.canonicalPick(cl, Documents.qualityScore(s, dir))
          .orderBy($"cluster_id")
      },
      Some(s"""WITH RECURSIVE $MediaHashCtes,
          -- reachability runs over the CONTRACTED graph of DISTINCT
          -- pHash values, not docs: docs sharing a hash are pairwise
          -- near-dups (hamming 0, all bands shared), so the doc graph is
          -- exactly the hash graph with each node expanded to a clique —
          -- same components, and the recursive closure no longer
          -- materializes clique² rows (the doc-level walk over the 10×
          -- corpus's 2.5M densified pairs exceeded the sweep budget;
          -- this replays in seconds). Node id = the hash's min doc_id.
          hnode AS MATERIALIZED (
            SELECT h0, h1, MIN(doc_id) AS node, COUNT(*) AS n_docs
            FROM hs GROUP BY h0, h1),
          bnd AS MATERIALIZED (
            SELECT node, h0, h1, b,
                   ((CASE WHEN b < 4 THEN h0 >> (b * 8)
                          ELSE h1 >> ((b - 4) * 8) END) & 255) AS bv
            FROM hnode, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b)),
          hedge AS MATERIALIZED (
            SELECT DISTINCT a.node AS src, b.node AS dst
            FROM bnd a JOIN bnd b ON a.b = b.b AND a.bv = b.bv AND a.node < b.node
            WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6),
          edges AS MATERIALIZED (SELECT src, dst FROM hedge
                    UNION SELECT dst, src FROM hedge),
          walk(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
          hcomp AS MATERIALIZED (
            SELECT id AS node, CAST(MIN(label) AS BIGINT) AS comp
            FROM walk GROUP BY id),
          -- expand back to docs: a doc is CLUSTERED iff its component
          -- holds >= 2 docs (same-hash clique or a hash edge — both are
          -- pairs); cluster_id = the component's min doc_id
          compdocs AS MATERIALIZED (
            SELECT d.doc_id, COALESCE(hc.comp, hn.node) AS comp
            FROM hs d JOIN hnode hn USING (h0, h1)
            LEFT JOIN hcomp hc ON hn.node = hc.node),
          csize AS MATERIALIZED (
            SELECT comp, COUNT(*) AS n_docs, MIN(doc_id) AS cluster_id
            FROM compdocs GROUP BY comp),
          clusters AS MATERIALIZED (
            SELECT cd.doc_id, CAST(s.cluster_id AS BIGINT) AS cluster_id
            FROM compdocs cd JOIN csize s USING (comp)
            WHERE s.n_docs >= 2),
          qual AS MATERIALIZED (
            SELECT doc_id,
                   ((n_uniq / n_toks) * 0.6) + ((1.0 - (n_stop / n_toks)) * 0.4) AS score
            FROM (SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_toks,
                    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                    CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
          ranked AS (
            SELECT c.cluster_id, c.doc_id, q.score,
                   ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                     ORDER BY q.score DESC, c.doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
            FROM clusters c JOIN qual q USING (doc_id))
        SELECT cluster_id, doc_id AS kept_doc, score AS kept_score,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1 ORDER BY cluster_id""")),

    QueryDef("m07_shard_pack",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // webdataset-style shard assembly manifest: media blobs packed
        // into byte-budgeted shards per kind, in doc_id order — the
        // step a multimodal training loader needs before writing tar
        // shards (the sink writes the shards; THIS computes the
        // assignment and per-shard manifest). shard_id = full budget
        // units consumed BEFORE the item (p01/p04's cum_before recipe:
        // one blob may straddle the boundary, consistent in both
        // engines by construction). The byte sizes come from the REAL
        // decoded binary round-trip (encode → mapPartitions decode →
        // meta.nBytes); the oracle predicts them through m01's
        // structural nBytes == n_chars identity. Scale shape: one
        // kind-keyed window shuffle (the partitioned prefix sum p01
        // scales with); everything else is the media scan.
        val media = decode(fromDocuments(tbl(s, dir, "documents")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"kind").orderBy($"doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        media.toDF()
          .select($"doc_id", $"meta.kind".as("kind"),
            $"meta.nBytes".cast("long").as("nb"))
          .withColumn("cum_before", sum($"nb").over(w) - $"nb")
          .withColumn("shard_id", expr("cum_before DIV 4096"))
          .groupBy($"kind", $"shard_id")
          .agg(count(lit(1)).as("n_items"), sum($"nb").as("shard_bytes"))
          .orderBy($"kind", $"shard_id")
      },
      Some("""SELECT kind, shard_id, COUNT(*) AS n_items,
          CAST(SUM(nb) AS BIGINT) AS shard_bytes
        FROM (SELECT kind, doc_id, nb,
                CAST(SUM(nb) OVER (PARTITION BY kind ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb AS BIGINT) // 4096 AS shard_id
              FROM (SELECT doc_id,
                      CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                      CAST(n_chars AS BIGINT) AS nb
                    FROM documents))
        GROUP BY kind, shard_id ORDER BY kind, shard_id""")),

    QueryDef("m08_caption_media_join",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the CROSS-MODAL join the m-family lacked (r8 verdict #5):
        // media blobs and their caption TEXT meet in one plan. A
        // multimodal training set keeps a blob only when its caption
        // carries signal, so the text kernels gate the media kernels:
        //   1. caption quality ([[Documents.qualityScore]], t02's
        //      signals) must clear a floor;
        //   2. caption near-dup dedup ([[graft.pipeline.NearDup
        //      .pairs]], d02's inverted-index Jaccard): a doc with a
        //      smaller-id near-duplicate caption is dropped, so one
        //      caption's media survives per near-dup group;
        //   3. the surviving doc_ids SEMI-JOIN the decoded media frame
        //      (the cross-modal edge — blob payloads never shuffle
        //      through the text side);
        //   4. m07's byte-budgeted shard packing assembles the curated
        //      loader manifest.
        // Nothing is re-implemented: text quality, near-dup, decode and
        // packing are the published kernels, so caption semantics and
        // media semantics cannot drift from their single-modal queries.
        // Scale shape: the text legs cost what d02/t02 cost; the media
        // leg is a scan + semi-join on doc_id (broadcastable when the
        // survivor set is small, AQE decides); packing adds one
        // kind-keyed window shuffle. Blob bytes ride executor-local
        // from decode to the byte-count projection.
        val docs = tbl(s, dir, "documents")
        val qual = Documents.qualityScore(s, dir).filter($"score" >= 0.6)
        val dupped = graft.pipeline.NearDup.pairs(docs)
          .select($"doc_b".as("doc_id")).distinct()
        val keep = qual.join(dupped, Seq("doc_id"), "left_anti").select($"doc_id")
        val media = decode(fromDocuments(docs)).toDF()
          .select($"doc_id", $"meta.kind".as("kind"),
            $"meta.nBytes".cast("long").as("nb"))
          .join(keep, Seq("doc_id"), "left_semi")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"kind").orderBy($"doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        media
          .withColumn("cum_before", sum($"nb").over(w) - $"nb")
          .withColumn("shard_id", expr("cum_before DIV 4096"))
          .groupBy($"kind", $"shard_id")
          .agg(count(lit(1)).as("n_items"), sum($"nb").as("shard_bytes"))
          .orderBy($"kind", $"shard_id")
      },
      // d02's inverted-index pair replay (Documents.ShinglePairsCtes) +
      // m06's quality CTE + m07's packing, composed — each leg is the
      // single-modal oracle's exact spelling, so the only new thing
      // under test is the composition.
      Some(s"""WITH ${Documents.ShinglePairsCtes},
        dup AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        qual AS (SELECT doc_id,
                   ((n_uniq / n_toks) * 0.6) + ((1.0 - (n_stop / n_toks)) * 0.4) AS score
                 FROM (SELECT doc_id,
                         CAST(len(toks) AS BIGINT) AS n_toks,
                         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                         CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
                       FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
        keep AS (SELECT doc_id FROM qual
                 WHERE score >= 0.6 AND doc_id NOT IN (SELECT doc_id FROM dup)),
        media AS (SELECT doc_id,
                    CASE CAST(((doc_id % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                    CAST(n_chars AS BIGINT) AS nb
                  FROM documents WHERE doc_id IN (SELECT doc_id FROM keep))
        SELECT kind, shard_id, COUNT(*) AS n_items,
               CAST(SUM(nb) AS BIGINT) AS shard_bytes
        FROM (SELECT kind, doc_id, nb,
                CAST(SUM(nb) OVER (PARTITION BY kind ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb AS BIGINT) // 4096 AS shard_id
              FROM media)
        GROUP BY kind, shard_id ORDER BY kind, shard_id""")),

    QueryDef("m09_media_index_append",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // incremental pair-index maintenance for the MEDIA family under
        // the hash gate — d11's discipline with the media twists: the
        // split is by doc_id ORDER (base = low 2/3 of the id range,
        // delta = the rest) because media reps are min-doc_id per
        // payload group, so only an id-above delta is appendable
        // (monotone ingest — the order contract appendToMediaIndex
        // enforces via the persisted maxid); and the natural exact
        // duplicates the documents table carries across the cut
        // exercise ABSORPTION (delta blobs byte-identical to a resident
        // rep collapse into it, minting no rep and no pairs). The
        // oracle is IDENTICAL to m00's full-corpus reconstruction —
        // append-then-serve must be indistinguishable from a full
        // rebuild. Not forced: rep 1 leaves _meta at the GROWN
        // fingerprint, so the base ensure is stale on every rep and
        // deterministically rebuilds — each rep pays build + append,
        // self-contained like d00/d11 (builder-class cost, reported
        // under the builders_s field like d00/d11/m00).
        val docs = tbl(s, dir, "documents")
        val table = "mediaapp_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val (mn, mx) = docs.agg(min($"doc_id"), max($"doc_id"))
          .as[(Long, Long)].head()
        val cut = mn + (mx - mn) * 2 / 3
        val base = docs.filter($"doc_id" <= cut)
        val bm = mediaMeta(PersistedIndex.fingerprint(base, "doc_id", "text"), MaxBandBucket)
        ensureMediaIndexFor(s, base, table, bm)
        val path = appendToMediaIndex(s, docs.filter($"doc_id" > cut), table, bm,
          mediaMeta(PersistedIndex.fingerprint(docs, "doc_id", "text"), MaxBandBucket))
        ParquetTables.read(s, path)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum($"hamming"), lit(0L)).cast("long").as("sum_hamming"))
      },
      Some(s"""WITH $MediaHashCtes,
          $MediaPairsCtes
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(hamming), 0) AS BIGINT) AS sum_hamming
        FROM mpairs""")),

    QueryDef("m10_phash_cells_neardup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the media gate's ESCAPE HATCH as a first-class operator
        // ([[phashPairsViaCells]]): k-means cells over the hash's own
        // band bytes (cell count derived from the hottest band bucket,
        // [[mediaCells]]; trainer sampled), top-2 probed, banded
        // hamming kernel WITHIN cells — pairs a corpus whose band
        // buckets legitimately exceed maxBandBucket, where the flat
        // m05 kernel refuses by design. Approximate (probe-disjoint
        // pairs dropped; measured recall vs m05 0.92+ at sf0.1/sf1 —
        // PROBES_r16) with the approximation itself hash-pinned: the
        // oracle replays collapse, band-byte features, the sampled
        // trainer, the top-2 probe ranks and the cell-keyed band join.
        phashPairsViaCells(tbl(s, dir, "documents"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(M10OracleSql))
  )
}
