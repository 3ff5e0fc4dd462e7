package graft.operators

import graft.QueryDef
import graft.QueryHelpers._
import graft.plans.PersistedIndex
import graft.sources.ParquetTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over the `documents` table: exact and
  * near-duplicate detection, text analysis, fingerprinting, language ID.
  * The reference (`/root/reference/`) has no text operators (SURVEY.md
  * §2.2); this is the driver-mandated extension surface (§2.3).
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash groupBy — shuffles only (fingerprint, doc_id).
  *  - near-dup NEVER does an all-pairs join. d02 builds an inverted index
  *    on 3-word shingles (explode → self-join on shingle → count =
  *    intersection size), so cost is Σ_shingle df(shingle)², not n².
  *  - d03 is the true scale path: 64 MinHash signatures (32 bands × 2
  *    rows) shrink the join key space to band buckets; candidates are then
  *    verified with the exact Jaccard, so output precision is 1.0 and
  *    recall for sim ≥ 0.9 pairs is 1 − (1 − 0.81)^32 ≈ 1 − 1e-23.
  *  - d04 SimHash packs a document into one 64-bit key; the banded
  *    kernel on 8-bit sub-keys ([[HammingBands]]) finds hamming-close
  *    pairs without n².
  */
object Documents {

  /** documents with a whitespace token array column `toks`. The scan is
    * repartitioned to the session's parallelism first: the test corpus is
    * one small parquet file = ONE input split, and the tokenize/shingle
    * expressions are higher-order functions that evaluate outside
    * whole-stage codegen — left unpartitioned they run on a single core
    * (~5 s at sf0.1; ~0.3 s spread over 32). At real scale many splits
    * make this a no-op cost-wise, but a cheap roundRobin here never
    * hurts: everything downstream shuffles anyway. */
  private def toked(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", split(col("text"), " "))

  /** doc_id + distinct 3-word shingles (docs with <3 tokens dropped) —
    * shared engine in [[graft.pipeline.NearDup]]. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.NearDup.shingled(tbl(s, dir, "documents"))

  /** Exact Jaccard on two distinct-shingle arrays; single long/long IEEE
    * division so DuckDB computes the identical double. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    inter / (size(a) + size(b) - inter).cast("long")
  }

  /** Exact near-dup pairs (Jaccard ≥ 0.5 on distinct 3-shingles) via
    * [[graft.pipeline.NearDup.pairs]]'s inverted-index self-join — see
    * its scaladoc for the scale argument. d03's MinHash banding is this
    * catalog's scale path for zipfian corpora. */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.NearDup.pairs(tbl(s, dir, "documents"))

  /** Two-phase parallel sequence packing over a `(lang, doc_id, n_toks)`
    * frame (extra columns pass through): appends `seq_id`/`seq_off` — the
    * training sequence of `budget` tokens, and the offset within it, where
    * each doc's tokens begin when docs are concatenated per lang in doc_id
    * order.
    *
    * The naive form is ONE window `PARTITION BY lang ORDER BY doc_id` — a
    * single task per language, i.e. a single-reducer bottleneck (plus a
    * skewed-key full shuffle) on a mostly-monolingual 100 TB corpus. Here
    * the ordered cumsum decomposes over RANGE buckets of doc_id:
    *
    *  1. each lang's id span is split uniformly (`(doc_id - lo) DIV w`).
    *     The bucket function is MONOTONE in doc_id, so bucket-major order
    *     IS doc_id order, and a per-(lang, bucket) local cumsum plus each
    *     bucket's starting offset reconstructs the global cumsum EXACTLY
    *     (integer addition is associative) — output bit-identical to the
    *     single-window form, which is why p01's DuckDB oracle needs no
    *     knowledge of the bucketing;
    *  2. per-bucket token totals (one row per (lang, bucket)) get an
    *     exclusive prefix sum over buckets — the only lang-wide window,
    *     over ≤ `buckets` rows per lang — and broadcast-join back as the
    *     bucket offsets.
    *
    * Per-task work drops to O(corpus / (langs × buckets)) and the heavy
    * shuffle keys on (lang, bucket). Uniform-width spans assume ids spread
    * roughly evenly over their range (true of sequential ingest ids); for
    * pathological id distributions swap the boundaries for sampled
    * quantiles à la Spark's RangePartitioner — ANY monotone boundary set
    * yields the identical output, so the choice is pure performance.
    * `hi - lo` can only overflow if one lang's ids span more than the
    * full i64 range in magnitude; ANSI mode throws loudly rather than
    * wrapping.
    */
  def packSequences(docs: DataFrame, budget: Int, buckets: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    // per-lang id span → uniform range-bucket width (ceil keeps bucket
    // ids < buckets); the span pass scans two narrow columns only
    val spans = docs.groupBy($"lang")
      .agg(min($"doc_id").as("_lo"), max($"doc_id").as("_hi"))
      .withColumn("_w", expr(s"(_hi - _lo) DIV $buckets + 1"))
      .select($"lang", $"_lo", $"_w")
    val withB = docs.join(broadcast(spans), Seq("lang"))
      .withColumn("_bkt", expr("(doc_id - _lo) DIV _w"))
    // phase 1: cumsum LOCAL to each (lang, bucket)
    val wLocal = Window.partitionBy($"lang", $"_bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB
      .withColumn("_local", coalesce(sum($"n_toks").over(wLocal), lit(0L)))
    // phase 2: exclusive prefix of per-bucket totals over the tiny
    // (lang, bucket) aggregate
    val wOff = Window.partitionBy($"lang").orderBy($"_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy($"lang", $"_bkt").agg(sum($"n_toks").as("_tot"))
      .withColumn("_off", coalesce(sum($"_tot").over(wOff), lit(0L)))
      .select($"lang", $"_bkt", $"_off")
    local.join(broadcast(offs), Seq("lang", "_bkt"))
      .withColumn("_cum", $"_off" + $"_local")
      .withColumn("seq_id", floor($"_cum" / budget).cast("long"))
      .withColumn("seq_off", $"_cum" % budget)
      .drop("_lo", "_w", "_bkt", "_local", "_off", "_cum")
  }

  /** Whitespace token count of `text` — the default tokenizer contract
    * every existing packing oracle assumes. */
  def wsTokenCount: Column = size(split(col("text"), " ")).cast("long")

  /** BPE token count of `text` under [[graft.util.Bpe.DefaultMerges]] —
    * the realistic token-budget alternative (t10's per-word arithmetic,
    * summed per doc). Swapping this in changes only `n_toks`; the
    * packing plan is identical. */
  def bpeTokenCount: Column = expr(
    "aggregate(" + graft.util.Bpe.normWordsSpark("text") +
      ", CAST(0 AS BIGINT), (acc, w) -> acc + " +
      graft.util.Bpe.wordCountSpark("w", graft.util.Bpe.DefaultMerges) + ")")

  /** [[packSequences]] straight from documents with a pluggable
    * `tokenizer` (any BIGINT token-count column over `text`; defaults
    * to [[wsTokenCount]], keeping p01's oracle semantics unchanged). */
  def packDocuments(docs: DataFrame, budget: Int, buckets: Int = 32,
      tokenizer: Column = wsTokenCount): DataFrame =
    packSequences(docs.withColumn("n_toks", tokenizer), budget, buckets)

  /** Per-source token-budget truncation (see p04's catalog scaladoc):
    * keep docs in doc_id order while the tokens BEFORE them fit
    * strictly under `cap`. Parameterized so specs can force the cap to
    * bite on small fixtures. */
  def capSources(docs: DataFrame, cap: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .withColumn("cum_before", sum(col("n_toks")).over(w) - col("n_toks"))
      .withColumn("kept", col("cum_before") < lit(cap))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** Fixed-size overlapping token chunking — the retrieval/indexing
    * preprocessor (RAG chunking, long-doc training windows) that sits
    * between raw documents and the v-family: each document yields
    * windows of `chunkToks` whitespace tokens starting every
    * `chunkToks - overlap` tokens (the final window may be shorter;
    * every token of the doc appears in at least one chunk). Emits one
    * row per chunk — `chunk_id` (0-based, in token order), `tok_start`
    * (0-based token offset), `n_toks`, `chunk_text` — with every other
    * input column passed through (`text` itself is dropped; it is
    * replaced by the chunk bodies).
    *
    * Scale shape: a pure map-side generator — tokenize + an exploded
    * integer sequence per row, all codegen-friendly expressions, no
    * shuffle, no UDF; chunking 100 TB is a single scan whose output
    * feeds straight into [[packDocuments]] (chunks pack like docs) or
    * an embedding join keyed on (doc_id, chunk_id). Deterministic pure
    * function of `text`, so re-runs and appends chunk identically. */
  def chunkDocuments(docs: DataFrame, chunkToks: Int, overlap: Int = 0): DataFrame = {
    require(chunkToks > 0, s"chunkToks must be positive, got $chunkToks")
    require(overlap >= 0 && overlap < chunkToks,
      s"overlap must be in [0, chunkToks), got $overlap for chunkToks $chunkToks")
    val step = chunkToks - overlap
    docs
      .withColumn("_toks", split(col("text"), " "))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .select(col("*"),
        posexplode(expr(s"sequence(0, int(_n - 1), $step)")).as(Seq("_cid", "_start")))
      .withColumn("chunk_id", col("_cid").cast("long"))
      .withColumn("tok_start", col("_start").cast("long"))
      .withColumn("n_toks",
        least(lit(chunkToks.toLong), col("_n") - col("tok_start")))
      .withColumn("chunk_text",
        array_join(expr(s"slice(_toks, int(_start) + 1, $chunkToks)"), " "))
      .drop("_toks", "_n", "_cid", "_start", "text")
  }

  /** Budget-constrained mixture allocation — exact integer WATER-FILLING
    * over a `(source, w, avail)` frame: distribute `budget` tokens
    * proportionally to the weights, cap every source at its
    * availability, and redistribute the shortfall among the sources
    * with headroom (the "mix 60% web / 30% code / 10% books under N
    * tokens, degrade gracefully when a source runs short" recipe —
    * p02/p03 sample by RATE, this enforces an absolute budget).
    *
    * Closed form, no iteration: sort sources by avail/w ascending —
    * the ratio compares through the TWO-COMPONENT integer key
    * `(avail div w, (avail mod w)·10⁹ div w)` (whole part exact, the
    * fractional part quantized to 1e-9; exact pairwise cross-multiply
    * cannot be a sort key), ties by source. Two sources whose true
    * ratios differ by less than 1e-9 order by name — BOTH engines
    * apply the identical quantized order, so the result is the exact
    * water-filling of the quantized instance: still deterministic,
    * availability-capped and budget-feasible, merely attributing the
    * boundary share to the name-ordered source when ratios are that
    * close. A source
    * saturates iff `avail·(W − cumW) ≤ (budget − cumA)·w` over the
    * prefix sums of that order — and saturation is provably a PREFIX of
    * it: if position i is unsaturated, the next water level
    * (B′ − rᵢwᵢ)/(W′ − wᵢ) < B′/W′ ≤ rᵢ ≤ rᵢ₊₁, so everything after i
    * is unsaturated too (the standard water-filling argument, replayed
    * in the spec against an iterative reference). Unsaturated sources
    * get `(R*·w) div W*` where R* and W* are the budget and weight mass
    * left at the saturation boundary; the ≤ W*-token integer remainder
    * stays unallocated (deterministic, documented). Pure integer
    * arithmetic throughout — both engines replay it exactly.
    *
    * Scale shape: this runs on SOURCE-LEVEL METADATA (one row per
    * source), so the global-order window is over a frame thousands of
    * rows at most — the corpus-sized work (per-source token sums, the
    * per-doc cumulative cut) stays distributed and keys on `source`. */
  def allocateBudget(perSource: DataFrame, budget: Long): DataFrame = {
    // bounds keep every product in-range: (avail mod w)·10⁹ < w·10⁹ ≤
    // 1e15, avail·(W − cumW) ≤ 1e12·(sources·1e6), R*·w ≤ budget·1e6 —
    // all under the i64 edge for any realistic deployment (1e12 tokens
    // per source, million-scale weights); rejected loudly beyond.
    //
    // Computed DRIVER-LOCALLY (r19): the input is SOURCE-level metadata,
    // tiny by contract — the pre-r19 form already collected its bounds
    // row but then ran the water-filling as a single-partition Window +
    // agg + crossJoin (2 extra actions and a WindowExec warning per
    // call). One collect computes the identical closed-form prefix rule
    // in pure i64 arithmetic (property-gated against the iterative
    // reference in DocumentsSpec); string ties order by UTF-8 bytes,
    // exactly Spark's string comparison.
    require(budget >= 0 && budget <= 1000000000000L,
      s"budget out of range [0, 1e12]: $budget")
    val s = perSource.sparkSession
    import s.implicits._
    val rows = perSource.select(col("source"), col("w"), col("avail"))
      .as[(String, Long, Long)].collect()
    if (rows.nonEmpty) {
      val minW = rows.iterator.map(_._2).min
      val maxW = rows.iterator.map(_._2).max
      val minA = rows.iterator.map(_._3).min
      val maxA = rows.iterator.map(_._3).max
      val sumW = rows.iterator.map(r => BigInt(r._2)).sum
      require(minW >= 1 && maxW <= 1000000L,
        s"weights out of range [1, 1e6]: $minW..$maxW")
      require(minA >= 0 && maxA <= 1000000000000L,
        s"avail out of range [0, 1e12]: $minA..$maxA")
      require(BigInt(maxA) * sumW <= Long.MaxValue,
        s"max(avail) * sum(w) = $maxA * $sumW " +
          "overflows the i64 saturation arithmetic; shrink weights or avail")
    }
    def utf8Cmp(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ord = rows.sortWith { case ((sa, wa, aa), (sb, wb, ab)) =>
      val k1 = aa / wa - ab / wb
      if (k1 != 0L) k1 < 0L
      else {
        val k2 = ((aa % wa) * 1000000000L) / wa - ((ab % wb) * 1000000000L) / wb
        if (k2 != 0L) k2 < 0L else utf8Cmp(sa, sb) < 0
      }
    }
    val wtot = ord.iterator.map(_._2).sum
    var cumA = 0L
    var cumW = 0L
    val flagged = ord.map { case (src, w, avail) =>
      // BigInt: (budget - cumA) * w can wrap i64 for inputs that pass
      // the range guards above (they bound avail*(wtot-cumW) but not
      // cumA*maxW); n is source-level-tiny so the cost is nil
      val sat = BigInt(avail) * (wtot - cumW) <= BigInt(budget - cumA) * w
      cumA += avail
      cumW += w
      (src, w, avail, sat)
    }
    val rstar = budget - flagged.iterator.filter(_._4).map(_._3).sum
    val wstar = flagged.iterator.filterNot(_._4).map(_._2).sum
    flagged.toSeq.map { case (src, w, avail, sat) =>
      (src, w, avail, if (sat) avail else rstar * w / wstar)
    }.toDF("source", "w", "avail", "alloc")
  }

  /** Misra-Gries frequent-items sketch over a token stream — the
    * approximate heavy-hitters dual of t03's exact frequency table, the
    * third sketch in the family (HLL distinct = e07, KLL percentiles =
    * e10). At 100 TB the exact table shuffles the FULL vocabulary
    * (token, count) — fine, but vocabulary-sized; this path keeps a
    * fixed `counters`-entry map per partition (bounded memory however
    * large the stream) and shuffles ≤ counters×partitions summary rows.
    *
    * Guarantee (Misra-Gries 1982; merge bound Agarwal et al. 2012,
    * "Mergeable Summaries"): per partition the undercount of any token
    * is ≤ n_p/(counters+1); summing summaries adds the bounds, so
    * globally exact_count − est_count ≤ n_total/(counters+1), est never
    * overcounts, and every token with exact_count > n_total/(counters+1)
    * survives. DocumentsSpec asserts exactly this against t03.
    */
  /** The per-stream MG fold — ONE definition shared by the batch
    * operator below and the streaming summaries
    * ([[graft.streaming.SketchStreams]]), so the two paths cannot drift
    * on the sketch arithmetic. */
  private[graft] def mgSummarize(it: Iterator[String], counters: Int)
      : Iterator[(String, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      m.get(t) match {
        case Some(c) => m.update(t, c + 1L)
        case None =>
          if (m.size < counters) m.update(t, 1L)
          else {
            // classic MG step: decrement every counter, evict zeros —
            // amortized O(1) per token (each decrement pays for one
            // prior increment)
            m.mapValuesInPlace((_, v) => v - 1L)
            m.filterInPlace((_, v) => v > 0L)
          }
      }
    }
    m.iterator
  }

  /** (doc_id, score): t02's quality heuristic — the survivor-selection
    * criterion shared by d09 (text clusters) and m06 (media clusters).
    * The score doubles are bit-identical across engines (integer counts,
    * single IEEE ops in fixed order), so window picks on them are
    * engine-independent. */
  private[operators] def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    toked(s, dir)
      .withColumn("n_toks", size($"toks").cast("long"))
      .withColumn("n_uniq", size(array_distinct($"toks")).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(toks, x -> x IN ('the', 'a')))").cast("long"))
      .select($"doc_id",
        (($"n_uniq" / $"n_toks") * 0.6 +
          (lit(1.0) - $"n_stop" / $"n_toks") * 0.4).as("score"))
  }

  /** Best-quality survivor per cluster: one window over cluster_id picks
    * argmax(score) with doc_id tie-break, plus the member count — shared
    * by d09 and m06 so the pick semantics cannot drift between text and
    * media dedup. Scale shape: clusters ⋈ scores then ONE cluster_id
    * exchange feeding both window functions; cluster count << corpus and
    * no per-cluster data beyond its members ever co-locates. */
  private[operators] def canonicalPick(clusters: DataFrame, scores: DataFrame): DataFrame = {
    val s = clusters.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"cluster_id").orderBy($"score".desc, $"doc_id")
    clusters.join(scores, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .filter($"rn" === 1)
      .select($"cluster_id", $"doc_id".as("kept_doc"),
        $"score".as("kept_score"), $"n_members")
  }

  /** PII patterns in the Java∩RE2 common regex core (char classes,
    * bounded repeats — no lookaround/backrefs), so Spark and DuckDB
    * match identically; kept public so pipelines can extend/report on
    * them. Phone is intentionally shape-based: inside a longer digit
    * run (`1234-567-8901`) it matches the leftmost conforming substring
    * in BOTH engines — consistent, spec-pinned behavior. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub — the text-cleaning stage public corpus pipelines run
    * before training: emails, IPv4s and phone-shaped numbers replaced
    * by typed placeholders, with per-row match counts kept for the
    * removal report. Redaction chains email → IP → phone (counts are
    * taken on the ORIGINAL text per type). Pure map-side string work
    * riding the scan — no shuffle, no UDF, codegen end to end; at
    * 100 TB this is a free passenger on whatever pass reads the text.
    * Adds `n_emails`, `n_ipv4`, `n_phones`, `redacted` to `df`. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    // reject, don't silently clobber (the Jsonl/ZOrder reserved-column
    // discipline): a frame already carrying a removal report — e.g. a
    // double-applied scrub stage — would otherwise have its real counts
    // overwritten with zeros and its `redacted` column destroyed
    val reserved = Seq("n_emails", "n_ipv4", "n_phones", "redacted")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"redactPii output columns already present in input: ${clash.mkString(", ")}")
    val t = col(textCol)
    df
      .withColumn("n_emails", regexp_count(t, lit(EmailPat)).cast("long"))
      .withColumn("n_ipv4", regexp_count(t, lit(Ipv4Pat)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(PhonePat)).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(t,
          EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>"))
  }

  /** Markup strip — the boilerplate-removal stage beside [[redactPii]]
    * in the cleaning family: drops `<script …>…</script>` blocks with
    * their CONTENT (case-insensitive, attributes allowed on the
    * opener), strips remaining tags to spaces, collapses runs of
    * spaces and trims; keeps a per-row tag/script count for the
    * removal report. Patterns live in the Java∩RE2 common core
    * ((?i) inline flag, char classes — no lookaround/backrefs).
    * KNOWN LIMIT, stated rather than hidden: script CONTENT containing
    * a literal `<` or a newline does not match `[^<]*`, so only its
    * tags are stripped and the content remains (the tag-level strip is
    * still applied) — a corpus of real web pages wants an HTML parser
    * stage; this operator is the regex-exact, hash-gateable core. Pure
    * map-side string work riding the scan, like redactPii. Adds
    * `n_tags`, `n_scripts`, `stripped` to `df`. */
  def stripMarkup(df: DataFrame, textCol: String): DataFrame = {
    val reserved = Seq("n_tags", "n_scripts", "stripped")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"stripMarkup output columns already present in input: ${clash.mkString(", ")}")
    val script = "(?i)<script[^>]*>[^<]*</script>"
    val t = col(textCol)
    df
      .withColumn("n_tags", regexp_count(t, lit("<[^>]*>")).cast("long"))
      .withColumn("n_scripts", regexp_count(t, lit(script)).cast("long"))
      .withColumn("stripped",
        trim(regexp_replace(regexp_replace(regexp_replace(t,
          script, " "), "<[^>]*>", " "), " +", " ")))
  }

  def heavyHitters(toks: org.apache.spark.sql.Dataset[String], counters: Int): DataFrame = {
    require(counters >= 1, s"counters must be >= 1, got $counters")
    val session = toks.sparkSession
    import session.implicits._
    toks.mapPartitions(mgSummarize(_, counters)).toDF("tok", "est")
      .groupBy(col("tok")).agg(sum(col("est")).as("est_count"))
  }

  /** Duplicate-SPAN removal — the cut step of the exact-substring dedup
    * recipe (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": remove all but one occurrence of any duplicated
    * substring). d08 DETECTS cross-document duplicated k-token spans;
    * this operator CUTS them: for every span (exact k-token sequence)
    * present in ≥2 distinct documents, the minimum-doc_id document keeps
    * its occurrence(s) and every other document has the span's token
    * positions spliced out. Overlapping duplicated spans in one document
    * merge naturally — removal marks token POSITIONS, not span slices,
    * so a duplicated paragraph (a run of overlapping duplicated k-grams)
    * is excised as one maximal range, which is exactly the suffix-array
    * recipe's maximal-match semantics re-expressed distributively.
    * Within-document repetition alone (a span occurring twice in ONE doc
    * and nowhere else) is t08's concern, not duplication across the
    * corpus, and is left intact.
    *
    * Returns `docs` with every column preserved, `text` rewritten for
    * cut documents, plus `n_span_tokens_removed` (0 for untouched rows).
    *
    * Scale shape (100 TB): identical skeleton to d08 — per-token
    * charfold → rolling k-gram hash (a primitive flatMap kernel; the
    * interpreted nested-HOF form measured 13x slower on d08) → shuffle
    * keyed on (span_hash, span_text). The keeper table is SPAN-keyed
    * (one row per duplicated span: min doc + distinct-doc count), never
    * pair-keyed, so this is strictly cheaper than d08's pair join. The
    * position-mark → splice step is per-document sized. Zipfian hazard:
    * boilerplate spans go hot exactly like d02's shingles — the
    * production path applies NearDup.pairs' df-cap discipline to the
    * occurrence index before the join (a df-capped span is "too common
    * to attribute"; Lee et al. cap match length for the same reason).
    * The splice HOF runs ONLY on documents that actually lost tokens.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    val s = docs.sparkSession
    import s.implicits._
    // all span occurrences WITH positions (d08 dedups per doc; the cut
    // needs every occurrence: a non-keeper doc containing the span twice
    // loses both)
    val occ = docs
      .select(col("doc_id").cast("long").as("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size($"toks") >= k)
      .as[(Long, Seq[String])]
      .flatMap { case (id, toksSeq) =>
        val toks = toksSeq.toArray
        val th = new Array[Long](toks.length)
        var ti = 0
        while (ti < toks.length) {
          var acc = 0L
          val w = toks(ti)
          var ci = 0
          while (ci < w.length) { acc = (acc * 31 + w.charAt(ci).toInt) % 1000000007L; ci += 1 }
          th(ti) = acc
          ti += 1
        }
        val out = Seq.newBuilder[(Long, Int, Long, String)]
        var i = 0
        while (i + k <= toks.length) {
          var acc = 0L
          var j = i
          while (j < i + k) { acc = (acc * 131 + th(j)) % 998244353L; j += 1 }
          out += ((id, i, acc, toks.slice(i, i + k).mkString(" ")))
          i += 1
        }
        out.result()
      }
      .toDF("doc_id", "pos", "sh", "sp")
    // token positions to drop: per (sh, sp) bucket — grouping on the
    // span TEXT alongside the hash is the exact-verify step (hash
    // collisions cannot cut an innocent span) — the keeper is the min
    // doc_id and every occurrence in another doc loses positions
    // pos..pos+k-1. GROUP-EMITTED in one pass (r19): the declarative
    // form computed the occurrence kernel THREE times (the dup
    // aggregate, the occ side of the join, and dup's subtree inside it
    // — self-join subtrees never stage-reuse, the d03 finding) and paid
    // join + distinct exchanges; one groupByKey emits the identical
    // (doc_id, j) set directly.
    val kk = k
    val drops = occ.select($"sh", $"sp", $"doc_id", $"pos")
      .as[(Long, String, Long, Int)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_, iter) =>
        val items = iter.toArray
        var keeper = Long.MaxValue
        var i = 0
        while (i < items.length) {
          if (items(i)._3 < keeper) keeper = items(i)._3
          i += 1
        }
        // >= 2 DISTINCT docs share the span (d08's dup rule — a span
        // repeated only within one doc cuts nothing)
        val hasOther = items.exists(_._3 != keeper)
        if (!hasOther) Iterator.empty
        else items.iterator.filter(_._3 != keeper).flatMap { t =>
          (t._4 until t._4 + kk).iterator.map(j => (t._3, j))
        }
      }
      .toDF("doc_id", "j")
      .groupBy($"doc_id").agg(collect_set($"j").as("_js"))
    docs.join(drops.withColumnRenamed("doc_id", "_cut_id"),
        col("doc_id").cast("long") === col("_cut_id"), "left")
      .withColumn("n_span_tokens_removed",
        coalesce(size(col("_js")), lit(0)).cast("long"))
      .withColumn("text",
        when(col("_js").isNull, col("text"))
          .otherwise(array_join(
            expr("filter(split(text, ' '), (x, i) -> NOT array_contains(_js, i))"), " ")))
      .drop("_cut_id", "_js")
  }

  /** Shared near-dup pair CTE chain (no leading WITH) ending in a
    * `pairs(doc_a, doc_b, jaccard)` CTE — the DuckDB replay of
    * [[graft.pipeline.NearDup.pairs]]'s INVERTED-INDEX shape, used by
    * every oracle that consumes the near-dup pair set (d02/d03/d05/d09/
    * p06/m08). Candidates come from the shingle posting-list self-join
    * (Jaccard ≥ 0.5 > 0 requires a shared shingle, so the candidate set
    * provably contains every output pair) and the intersection size is
    * the per-pair match COUNT — shingle lists are list_distinct, so one
    * shared shingle is exactly one joined row. This replaced an
    * `sh a, sh b` all-pairs cross with per-pair list_intersect: the n²
    * form exceeded 30 min at 5 000 docs (the reason the sf1 oracle
    * sweep excluded the whole pair family); this form replays 50 000
    * docs in ~8 s. The jaccard double is the SAME BIGINT/BIGINT IEEE
    * division over the same operands, so results are bit-identical.
    * Shingling is index-aligned with the Spark side: DuckDB lists are
    * 1-based with range(1, n-1) = 1..n-2; Spark arrays are 0-based with
    * sequence(1, n-2) and toks[i-1..i+1].
    */
  private[operators] val ShinglePairsCtes =
    """sh AS MATERIALIZED (
         SELECT doc_id,
                list_distinct(list_transform(range(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
         FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         WHERE len(toks) >= 3),
       inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s FROM sh),
       inter AS MATERIALIZED (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_int
         FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       ln AS MATERIALIZED (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       pairs AS MATERIALIZED (
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b, n_int / (la.n + lb.n - n_int) AS jaccard
           FROM inter JOIN ln la ON doc_a = la.doc_id JOIN ln lb ON doc_b = lb.doc_id)
         WHERE jaccard >= 0.5)"""

  /** Shared DuckDB oracle for d02/d03: the inverted-index pair replay
    * above, listed. */
  private val NeardupOracle =
    s"""WITH $ShinglePairsCtes
       SELECT doc_a, doc_b, jaccard FROM pairs
       ORDER BY doc_a, doc_b"""

  /** Inlined modular power table for d04's oracle: 256 rows of
    * (i, 31^i mod 1e9+7, 131^i mod 998244353), generated from the same
    * constants the kernel folds with — one source for both engines' bases
    * and moduli, so they cannot drift. 256 covers any shingle the 3-word
    * construction can produce by a wide margin (lookup-miss would
    * silently drop characters, hence the margin). */
  private val SimhashPowers: String = {
    val sb = new StringBuilder
    var p31 = 1L
    var p131 = 1L
    for (i <- 0 until 256) {
      if (i > 0) sb.append(',')
      sb.append('(').append(i).append(',').append(p31).append(',').append(p131).append(')')
      p31 = p31 * 31 % 1000000007L
      p131 = p131 * 131 % 998244353L
    }
    sb.toString
  }

  /** d04's oracle prolog — polynomial-hash simhash replay (inlined
    * power table, Knuth mix, per-bit sign counts, two 32-bit halves)
    * plus the banded-candidate hamming filter, ending in `ham(doc_a,
    * doc_b, hamming)`. Single-sourced for d04 (pair listing) and d00
    * (builder summary) so the two oracles cannot drift on the fold. */
  private lazy val SimhashOracleCtes =
    s"""pw(i, p31, p131) AS (VALUES $SimhashPowers),
          sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(toks)-1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            WHERE len(toks) >= 3),
          ch AS (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i FROM sh),
          hs AS (
            SELECT doc_id, s,
                   CAST(SUM(ascii(substr(ch.s, ch.i, 1)) * CAST(pw.p31 AS BIGINT)) % 1000000007 AS BIGINT) AS h1,
                   CAST(SUM(ascii(substr(ch.s, ch.i, 1)) * CAST(pw.p131 AS BIGINT)) % 998244353 AS BIGINT) AS h2
            FROM ch JOIN pw ON pw.i = length(ch.s) - ch.i
            GROUP BY doc_id, s),
          mx AS (SELECT doc_id, (h1 * 2654435761) % 4294967296 AS m1,
                                (h2 * 2654435761) % 4294967296 AS m2 FROM hs),
          bits AS (SELECT doc_id, unnest(generate_series(0, 63)) AS bp, m1, m2 FROM mx),
          sgn AS (
            SELECT doc_id, bp,
                   SUM(CASE WHEN (CASE WHEN bp < 32
                                       THEN (m1 // (CAST(1 AS BIGINT) << bp)) % 2
                                       ELSE (m2 // (CAST(1 AS BIGINT) << (bp - 32))) % 2 END) = 1
                            THEN 1 ELSE -1 END) AS cnt
            FROM bits GROUP BY doc_id, bp),
          shh AS MATERIALIZED (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN cnt > 0 AND bp < 32
                            THEN (CAST(1 AS BIGINT) << bp) ELSE 0 END) AS BIGINT) AS s0,
                   CAST(SUM(CASE WHEN cnt > 0 AND bp >= 32
                            THEN (CAST(1 AS BIGINT) << (bp - 32)) ELSE 0 END) AS BIGINT) AS s1
            FROM sgn GROUP BY doc_id),
          bnd AS MATERIALIZED (
            SELECT doc_id, s0, s1, b,
                   ((CASE WHEN b < 4 THEN s0 >> (b * 8)
                          ELSE s1 >> ((b - 4) * 8) END) & 255) AS k
            FROM shh, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b)),
          ham AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) AS BIGINT) AS hamming
            FROM bnd a JOIN bnd b ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) <= 6)"""

  /** The signature half of the d04 family build: 64-bit SimHash per doc
    * over distinct 3-word shingles (primitive groupByKey fold — see the
    * d04 QueryDef scaladoc for why not 64 unrolled aggregate columns).
    * Factored out of the pair kernel so the incremental append
    * ([[appendToSimhashIndex]]) hashes NEW docs with the identical
    * arithmetic. */
  private[graft] def simhashSigsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Fold the per-doc majority counts DIRECTLY over the shingle array:
    // the rows of [[graft.pipeline.NearDup.shingled]] are already
    // doc-grouped, so the former explode → groupByKey form shuffled the
    // whole shingle stream (7.8M strings at sf3) only to re-group what
    // one map pass reads in place. The explode was also a plan hazard:
    // InferFiltersFromGenerate copies the generator's input — here the
    // full interpreted shingle HOF — into a pre-Exchange Filter as
    // size(...) > 0 AND isnotnull(...), re-evaluating the most expensive
    // expression in the build 2× more per row (measured 23.7 s vs 2.9 s
    // with the rule excluded on a 150-doc delta append at sf3;
    // PROBES_r18). The fold is ±1 per shingle — commutative — so array
    // order vs shuffle order cannot change the signature, and shingled()
    // guarantees ≥1 shingle per surviving row, so the emitted doc set is
    // identical to the exploded form's.
    graft.pipeline.NearDup.shingled(docs)
      .as[(Long, Seq[String])]
      .map { case (id, shingles) =>
        val counts = new Array[Int](64)
        shingles.foreach { str =>
          var h1 = 0L
          var h2 = 0L
          var i = 0
          while (i < str.length) {
            val c = str.charAt(i).toLong
            h1 = (h1 * 31 + c) % 1000000007L
            h2 = (h2 * 131 + c) % 998244353L
            i += 1
          }
          val m1 = (h1 * 2654435761L) % 4294967296L
          val m2 = (h2 * 2654435761L) % 4294967296L
          var b = 0
          while (b < 32) {
            if (((m1 >>> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
            if (((m2 >>> b) & 1L) != 0L) counts(b + 32) += 1 else counts(b + 32) -= 1
            b += 1
          }
        }
        var sh = 0L
        var b = 0
        while (b < 64) { if (counts(b) > 0) sh |= 1L << b; b += 1 }
        (id, sh)
      }.toDF("doc_id", "simhash")
  }

  /** [[HammingBands.bandRows]] plus the band-bucket cluster key of the
    * persisted `_sigs` layout: `kb = i·8 + (k >> 5)` ∈ [0, 64) — 32
    * contiguous k-values per bucket per band. The stored signature
    * history is written kb-range-partitioned and kb-sorted (r20; flat
    * directory), so an append's resident probes prune to ONLY the
    * row groups whose kb stats intersect the buckets the delta's band
    * values touch (`≤ 8·|delta|` of 64 — none for an empty delta)
    * instead of scanning the whole history per append; at the 100 TB
    * posture with daily ingest this is what keeps append bookkeeping
    * delta-proportional rather than corpus-proportional (r18 verdict
    * #6). The r19 form realized the same pruning as 64 hive
    * directories, whose per-directory commit constant (~1.3 s per
    * build/append at EVERY SF) dominated d11; row-group stats give the
    * skip without the directories (r19 verdict #2). */
  private def sigBandRows(sim: DataFrame): DataFrame =
    HammingBands.bandRows(sim, "simhash").withColumn("kb",
      (col("i") * 8 + shiftrightunsigned(col("k"), 5)).cast("int"))

  /** The pair half of the d04 family build: the verified pair set of a
    * signature frame ([[HammingBands.pairs]] — hamming ≤ 6, exhaustive
    * by pigeonhole, each pair once), the build PRODUCT the persisted
    * index stores. */
  private[graft] def simhashPairsFrom(sim: DataFrame): DataFrame =
    HammingBands.pairs(sim, "simhash")

  /** Shared build body for the dir-keyed and frame-keyed ensures. */
  private def simhashBuild(s: SparkSession, docs: DataFrame, table: String,
      meta: Seq[(String, Long)], force: Boolean): String = {
    // Evaluated only when the ensure decides to BUILD (ensureWith's
    // compute is by-name and the aux thunk fires after it):
    lazy val sim = {
      // The build input is a pure-Catalyst plan over the documents
      // parquet — exactly the plan d02/d03/d05/Curation retain as
      // "neardup.shingles", so Spark's CacheManager would substitute a
      // warm session cache for it. After an EXTERNAL in-place corpus
      // rewrite that cache holds PRE-rewrite rows while the fingerprint
      // (computed from the files) correctly reports "stale → rebuild":
      // without this release the rebuild would read the stale shingles
      // and then stamp the NEW fingerprint into _meta, durably
      // persisting wrong pairs that every later JVM serves as fresh.
      // Same staleness class — and same unconditional-release cure — as
      // the media serve path ([[graft.operators.Multimodal.phashPairs]]);
      // the other retained neardup frames ("hotshingles"/"pairs"/
      // "simhash") are rooted on the cached handle or kernel closures
      // and can never plan-match a fresh build, so the shingle entry is
      // the only substitutable input. Cost: one shingle re-derivation
      // for later plan-matched callers, paid only on builds.
      graft.CacheRegistry.release("neardup.shingles")
      // retained: the pair kernel and the _sigs aux write both read this
      // one-row-per-doc frame — without the cache each consumer
      // recomputes the whole shingle→fold upstream (78.5 s isolated at
      // sf0.1 in the pre-kernel form)
      graft.CacheRegistry.retain("neardup.simhash", simhashSigsOf(docs))
    }
    PersistedIndex.ensureWith(s, table, meta, force,
      // _sigs persists the BANDED rows kb-CLUSTERED (range-partitioned
      // and sorted on kb, see [[sigBandRows]]) in a flat path-addressed
      // directory: append-time resident probes prune on parquet
      // row-group kb stats exactly as the r19 hive layout pruned on
      // directories, but the write commits ONE directory of a few files
      // instead of 64 directories — the per-directory commit constant
      // was d11's single largest cost (r19 verdict #2). No explicit
      // file count: AQE coalesces the range exchange from the input
      // size (scale-adaptive, not a local[32] constant).
      aux = Seq("_sigs" -> (() =>
        sigBandRows(sim).repartitionByRange(col("kb")).sortWithinPartitions("kb"))),
      auxPath = Set("_sigs"))(simhashPairsFrom(sim))
  }

  /** The simhash index's freshness tuple: the corpus fingerprint's
    * (n, fp) — the pair family carries no order contract, so no maxid. */
  private def simhashMeta(f: PersistedIndex.Fingerprint): Seq[(String, Long)] =
    Seq("n" -> f._1, "fp" -> f._2)

  /** Build-once persisted simhash near-dup index for the d04 family:
    * verified pairs in `graft_index.simhash_<dir>_pairs`, the per-doc
    * signature history in `_sigs` (what [[appendToSimhashIndex]]
    * probes), a corpus fingerprint in `_meta` — the shared
    * [[graft.plans.PersistedIndex]] protocol (meta invalidated first,
    * rewritten last, freshness decided from the warehouse LOCATION so
    * the skip works across JVMs), including its single-writer contract.
    * `force` is the d00 named-builder path. */
  def ensureSimhashIndex(s: SparkSession, dir: String, force: Boolean = false): String =
    simhashBuild(s, tbl(s, dir, "documents"),
      "simhash_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_"),
      simhashMeta(PersistedIndex.fingerprint(tbl(s, dir, "documents"), "doc_id", "text")),
      force)

  /** [[ensureSimhashIndex]] over an explicit docs frame and table name —
    * the build half of the d11 incremental-maintenance pair. */
  def ensureSimhashIndexFor(s: SparkSession, docs: DataFrame, table: String,
      meta: Seq[(String, Long)], force: Boolean = false): String =
    simhashBuild(s, docs, table, meta, force)

  /** Incremental append for the persisted simhash index — the verified
    * [[graft.plans.PersistedIndex.append]] applied to the pair family
    * (`_meta` poisoned FIRST, grown fingerprint stamped LAST, a retried
    * append after a crash refused): NEW docs are hashed with the build's
    * exact fold and probed against the RESIDENT `_sigs` history (the
    * [[graft.pipeline.StreamingSemanticDedup]] resident-history pattern
    * — the new side is the small delta and broadcasts; the resident
    * side is scanned once, never shuffled), verified cross pairs plus
    * the within-delta banded pairs are APPENDED (resident pair files
    * are untouched — pinned byte-for-byte in PersistedIndexSpec).
    * Correctness contract: `newDocs` doc_ids are disjoint from the
    * indexed corpus (checked) — under that, appended
    * pairs ∪ resident pairs EQUALS a full rebuild on the grown corpus
    * (each pair stratum — old×old, old×new, new×new — keeps the
    * pigeonhole completeness argument independently). `base` is the
    * [[graft.plans.PersistedIndex.fingerprint]] the caller BUILT the
    * resident index under and `grown` the grown corpus's; their (n, fp)
    * are the verified and the stamped `_meta`. At 100 TB with
    * daily ingest this turns the dominant recurring cost (a full d00
    * rebuild per batch) into work proportional to the delta. */
  def appendToSimhashIndex(s: SparkSession, newDocs: DataFrame, table: String,
      base: PersistedIndex.Fingerprint, grown: PersistedIndex.Fingerprint): String = {
    import s.implicits._
    // Same staleness class as simhashBuild: newDocs' shingled subtree is
    // a pure-Catalyst plan that can plan-match a warm "neardup.shingles"
    // cache entry whose backing parquet was rewritten in place — the
    // append would then hash PRE-rewrite rows and stamp the grown
    // fingerprint, durably persisting wrong pairs. Release before
    // hashing, unconditionally (cost: one shingle re-derivation for
    // later plan-matched callers, paid only on appends).
    graft.CacheRegistry.release("neardup.shingles")
    PersistedIndex.append(s, table, "ensureSimhashIndex",
        simhashMeta(base), simhashMeta(grown)) { commit =>
      // refuse the r19 hive-partitioned _sigs loudly BEFORE reading it:
      // the read itself would succeed (kb surfaces as a partition column),
      // but this append writes flat kb-clustered files, and mixing those
      // into a kb=NN directory tree leaves the artifact unreadable —
      // appenders refuse old layouts, they never half-migrate them
      val sigsPath = new org.apache.hadoop.fs.Path(PersistedIndex.location(s, table, "_sigs"))
      val sigsFs = sigsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (sigsFs.exists(sigsPath) &&
          sigsFs.listStatus(sigsPath).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("kb=")))
        throw new IllegalStateException(
          s"graft_index.$table persists _sigs in the r19 hive-partitioned " +
            "layout; this appender writes the kb-clustered flat layout. Run " +
            "ensureSimhashIndex once to rebuild (migrate) before appending.")
      // a pre-r19 _sigs lacks the banded i/k/kb columns and refuses the
      // same way a missing one does
      val resident = PersistedIndex.readArtifact(s, table, "_sigs",
        Seq("doc_id", "simhash", "i", "k", "kb"), "ensureSimhashIndex")
      val newSigs = simhashSigsOf(newDocs).localCheckpoint()
      try {
        val newBand = sigBandRows(newSigs)
        // the delta's touched band buckets (≤ 128 values, driver-sized):
        // every resident probe below carries a kb predicate that parquet
        // row-group stats prune against (the history is kb-clustered), so
        // an empty delta reads ZERO resident row groups and a small one
        // reads ≤ 8·|delta| of 64 buckets' worth — the r18
        // corpus-proportional bookkeeping floor made delta-proportional
        // (r18 verdict #6)
        val kbs = newBand.select($"kb").distinct().as[Int].collect().toSeq
        // an EMPTY delta never commits: nothing to hash, pair or stamp
        // (measured 1.09 s of pure meta+commit work at sf0.1 before the
        // empty-delta rule)
        if (kbs.nonEmpty) {
          // the kb < 8 slice is exactly the i = 0 band rows — one row per
          // resident doc, pruned to 8 of 64 kb buckets (the one resident
          // probe that stays corpus-proportional: doc_id equality has no
          // band relationship to prune on)
          require(resident.filter($"kb" < 8).select($"doc_id")
              .join(broadcast(newSigs), Seq("doc_id")).limit(1).count() == 0L,
            s"appendToSimhashIndex($table): newDocs doc_ids overlap the indexed corpus " +
              "— an append cannot re-pair resident docs; rebuild instead")
          commit {
            val cross = HammingBands.crossPairs(
              resident.filter($"kb".isin(kbs: _*)), newBand, "simhash")
            PersistedIndex.appendArtifact(cross.unionByName(simhashPairsFrom(newSigs))
              .select(col("doc_a"), col("doc_b"), col("hamming")), table, "_pairs")
            // kb-range-cluster the delta so its new files carry tight kb
            // row-group stats (the pruning the r19 hive directories gave) —
            // the append commits a few flat files instead of ≤64 directory
            // entries (the commit constant that dominated d11)
            PersistedIndex.appendArtifact(
              newBand.repartitionByRange(col("kb")).sortWithinPartitions("kb"),
              table, "_sigs")
          }
        }
      } finally newSigs.unpersist(false)
    }
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("d00_build_simhash_index",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the NAMED BUILDER row for the simhash family: force a full
        // shingle→fold→banded-verify rebuild of the persisted pair index
        // (ensureSimhashIndex force=true) and return the index summary.
        // d04 SERVES from the artifact this publishes (fingerprint-skip,
        // any JVM), so the bench attributes the family's build cost here
        // — d00 sorts before every serve — instead of inside d04's
        // isolated rep (19.9 s at 30× in r11). The summary aggregates
        // the persisted pairs (count + hamming mass), so the oracle
        // gates the BUILD OUTPUT, not just its row count.
        val path = ensureSimhashIndex(s, dir, force = true)
        ParquetTables.read(s, path)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum($"hamming"), lit(0L)).cast("long").as("sum_hamming"))
      },
      Some(s"""WITH $SimhashOracleCtes
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(hamming), 0) AS BIGINT) AS sum_hamming
        FROM ham""")),


    QueryDef("d01_exact_dedup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        tbl(s, dir, "documents")
          .groupBy(md5($"text").as("fingerprint"))
          .agg(min($"doc_id").as("canonical_doc"), count(lit(1)).as("n_copies"))
          .orderBy($"fingerprint")
      },
      Some("""SELECT md5(text) AS fingerprint, MIN(doc_id) AS canonical_doc,
        COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY fingerprint""")),

    QueryDef("d02_neardup_jaccard",
      (s: SparkSession, dir: String) =>
        neardupPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
      Some(NeardupOracle)),

    QueryDef("d05_neardup_clusters",
      (s: SparkSession, dir: String) => {
        // connected components of the near-dup graph → one cluster_id
        // (the component's min doc_id) per involved doc: the "keep one
        // per duplicate group" step of a dedup pipeline. Pregel-style
        // min-label propagation in [[graft.pipeline.NearDup.clusters]].
        graft.pipeline.NearDup.clusters(tbl(s, dir, "documents"))
          .orderBy(col("doc_id"))
      },
      // oracle: inverted-index pair replay (ShinglePairsCtes), then
      // recursive CTE reachability, min reachable id per vertex
      Some(s"""WITH RECURSIVE $ShinglePairsCtes,
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id)
         SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
         FROM walk GROUP BY id ORDER BY doc_id""")),

    QueryDef("d09_canonical_pick",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // survivor SELECTION for near-dup clusters: real LLM pipelines
        // keep the BEST-QUALITY member of each duplicate group, not the
        // min-id one (the dup of a clean page is often boilerplate-padded
        // or truncated). Composes d05's components with t02's quality
        // score: one window over cluster_id picks argmax(score), doc_id
        // tie-break. Comparisons are on the bit-identical score doubles
        // both engines compute (t02 hash-matches), so the pick is
        // engine-independent. Scale shape: clusters() is the bounded CC
        // loop, the join + window shuffle on cluster_id — cluster count
        // << corpus size, and no per-cluster data beyond its members
        // ever co-locates.
        val docs = tbl(s, dir, "documents")
        val cl = graft.pipeline.NearDup.clusters(docs)
        canonicalPick(cl, qualityScore(s, dir)).orderBy($"cluster_id")
      },
      // oracle: the inverted-index pair replay + d05's reachability CTE
      // for the clusters, t02's score expression for quality, same
      // window pick
      Some(s"""WITH RECURSIVE $ShinglePairsCtes,
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         clusters AS MATERIALIZED (
           SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
           FROM walk GROUP BY id),
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

    QueryDef("d03_neardup_minhash",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val H = 64          // minhash functions
        val bands = 32      // 32 bands x 2 rows
        // the shingle cache is plan-matched and therefore SHARED with
        // d02/d05 in the same session — retained via the CacheRegistry
        // (one compact 5k-row array table; Engine.close / unpersistAll
        // releases it)
        val sh = graft.CacheRegistry.retain("neardup.shingles", shingled(s, dir))
        sh.count()
        // two-level hashing: hash the variable-length shingle ONCE, then
        // derive the 64 minhash functions by hashing the fixed-width base
        // (re-hashing the string 64× was the dominant cost; wrapping
        // linear combos would trip ANSI overflow checks)
        val ex = sh.select($"doc_id", explode($"shingles").as("shingle"))
          .select($"doc_id", xxhash64($"shingle").as("h0"))
        val sigCols = (0 until H).map(h => min(xxhash64($"h0", lit(h))).as(s"mh$h"))
        val sig = ex.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
        // band keys: hash of each band's rows; docs sharing any band key
        // become candidate pairs. Candidates are GROUP-EMITTED (collect
        // the bucket's doc_ids, emit ordered pairs in place) rather than
        // self-joined: the self-join form recomputed the ENTIRE 64-min
        // signature pipeline for each join side — AQE never
        // stage-reused the two identical aggregation subtrees (executed
        // plan probed r19: two HashAggregate(min×64) stages, zero
        // ReusedQueryStage) — and paid a SortMergeJoin (2 sorts + 2
        // exchanges) for the pair emission on top. One signature pass +
        // one (band, key) exchange produce the IDENTICAL candidate set:
        // a bucket of ids yields exactly its ordered pairs, same as the
        // equi-self-join's doc_id< condition. Per-bucket state is the
        // near-dup cluster sharing the band key (the set whose pairs
        // the join emitted quadratically anyway); d03 warm median
        // 1.77 -> 1.37 s at sf0.1 (the remaining cost is the shared
        // shingle explode + signature aggregation itself).
        val bandStructs = (0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("key")))
        val bk = sig.select($"doc_id", explode(array(bandStructs: _*)).as("bk"))
          .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
        val cand = bk.groupBy($"band", $"key")
          .agg(sort_array(collect_list($"doc_id")).as("ids"))
          .filter(size($"ids") >= 2)
          .select(explode(expr(
            "flatten(transform(ids, (a, i) -> " +
              "transform(slice(ids, i + 2, size(ids) - i - 1), " +
              "b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
          .select($"p.doc_a", $"p.doc_b")
          .distinct()
        // verification pass: exact Jaccard on candidates only → precision 1
        cand
          .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sha")), "doc_a")
          .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("shb")), "doc_b")
          .withColumn("jaccard", jaccard($"sha", $"shb"))
          .filter($"jaccard" >= 0.5)
          .select($"doc_a", $"doc_b", $"jaccard")
          .orderBy($"doc_a", $"doc_b")
      },
      // candidate recall at the data's sim levels (≥0.9) is 1 − 1e-23, so
      // the verified output equals the exact d02 result and shares its
      // oracle (checked empirically at sf0.01 via tools/check_oracle.py).
      Some(NeardupOracle)),

    QueryDef("d04_simhash_neardup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // 64-bit SimHash over distinct 3-word shingles (unigrams are
        // useless on a tiny vocabulary — every doc holds most tokens):
        // bit b is the sign of Σ ±1 over shingle hashes. The build —
        // primitive groupByKey fold (the proven v02 pattern; 64 unrolled
        // sum(when(bitwiseAND…)) columns land in the documented
        // codegen-method-limit pitfall and measured 78.5 s isolated at
        // sf0.1) plus the exhaustive 8×8-bit banded kernel
        // (pigeonhole covers hamming ≤ 7, so the ≤ 6 threshold EQUALS
        // an n² scan without the n² cost) — lives in
        // [[simhashSigsOf]]/[[HammingBands.pairs]]; this serve reads the PERSISTED pair
        // index [[ensureSimhashIndex]] maintains (fingerprint-skip,
        // d00's named-builder row carries the build cost) and builds it
        // in-query only when the corpus changed.
        //
        // The shingle hash is CROSS-ENGINE: two independent polynomial
        // folds (base 31 mod 1e9+7 — t06's fingerprint — and base 131
        // mod 998244353), each Knuth-mixed to 32 bits; bits 0..31 come
        // from the first word, 32..63 from the second. Pure integer
        // arithmetic a SQL engine can replay, unlike xxhash64 (which
        // kept d04 on a rows-only check through r4) — the DuckDB oracle
        // replays the fold with an inlined power table and checks the
        // banded hamming filter. Text is ASCII word-soup, so charAt ==
        // ascii() codepoints.
        ParquetTables.read(s, ensureSimhashIndex(s, dir))
          .select($"doc_a", $"doc_b", $"hamming")
          .orderBy($"doc_a", $"doc_b")
      },
      // The oracle replays the polynomial-hash simhash fold (inlined
      // power table, same Knuth mix, sign counts per bit) and applies a
      // brute-force n² hamming ≤ 6 filter — which the banded join equals
      // EXHAUSTIVELY (any pair with hamming ≤ 7 shares a clean band by
      // pigeonhole), so this is a true hash-match gate, not a sampled
      // one. Verified cell-for-cell against an independent Python
      // implementation of the kernel before adoption. The power table is
      // a GENERATED VALUES literal, not a recursive CTE: DuckDB 1.0
      // leaves a same-connection recursive CTE's buffers unreclaimed,
      // and the next heavy oracle (v09, alphabetically after d04) then
      // dies with a spurious out-of-memory — reproduced and pinned on
      // exactly this pair before switching forms.
      Some(s"""WITH $SimhashOracleCtes
        SELECT doc_a, doc_b, hamming FROM ham
        ORDER BY doc_a, doc_b""")),

    QueryDef("d11_simhash_index_append",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // incremental pair-index maintenance under the hash gate — the
        // v11 discipline applied to the d04 family (r12 verdict #2):
        // build the persisted simhash index on ~2/3 of the corpus
        // ([[ensureSimhashIndexFor]]), [[appendToSimhashIndex]] the
        // remaining third (new docs hash with the build's exact fold
        // and probe the RESIDENT _sigs history — the delta broadcasts,
        // the resident side is scanned once, and the resident pair
        // files are untouched, pinned byte-for-byte in
        // PersistedIndexSpec), then serve the d00 builder summary over
        // the combined pair table. The oracle is IDENTICAL to d00's
        // full-corpus reconstruction — append-then-serve must be
        // indistinguishable from a full rebuild. The % 3 split is
        // deterministic and leaves both sides non-empty at every SF
        // (id-interleaved on purpose: simhash pairs carry no
        // representative semantics, so the append contract is only
        // id-DISJOINTNESS, not monotonicity — the media append is the
        // one with the order contract). Not forced: rep 1 leaves _meta
        // at the GROWN fingerprint, so the base ensure is stale on
        // every rep and deterministically rebuilds — each rep pays
        // build + append, self-contained like d00.
        val docs = tbl(s, dir, "documents")
        val table = "simhashapp_" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        val base = docs.filter($"doc_id" % 3 =!= 0)
        val bm = PersistedIndex.fingerprint(base, "doc_id", "text")
        ensureSimhashIndexFor(s, base, table, simhashMeta(bm))
        val path = appendToSimhashIndex(s, docs.filter($"doc_id" % 3 === 0),
          table, bm, PersistedIndex.fingerprint(docs, "doc_id", "text"))
        ParquetTables.read(s, path)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum($"hamming"), lit(0L)).cast("long").as("sum_hamming"))
      },
      Some(s"""WITH $SimhashOracleCtes
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(hamming), 0) AS BIGINT) AS sum_hamming
        FROM ham""")),

    QueryDef("t01_text_stats",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        toked(s, dir)
          .withColumn("n_ws", size($"toks").cast("long"))
          .withColumn("n_bpe", size(regexp_extract_all($"text", lit("[a-z]{1,4}"), lit(0))).cast("long"))
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            sum($"n_ws").as("sum_ws_tokens"),
            sum($"n_bpe").as("sum_bpe_tokens"),
            (sum($"n_ws") / count(lit(1))).as("avg_ws_tokens"),
            countDistinct($"source").as("n_sources"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
        CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
        CAST(SUM(n_ws) AS BIGINT) / COUNT(*) AS avg_ws_tokens,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM (SELECT lang, source, n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
                CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe
              FROM documents)
        GROUP BY lang ORDER BY lang""")),

    QueryDef("t02_quality_score",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        toked(s, dir)
          .withColumn("n_toks", size($"toks").cast("long"))
          .withColumn("n_uniq", size(array_distinct($"toks")).cast("long"))
          .withColumn("n_stop",
            expr("size(filter(toks, x -> x IN ('the', 'a')))").cast("long"))
          .withColumn("uniq_ratio", $"n_uniq" / $"n_toks")
          .withColumn("stop_ratio", $"n_stop" / $"n_toks")
          .withColumn("score", ($"uniq_ratio" * 0.6) + ((lit(1.0) - $"stop_ratio") * 0.4))
          .select($"doc_id", $"n_toks", $"n_uniq", $"n_stop",
            $"uniq_ratio", $"stop_ratio", $"score")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, n_toks, n_uniq, n_stop,
        n_uniq / n_toks AS uniq_ratio,
        n_stop / n_toks AS stop_ratio,
        ((n_uniq / n_toks) * 0.6) + ((1.0 - (n_stop / n_toks)) * 0.4) AS score
        FROM (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_toks,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        ORDER BY doc_id""")),

    QueryDef("t03_token_frequency",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        toked(s, dir)
          .select($"doc_id", explode($"toks").as("tok"))
          .groupBy($"tok")
          .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
          .orderBy($"n".desc, $"tok")
      },
      Some("""SELECT tok, COUNT(*) AS n,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok ORDER BY n DESC, tok""")),

    // sketch ≠ exact by construction (Misra-Gries undercounts within the
    // documented bound), so the driver records a rows-only check like
    // e07/e10; DocumentsSpec gates the guarantee against t03's exact
    // counts every round.
    QueryDef("t11_heavy_hitters",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // MG estimates depend on partition layout AND on within-partition
        // arrival order (evictions fire once the counter map is full), and
        // toked's roundRobin follows SPARK_GRAFT_CPUS — so the rows-only
        // CORRECTNESS record would shift with core count (ADVICE r6).
        // Hash-repartitioning by token value pins the multiset per
        // partition (a pure function of the token, independent of
        // upstream split count), and sortWithinPartitions pins the order
        // (shuffle-read interleaving of map outputs is otherwise
        // nondeterministic): est_count becomes a pure function of the
        // data under any SPARK_GRAFT_CPUS. The sort is per-partition and
        // parallel — the determinism cost at scale is one local sort of
        // the exploded tokens. (Co-locating duplicates also makes the
        // per-partition sketch strictly more accurate; the Agarwal merge
        // bound in DocumentsSpec is layout-agnostic and still gates it.)
        val toks = toked(s, dir).select(explode($"toks").as("tok"))
          .repartition(32, $"tok").sortWithinPartitions($"tok").as[String]
        heavyHitters(toks, 64)
          .orderBy($"est_count".desc, $"tok")
          .limit(20)
      },
      None),

    QueryDef("t12_pii_redaction",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // see [[Documents.redactPii]] for the operator; the catalog
        // query feeds it deterministic PII-bearing text (below) so the
        // hash gate exercises the regexes non-vacuously.
        // PII scrub — the text-CLEANING stage every public corpus
        // pipeline runs before training (emails / IPv4s / phone numbers
        // → typed placeholders, plus per-doc counts for the removal
        // report). The synthetic corpus contains no digits at all, so a
        // raw scan would gate vacuously — instead the PII-bearing text
        // is synthesized DETERMINISTICALLY from doc_id (m01's recipe:
        // both engines derive the same strings from the same parquet),
        // and the regexes then do real work under the hash: counts,
        // redacted length, and the md5 of the redacted string must all
        // match DuckDB's RE2 evaluation of the same patterns. Patterns
        // stay in the Java∩RE2 common core (char classes, bounded
        // repeats — no lookaround/backrefs) so both engines match
        // identically; redaction chains email → IP → phone in both.
        // Scale shape: pure map-side string work riding the scan — no
        // shuffle, no UDF, codegen end to end; the ORDER BY is the
        // catalog's deterministic-output convention.
        def pm(k: Int) = pmod($"doc_id", lit(k))
        val aug = concat($"text",
          when(pm(3) === 0, concat(lit(" contact u"), pm(1000).cast("string"),
            lit("@mail"), pm(10).cast("string"), lit(".com"))).otherwise(lit("")),
          when(pm(4) === 0, concat(lit(" from 10."), pm(256).cast("string"),
            lit("."), pm(100).cast("string"), lit("."), pm(50).cast("string")))
            .otherwise(lit("")),
          when(pm(5) === 0, concat(lit(" call 555-"),
            lpad(pm(1000).cast("string"), 3, "0"), lit("-"),
            lpad(pm(10000).cast("string"), 4, "0"))).otherwise(lit("")))
        redactPii(tbl(s, dir, "documents").select($"doc_id", aug.as("t")), "t")
          .select($"doc_id", $"n_emails", $"n_ipv4", $"n_phones",
            length($"redacted").cast("long").as("redacted_len"),
            md5($"redacted").as("redacted_md5"))
          .orderBy($"doc_id")
      },
      // DuckDB single-quoted strings keep backslashes literal, so the
      // RE2 patterns below are byte-identical to the Java ones above
      Some("""WITH aug AS MATERIALIZED (
          SELECT doc_id, text
            || CASE WHEN ((doc_id % 3)+3)%3 = 0 THEN ' contact u' || CAST(((doc_id % 1000)+1000)%1000 AS VARCHAR) || '@mail' || CAST(((doc_id % 10)+10)%10 AS VARCHAR) || '.com' ELSE '' END
            || CASE WHEN ((doc_id % 4)+4)%4 = 0 THEN ' from 10.' || CAST(((doc_id % 256)+256)%256 AS VARCHAR) || '.' || CAST(((doc_id % 100)+100)%100 AS VARCHAR) || '.' || CAST(((doc_id % 50)+50)%50 AS VARCHAR) ELSE '' END
            || CASE WHEN ((doc_id % 5)+5)%5 = 0 THEN ' call 555-' || lpad(CAST(((doc_id % 1000)+1000)%1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(((doc_id % 10000)+10000)%10000 AS VARCHAR), 4, '0') ELSE '' END AS t
          FROM documents),
        red AS MATERIALIZED (
          SELECT doc_id, t,
            regexp_replace(regexp_replace(regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
              '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS r
          FROM aug)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
          CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
          CAST(length(r) AS BIGINT) AS redacted_len,
          md5(r) AS redacted_md5
        FROM red ORDER BY doc_id""")),

    QueryDef("t13_markup_strip",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // boilerplate removal under the hash gate — see
        // [[Documents.stripMarkup]]. Like t12, the corpus has no markup,
        // so the catalog query synthesizes an HTML wrapper
        // deterministically from (doc_id, text): attribute tags, an
        // inline <b> emphasis injected mid-text (replace is leftmost
        // non-overlapping in BOTH engines), and a <script> block on
        // pmod(doc_id, 4) == 0 whose CONTENT must vanish, not just its
        // tags. The counts, stripped length and stripped md5 then pin
        // the full strip pipeline cross-engine.
        val aug = concat(
          lit("<html><body data-id=\""), $"doc_id".cast("string"), lit("\"><p>"),
          regexp_replace($"text", " the ", " <b>the</b> "),
          lit("</p>"),
          when(pmod($"doc_id", lit(4)) === 0,
            lit("<script>var x=1;</script>")).otherwise(lit("")),
          lit("</body></html>"))
        stripMarkup(tbl(s, dir, "documents").select($"doc_id", aug.as("t")), "t")
          .select($"doc_id", $"n_tags", $"n_scripts",
            length($"stripped").cast("long").as("stripped_len"),
            md5($"stripped").as("stripped_md5"))
          .orderBy($"doc_id")
      },
      Some("""WITH aug AS MATERIALIZED (
          SELECT doc_id,
            '<html><body data-id="' || CAST(doc_id AS VARCHAR) || '"><p>'
            || regexp_replace(text, ' the ', ' <b>the</b> ', 'g')
            || '</p>'
            || CASE WHEN ((doc_id % 4)+4)%4 = 0 THEN '<script>var x=1;</script>' ELSE '' END
            || '</body></html>' AS t
          FROM documents),
        red AS MATERIALIZED (
          SELECT doc_id, t,
            trim(regexp_replace(regexp_replace(regexp_replace(t,
              '(?i)<script[^>]*>[^<]*</script>', ' ', 'g'),
              '<[^>]*>', ' ', 'g'),
              ' +', ' ', 'g')) AS r
          FROM aug)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
          CAST(len(regexp_extract_all(t, '(?i)<script[^>]*>[^<]*</script>')) AS BIGINT) AS n_scripts,
          CAST(length(r) AS BIGINT) AS stripped_len,
          md5(r) AS stripped_md5
        FROM red ORDER BY doc_id""")),

    QueryDef("t04_fingerprint",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // order-insensitive content fingerprint: md5 of the sorted distinct
        // token set — robust to token shuffling, unlike d01's exact hash
        toked(s, dir)
          .select($"doc_id",
            md5(concat_ws(" ", array_sort(array_distinct($"toks")))).as("fingerprint"),
            size(array_distinct($"toks")).cast("long").as("n_uniq_tokens"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens
        FROM documents ORDER BY doc_id""")),

    QueryDef("t07_tfidf",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // TF-IDF: tf and df are integers; ln() is NOT bit-identical
        // across engines (JVM Math.log vs libm differ by ulps — measured
        // a 2-ulp gap at sf0.01), so the score is emitted quantized to a
        // 1e-9 integer grid, which both engines compute identically.
        // Output restricted to a doc slice to keep the result set
        // reviewable; the plan (explode → two aggregations → join on
        // term) is the full-corpus shape. N rides a 1-row broadcast
        // scalar join (q15's shape) instead of a separate driver-side
        // count() job, keeping the whole query one lineage.
        val toks = toked(s, dir).select($"doc_id", explode($"toks").as("term"))
        val nRow = tbl(s, dir, "documents")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val tf = toks.filter($"doc_id" < 50)
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = toks.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        tf.join(df, "term")
          .crossJoin(broadcast(nRow))
          .withColumn("tfidf_e9",
            floor(($"tf" * log($"n_docs" / $"df")) * 1e9 + 0.5).cast("long"))
          .select($"doc_id", $"term", $"tf", $"df", $"tfidf_e9")
          .orderBy($"doc_id", $"term")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE doc_id < 50 GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1)
        SELECT doc_id, term, tf, df,
          CAST(FLOOR((tf * ln(n.n / df)) * 1000000000.0 + 0.5) AS BIGINT) AS tfidf_e9
        FROM tf JOIN df USING (term), n
        ORDER BY doc_id, term""")),

    QueryDef("t09_unigram_xent",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Perplexity-style quality signal: per-doc cross-entropy against
        // the corpus's own unigram LM (mean -ln p(term)), the classic
        // corpus-filtering score (docs far from the corpus distribution
        // are boilerplate or noise). Determinism: each TOKEN contributes
        // ln(T/cnt) quantized to the 1e-9 grid as a BIGINT (t07's ln
        // recipe) — exact integer sums are order-independent, and the
        // mean is a floor division, so the oracle hash-matches.
        // Scale: explode → shuffle on term (zipfian but df-bounded:
        // it's one count per term) → regroup by doc_id; two data-sized
        // shuffles, no window. With a small vocabulary the count table
        // could broadcast and drop the first shuffle.
        val toks = toked(s, dir).select($"doc_id", explode($"toks").as("term"))
        val cnt = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
        val tot = toks.agg(count(lit(1)).cast("double").as("t"))
        toks.join(cnt, "term")
          .crossJoin(broadcast(tot))
          .withColumn("c_e9", floor(log($"t" / $"cnt") * 1e9 + 0.5).cast("long"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_toks"), sum($"c_e9").as("s_e9"))
          .withColumn("xent_e9", expr("s_e9 div n_toks"))
          .select($"doc_id", $"n_toks", $"xent_e9")
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS MATERIALIZED (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(CAST(SUM(CAST(FLOOR(ln(n.t / cnt) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                 // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS xent_e9
        FROM toks JOIN cnt USING (term), n
        GROUP BY doc_id ORDER BY doc_id""")),

    QueryDef("t15_bigram_lm_xent",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // t09's quality signal one order up: per-doc cross-entropy
        // against an INTERPOLATED BIGRAM LM (0.75·p(w|prev) + 0.25·p(w),
        // Jelinek-Mercer smoothing) — catches shuffled-word salad that
        // unigram xent scores as perfectly natural, the standard
        // fluency-vs-topicality split in corpus filtering. Bigram pairs
        // are generated MAP-SIDE from the token array (transform over
        // positions — no window, no self-join); p(w|prev) = cb/cl with
        // cl the bigram-table marginal (self-consistent: conditionals
        // sum to 1 per prev). Each position's −ln(λ·pb+(1−λ)·pu) is
        // quantized to the 1e-9 grid as BIGINT before the per-doc sum
        // (t07/t09's ln discipline), mean is floor division. λ terms are
        // computed in the IDENTICAL association order in both engines.
        // Scale (r20 broadcast-map scoring): the count tables are
        // vocab-bounded and SMALL by measurement (931 distinct bigrams
        // at sf0.1, 59 584 at sf6.4 — DuckDB count), so they collect
        // driver-side and broadcast as hash maps into ONE scoring map
        // pass over the token arrays: the former stream form re-ran
        // the bigram flatMap a second time, paid three broadcast joins
        // plus a crossJoin on every pair OCCURRENCE, and regrouped the
        // scored stream by doc_id (a corpus-sized shuffle); the kernel
        // walks each doc's array once and emits its (n_pairs, sum)
        // directly — no scoring shuffle at all. The left marginal and
        // the token total are derived from the collected tables by the
        // same exact integer sums. If a true 100 TB vocabulary ever
        // outgrows the driver, fold the maps into a (prev,cur,c_e9)
        // score table — same values by construction — and pay ONE
        // stream shuffle (the r11-probed fallback).
        val arr = toked(s, dir).select($"doc_id", $"toks")
          .filter(size($"toks") >= 2)
        // bigram stream via a primitive flatMap kernel (d08's span-kernel
        // discipline). The former explode-over-transform form paid the
        // InferFiltersFromGenerate tax: the optimizer copies the
        // generator input — the whole interpreted bigram HOF — into a
        // per-row Filter (size(...) > 0 AND isnotnull(...)), re-running
        // the costliest expression 2× more per corpus row, and `pairs`
        // feeds TWO consumers (the bigram table and the scoring join) so
        // the duplication compounded: t15's sf3→sf6.4 step read 3.41×
        // for 2.13× data (same root cause as the r18 simhash build fix).
        // Variants measured warm at sf3/sf6.4 (PROBES_r18): HOF explode
        // 4.4/13.3 s, sequence-explode + post-index 7.2/10.5 (the
        // Generate copies the carried toks ARRAY into every output row —
        // O(tokens) per pair), this kernel 5.0/9.5 — the only form whose
        // top-tier step is sublinear (1.9× for 2.13×), at ~0.6 s cost on
        // the mid tier (the object-serialization boundary). Pair set
        // identical by construction: (toks[i-1], toks[i]) for i in
        // 1..size-1 == the HOF's (toks[i-2], toks[i-1]) for i in 2..size.
        val pairs = arr.as[(Long, Seq[String])]
          .flatMap { case (id, toksSeq) =>
            val t = toksSeq.toArray
            (1 until t.length).iterator.map(i => (id, t(i - 1), t(i)))
          }.toDF("doc_id", "prev", "cur")
        val big = pairs.groupBy($"prev", $"cur").agg(count(lit(1)).as("cb"))
        val toks = toked(s, dir).select(explode($"toks").as("term"))
        val uni = toks.groupBy($"term").agg(count(lit(1)).as("cu"))
        // vocab-bounded collects (see the scale note above): bigram
        // counts nested prev → (cl, cur → cb) with the left marginal as
        // the exact long row-sum (== the former lft aggregate), unigram
        // counts as term → cu, and the token total as Σ cu (== the
        // former count(*) over toks) — one corpus pass fewer
        val uniArr = uni.as[(String, Long)].collect()
        val uniMap = new java.util.HashMap[String, Long](uniArr.length * 2)
        uniArr.foreach { case (term, cu) => uniMap.put(term, cu) }
        val tTot = uniArr.iterator.map(_._2).sum.toDouble
        val bigMap = new java.util.HashMap[String, (Long, java.util.HashMap[String, Long])]()
        big.as[(String, String, Long)].collect().foreach { case (prev, cur, cb) =>
          val e = bigMap.get(prev)
          val inner = if (e == null) {
            val m = new java.util.HashMap[String, Long]()
            bigMap.put(prev, (cb, m))
            m
          } else {
            bigMap.put(prev, (e._1 + cb, e._2))
            e._2
          }
          inner.put(cur, cb)
        }
        val bcBig = s.sparkContext.broadcast(bigMap)
        val bcUni = s.sparkContext.broadcast(uniMap)
        // per-position arithmetic replayed EXACTLY: cb/cl and cu/t as
        // doubles, λ-weighted in the same association order, then
        // floor(−StrictMath.log(p)·1e9 + 0.5) — Spark's log() IS
        // StrictMath.log, so each position's BIGINT contribution is
        // bit-identical to the former column expression (gated in
        // DocumentsSpec by a full replay of the stream form); the sum
        // is an exact long fold, the mean the same truncating div on
        // non-negative operands
        arr.as[(Long, Seq[String])]
          .mapPartitions { it =>
            val bm = bcBig.value
            val um = bcUni.value
            val t = tTot
            it.map { case (id, toksSeq) =>
              val a = toksSeq.toArray
              var sE9 = 0L
              var i = 1
              while (i < a.length) {
                val pe = bm.get(a(i - 1))
                val cb = pe._2.get(a(i))
                val cu = um.get(a(i))
                val p = 0.75 * (cb.toDouble / pe._1.toDouble) + 0.25 * (cu.toDouble / t)
                sE9 += math.floor(-StrictMath.log(p) * 1e9 + 0.5).toLong
                i += 1
              }
              val n = (a.length - 1).toLong
              (id, n, sE9 / n)
            }
          }.toDF("doc_id", "n_pairs", "xent_e9")
          .orderBy($"doc_id")
      },
      Some("""WITH toksarr AS MATERIALIZED (
          SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        toks AS MATERIALIZED (SELECT doc_id, unnest(a) AS term FROM toksarr),
        pos AS MATERIALIZED (
          SELECT doc_id, a, unnest(generate_series(2, len(a))) AS i
          FROM toksarr WHERE len(a) >= 2),
        pairs AS MATERIALIZED (
          SELECT doc_id, a[CAST(i AS INTEGER)-1] AS prev, a[CAST(i AS INTEGER)] AS cur FROM pos),
        big AS MATERIALIZED (SELECT prev, cur, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
        lft AS MATERIALIZED (SELECT prev, COUNT(*) AS cl FROM pairs GROUP BY 1),
        uni AS MATERIALIZED (SELECT term, COUNT(*) AS cu FROM toks GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks)
        SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(CAST(SUM(CAST(FLOOR(
            -ln(CAST(0.75 AS DOUBLE) * (CAST(cb AS DOUBLE) / CAST(cl AS DOUBLE))
              + CAST(0.25 AS DOUBLE) * (CAST(cu AS DOUBLE) / n.t)) * 1000000000.0 + 0.5)
            AS BIGINT)) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS xent_e9
        FROM pairs p JOIN big USING (prev, cur) JOIN lft USING (prev)
          JOIN uni ON p.cur = uni.term, n
        GROUP BY p.doc_id ORDER BY p.doc_id""")),

    QueryDef("t06_rolling_hash",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // polynomial rolling hash over the character stream:
        // h = fold(c => (h*31 + c) mod 1e9+7) — integer-exact and
        // engine-independent, unlike md5-of-sorted-tokens (t04) this is
        // order-SENSITIVE, the classic content-defined fingerprint
        toked(s, dir)
          .select($"doc_id",
            expr("aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), " +
              "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)").as("rhash"),
            length($"text").cast("long").as("n_chars_txt"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split_regex(text, ''), c -> CAST(unicode(c) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash,
        CAST(length(text) AS BIGINT) AS n_chars_txt
        FROM documents ORDER BY doc_id""")),

    QueryDef("t16_quality_classifier",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // MODEL-BASED quality filtering — the fastText/CCNet-style
        // classifier gate real pipelines run after the heuristic
        // screens (t02's ratios catch boilerplate; a trained linear
        // model catches fluent-but-worthless text). The full serving
        // shape is here and exact: hashed bag-of-words featurization
        // (per-token t06 char fold → Knuth mix → one of 64 buckets),
        // a linear score Σ w[bucket] over the token stream summed in
        // BIGINT fixed-point, length-normalized once at the end, and a
        // threshold keep decision. The WEIGHTS are a deterministic
        // stub — w[b] = (b·2654435761) mod 1997 − 998, the same
        // honest-stub discipline as the media decode: swapping in
        // trained weights is one broadcast array, and everything the
        // engine owns (featurize, score, decide, cross-engine
        // exactness) is under the hash gate today. Scale shape: pure
        // map-side expressions over the scan — scoring 100 TB is one
        // pass with no shuffle before the presentation sort; the
        // integer fold keeps the score a pure function both engines
        // compute bit-identically (single terminal BIGINT/BIGINT IEEE
        // division, t02's discipline).
        toked(s, dir)
          .select($"doc_id",
            size($"toks").cast("long").as("n_toks"),
            expr("""aggregate(transform(toks, t ->
                ((aggregate(transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT)),
                   CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)
                  * 2654435761) % 64 * 2654435761) % 1997 - 998),
              CAST(0 AS BIGINT), (acc, w) -> acc + w)""").as("score_fp"))
          .withColumn("score", $"score_fp" / $"n_toks")
          .withColumn("keep", $"score" > 0.0)
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, n_toks, score_fp, score_fp / n_toks AS score,
          score_fp / n_toks > 0.0 AS keep
        FROM (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_toks,
                CAST(COALESCE(list_sum(list_transform(toks, t ->
                  ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split_regex(t, ''),
                        c -> CAST(unicode(c) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007)
                   * 2654435761) % 64 * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS score_fp
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        ORDER BY doc_id""")),

    QueryDef("t05_lang_id",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // stopword-hit language ID (n-gram heuristic): score each candidate
        // language by stopword occurrences; argmax with a fixed tie order.
        toked(s, dir)
          .withColumn("en", expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'and')))"))
          .withColumn("de", expr("size(filter(toks, x -> x IN ('der', 'die', 'das', 'und')))"))
          .withColumn("es", expr("size(filter(toks, x -> x IN ('el', 'la', 'los', 'y')))"))
          .withColumn("predicted",
            when($"en" >= $"de" && $"en" >= $"es" && $"en" > 0, "en")
              .when($"de" >= $"es" && $"de" > 0, "de")
              .when($"es" > 0, "es")
              .otherwise("und"))
          .groupBy($"lang", $"predicted")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"lang", $"predicted")
      },
      Some("""SELECT lang, CASE
          WHEN en >= de AND en >= es AND en > 0 THEN 'en'
          WHEN de >= es AND de > 0 THEN 'de'
          WHEN es > 0 THEN 'es'
          ELSE 'und' END AS predicted,
        COUNT(*) AS n_docs
        FROM (SELECT lang,
                len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS en,
                len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und'))) AS de,
                len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'y'))) AS es
              FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents))
        GROUP BY 1, 2 ORDER BY lang, predicted""")),

    QueryDef("d06_contamination",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Benchmark decontamination: flag corpus docs sharing any 3-word
        // shingle with a held-out benchmark set (docs with doc_id % 50 == 0
        // stand in for the benchmark — deterministic, so the oracle can
        // reproduce the split). The benchmark side is tiny by nature (eval
        // suites are 1e3-1e5 docs vs a 1e9-doc corpus), so its exploded
        // shingle set BROADCASTS: the corpus side is scan → map-side hash
        // join → partial agg, no corpus shuffle before aggregation. The
        // two COUNT(DISTINCT)s plan as one Expand over the joined rows,
        // keyed by doc_id — still corpus-partitioned. The shingle frame
        // feeds BOTH join sides, so retain it under the registry (same
        // name+plan as the near-dup machinery — one cache entry, one
        // corpus scan, deterministically rather than only when d02/d05
        // happened to run first).
        val sh = graft.CacheRegistry.retain("neardup.shingles",
            graft.pipeline.NearDup.shingled(tbl(s, dir, "documents")))
          .select($"doc_id", explode($"shingles").as("shingle"))
        val bench = sh.filter($"doc_id" % 50 === 0)
          .select($"doc_id".as("bench_id"), $"shingle")
        sh.filter($"doc_id" % 50 =!= 0)
          .join(broadcast(bench), "shingle")
          .groupBy($"doc_id")
          .agg(countDistinct($"shingle").as("n_shared_shingles"),
            countDistinct($"bench_id").as("n_bench_docs"))
          .orderBy($"doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 3)
        SELECT c.doc_id,
               CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_shingles,
               CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
        FROM sh c JOIN sh b ON c.shingle = b.shingle
        WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
        GROUP BY c.doc_id ORDER BY c.doc_id""")),

    QueryDef("d08_duplicate_spans",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Substring-level dedup signal (the public exact-span recipe
        // from Lee et al., "Deduplicating Training Data Makes Language
        // Models Better"): doc pairs sharing an identical 8-TOKEN span,
        // with the count of distinct shared spans. Unlike d02-d05's
        // whole-document similarity, this catches a copied paragraph
        // inside otherwise-different documents — the common web-corpus
        // contamination the suffix-array approach targets, here as the
        // distributed shape: per-token polynomial hash (t06's charfold)
        // → rolling 8-gram span hash → inverted-index self-join keyed
        // on (span_hash, span). The 64-bit-ish hash is the shuffle-key
        // workhorse; grouping also on the span TEXT is the exact-verify
        // step (hash collisions cannot create a false pair). At 100 TB:
        // span df follows the same zipfian hazard as d02's shingles —
        // boilerplate spans go hot — so the production path applies
        // NearDup.pairs' df-cap discipline to the span index; per-doc
        // distinct spans bound Σdf² by true duplication.
        // Span construction is a primitive flatMap kernel (per-token
        // charfold, rolling 8-token hash, per-doc distinct) — the same
        // arithmetic the DuckDB oracle spells declaratively; the nested
        // interpreted-HOF form (aggregate-over-slice inside transform)
        // measured 19.8 s at sf0.1 vs ~1.5 s for the kernel, and the
        // hash gate cross-checks the two every round.
        val k = 8
        val spans = toked(s, dir)
          .filter(size($"toks") >= k)
          .select($"doc_id", $"toks").as[(Long, Seq[String])]
          .flatMap { case (id, toksSeq) =>
            val toks = toksSeq.toArray
            val th = new Array[Long](toks.length)
            var ti = 0
            while (ti < toks.length) {
              var acc = 0L
              val w = toks(ti)
              var ci = 0
              while (ci < w.length) { acc = (acc * 31 + w.charAt(ci).toInt) % 1000000007L; ci += 1 }
              th(ti) = acc
              ti += 1
            }
            val seen = scala.collection.mutable.HashSet.empty[(Long, String)]
            var i = 0
            while (i + k <= toks.length) {
              var acc = 0L
              var j = i
              while (j < i + k) { acc = (acc * 131 + th(j)) % 998244353L; j += 1 }
              seen += ((acc, toks.slice(i, i + k).mkString(" ")))
              i += 1
            }
            seen.iterator.map { case (h, sp) => (id, h, sp) }
          }
          .toDF("doc_id", "sh", "sp")
        // GROUP-EMITTED pairs (r19, the d03 rewrite): the self-join form
        // ran the span kernel on BOTH join sides (never stage-reused)
        // and shuffled the span text twice; one (sh, sp) exchange emits
        // the identical ordered pairs in place (spans are per-doc
        // distinct, so a bucket's ids are unique and each pair counts
        // one shared span per bucket — exactly the join's row per pair).
        spans.groupBy($"sh", $"sp")
          .agg(sort_array(collect_list($"doc_id")).as("ids"))
          .filter(size($"ids") >= 2)
          .select(explode(expr(
            "flatten(transform(ids, (a, i) -> " +
              "transform(slice(ids, i + 2, size(ids) - i - 1), " +
              "b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
          .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
          .agg(count(lit(1)).as("n_spans"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
        th AS (SELECT doc_id, toks,
                 list_transform(toks, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007)) AS h
               FROM tk WHERE len(toks) >= 8),
        spans AS (SELECT DISTINCT doc_id,
                    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(h, i, i + 7)),
                      (acc, x) -> (acc * 131 + x) % 998244353) AS sh,
                    array_to_string(list_slice(toks, i, i + 7), ' ') AS sp
                  FROM (SELECT doc_id, toks, h, unnest(range(1, len(toks) - 6)) AS i FROM th))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_spans
        FROM spans a JOIN spans b
          ON a.sh = b.sh AND a.sp = b.sp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY doc_a, doc_b""")),

    QueryDef("d10_span_removal",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the CUT step to d08's detection — [[removeDuplicateSpans]]'s
        // scaladoc has the semantics and the 100 TB argument. The
        // catalog row surfaces only the documents that actually lost
        // tokens (the hash gate then pins the full spliced text); the
        // operator itself returns the whole corpus, which is what the
        // Curation stage composes.
        Documents.removeDuplicateSpans(
            tbl(s, dir, "documents").select($"doc_id", $"text"), 8)
          .filter($"n_span_tokens_removed" > 0)
          .select($"doc_id", $"n_span_tokens_removed".as("n_removed"),
            $"text".as("clean_text"))
          .orderBy($"doc_id")
      },
      // DuckDB replays the splice declaratively: same charfold/rolling
      // constants as d08's oracle (single-sourced arithmetic), 1-based
      // list indexing where Spark's kernel is 0-based.
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
        th AS (SELECT doc_id, toks,
                 list_transform(toks, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007)) AS h
               FROM tk WHERE len(toks) >= 8),
        occ AS MATERIALIZED (SELECT doc_id, i,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(h, i, i + 7)),
                   (acc, x) -> (acc * 131 + x) % 998244353) AS sh,
                 array_to_string(list_slice(toks, i, i + 7), ' ') AS sp
               FROM (SELECT doc_id, toks, h, unnest(range(1, len(toks) - 6)) AS i FROM th)),
        dup AS (SELECT sh, sp, MIN(doc_id) AS keeper
                FROM (SELECT DISTINCT doc_id, sh, sp FROM occ)
                GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        drops AS (SELECT doc_id, list(DISTINCT j) AS js
                  FROM (SELECT o.doc_id, unnest(range(o.i, o.i + 8)) AS j
                        FROM occ o JOIN dup d ON o.sh = d.sh AND o.sp = d.sp
                        WHERE o.doc_id <> d.keeper)
                  GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(d.js) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_filter(t.toks,
                 (x, idx) -> NOT list_contains(d.js, idx)), ' '), '') AS clean_text
        FROM tk t JOIN drops d USING (doc_id) ORDER BY doc_id""")),

    QueryDef("t08_repetition",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Gopher-style repetition signal: boilerplate/spam docs repeat
        // their 2-grams. dup_frac = 1 - distinct/total bigrams; top_share
        // = the most frequent bigram's share. Two-level aggregate keyed on
        // (doc_id, bigram) then doc_id — partial aggregation combines
        // map-side, so the shuffle carries at most one row per distinct
        // (doc, bigram), never the exploded stream.
        toked(s, dir)
          .filter(size($"toks") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(toks)-1), i -> concat_ws(' ', toks[i-1], toks[i]))")).as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("n"))
          .groupBy($"doc_id")
          .agg(sum($"n").as("n_bigrams"), count(lit(1)).as("n_uniq"),
            max($"n").as("top_n"))
          .select($"doc_id", $"n_bigrams", $"n_uniq", $"top_n",
            (($"n_bigrams" - $"n_uniq") / $"n_bigrams").as("dup_frac"),
            ($"top_n" / $"n_bigrams").as("top_share"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, n_bigrams, n_uniq, top_n,
          (n_bigrams - n_uniq) / n_bigrams AS dup_frac,
          top_n / n_bigrams AS top_share
        FROM (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
                 COUNT(*) AS n_uniq, MAX(n) AS top_n
          FROM (
            SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bg
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                  WHERE len(toks) >= 2)
            GROUP BY doc_id, bg)
          GROUP BY doc_id)
        ORDER BY doc_id""")),

    QueryDef("t10_bpe_token_stats",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Real subword tokenization for the token-budget operators (r5
        // verdict #6): [[graft.util.Bpe]] — public BPE, deterministic
        // trainer, fixed merge table — counted per document. The merge
        // replay is a chain of plain `replace()` calls over a length-
        // prefixed symbol string, IDENTICAL expression text modulo each
        // engine's regex syntax, so DuckDB replays the tokenizer merge
        // for merge (the d04 generated-literal technique: the merge
        // table is embedded in both expressions from one Seq). Map-only
        // until the final ORDER BY — at 100 TB an embarrassingly-
        // parallel scan, the cheapest possible shape.
        //
        // The Spark side runs a PRIMITIVE mapPartitions kernel over
        // [[graft.util.Bpe.applyMerges]] with a per-partition word memo
        // (corpus vocabularies are zipfian — most words repeat, and the
        // memo pays each distinct word once per task). The declarative
        // replace-chain form ([[graft.util.Bpe.wordCountSpark]], still
        // the packDocuments tokenizer) evaluates 32 interpreted
        // replace() lambdas per word — measured 44.7 s at sf0.1 vs
        // ~1 s for this kernel; BpeSpec pins kernel == chain == oracle
        // on the adversarial panel, and the DuckDB oracle replays the
        // chain, so the hash gate cross-checks the kernel every round.
        val m = graft.util.Bpe.DefaultMerges
        toked(s, dir)
          .select($"doc_id", $"toks").as[(Long, Seq[String])]
          .mapPartitions { rows =>
            val memo = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
            rows.map { case (id, toks) =>
              var nw = 0L; var nc = 0L; var nb = 0L
              toks.foreach { w =>
                val (c, b) = memo.getOrElseUpdate(w, {
                  val norm = w.toLowerCase.replaceAll("[^a-z0-9]", "")
                  if (norm.isEmpty) (0, 0)
                  else (norm.length, graft.util.Bpe.applyMerges(w, m).length)
                })
                if (c > 0) { nw += 1; nc += c; nb += b }
              }
              (id, nw, nc, nb)
            }
          }
          .toDF("doc_id", "n_words", "n_chars", "n_bpe_tokens")
          .withColumn("chars_per_tok_fp",
            when($"n_bpe_tokens" === 0L, lit(null).cast("long"))
              .otherwise(expr("(n_chars * 1000000) div n_bpe_tokens")))
          .orderBy($"doc_id")
      },
      Some(s"""WITH nw AS (
          SELECT doc_id, ${graft.util.Bpe.normWordsDuck("text")} AS ws FROM documents),
        st AS (SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          CAST(COALESCE(list_sum(list_transform(ws, w -> len(w))), 0) AS BIGINT) AS n_chars,
          CAST(COALESCE(list_sum(list_transform(ws,
            w -> ${graft.util.Bpe.wordCountDuck("w", graft.util.Bpe.DefaultMerges)})), 0) AS BIGINT) AS n_bpe_tokens
          FROM nw)
        SELECT doc_id, n_words, n_chars, n_bpe_tokens,
          CASE WHEN n_bpe_tokens = 0 THEN NULL
               ELSE (n_chars * 1000000) // n_bpe_tokens END AS chars_per_tok_fp
        FROM st ORDER BY doc_id""")),

    QueryDef("p01_sequence_pack",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // GPT-style sequence packing: concatenate documents per lang in
        // doc_id order and cut at a 512-token budget; each doc gets the
        // training-sequence id and offset where its tokens begin. The
        // ordered cumsum runs through [[packSequences]]'s two-phase
        // range-bucketed plan — no window partition ever spans a whole
        // lang, so a mostly-monolingual 100 TB corpus packs across the
        // cluster instead of on one reducer (see packSequences scaladoc;
        // the output, and hence the oracle, is bit-identical to the
        // single-window form).
        val budget = 512
        packDocuments(
          toked(s, dir).select($"lang", $"doc_id", $"text"),
          budget)
          .select($"lang", $"doc_id", $"n_toks", $"seq_id", $"seq_off")
          .orderBy($"lang", $"doc_id")
      },
      Some("""SELECT lang, doc_id, n_toks,
          CAST(FLOOR(cum_before / 512) AS BIGINT) AS seq_id,
          cum_before % 512 AS seq_off
        FROM (SELECT lang, doc_id, n_toks,
                COALESCE(CAST(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
              FROM (SELECT lang, doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
                    FROM documents))
        ORDER BY lang, doc_id""")),

    QueryDef("p02_weighted_sample",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Deterministic weighted source mixing: each source gets a target
        // keep-fraction (permille, derived here from the source index so
        // the fixture exercises five distinct weights) and a doc survives
        // iff its Knuth multiplicative hash falls under the threshold.
        // Pure function of (doc_id, source) — re-runs and appends sample
        // identically (the property randomSplit lacks), and the predicate
        // is a scan-level filter: sampling 100 TB is a map-only pass.
        // The id folds through pmod FIRST (ids may be negative in foreign
        // corpora, and Spark/DuckDB `%` keeps the dividend's sign — an
        // unsigned-folded id keeps every later remainder nonnegative) and
        // the fold bound 1048573 caps the multiply at ~2.8e15, far under
        // i64 overflow for ANY id (ANSI mode would throw, not wrap).
        tbl(s, dir, "documents")
          .withColumn("frac_pm",
            (lit(100) + lit(50) * (expr("CAST(substring(source, 4, 10) AS INT)") % 5))
              .cast("long"))
          .withColumn("keep",
            (pmod($"doc_id", lit(1048573L)) * lit(2654435761L)) % 1000 < $"frac_pm")
          .groupBy($"source", $"frac_pm")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"))
          .orderBy($"source")
      },
      Some("""SELECT source, frac_pm, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM (SELECT source,
                CAST(100 + 50 * (CAST(substr(source, 4, 10) AS INT) % 5) AS BIGINT) AS frac_pm,
                ((((doc_id % 1048573) + 1048573) % 1048573) * 2654435761) % 1000 <
                  CAST(100 + 50 * (CAST(substr(source, 4, 10) AS INT) % 5) AS BIGINT) AS keep
              FROM documents)
        GROUP BY source, frac_pm ORDER BY source""")),

    QueryDef("p03_quality_mix",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Quality-aware (curriculum) mixing: p02's deterministic hash
        // sampling with the keep-fraction driven by a QUALITY bucket
        // instead of the source — the standard data-mix move of
        // upsampling high-quality documents. The bucket is t02's
        // unique-token ratio in pure INTEGER form (n_uniq*10 div n_toks,
        // 0..10) so the bucket boundary cannot drift between engines the
        // way a double threshold could; keep-fractions rise linearly
        // with the bucket (200‰ + 80‰/bucket, topping out at 1000‰).
        // Same 100 TB shape as p02: pure function of (doc_id, text) —
        // re-runs and appends sample identically — and the whole
        // predicate is a scan-level map-only filter; the only shuffle
        // here is the 11-group reporting aggregate.
        toked(s, dir)
          .withColumn("n_toks", size($"toks").cast("long"))
          .withColumn("n_uniq", size(array_distinct($"toks")).cast("long"))
          .withColumn("q_bucket", expr("n_uniq * 10 div n_toks"))
          .withColumn("frac_pm", (lit(200L) + lit(80L) * $"q_bucket").cast("long"))
          .withColumn("keep",
            (pmod($"doc_id", lit(1048573L)) * lit(2654435761L)) % 1000 < $"frac_pm")
          .groupBy($"q_bucket", $"frac_pm")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"))
          .orderBy($"q_bucket")
      },
      Some("""SELECT q_bucket, frac_pm, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM (SELECT q_bucket, CAST(200 + 80 * q_bucket AS BIGINT) AS frac_pm,
                ((((doc_id % 1048573) + 1048573) % 1048573) * 2654435761) % 1000 <
                  CAST(200 + 80 * q_bucket AS BIGINT) AS keep
              FROM (SELECT doc_id,
                      (CAST(len(list_distinct(toks)) AS BIGINT) * 10)
                        // CAST(len(toks) AS BIGINT) AS q_bucket
                    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))
        GROUP BY q_bucket, frac_pm ORDER BY q_bucket""")),

    QueryDef("p04_source_token_caps",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Per-source token-budget caps — the data-mix quota step p02/p03
        // don't cover: each source contributes documents in doc_id order
        // until its RUNNING token total would cross the cap, then stops
        // (deterministic truncation, not sampling — the recipe when a
        // mix spec says "at most N tokens from source X"). A doc is kept
        // iff the tokens BEFORE it fit strictly under the cap, so one
        // doc may straddle the boundary (consistent in both engines by
        // construction). Scale shape: one window shuffle keyed by
        // source; the per-source ordered cumsum is the same partitioned
        // prefix-sum p01 scales with (finer hash-bucket sharding is
        // p01's documented path if one source dominates the corpus).
        capSources(toked(s, dir), cap = 3000L)
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN cum_before < 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN cum_before < 3000 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM (SELECT source, doc_id, n_toks,
                SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS cum_before
              FROM (SELECT source, doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
                    FROM documents))
        GROUP BY source ORDER BY source""")),

    QueryDef("p05_stratified_holdout",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Stratified EXACT-fraction holdout — the eval-split step a
        // training pipeline runs before any mixing: per language
        // stratum, exactly ceil(10%) of the docs become the holdout,
        // chosen by p02's Knuth multiplicative hash REDUCED by a large
        // prime — the reducing modulus is what scrambles order (the
        // bare product is monotone in the folded id, which would make
        // the "sample" just the lowest-id 10%; caught in review, v09's
        // 1e9+7 modulus pattern). Membership is a pure function of
        // doc_id, so RE-RUNS over the same corpus reproduce the split
        // exactly (Bernoulli sampling guarantees neither the fraction
        // nor that). NOTE the deliberate trade-off: exact-fraction-by-
        // rank is NOT append-stable — growing a stratum re-ranks it and
        // can move boundary docs between splits; when append-stability
        // matters more than the exact fraction, use Splits.assign's
        // fixed-threshold rule instead. Quota arithmetic is integer DIV
        // ((n_s + 9) div 10) — cross-engine exact where a double
        // ceil(0.1*n) could parse to different types (e10b's lesson).
        // Scale shape: ONE lang-keyed window exchange feeds both the
        // rank and the stratum count; for strata too large for a single
        // window partition sort, p01's hash-shard + offset two-phase is
        // the documented path.
        val h = graft.QueryHelpers.knuthHash($"doc_id")
        val wl = Window.partitionBy($"lang").orderBy($"h".asc, $"doc_id".asc)
        val cw = Window.partitionBy($"lang")
        tbl(s, dir, "documents").select($"doc_id", $"lang")
          .withColumn("h", h)
          .withColumn("rk", row_number().over(wl).cast("long"))
          .withColumn("n_s", count(lit(1)).over(cw))
          .withColumn("split",
            when($"rk" <= expr("(n_s + 9) DIV 10"), "holdout").otherwise("train"))
          .select($"lang", $"doc_id", $"h", $"rk", $"split")
          .orderBy($"lang", $"rk")
      },
      Some("""WITH ranked AS MATERIALIZED (
          SELECT lang, doc_id, h,
            CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk,
            CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_s
          FROM (SELECT lang, doc_id,
                  ((((doc_id % 1048573) + 1048573) % 1048573) * 2654435761) % 1000000007 AS h
                FROM documents))
        SELECT lang, doc_id, h, rk,
          CASE WHEN rk <= (n_s + 9) // 10 THEN 'holdout' ELSE 'train' END AS split
        FROM ranked ORDER BY lang, rk""")),

    QueryDef("p06_leakage_safe_splits",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Leakage-safe train/holdout assignment: near-dup clusters are
        // ATOMIC split units (Splits.assignLeakageSafe). Per-doc hashing
        // (p05, Splits.assign) can put two near-copies on opposite sides
        // of the cut — the holdout then evaluates on paraphrases of
        // training docs; this is d06's contamination concern arising
        // from the corpus's own internal duplication rather than an
        // external benchmark. Every doc is keyed by its d05 cluster
        // representative (own id when unclustered) and split by the
        // cross-engine Knuth hash OF THE UNIT, so clusters cannot
        // straddle the cut by construction. Scale shape: the cluster
        // frame is pairs-sized metadata → broadcast join; hash + label
        // are map-side; the only heavy stage is the shared banded pair
        // generation d05/d09 already amortize through the registry.
        graft.pipeline.Splits.assignLeakageSafe(tbl(s, dir, "documents"))
          .select($"doc_id", $"unit_id", $"split")
          .orderBy($"doc_id")
      },
      // oracle: the inverted-index pair replay + d05's reachability CTE
      // → cluster min per doc, then the identical unit-keyed Knuth-hash
      // threshold over ALL documents
      Some(s"""WITH RECURSIVE $ShinglePairsCtes,
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         cl AS MATERIALIZED (
           SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
           FROM walk GROUP BY id)
         SELECT d.doc_id,
           COALESCE(cl.cluster_id, d.doc_id) AS unit_id,
           CASE WHEN ((((COALESCE(cl.cluster_id, d.doc_id) % 1048573) + 1048573)
                        % 1048573) * 2654435761) % 1000 < 100
                THEN 'holdout' ELSE 'train' END AS split
         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         ORDER BY d.doc_id""")),

    QueryDef("p07_doc_chunks",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // RAG/long-doc chunking under the hash gate: 64-token windows
        // every 48 tokens (16-token overlap) — see [[chunkDocuments]]
        // for the map-side scale shape. The oracle replays tokenize +
        // window arithmetic + the 1-based slice join; chunk_id = start
        // DIV step exactly because starts are step multiples.
        chunkDocuments(
          tbl(s, dir, "documents").select($"doc_id", $"text"),
          chunkToks = 64, overlap = 16)
          .select($"doc_id", $"chunk_id", $"tok_start", $"n_toks", $"chunk_text")
          .orderBy($"doc_id", $"chunk_id")
      },
      Some("""SELECT doc_id, CAST(i // 48 AS BIGINT) AS chunk_id,
          CAST(i AS BIGINT) AS tok_start,
          CAST(LEAST(64, n - i) AS BIGINT) AS n_toks,
          array_to_string(toks[i+1 : i+64], ' ') AS chunk_text
        FROM (SELECT doc_id, toks, n, unnest(generate_series(0, n-1, 48)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents))
        ORDER BY doc_id, chunk_id""")),

    QueryDef("p08_budget_mix",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // budget-constrained source mixing under the hash gate: weights
        // 1 + 10·(source_idx mod 5) (aggressive spread) and budget =
        // 2/3 of the corpus's total tokens — scale-relative, so at
        // EVERY SF the high-weight sources' proportional shares exceed
        // their availability (they saturate) while low-weight sources
        // keep headroom (they absorb the redistribution): both
        // water-filling branches stay under the gate as the corpus
        // grows. [[allocateBudget]] computes per-source allocations on
        // source-level metadata; each source then contributes docs in
        // doc_id order while the tokens BEFORE them fit under its
        // allocation (p04's cum_before < cap rule). Output: the
        // per-source mix report.
        // retained: the narrow (source, doc_id, n_toks, w) frame feeds
        // the per-source aggregate (read again by the total action and
        // twice inside allocateBudget) AND the per-doc cumulative cut —
        // without the cache each of those passes re-pays the corpus
        // tokenization scan
        val tk = graft.CacheRegistry.retain("p08.tk", toked(s, dir)
          .select($"source", $"doc_id", size($"toks").cast("long").as("n_toks"),
            (lit(1L) + lit(10L) *
              (expr("CAST(substring(source, 4, 10) AS INT)") % 5)).cast("long").as("w")))
        val per = tk.groupBy($"source")
          .agg(max($"w").as("w"), sum($"n_toks").as("avail"))
        // sum over an empty source frame is NULL — coalesce so an empty
        // corpus yields budget 0 and an empty mix report, not an opaque
        // null-unbox throw (parity with the explicit empty gates elsewhere)
        val total = per.agg(coalesce(sum($"avail"), lit(0L))).head.getLong(0)
        val alloc = allocateBudget(per, budget = total * 2 / 3)
        val wDoc = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        tk.withColumn("cum_before", coalesce(sum($"n_toks").over(wDoc), lit(0L)))
          .join(broadcast(alloc.select($"source", $"alloc")), Seq("source"))
          .groupBy($"source")
          .agg(
            sum(when($"cum_before" < $"alloc", 1L).otherwise(0L)).as("n_kept"),
            sum(when($"cum_before" < $"alloc", $"n_toks").otherwise(0L)).as("kept_tokens"))
          .join(alloc, Seq("source"))
          .select($"source", $"w", $"avail", $"alloc", $"n_kept", $"kept_tokens")
          .orderBy($"source")
      },
      Some("""WITH tk AS (
          SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 CAST(1 + 10 * (CAST(substr(source, 4, 10) AS INT) % 5) AS BIGINT) AS w
          FROM documents),
        per AS (SELECT source, MAX(w) AS w, CAST(SUM(n_toks) AS BIGINT) AS avail
                FROM tk GROUP BY source),
        ord AS (SELECT *,
                  CAST(COALESCE(SUM(avail) OVER wp, 0) AS BIGINT) AS cum_a,
                  CAST(COALESCE(SUM(w) OVER wp, 0) AS BIGINT) AS cum_w,
                  CAST(SUM(w) OVER () AS BIGINT) AS wtot
                FROM per
                WINDOW wp AS (ORDER BY avail // w, ((avail % w) * 1000000000) // w, source
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        bdg AS (SELECT CAST((2 * SUM(avail)) // 3 AS BIGINT) AS b FROM per),
        flg AS (SELECT ord.*, avail * (wtot - cum_w) <= (bdg.b - cum_a) * w AS sat
                FROM ord, bdg),
        bound AS (SELECT CAST(bdg.b - COALESCE(SUM(CASE WHEN sat THEN avail END), 0) AS BIGINT) AS rstar,
                         CAST(COALESCE(SUM(CASE WHEN NOT sat THEN w END), 0) AS BIGINT) AS wstar
                  FROM flg, bdg GROUP BY bdg.b),
        alloc AS (SELECT f.source, f.w, f.avail,
                         CASE WHEN f.sat THEN f.avail
                              ELSE (b.rstar * f.w) // b.wstar END AS alloc
                  FROM flg f, bound b),
        kept AS (SELECT source, doc_id, n_toks,
                   CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                 FROM tk)
        SELECT a.source, a.w, a.avail, a.alloc,
               CAST(COALESCE(SUM(CASE WHEN k.cum_before < a.alloc THEN 1 END), 0) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN k.cum_before < a.alloc THEN k.n_toks END), 0) AS BIGINT) AS kept_tokens
        FROM alloc a JOIN kept k ON k.source = a.source
        GROUP BY a.source, a.w, a.avail, a.alloc
        ORDER BY a.source""")),

    QueryDef("t14_bigram_entropy",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Character-bigram Shannon entropy per doc — the quality signal
        // that separates natural text from key-mashing, base64 blobs and
        // single-char floods, complementing t08 (word-level repetition)
        // and t09 (LM fit): those need tokens, this works on raw bytes
        // of ANY language. Entropy H = Σ (c/n)·ln(n/c) over the doc's
        // bigram counts; each term is quantized to the 1e-9 grid as a
        // BIGINT before the per-doc sum (t07/t09's ln discipline: JVM
        // Math.log and libm differ by ulps, integer sums don't), so the
        // fold is order-independent and cross-engine exact.
        // Scale shape: entropy is a PER-DOC statistic with state bounded
        // by the alphabet squared, so it needs no shuffle at all — the
        // original declarative form (explode → (doc_id, bigram) count →
        // doc window) pushed ~1 row per input char through a corpus-
        // sized exchange and probed 3.0-3.2 s warm at sf0.1; this
        // per-partition kernel folds each doc's bigram histogram in a
        // local map and emits one row per doc map-side (the d04-kernel
        // justification for mapPartitions: genuinely per-row imperative
        // aggregation). Only the final presentation sort exchanges.
        // Quantization identical to the declarative form: per distinct
        // bigram floor((c/n)·ln(n/c)·1e9+0.5) summed in i64 (JVM
        // Math.log and DuckDB ln agree within the grid — t07's
        // discipline). Chars are UTF-16 units vs the oracle's
        // codepoints: identical on this corpus (ASCII, t06's ascii()
        // assumption) — astral-plane text would need codePointAt.
        val ds = tbl(s, dir, "documents")
          .filter(length($"text") >= 2)
          .select($"doc_id", $"text").as[(Long, String)]
        ds.mapPartitions { it =>
          it.map { case (id, text) =>
            val m = new java.util.HashMap[Int, Long]()
            val n = text.length - 1
            var i = 0
            while (i < n) {
              m.merge(text.charAt(i) * 65536 + text.charAt(i + 1), 1L,
                (a, b) => a + b)
              i += 1
            }
            val nd = n.toDouble
            var acc = 0L
            val vs = m.values().iterator()
            while (vs.hasNext) {
              val c = vs.next()
              acc += math.floor((c / nd) * math.log(nd / c) * 1e9 + 0.5).toLong
            }
            (id, n.toLong, m.size.toLong, acc)
          }
        }.toDF("doc_id", "n_bigrams", "distinct_bigrams", "entropy_e9")
          .orderBy($"doc_id")
      },
      Some("""WITH pos AS MATERIALIZED (
          SELECT doc_id, text, unnest(generate_series(1, length(text)-1)) AS i
          FROM documents WHERE length(text) >= 2),
        bgc AS MATERIALIZED (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS b, COUNT(*) AS c
          FROM pos GROUP BY 1, 2),
        tot AS MATERIALIZED (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS distinct_bigrams
          FROM bgc GROUP BY 1)
        SELECT t.doc_id, t.n AS n_bigrams, t.distinct_bigrams,
          CAST(SUM(CAST(FLOOR((CAST(c AS DOUBLE)/CAST(t.n AS DOUBLE))
               * ln(CAST(t.n AS DOUBLE)/CAST(c AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_e9
        FROM bgc b JOIN tot t USING (doc_id)
        GROUP BY t.doc_id, t.n, t.distinct_bigrams
        ORDER BY t.doc_id"""))
  )
}
