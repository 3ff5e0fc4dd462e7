package graft.operators

import graft.{Catalog, SparkSpec}

/** Gates for the dedup operators whose scale paths are probabilistic or
  * Spark-hash-specific (no cross-engine oracle for d04; d03 shares d02's
  * oracle and this spec double-checks the equivalence in-JVM).
  */
class DocumentsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def pairs(name: String): Set[(Long, Long)] =
    Catalog.byName(name).run(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d03 MinHash+verify equals the exact shingle-Jaccard result (d02)") {
    val exact = Catalog.byName("d02_neardup_jaccard").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Catalog.byName("d03_neardup_minhash").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "test data contains planted near-dups")
    assert(lsh == exact)
  }

  test("d04 SimHash: non-empty, precision 1.0 against exact near-dups") {
    val sim = pairs("d04_simhash_neardup")
    val exact = pairs("d02_neardup_jaccard")
    assert(sim.nonEmpty, "simhash finds the planted near-dups")
    // hamming <= 6 is a TIGHTER bar than jaccard >= 0.5, so every simhash
    // pair must also be an exact near-dup pair (precision 1.0); recall may
    // be < 1 by design.
    assert(sim.subsetOf(exact), s"non-neardup pairs leaked: ${sim.diff(exact)}")
  }

  test("simhash pair kernel equals the banded self-join + distinct reference form") {
    // r19 optimization gate: simhashPairsFrom switched from a banded
    // self-join + distinct() (3 exchanges) to a per-bucket primitive
    // kernel emitting each pair in its FIRST matching band (1 exchange).
    // The pair SET with hammings must be identical to the reference
    // join form — this replays the pre-r19 form inline and compares,
    // over the fixture corpus's signatures and a synthetic signature
    // frame built for the kernel's edge cases.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // synthetic edge cases: a band-0 bucket of 102 rows (the drain
    // grows past its 64-row initial capacity); a pair whose ONLY shared
    // band is band 7 (one flipped bit in each of bytes 0..6, so hamming
    // 7 — a co-bucketed candidate the verify must reject); bit 63 set
    // (a pHash packing whose h1 has bit 31 set); pairs at hamming
    // exactly 6 (emitted) and 7 (not); a hamming-6 pair sharing bands
    // 3..7 only (emitted once, in band 3)
    val rnd = new scala.util.Random(7)
    val hot = (0 until 100).map(i => (1000L + i, rnd.nextLong() & ~0xFFL))
    val top = 1L << 63
    val synthetic = (hot ++ Seq(
      (1L, 0x1234567890ABCDEFL),
      (2L, 0x1234567890ABCDEFL ^ 0x0001010101010101L), // band 7 only, ham 7
      (3L, top | 0x00FF00FF00FF00FFL),
      (4L, top | 0x00FF00FF00FF00FFL ^ 0x0000000000000007L), // ham 3
      (5L, top | 0x00FF00FF00FF00FFL ^ 0x000000000000003FL), // ham 6 to 3
      (6L, top | 0x00FF00FF00FF00FFL ^ 0x000000000000007FL), // ham 7 to 3
      (7L, 0x0F0F0F0F0F0F0F0FL),
      (8L, 0x0F0F0F0F0F0F0F0FL ^ 0x0000000000030303L), // ham 6, bands 3..7
      (9L, hot(0)._2 ^ 0x0000000000000300L), // ham 2 into the hot bucket
      (10L, hot(1)._2 ^ 0x3F00000000000000L))) // ham 6 into the hot bucket
      .toDF("doc_id", "simhash")
    for ((what, sigs) <- Seq("fixture corpus" -> Documents.simhashSigsOf(docs),
                             "synthetic signatures" -> synthetic)) {
      val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 8).map(i =>
          struct(lit(i).as("i"),
            shiftrightunsigned(col("simhash"), i * 8).bitwiseAND(lit(0xFFL)).as("k"))): _*)).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.i").as("i"), col("b.k").as("k"))
      val ref = banded.as("x").join(banded.as("y"),
          col("x.i") === col("y.i") && col("x.k") === col("y.k") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val kernel = Documents.simhashPairsFrom(sigs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ref.nonEmpty, s"$what plants simhash near-dups")
      assert(kernel == ref, s"$what: " +
        s"kernel minus ref: ${kernel.diff(ref)}; ref minus kernel: ${ref.diff(kernel)}")
    }
    // the synthetic frame witnesses each edge case it was built for
    val syn = Documents.simhashPairsFrom(synthetic).as[(Long, Long, Long)].collect()
    assert(syn.count(p => p == ((3L, 4L, 3L))) == 1 && syn.contains((3L, 5L, 6L)) &&
      syn.contains((7L, 8L, 6L)) && syn.contains((9L, 1000L, 2L)) &&
      syn.contains((10L, 1001L, 6L)), syn.toSeq)
    assert(!syn.exists(p => (p._1, p._2) == ((1L, 2L)) || (p._1, p._2) == ((3L, 6L))),
      "hamming-7 pairs must not be emitted")
    assert(syn.length == syn.map(p => (p._1, p._2)).distinct.length,
      "each pair is emitted once")
  }

  test("d01 exact dedup: one fingerprint per distinct text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val distinctTexts = docs.select("text").distinct().count()
    val out = Catalog.byName("d01_exact_dedup").run(spark, sf)
    assert(out.count() == distinctTexts)
    import org.apache.spark.sql.functions.sum
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs.count(), "copies partition the corpus")
  }

  /** Write a planted documents table to a temp dir shaped like a test-data
    * scale dir, so catalog queries (which read `dir`/documents.parquet)
    * run against it unchanged. */
  private def plantedDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs-fixture").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("d06 contamination: flags only corpus docs sharing a benchmark shingle") {
    // doc 50 is the benchmark (id % 50 == 0); doc 1 shares exactly the
    // shingle "alpha beta gamma" with it; doc 2 shares nothing
    val dir = plantedDir(Seq(
      50L -> "alpha beta gamma delta",
      1L -> "alpha beta gamma epsilon",
      2L -> "one two three four"))
    val out = Catalog.byName("d06_contamination").run(spark, dir)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L, 1L)),
      s"expected exactly doc 1 with one shared shingle from one benchmark doc, got ${rows.toSeq}")
    // scale shape: the benchmark side must broadcast (corpus never shuffles
    // before the aggregate)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark join should be a broadcast hash join:\n$plan")
  }

  test("p04 source token caps: driver-side running-total replay, cap bites") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).map { case (src, rows) =>
      var cum = 0L; var kept = 0L; var keptToks = 0L
      rows.sortBy(_._2).foreach { case (_, _, n) =>
        if (cum < 3000L) { kept += 1; keptToks += n }
        cum += n
      }
      src -> (rows.length.toLong, kept, keptToks)
    }
    val got = Catalog.byName("p04_source_token_caps").run(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"got $got\nwant $want")
    // sf0.001 sources stay under 3000 tokens, so force the bite with a
    // small cap through the shared operator: the straddling doc is kept
    // (cum_before < cap), everything after it is cut
    val toked = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
    val small = graft.operators.Documents.capSources(toked, cap = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(small.exists { case (_, n, k, _) => k < n },
      "cap=100 must truncate at least one source")
    small.foreach { case (src, _, k, keptToks) =>
      assert(k >= 1, s"$src: the first doc always fits (cum_before = 0)")
      val firstLen = docs.filter(_._1 == src).minBy(_._2)._3
      assert(keptToks >= firstLen && (k > 1 || keptToks == firstLen), s"$src inconsistent")
    }
  }

  test("t12 redactPii: planted adversaries — counts, placeholders, leftmost-match semantics") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a.b+c%d@x-y.co end"),          // full local-part charset
      (2L, "ip 10.0.0.1 and 255.255.255.255"),  // two IPs
      (3L, "call 555-123-4567 now"),            // phone
      (4L, "1234-567-8901"),                    // digit-run trap: leftmost conforming substring
      (5L, "u1@a.bc 1.2.3.4 555-000-1111"),     // all three adjacent
      (6L, "no pii here at all"),               // untouched
      (7L, "not@an@email and 1.2.3"),           // no dot-TLD after any @ → NO email match; 3-octet non-IP
    ).toDF("doc_id", "t")
    val out = graft.operators.Documents.redactPii(rows, "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(out(1L) == ((1L, 0L, 0L, "mail <EMAIL> end")))
    assert(out(2L) == ((0L, 2L, 0L, "ip <IP> and <IP>")))
    assert(out(3L) == ((0L, 0L, 1L, "call <PHONE> now")))
    // Java and RE2 both take the leftmost conforming substring of the
    // longer digit run — the redaction documents, not hides, this shape
    assert(out(4L) == ((0L, 0L, 1L, "1<PHONE>")))
    assert(out(5L) == ((1L, 1L, 1L, "<EMAIL> <IP> <PHONE>")))
    assert(out(6L) == ((0L, 0L, 0L, "no pii here at all")))
    // 'an@email' has no dot-TLD → no email match; '1.2.3' only 2 dots
    assert(out(7L) == ((0L, 0L, 0L, "not@an@email and 1.2.3")))
    // reject-don't-clobber: a frame already carrying a report column
    intercept[IllegalArgumentException] {
      graft.operators.Documents.redactPii(
        rows.withColumn("redacted", $"t"), "t")
    }
  }

  test("p05 stratified holdout: exact ceil quota per stratum, lowest-hash membership") {
    val out = Catalog.byName("p05_stratified_holdout").run(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byLang = out.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rows) =>
      val n = rows.length
      val quota = (n + 9) / 10
      val hold = rows.filter(_._5 == "holdout")
      assert(hold.length == quota, s"$lang: ${hold.length} holdout != ceil(10% of $n) = $quota")
      // membership = the quota docs with the smallest (hash, doc_id) —
      // a pure function of doc_id, so re-runs and appends reproduce it
      def key(r: (String, Long, Long, Long, String)) = (r._3, r._2)
      val expected = rows.sortBy(key).take(quota).map(_._2).toSet
      assert(hold.map(_._2).toSet == expected, s"$lang holdout is not the lowest-hash prefix")
      rows.foreach { case (_, id, h, _, _) =>
        assert(h == math.floorMod(id, 1048573L) * 2654435761L % 1000000007L,
          s"hash mismatch for doc $id")
      }
      // the reducing modulus must actually scramble id order — without
      // it the "sample" is just the lowest-id prefix (review finding)
      val holdIds = hold.map(_._2).sorted
      val lowestIds = rows.map(_._2).sorted.take(quota)
      assert(holdIds != lowestIds || quota <= 1,
        s"$lang: holdout equals the lowest-doc_id prefix — hash is order-preserving")
    }
  }

  test("t13 stripMarkup: script content vanishes, tags to spaces, whitespace collapsed") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "a<script>var x=1;</script>b"),            // content must vanish
      (3L, "<div class=\"x\">padded   spaces</div>"), // attr tag + inner runs
      (4L, "no markup at all"),
      (5L, "<script>s</script><p>kept</p><script>t</script>"),
      (6L, "a < b and c > d"),                        // bare < > are NOT tags... almost:
      (7L, "x<script type=\"a\">v=1;</script>y"),     // attributes on the opener
      (8L, "x<SCRIPT>v=2;</SCRIPT>y"),                // case-insensitive
      (9L, "k<script>if(a<b){}</script>m"),           // '<' in content: KNOWN leak, tags-only strip
    ).toDF("doc_id", "t")
    val out = graft.operators.Documents.stripMarkup(rows, "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((4L, 0L, "hello world")))
    assert(out(2L) == ((2L, 1L, "a b")))
    assert(out(3L) == ((2L, 0L, "padded spaces")))
    assert(out(4L) == ((0L, 0L, "no markup at all")))
    assert(out(5L) == ((6L, 2L, "kept")))
    // '< b and c >' DOES parse as a tag under the shape-based '<[^>]*>'
    // (boilerplate strippers accept this false positive; pinned so the
    // behavior is documented, not accidental)
    assert(out(6L) == ((1L, 0L, "a d")))
    assert(out(7L) == ((2L, 1L, "x y")), "attributed opener must still drop content")
    assert(out(8L) == ((2L, 1L, "x y")), "SCRIPT case must still drop content")
    // content containing '<' does NOT match [^<]* — the documented
    // limit: tags are stripped (the '<b){}</script>' run parses as ONE
    // shape-tag), the content before it remains
    assert(out(9L) == ((2L, 0L, "k if(a m")))
    intercept[IllegalArgumentException] {
      graft.operators.Documents.stripMarkup(rows.withColumn("stripped", $"t"), "t")
    }
  }

  test("t11 heavy hitters: MG guarantee holds against t03's exact counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val C = 64
    val exact = Catalog.byName("t03_token_frequency").run(spark, sf)
      .select("tok", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (C + 1)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(split($"text", " ")).as("tok")).as[String]
    val est = graft.operators.Documents.heavyHitters(toks, C)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // never overcounts; undercount within the merged n/(C+1) bound
    est.foreach { case (t, e) =>
      assert(e <= exact(t), s"'$t' overcounted: $e > ${exact(t)}")
      assert(exact(t) - e <= bound, s"'$t' undercount ${exact(t) - e} > $bound")
    }
    // every true heavy hitter survives the sketch
    exact.filter(_._2 > bound).foreach { case (t, c) =>
      assert(est.contains(t), s"heavy hitter '$t' (n=$c, bound=$bound) missing")
    }
    assert(est.nonEmpty && exact.exists(_._2 > bound),
      "fixture must actually exercise the guarantee")
  }

  test("d09 canonical pick: keeps the best-quality member, doc_id on ties") {
    // cluster {1,2}: shingle sets {abg,bgd,"gamma delta the"} vs
    // {abg,bgd,"gamma delta zed"} -> jaccard 2/4 = 0.5 (just in); doc 1
    // carries the stopword 'the' (score 0.92) while doc 2 is clean
    // (score 1.0) -> the pick must be 2, NOT the min-id canonical d05
    // reports. cluster {7,8}: identical texts, equal scores -> tie falls
    // to min doc_id 7.
    val dir = plantedDir(Seq(
      1L -> "alpha beta gamma delta the",
      2L -> "alpha beta gamma delta zed",
      7L -> "one two three four",
      8L -> "one two three four",
      9L -> "lone unrelated document text"))
    val out = Catalog.byName("d09_canonical_pick").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 1.0, 2L), (7L, 7L, 1.0, 2L)), s"got ${out.toSeq}")
    // and the min-id canonical (d05) disagrees on cluster 1 — the
    // operator genuinely changes the survivor, it isn't d05 restated
    val d05 = Catalog.byName("d05_neardup_clusters").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d05 == Set((1L, 1L), (2L, 1L), (7L, 7L), (8L, 7L)))
  }

  test("t08 repetition: dup_frac and top_share on planted bigram counts") {
    // doc 1: bigrams (a b, b a, a b, b a, a b) -> 5 total, 2 distinct,
    // top count 3; doc 2: 2 distinct bigrams, no repeats; doc 3: a single
    // token has no bigrams and must be absent
    val dir = plantedDir(Seq(
      1L -> "a b a b a b",
      2L -> "x y z",
      3L -> "solo"))
    val out = Catalog.byName("t08_repetition").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 5L, 2L, 3L, 3.0 / 5.0, 3.0 / 5.0),
      (2L, 2L, 2L, 1L, 0.0, 1.0 / 2.0)), s"got ${out.toSeq}")
  }

  test("p01 sequence packing: cumulative offsets cross the 512-token budget per shard") {
    import spark.implicits._
    def words(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("docs-fixture").toString
    Seq(
      (1L, words(300), "en"), // seq 0, offset 0
      (2L, words(300), "en"), // seq 0, offset 300
      (3L, words(100), "en"), // cum_before 600 -> seq 1, offset 88
      (4L, words(10), "de"))  // own shard: seq 0, offset 0
      .toDF("doc_id", "text", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = Catalog.byName("p01_sequence_pack").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("de", 4L, 10L, 0L, 0L),
      ("en", 1L, 300L, 0L, 0L),
      ("en", 2L, 300L, 0L, 300L),
      ("en", 3L, 100L, 1L, 88L)), s"got ${out.toSeq}")
  }

  test("packSequences: bucketed two-phase cumsum equals the single-window form, " +
    "and no doc_id-ordered window partitions by lang alone") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // skewed fixture: one dominant lang with sparse/offset ids, one small
    val rnd = new scala.util.Random(7)
    val docs = (0 until 500).map { i =>
      val lang = if (i % 10 == 0) "de" else "en"
      (lang, i.toLong * 3 + 17, (rnd.nextInt(400) + 1).toLong)
    }.toDF("lang", "doc_id", "n_toks")
    val got = Documents.packSequences(docs, budget = 512, buckets = 8)
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = docs
      .withColumn("cum", coalesce(sum($"n_toks").over(w), lit(0L)))
      .select($"lang", $"doc_id", $"n_toks",
        floor($"cum" / 512).cast("long").as("seq_id"), ($"cum" % 512).as("seq_off"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id", "n_toks", "seq_id", "seq_off").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    assert(rows(got) == rows(want), "two-phase packing must be bit-identical to the naive window")
    // the scale contract: the doc_id-ordered cumsum window is partitioned
    // by (lang, _bkt) — a window partitioned by lang ALONE ordering by
    // doc_id would be the one-task-per-lang plan this exists to kill. The
    // only lang-only window orders by _bkt (the ≤`buckets`-row offsets).
    val plan = got.queryExecution.optimizedPlan.toString
    assert("windowspecdefinition\\(lang#\\d+, _bkt#\\d+L?, doc_id".r.findFirstIn(plan).isDefined,
      s"expected the heavy cumsum window keyed on (lang, _bkt):\n$plan")
    assert("windowspecdefinition\\(lang#\\d+, doc_id".r.findFirstIn(plan).isEmpty,
      s"found a doc_id-ordered window partitioned by lang alone:\n$plan")
  }

  test("p02 weighted sampling: deterministic and near its per-source targets") {
    val run1 = Catalog.byName("p02_weighted_sample").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val run2 = Catalog.byName("p02_weighted_sample").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(run1.toSeq == run2.toSeq, "sampling is a pure function of the input")
    run1.filter(_._3 >= 20).foreach { case (src, fracPm, n, sampled) =>
      val got = sampled.toDouble / n
      val want = fracPm.toDouble / 1000
      assert(math.abs(got - want) < 0.2,
        s"$src sampled $got of docs, target $want")
    }
  }

  test("d08 duplicate spans == driver-side sliding-window replay") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val spanSets = texts.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    }.toMap
    val want = (for {
      (a, sa) <- spanSets.toSeq; (b, sb) <- spanSets.toSeq if a < b
      n = sa.intersect(sb).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    val got = Catalog.byName("d08_duplicate_spans").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture must contain shared spans")
  }

  test("d10 removeDuplicateSpans: keeper keeps, run merges, within-doc repeats intact, " +
      "exact dup empties, extra columns preserved") {
    import spark.implicits._
    // doc 1 is the min-id keeper of a 10-token duplicated run; doc 2
    // embeds the same run mid-text (3 overlapping duplicated 8-grams →
    // one maximal 10-token cut); doc 3 repeats an 8-gram twice WITHIN
    // itself but shares it with nobody (t08's concern, not d10's);
    // doc 4 is an exact copy of doc 1 (every 8-gram duplicated → the
    // whole text is cut away, which is what running AFTER exact dedup
    // avoids and what the operator must still do correctly standalone)
    val run = (1 to 10).map(i => s"dup$i").mkString(" ")
    val d1 = s"alpha beta $run gamma delta"
    val d2 = s"pre1 pre2 pre3 $run post1 post2 post3"
    val selfRep = (1 to 8).map(i => s"rep$i").mkString(" ")
    val d3 = s"$selfRep mid $selfRep"
    val docs = Seq((1L, d1, "a"), (2L, d2, "b"), (3L, d3, "c"), (4L, d1, "d"))
      .toDF("doc_id", "text", "src")
    val out = graft.operators.Documents.removeDuplicateSpans(docs, 8)
      .select("doc_id", "text", "src", "n_span_tokens_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((d1, "a", 0L)), "keeper's occurrence survives untouched")
    assert(out(2L) == (("pre1 pre2 pre3 post1 post2 post3", "b", 10L)),
      "overlapping duplicated 8-grams excise as one maximal run")
    assert(out(3L) == ((d3, "c", 0L)), "within-doc-only repetition is not duplication")
    assert(out(4L) == (("", "d", 14L)), "an exact duplicate doc loses every token")
  }

  test("d10 span removal == driver-side splice replay (sf fixture)") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // keeper per span string duplicated across >= 2 distinct docs
    val occ = texts.toSeq.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      (0 to toks.length - 8).map(i => (id, i, toks.slice(i, i + 8).mkString(" ")))
    }
    val keeper: Map[String, Long] = occ.groupBy(_._3)
      .collect { case (sp, os) if os.map(_._1).distinct.size >= 2 => sp -> os.map(_._1).min }
      .toMap
    val want = texts.toSeq.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      val drop = (0 to toks.length - 8).flatMap { i =>
        keeper.get(toks.slice(i, i + 8).mkString(" ")) match {
          case Some(kp) if kp != id => i until i + 8
          case _ => Nil
        }
      }.toSet
      if (drop.isEmpty) None
      else Some((id, drop.size.toLong,
        toks.zipWithIndex.collect { case (tk, i) if !drop(i) => tk }.mkString(" ")))
    }.sortBy(_._1)
    val got = Catalog.byName("d10_span_removal").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(want.nonEmpty, "fixture must contain cross-doc duplicated spans")
    assert(got == want)
  }

  test("p03 quality mix: keep decisions replay the integer hash exactly") {
    val rows = Catalog.byName("p03_quality_mix").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = texts.groupBy { case (_, t) =>
      val toks = t.split(" ", -1)
      toks.distinct.length.toLong * 10 / toks.length
    }.map { case (bucket, ds) =>
      val frac = 200L + 80L * bucket
      val sampled = ds.count { case (id, _) =>
        (((id % 1048573 + 1048573) % 1048573) * 2654435761L) % 1000 < frac
      }
      bucket -> (frac, ds.length.toLong, sampled.toLong)
    }
    assert(rows.toMap == want, s"got ${rows.toMap}, want $want")
    // upsampling must be visible: the top occupied bucket keeps a higher
    // fraction than the bottom one
    val fracs = rows.map { case (b, (_, n, s)) => b -> (s.toDouble / n) }.sortBy(_._1)
    assert(fracs.last._2 > fracs.head._2,
      s"quality upsampling not visible: $fracs")
  }

  test("allocateBudget == iterative water-filling reference; invariants hold") {
    import spark.implicits._
    // the TRUE iterative algorithm: repeatedly give every unsaturated
    // source its proportional share of the remaining budget; saturate
    // any source whose share exceeds its availability; repeat until
    // stable. The operator's closed-form prefix rule must agree.
    def reference(rows: Seq[(String, Long, Long)], budget: Long): Map[String, Long] = {
      var sat = Map.empty[String, Long]
      var active = rows
      var changed = true
      while (changed) {
        changed = false
        val r = budget - sat.values.sum
        val wsum = active.map(_._2).sum
        val over = active.filter { case (_, w, avail) => avail * wsum <= r * w }
        if (over.nonEmpty) {
          sat ++= over.map(s => s._1 -> s._3)
          active = active.filterNot(s => sat.contains(s._1))
          changed = true
        }
      }
      val r = budget - sat.values.sum
      val wsum = active.map(_._2).sum
      sat ++ active.map { case (src, w, _) => src -> (r * w / wsum) }
    }
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { trial =>
      val n = 1 + rnd.nextInt(12)
      val rows = (0 until n).map(i =>
        (f"s$i%02d", 1L + rnd.nextInt(40), 1L + rnd.nextInt(5000).toLong))
      val budget = rnd.nextInt(2 * rows.map(_._3).sum.toInt + 1).toLong
      val got = Documents.allocateBudget(
          rows.toDF("source", "w", "avail"), budget)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      val want = reference(rows, budget)
      assert(got == want, s"trial $trial budget=$budget rows=$rows")
      // invariants: never exceed availability; never exceed the budget
      val byS = rows.map(r => r._1 -> r._3).toMap
      got.foreach { case (s, a) => assert(a >= 0 && a <= byS(s), s"$s") }
      assert(got.values.sum <= budget)
    }
  }

  test("t16 quality classifier: full driver replay of hash, weights, score and keep") {
    // independent reimplementation of the serving pipeline: per-token
    // char fold -> Knuth mix -> 64-bucket weight -> BIGINT sum ->
    // length-normalized threshold. Run on the corpus so every doc is a
    // test vector.
    def score(text: String): (Long, Long) = {
      val toks = text.split(" ", -1)
      var s = 0L
      toks.foreach { t =>
        var h = 0L
        t.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
        val b = (h * 2654435761L) % 64L
        s += (b * 2654435761L) % 1997L - 998L
      }
      (toks.length.toLong, s)
    }
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> score(r.getString(1))).toMap
    val got = Catalog.byName("t16_quality_classifier").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.length == want.size)
    got.foreach { case (id, n, fp, sc, keep) =>
      assert((n, fp) == want(id), s"doc $id")
      assert(sc == fp.toDouble / n && keep == (sc > 0.0), s"doc $id")
    }
    // the stub weights are ~zero-mean, so the gate must actually split
    // the corpus — an all-keep or all-drop outcome means a dead model
    val kept = got.count(_._5)
    assert(kept > 0 && kept < got.length, s"degenerate keep rate: $kept/${got.length}")
  }

  test("chunkDocuments: spans, overlap, short final chunk, passthrough, guards") {
    import spark.implicits._
    // 10 tokens, chunks of 4 every 3 → starts 0,3,6,9; final chunk short
    val toks = (0 until 10).map(i => s"w$i")
    val docs = Seq((7L, "en", toks.mkString(" "))).toDF("doc_id", "lang", "text")
    val out = Documents.chunkDocuments(docs, chunkToks = 4, overlap = 1)
      .orderBy("chunk_id")
      .select("doc_id", "lang", "chunk_id", "tok_start", "n_toks", "chunk_text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(out.toSeq == Seq(
      (7L, "en", 0L, 0L, 4L, "w0 w1 w2 w3"),
      (7L, "en", 1L, 3L, 4L, "w3 w4 w5 w6"),
      (7L, "en", 2L, 6L, 4L, "w6 w7 w8 w9"),
      (7L, "en", 3L, 9L, 1L, "w9")), s"got ${out.toSeq}")
    // overlap 0 partitions the doc exactly; every token appears once
    val exact = Documents.chunkDocuments(docs, chunkToks = 4)
      .orderBy("chunk_id").select("chunk_text").as[String].collect()
    assert(exact.flatMap(_.split(" ")).toSeq == toks)
    intercept[IllegalArgumentException] {
      Documents.chunkDocuments(docs, chunkToks = 4, overlap = 4)
    }
    intercept[IllegalArgumentException] {
      Documents.chunkDocuments(docs, chunkToks = 0)
    }
  }

  test("chunkDocuments composes with packDocuments: chunks pack like documents") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chunk the corpus, then pack the CHUNKS into 128-token training
    // sequences — the long-doc pipeline shape (chunk → pack). The chunk
    // key (doc_id, chunk_id) flattens to a packable id preserving token
    // order; replay the cumsum on the driver for the exact assignment.
    val chunks = Documents.chunkDocuments(
      spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", lit("all").as("lang"), $"text"), 64, 16)
      .withColumn("cid", $"doc_id" * 1000000L + $"chunk_id")
    val packed = Documents.packSequences(
      chunks.select($"lang", $"cid".as("doc_id"), $"n_toks"), budget = 128)
      .select($"doc_id", $"n_toks", $"seq_id", $"seq_off").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed.nonEmpty)
    var cum = 0L
    val want = packed.sortBy(_._1).map { case (id, n, _, _) =>
      val r = (id, n, cum / 128, cum % 128); cum += n; r
    }
    assert(packed.sortBy(_._1).toSeq == want.toSeq,
      "chunk packing must equal the ordered-cumsum replay")
  }

  test("chunkDocuments composes onto a streaming frame unchanged (stateless generator)") {
    import spark.implicits._
    // chunking carries no state, watermark or shuffle, so the SAME call
    // drops into a streaming ingest ahead of StreamingCuration — pin it
    val dir = java.nio.file.Files.createTempDirectory("chunk-stream").toString
    val rows = Seq((5L, "w0 w1 w2 w3 w4 w5 w6"))
    rows.toDF("doc_id", "text").write.parquet(s"$dir/in")
    val sdf = spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/in")
    val q = Documents.chunkDocuments(sdf, 4, 1).writeStream.format("memory")
      .queryName("chunk_stream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "chunk_id", "tok_start", "n_toks", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    val streamed = canon(spark.table("chunk_stream"))
    val batch = canon(Documents.chunkDocuments(rows.toDF("doc_id", "text"), 4, 1))
    assert(streamed == batch && batch.nonEmpty,
      s"streaming chunks $streamed != batch $batch")
  }

  test("chunkDocuments composes with the v-family: chunk-level embedding join") {
    import spark.implicits._
    // the retrieval-serving shape: every chunk carries its document's
    // embedding (doc-level vectors joined down to chunk granularity) —
    // no chunk may be lost or duplicated by the join
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val chunks = Documents.chunkDocuments(docs, 64, 16)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".as("doc_id"), $"embedding".cast("array<double>").as("v"))
    val joined = chunks.join(vecs, Seq("doc_id"), "left")
    assert(joined.count() == chunks.count(), "join must preserve chunk cardinality")
    val chunksWithVecs = joined.filter($"v".isNotNull).count()
    val docsWithVecs = docs.join(vecs, Seq("doc_id"), "left_semi").count()
    assert(docsWithVecs > 0 && chunksWithVecs >= docsWithVecs,
      s"expected every embedded doc's chunks to carry its vector " +
        s"($chunksWithVecs chunk rows vs $docsWithVecs docs)")
  }

  test("p08 on an empty corpus yields an empty mix report, not a null unbox") {
    import spark.implicits._
    // sum(avail) over zero sources is NULL; the query must coalesce it
    // to budget 0 and flow through to an empty frame with the full
    // report schema (parity with the explicit empty-corpus gates
    // elsewhere in the catalog)
    val dir = java.nio.file.Files.createTempDirectory("p08empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Catalog.byName("p08_budget_mix").run(spark, dir)
    assert(out.columns.toSeq ==
      Seq("source", "w", "avail", "alloc", "n_kept", "kept_tokens"))
    assert(out.count() == 0L)
  }

  test("allocateBudget rejects instances whose saturation arithmetic overflows i64") {
    import spark.implicits._
    // ten max-weight sources at max avail: every per-bound passes but
    // avail·(W − cumW) crosses the i64 edge — the require() must name
    // the problem instead of ANSI throwing mid-plan
    val rows = (0 until 10).map(i => (f"s$i%02d", 1000000L, 1000000000000L))
    val ex = intercept[IllegalArgumentException] {
      Documents.allocateBudget(rows.toDF("source", "w", "avail"), 1000000000000L)
        .collect()
    }
    assert(ex.getMessage.contains("overflows"), ex.getMessage)
    // just inside the envelope still computes: one max-avail source and
    // total weight mass small enough that max(avail)·sum(w) fits
    val ok = Documents.allocateBudget(
        Seq(("s00", 1000000L, 1000000000000L), ("s01", 1000000L, 1000L))
          .toDF("source", "w", "avail"), 500000000000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ok("s01") == 1000L && ok("s00") <= 500000000000L - 1000L + 1000000L)
  }

  test("t15 broadcast-map scoring kernel replays the stream-join reference bit-for-bit") {
    // the r20 kernel collects the vocab-bounded bigram/unigram counts
    // and scores each doc in one map pass; this replays the former
    // stream form — bigram pairs joined to the big/lft/uni tables with
    // the identical λ-interpolated −ln quantization — over the real
    // fixture corpus and requires row-identical (doc_id, n_pairs,
    // xent_e9). Spark log() is StrictMath.log, so a ulp drift here
    // would mean the kernel's arithmetic association diverged.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Catalog.byName("t15_bigram_lm_xent").run(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val arr = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 2)
    val pairs = arr.as[(Long, Seq[String])]
      .flatMap { case (id, toksSeq) =>
        val t = toksSeq.toArray
        (1 until t.length).iterator.map(i => (id, t(i - 1), t(i)))
      }.toDF("doc_id", "prev", "cur")
    val big = pairs.groupBy($"prev", $"cur").agg(count(lit(1)).as("cb"))
    val lft = big.groupBy($"prev").agg(sum($"cb").as("cl"))
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split($"text", " ")).as("term"))
    val uni = toks.groupBy($"term").agg(count(lit(1)).as("cu"))
    val tot = toks.agg(count(lit(1)).cast("double").as("t"))
    val want = pairs.join(big, Seq("prev", "cur")).join(lft, Seq("prev"))
      .join(uni, $"cur" === $"term").crossJoin(broadcast(tot))
      .withColumn("c_e9", floor(
        -log(lit(0.75) * ($"cb".cast("double") / $"cl".cast("double"))
          + lit(0.25) * ($"cu".cast("double") / $"t")) * lit(1e9) + lit(0.5))
        .cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum($"c_e9").as("s_e9"))
      .withColumn("xent_e9", expr("s_e9 div n_pairs"))
      .select($"doc_id", $"n_pairs", $"xent_e9")
      .orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got == want,
      s"kernel diverges: got ${got.take(3)} ... want ${want.take(3)}")
  }
}
