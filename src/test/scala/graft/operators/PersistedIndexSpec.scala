package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the build-once/fingerprint-skip contract of the r12 persisted
  * near-dup pair indexes (`ensureSimhashIndex` / `ensureMediaIndex`):
  * a second ensure over an unchanged corpus must NOT rewrite the
  * artifact (cross-JVM serve is a freshness scan + read), `force`
  * must always rebuild (the d00/m00 named-builder contract), and a
  * corpus edit must invalidate the fingerprint and rebuild. Observed
  * through the artifact files' mtimes — the same signal a cluster
  * operator would audit. */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(dir: String, extra: Seq[(Long, String)] = Nil): Unit = {
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally different words nine ten eleven twelve"))
    (base ++ extra).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def maxMtime(loc: String): Long = {
    val p = new java.io.File(new java.net.URI(loc).getPath)
    def walk(f: java.io.File): Seq[Long] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.lastModified())
    walk(p).max
  }

  test("ensureSimhashIndex: build once, skip when fresh, force & corpus-change rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("simidx").toString
    corpus(dir)
    graft.CacheRegistry.unpersistAll()
    val loc = Documents.ensureSimhashIndex(spark, dir)
    val built = maxMtime(loc)
    // unchanged corpus: the second ensure is a freshness probe, not a build
    Thread.sleep(1100) // mtime granularity
    assert(Documents.ensureSimhashIndex(spark, dir) == loc)
    assert(maxMtime(loc) == built, "fresh index must not be rewritten")
    // force: the named-builder path always rebuilds
    Documents.ensureSimhashIndex(spark, dir, force = true)
    val forced = maxMtime(loc)
    assert(forced > built, "force=true must rewrite the artifact")
    // corpus change: fingerprint mismatch triggers a rebuild
    Thread.sleep(1100)
    corpus(dir, extra = Seq((9L, "a brand new document arrives here now")))
    Documents.ensureSimhashIndex(spark, dir)
    assert(maxMtime(loc) > forced, "changed corpus must rebuild")
    graft.CacheRegistry.unpersistAll()
  }

  test("ensureMediaIndex: fingerprint-skip honors the band-bucket gate parameter") {
    val dir = java.nio.file.Files.createTempDirectory("mediaidx").toString
    corpus(dir)
    graft.CacheRegistry.unpersistAll()
    val loc = Multimodal.ensureMediaIndex(spark, dir)
    val built = maxMtime(loc)
    Thread.sleep(1100)
    assert(Multimodal.ensureMediaIndex(spark, dir) == loc)
    assert(maxMtime(loc) == built, "fresh index must not be rewritten")
    // a DIFFERENT gate bound is a different build contract — the meta
    // fingerprint includes it, so the ensure rebuilds rather than
    // serving an artifact whose build was gated differently
    Multimodal.ensureMediaIndex(spark, dir, maxBandBucket = 1L << 20)
    assert(maxMtime(loc) > built, "gate change must rebuild")
    graft.CacheRegistry.unpersistAll()
  }

  test("phashPairs serves fresh pairs after an in-session corpus change") {
    // payloads agreeing on the FIRST 64 bytes hash identically (the 8×8
    // resize truncates there) while differing tails defeat the exact-
    // payload collapse — a deterministic hamming-0 pair; prefix B's
    // second half inverts A's alternation, so A-vs-B hamming is 32 ≫ 6
    val pA = "ab" * 32
    val pB = "ab" * 16 + "ba" * 16
    val dir = java.nio.file.Files.createTempDirectory("phashfresh").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.CacheRegistry.unpersistAll()
    write(Seq((0L, pA + "t0"), (1L, pA + "t1"), (2L, pB + "x")))
    def pairs(): Set[(Long, Long)] =
      graft.SparkEntry.queries("m05_phash_neardup")(spark, dir)
        .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs() == Set((0L, 1L)))
    // rewrite the corpus IN PLACE in the same session: doc 1 now shares
    // prefix B — the serve must re-fingerprint, rebuild, and release the
    // registry entry rather than returning the memoized/cached old rows
    write(Seq((0L, pA + "t0"), (1L, pB + "t1"), (2L, pB + "x")))
    assert(pairs() == Set((1L, 2L)), "in-session corpus change must invalidate the serve")
    graft.CacheRegistry.unpersistAll()
  }

  test("simhash rebuild reads fresh shingles past a warm plan-matched cache") {
    // The build input (NearDup.shingled over the documents parquet) is a
    // pure-Catalyst plan that d02/d03/d05/Curation retain as
    // "neardup.shingles" — CacheManager substitutes the warm entry into
    // ANY later plan containing that subtree (InMemoryFileIndex equality
    // is by rootPaths, so an in-place corpus rewrite still plan-matches).
    // Without simhashPairsCompute's unconditional release, the rebuild
    // after a corpus change would read the PRE-rewrite shingle rows and
    // stamp the NEW fingerprint into _meta: durably-persisted wrong
    // pairs. The rewrite must happen OUTSIDE this Spark session (at
    // 100 TB the ingest pipeline is another process): an in-session
    // `.mode("overwrite")` write self-heals via CacheManager
    // .recacheByPath, which is why the hole never showed in the other
    // corpus-change tests — so the v2 corpus is staged to a sibling dir
    // and moved over the rootPath with filesystem ops.
    val dir = java.nio.file.Files.createTempDirectory("simstale").toString
    graft.CacheRegistry.unpersistAll()
    // doc 9 is an exact dup of doc 0 → guaranteed simhash pair (0, 9, 0)
    corpus(dir, extra = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta")))
    Documents.ensureSimhashIndex(spark, dir)
    // warm "neardup.shingles" through the d02 path (retains + materializes)
    graft.SparkEntry.queries("d02_neardup_jaccard")(spark, dir).collect()
    assert(graft.CacheRegistry.entries.contains("neardup.shingles"))
    // external rewrite: doc 9 is now an exact dup of doc 2 instead
    val staging = java.nio.file.Files.createTempDirectory("simstale2").toString
    corpus(staging, extra = Seq((9L, "one two three four five six seven eight")))
    locally {
      import scala.jdk.CollectionConverters._
      val dst = java.nio.file.Paths.get(dir, "documents.parquet")
      val src = java.nio.file.Paths.get(staging, "documents.parquet")
      java.nio.file.Files.list(dst).iterator().asScala
        .foreach(java.nio.file.Files.delete)
      java.nio.file.Files.list(src).iterator().asScala.foreach { f =>
        java.nio.file.Files.move(f, dst.resolve(f.getFileName.toString))
      }
    }
    val loc = Documents.ensureSimhashIndex(spark, dir)
    val persisted = spark.read.parquet(loc)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(persisted.contains((2L, 9L)),
      "rebuild must see the POST-rewrite corpus (fresh shingles)")
    assert(!persisted.contains((0L, 9L)),
      "rebuild must not persist pairs computed from stale cached shingles")
    graft.CacheRegistry.unpersistAll()
  }

  // ---- appendToSimhashIndex (d11 surface) ------------------------------
  // The fixtures below pin the claims the append scaladoc makes: resident
  // files byte-identical across an append, overlap/base-mismatch/poison
  // refusals, the poison-first crash window, and the old-layout migration
  // error.

  private val baseDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta"),
    (1L, "alpha beta gamma delta epsilon zeta eta iota"),
    (2L, "one two three four five six seven eight"),
    (3L, "totally different words nine ten eleven twelve"))
  // doc 10 exactly duplicates doc 0 (guaranteed CROSS pair at hamming 0);
  // doc 11 exactly duplicates doc 10 (guaranteed WITHIN-DELTA pair)
  private val deltaDocs = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta"),
    (12L, "wholly unrelated thirteen fourteen fifteen sixteen"))

  /** Relative path → (size, md5) of every regular file under `loc` — the
    * byte-for-byte witness for "append adds files, never rewrites". */
  private def fileSnapshot(loc: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(new java.net.URI(loc).getPath)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        root.relativize(p).toString -> (bytes.length.toLong, md5)
      }.toMap
  }

  test("append: resident _pairs/_sigs files untouched byte-for-byte; result == full rebuild") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val delta = deltaDocs.toDF("doc_id", "text")
    val bm = graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text")
    val gm = graft.plans.PersistedIndex.fingerprint(base.unionByName(delta), "doc_id", "text")
    Documents.ensureSimhashIndexFor(spark, base, "apx_bytes",
      Seq("n" -> bm._1, "fp" -> bm._2), force = true)
    val pairsBefore = fileSnapshot(P.location(spark, "apx_bytes", "_pairs"))
    val sigsBefore = fileSnapshot(P.location(spark, "apx_bytes", "_sigs"))
    val loc = Documents.appendToSimhashIndex(spark, delta, "apx_bytes", bm, gm)
    val pairsAfter = fileSnapshot(P.location(spark, "apx_bytes", "_pairs"))
    val sigsAfter = fileSnapshot(P.location(spark, "apx_bytes", "_sigs"))
    for ((before, after, what) <- Seq((pairsBefore, pairsAfter, "_pairs"),
                                      (sigsBefore, sigsAfter, "_sigs"))) {
      before.foreach { case (rel, sig) =>
        assert(after.get(rel).contains(sig),
          s"$what resident file $rel was rewritten or removed by the append") }
      assert(after.size > before.size, s"$what append must add new files")
    }
    // grown fingerprint stamped last → a same-meta ensure now SKIPS
    val served = spark.read.parquet(loc)
      .as[(Long, Long, Long)].collect().toSet
    assert(served.contains((0L, 10L, 0L)), "cross resident×delta pair missing")
    assert(served.contains((10L, 11L, 0L)), "within-delta pair missing")
    // append ∪ resident EQUALS a forced full rebuild on the grown corpus
    Documents.ensureSimhashIndexFor(spark, base.unionByName(delta), "apx_full",
      Seq("n" -> gm._1, "fp" -> gm._2), force = true)
    val full = spark.read.parquet(P.location(spark, "apx_full", "_pairs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(served == full, "append-then-serve must equal a full rebuild")
    graft.CacheRegistry.unpersistAll()
  }

  test("append refuses doc_ids that overlap the indexed corpus") {
    graft.CacheRegistry.unpersistAll()
    val base = baseDocs.toDF("doc_id", "text")
    val bm = graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text")
    Documents.ensureSimhashIndexFor(spark, base, "apx_overlap",
      Seq("n" -> bm._1, "fp" -> bm._2), force = true)
    val overlapping = Seq((0L, "same id as a resident doc")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Documents.appendToSimhashIndex(spark, overlapping, "apx_overlap",
        bm, (bm._1 + 1, 12345L, bm._3))
    }
    assert(e.getMessage.contains("overlap"))
    graft.CacheRegistry.unpersistAll()
  }

  test("append refuses a base-fingerprint mismatch and the poison sentinel") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val delta = deltaDocs.toDF("doc_id", "text")
    val bm = graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text")
    val gm = graft.plans.PersistedIndex.fingerprint(base.unionByName(delta), "doc_id", "text")
    Documents.ensureSimhashIndexFor(spark, base, "apx_basechk",
      Seq("n" -> bm._1, "fp" -> bm._2), force = true)
    // wrong base: the caller thinks the index was built from another corpus
    val e1 = intercept[IllegalArgumentException] {
      Documents.appendToSimhashIndex(spark, delta, "apx_basechk",
        (bm._1, bm._2 + 1, bm._3), gm)
    }
    assert(e1.getMessage.contains("does not match the expected base"))
    // empty delta: grown == base returns the pair table and writes
    // nothing; grown != base means the delta frame lost rows the caller
    // counted — refuse
    val metaBefore = fileSnapshot(P.location(spark, "apx_basechk", "_meta"))
    assert(Documents.appendToSimhashIndex(spark, delta.limit(0), "apx_basechk", bm, bm) ==
      P.location(spark, "apx_basechk", "_pairs"))
    assert(fileSnapshot(P.location(spark, "apx_basechk", "_meta")) == metaBefore,
      "an empty append must leave _meta untouched")
    val e0 = intercept[IllegalArgumentException] {
      Documents.appendToSimhashIndex(spark, delta.limit(0), "apx_basechk", bm, gm)
    }
    assert(e0.getMessage.contains("lost rows"))
    // poison sentinel: a crashed prior append left _meta at -1 — a RETRY
    // must refuse (appending again would duplicate pairs durably),
    // directing the caller to the rebuilding ensure
    P.poison(spark, "apx_basechk", Seq("n", "fp"))
    val e2 = intercept[IllegalArgumentException] {
      Documents.appendToSimhashIndex(spark, delta, "apx_basechk", bm, gm)
    }
    assert(e2.getMessage.contains("ensureSimhashIndex"))
    graft.CacheRegistry.unpersistAll()
  }

  test("poison-first crash window: next ensure rebuilds instead of fingerprint-matching") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val bm = graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text")
    val meta = Seq("n" -> bm._1, "fp" -> bm._2)
    val loc = Documents.ensureSimhashIndexFor(spark, base, "apx_crash", meta,
      force = true)
    val built = maxMtime(loc)
    Thread.sleep(1100)
    // same meta, fresh artifact: ensure must skip
    Documents.ensureSimhashIndexFor(spark, base, "apx_crash", meta)
    assert(maxMtime(loc) == built, "fresh index must not be rewritten")
    // simulate a crash INSIDE the append window (after poison, before
    // stamp): _meta holds the sentinel, artifact tables are suspect
    P.poison(spark, "apx_crash", Seq("n", "fp"))
    Documents.ensureSimhashIndexFor(spark, base, "apx_crash", meta)
    assert(maxMtime(loc) > built,
      "poisoned meta must force a rebuild on the next ensure")
    graft.CacheRegistry.unpersistAll()
  }

  test("append killed between poison and stamp: sentinel stays, retry refuses, next ensure rebuilds clean") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val bm = P.fingerprint(base, "doc_id", "text")
    val gm = P.fingerprint(base.unionByName(deltaDocs.toDF("doc_id", "text")), "doc_id", "text")
    val meta = Seq("n" -> bm._1, "fp" -> bm._2)
    Documents.ensureSimhashIndexFor(spark, base, "apx_killed", meta, force = true)
    // the shared append step with a body that appends _pairs and dies
    // before the rest of its writes and the stamp
    val killed = intercept[RuntimeException] {
      P.append(spark, "apx_killed", "ensureSimhashIndex", meta,
          Seq("n" -> gm._1, "fp" -> gm._2)) { commit =>
        commit {
          P.appendArtifact(Seq((0L, 10L, 0L)).toDF("doc_a", "doc_b", "hamming"),
            "apx_killed", "_pairs")
          throw new RuntimeException("killed mid-append")
        }
      }
    }
    assert(killed.getMessage == "killed mid-append")
    val stored = spark.read.parquet(P.location(spark, "apx_killed", "_meta"))
      .select($"n", $"fp").as[(Long, Long)].collect().toSeq
    assert(stored == Seq((-1L, -1L)), s"_meta must hold the poison sentinel, got $stored")
    // a retried append refuses and sends the caller to the rebuild
    val retry = intercept[IllegalArgumentException] {
      Documents.appendToSimhashIndex(spark, deltaDocs.toDF("doc_id", "text"),
        "apx_killed", bm, gm)
    }
    assert(retry.getMessage.contains("ensureSimhashIndex"))
    // the next (unforced) ensure rebuilds _pairs equal to a clean build
    Documents.ensureSimhashIndexFor(spark, base, "apx_killed", meta)
    Documents.ensureSimhashIndexFor(spark, base, "apx_clean", meta, force = true)
    def pairs(t: String) = spark.read.parquet(P.location(spark, t, "_pairs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs("apx_killed") == pairs("apx_clean"),
      "the rebuild must drop the half-appended pair")
    graft.CacheRegistry.unpersistAll()
  }

  test("append on a pre-_sigs layout raises the migration error") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val delta = deltaDocs.toDF("doc_id", "text")
    val bm = graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text")
    val gm = graft.plans.PersistedIndex.fingerprint(base.unionByName(delta), "doc_id", "text")
    // a pre-aux artifact: pairs + meta written by the OLD protocol (no
    // _sigs) — exactly what a pre-r13 build left on disk
    P.ensure(spark, "apx_oldlayout", Seq("n" -> bm._1, "fp" -> bm._2),
      force = true)(Seq((0L, 1L, 0L)).toDF("doc_a", "doc_b", "hamming"))
    val e = intercept[IllegalStateException] {
      Documents.appendToSimhashIndex(spark, delta, "apx_oldlayout", bm, gm)
    }
    assert(e.getMessage.contains("predates the appendable layout"))
    graft.CacheRegistry.unpersistAll()
  }

  // ---- appendToMediaIndex (m09 surface) --------------------------------

  test("media append: absorption, resident files untouched, result == full rebuild") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    // doc 10 is byte-identical (same text → same decoded body) to doc 0:
    // it must ABSORB into the resident representative — no new rep, no
    // pairs, no _sigs row. Doc 11 is a genuinely new payload.
    val mdelta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "a wholly new media payload body here")).toDF("doc_id", "text")
    val grown = base.unionByName(mdelta)
    val bm = Multimodal.mediaMeta(
      graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text"), Multimodal.MaxBandBucket)
    val gm = Multimodal.mediaMeta(
      graft.plans.PersistedIndex.fingerprint(grown, "doc_id", "text"), Multimodal.MaxBandBucket)
    Multimodal.ensureMediaIndexFor(spark, base, "mapx_bytes", bm, force = true)
    val pairsBefore = fileSnapshot(P.location(spark, "mapx_bytes", "_pairs"))
    val sigsBefore = fileSnapshot(P.location(spark, "mapx_bytes", "_sigs"))
    val nSigsBefore = spark.read.parquet(P.location(spark, "mapx_bytes", "_sigs")).count()
    val loc = Multimodal.appendToMediaIndex(spark, mdelta, "mapx_bytes", bm, gm)
    val pairsAfter = fileSnapshot(P.location(spark, "mapx_bytes", "_pairs"))
    val sigsAfter = fileSnapshot(P.location(spark, "mapx_bytes", "_sigs"))
    for ((before, after, what) <- Seq((pairsBefore, pairsAfter, "_pairs"),
                                      (sigsBefore, sigsAfter, "_sigs")))
      before.foreach { case (rel, sig) =>
        assert(after.get(rel).contains(sig),
          s"$what resident file $rel was rewritten or removed by the append") }
    // absorption: exactly ONE fresh rep (doc 11); doc 10 minted nothing
    val sigs = spark.read.parquet(P.location(spark, "mapx_bytes", "_sigs"))
    assert(sigs.count() == nSigsBefore + 1)
    assert(sigs.filter($"doc_id" === 10L).count() == 0,
      "byte-identical delta blob must absorb into its resident rep")
    val served = spark.read.parquet(loc).as[(Long, Long, Long)].collect().toSet
    assert(!served.exists(p => p._1 == 10L || p._2 == 10L),
      "absorbed blobs mint no pairs (the rebuild's collapse, reproduced)")
    // append ∪ resident EQUALS a forced full rebuild on the grown corpus
    Multimodal.ensureMediaIndexFor(spark, grown, "mapx_full", gm, force = true)
    val full = spark.read.parquet(P.location(spark, "mapx_full", "_pairs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(served == full, "append-then-serve must equal a full rebuild")
    graft.CacheRegistry.unpersistAll()
  }

  test("media append absorption never shuffles the resident signature scan (plan pin)") {
    graft.CacheRegistry.unpersistAll()
    // resident arrives as a parquet SCAN in the real append — replicate
    // that so the pin covers the actual input shape
    val dir = java.nio.file.Files.createTempDirectory("abspin").toString
    Seq((0L, "m20", 5L, 6L), (1L, "r1", 7L, 8L)).toDF("doc_id", "md5", "h0", "h1")
      .write.mode("overwrite").parquet(dir)
    val resident = spark.read.parquet(dir)
    val newSigs = Seq((20L, "m20", 1L, 2L), (21L, "m21", 3L, 4L))
      .toDF("doc_id", "md5", "h0", "h1").localCheckpoint()
    val out = Multimodal.absorptionSurvivors(newSigs, resident)
    // value contract first: md5-matching delta rows absorb, the rest
    // survive as fresh reps
    assert(out.select("doc_id").as[Long].collect().toSet == Set(21L))
    // plan pin: BOTH joins broadcast their delta-sized side — the
    // resident scan feeds a broadcast semi-join map-side and is NEVER
    // exchanged (the r14 intersect planned resident md5s into a set-op
    // aggregate, shuffling the full resident _sigs on every append).
    // AQE's plan string appends an "== Initial Plan ==" copy — check
    // the final plan only.
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange hashpartitioning") &&
           !plan.contains("Exchange rangepartitioning"),
      s"absorption probe must not shuffle either side:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size == 2,
      s"expected both absorption joins to broadcast the small side:\n$plan")
    graft.CacheRegistry.unpersistAll()
  }

  test("media append refuses an explicit gate that disagrees with the stored contract") {
    graft.CacheRegistry.unpersistAll()
    val base = baseDocs.toDF("doc_id", "text")
    // build under a CUSTOM gate; the append must enforce that stored
    // contract whether the caller repeats it, forgets it (default), or
    // contradicts it
    val customGate = 1L << 18
    val bm = Multimodal.mediaMeta(
      graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text"), customGate)
    Multimodal.ensureMediaIndexFor(spark, base, "mapx_gate", bm, force = true,
      maxBandBucket = customGate)
    val delta = Seq((30L, "a fresh gate-test payload")).toDF("doc_id", "text")
    val grown = base.unionByName(delta)
    val gm = Multimodal.mediaMeta(
      graft.plans.PersistedIndex.fingerprint(grown, "doc_id", "text"), customGate)
    val e = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, delta, "mapx_gate", bm, gm,
        maxBandBucket = Some(12345L))
    }
    assert(e.getMessage.contains("disagrees with the gate"),
      s"contradicting explicit gate must refuse: ${e.getMessage}")
    // an EXPLICIT default-valued bound is a disagreement too, not an
    // omission — the r15 Long-signature form could not tell them apart
    // and silently gated at the stored custom bound (r15 advice)
    val eDefault = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, delta, "mapx_gate", bm, gm,
        maxBandBucket = Some(Multimodal.MaxBandBucket))
    }
    assert(eDefault.getMessage.contains("disagrees with the gate"),
      s"explicit Some(default) against a custom gate must refuse: ${eDefault.getMessage}")
    // a grown tuple whose gate entry drifts from the verified contract
    // would be stamped verbatim as the next append's base, silently
    // re-gating every future append (r15 advice) — refuse before poison
    val eGrown = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, delta, "mapx_gate", bm,
        gm.map { case ("gate", _) => ("gate", 99999L); case kv => kv })
    }
    assert(eGrown.getMessage.contains("cannot change the gate contract"),
      s"grown-gate drift must refuse: ${eGrown.getMessage}")
    // forgetting the custom gate (param omitted, None) uses the STORED
    // gate — the r14 spurious-refusal hole — and the append succeeds
    Multimodal.appendToMediaIndex(spark, delta, "mapx_gate", bm, gm)
    val sigs = spark.read.parquet(
      graft.plans.PersistedIndex.location(spark, "mapx_gate", "_sigs"))
    assert(sigs.filter($"doc_id" === 30L).count() == 1)
    graft.CacheRegistry.unpersistAll()
  }

  test("media append refuses out-of-order deltas, poisoned meta, and old layouts") {
    graft.CacheRegistry.unpersistAll()
    val P = graft.plans.PersistedIndex
    val base = baseDocs.toDF("doc_id", "text")
    val bm = Multimodal.mediaMeta(
      graft.plans.PersistedIndex.fingerprint(base, "doc_id", "text"), Multimodal.MaxBandBucket)
    Multimodal.ensureMediaIndexFor(spark, base, "mapx_ord", bm, force = true)
    // order contract: a delta id at-or-below the resident max could
    // displace a min-doc_id representative — refuse (subsumes overlap)
    val low = Seq((2L, "an id below the resident max")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, low, "mapx_ord", bm,
        bm.map { case (n, v) => (n, v + 1) })
    }
    assert(e1.getMessage.contains("not above the resident corpus max"))
    // empty delta: the same rule as the simhash appender — grown == base
    // returns the pair table and writes nothing; grown != base refuses
    val high = Seq((20L, "a fresh id-above delta")).toDF("doc_id", "text")
    val metaBefore = fileSnapshot(P.location(spark, "mapx_ord", "_meta"))
    assert(Multimodal.appendToMediaIndex(spark, high.limit(0), "mapx_ord", bm, bm) ==
      P.location(spark, "mapx_ord", "_pairs"))
    assert(fileSnapshot(P.location(spark, "mapx_ord", "_meta")) == metaBefore,
      "an empty append must leave _meta untouched")
    val e0 = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, high.limit(0), "mapx_ord", bm,
        bm.map { case ("n", v) => ("n", v + 1); case kv => kv })
    }
    assert(e0.getMessage.contains("lost rows"))
    // poison sentinel: a crashed prior append must send the retry to the
    // rebuilding ensure, never to a second (duplicating) append
    P.poison(spark, "mapx_ord", bm.map(_._1))
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(spark, high, "mapx_ord", bm,
        bm.map { case (n, v) => (n, v + 1) })
    }
    assert(e2.getMessage.contains("ensureMediaIndex"))
    // pre-appendable layout (no maxid in _meta, no _sigs): the probe
    // can't verify the order contract — refuse with the migration hint
    P.ensure(spark, "mapx_old", Seq("n" -> 4L, "fp" -> 7L, "gate" -> 65536L),
      force = true)(Seq((0L, 1L, 0L)).toDF("doc_a", "doc_b", "hamming"))
    val e3 = intercept[IllegalStateException] {
      Multimodal.appendToMediaIndex(spark, high, "mapx_old",
        Seq("n" -> 4L, "fp" -> 7L, "gate" -> 65536L, "maxid" -> 3L),
        Seq("n" -> 5L, "fp" -> 9L, "gate" -> 65536L, "maxid" -> 20L))
    }
    assert(e3.getMessage.contains("appendable layout"))
    graft.CacheRegistry.unpersistAll()
  }

  test("d04 serve equals the in-query compute it replaced (index round-trip)") {
    val dir = java.nio.file.Files.createTempDirectory("simrt").toString
    corpus(dir)
    graft.CacheRegistry.unpersistAll()
    // doc 9 duplicates doc 0's text exactly: identical shingle sets give
    // identical simhashes, so (0, 9, hamming 0) is a GUARANTEED pair
    // (near-identical texts are only probabilistically close under
    // SimHash — an exact dup is the deterministic fixture)
    corpus(dir, extra = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta")))
    graft.CacheRegistry.unpersistAll()
    val served = graft.SparkEntry.queries("d04_simhash_neardup")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(served.forall { case (a, b, h) => a < b && h <= 6 })
    assert(served.contains((0L, 9L, 0L)))
    // docs 2 and 3 share no vocabulary with anything: NO pair may touch
    // them at all (an any-sided guard, not just the (2,3) pairing)
    assert(served.forall { case (a, b, _) =>
      Set(a, b).subsetOf(Set(0L, 1L, 9L)) },
      "disjoint-vocabulary docs must not pair")
    graft.CacheRegistry.unpersistAll()
  }
}
