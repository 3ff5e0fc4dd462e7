package graft.operators

import graft.{Catalog, SparkSpec}

class EmbeddingsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("v13 filtered top-k: PRE-filter semantics — full k, all neighbors qualify") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val keep = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"lang" === "en" && $"n_chars" >= 200)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val out = graft.Catalog.byName("v13_filtered_topk").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (_, _, n) => keep.contains(n) },
      "every neighbor must pass the metadata predicate")
    // pre-filter returns the full k for every query (enough qualify on
    // the fixture) — post-filtering an unfiltered top-k would come up
    // short whenever unfiltered neighbors fail the predicate
    val perQuery = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQuery.size == 10 && perQuery.values.forall(_ == 5), s"$perQuery")
    val unfiltered = graft.Catalog.byName("v01_similarity_topk").run(spark, sf)
      .filter($"rnk" <= 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out.exists { case (q, _, n) => !unfiltered.contains((q, n)) },
      "the filter must actually change the neighbor set on the fixture")
  }

  test("v14 RRF fusion: monotone in both ranks and genuinely mixes the two systems") {
    val out = graft.Catalog.byName("v14_rrf_fusion").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(out.groupBy(_._1).size == 10 && out.length == 100, "10 queries x top-10")
    out.foreach { case (_, _, _, fused, rl, rv) =>
      // top-K-list RRF: a system that did not retrieve the doc
      // contributes nothing
      val want = rl.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        rv.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      assert(fused == want, s"fused $fused != rrf($rl, $rv)")
      assert(rl.isDefined || rv.isDefined, "candidates come from the list union")
    }
    // the fused ordering must not be either single system's ordering —
    // otherwise the operator is a relabeled v01 / token-overlap top-k
    val byQuery = out.groupBy(_._1).values
    val fusedOrder = byQuery.map(_.sortBy(_._2).map(_._3).toSeq).toSet
    def sysOrder(rank: ((Long, Long, Long, Double, Option[Long], Option[Long])) => Option[Long]) =
      byQuery.map(_.sortBy(t => (rank(t).getOrElse(Long.MaxValue), t._3)).map(_._3).take(10).toSeq).toSet
    assert(fusedOrder != sysOrder(_._5), "fusion must differ from the pure lexical ranking")
    assert(fusedOrder != sysOrder(_._6), "fusion must differ from the pure vector ranking")
  }

  test("cosineNearDupPairs == brute force (negative ids, empty blocks, exact dup)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 8
    val vecs = (0 until 37).map { i =>
      // negative ids exercise floorMod block assignment
      val id = if (i % 3 == 0) -(i.toLong * 5 + 1) else i.toLong * 7
      (id, Array.fill(dim)(rnd.nextGaussian()))
    }
    // plant an exact duplicate (cosine 1.0) in a different block
    val all = vecs :+ (999L, vecs.head._2.clone())
    val t = 0.3
    // blocks > residue spread leaves some blocks EMPTY — off-diagonal
    // groups with one empty side must emit nothing (not within-pairs)
    val got = Embeddings.cosineNearDupPairs(all.toDF("vec_id", "v"), t, blocks = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force with the identical fixed-point fold, same index order
    def fp(x: Double) = math.floor(x * 1e12 + 0.5).toLong
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => fp(x * x)).sum.toDouble / 1e12)
    val want = (for {
      a <- all; b <- all if a._1 < b._1
      dot = a._2.zip(b._2).map { case (x, y) => fp(x * y) }.sum.toDouble / 1e12
      c = dot / (nrm(a._2) * nrm(b._2)) if c >= t
    } yield (a._1, b._1, c)).toSet
    assert(got == want, s"block join diverged from brute force (${got.size} vs ${want.size})")
    assert(got.exists { case (a, b, c) => b == 999L && c > 0.999999 },
      "planted exact duplicate must surface")
  }

  test("cosineNearDupPairs size gate: refuses above maxRows, names the scale-safe routes") {
    import spark.implicits._
    val vecs = (0 until 11).map(i => (i.toLong, Array.fill(4)(i.toDouble + 1)))
    val df = vecs.toDF("vec_id", "v")
    // below the bound: runs (11 rows, maxRows 11)
    assert(Embeddings.cosineNearDupPairs(df, 0.99, blocks = 4, maxRows = 11).count() > 0)
    // above the bound: refuses BEFORE any quadratic work, pointing at
    // the approximate routes — the trap cannot be hit by a user. The
    // TYPE is the contract Bench's refusal classifier matches on.
    val e = intercept[graft.util.GateRefusal] {
      Embeddings.cosineNearDupPairs(df, 0.99, blocks = 4, maxRows = 10)
    }
    assert(e.getMessage.contains("semanticDedup") && e.getMessage.contains("annTopK"),
      s"error must route to the scale-safe alternatives: ${e.getMessage}")
    // the default bound is the published constant, comfortably above
    // every oracle corpus and far below corpus scale
    assert(Embeddings.AllPairsMaxRows == (1L << 17))
  }

  test("annTopK: multi-probe lifts recall toward brute force") {
    val spark0 = spark
    import spark0.implicits._
    val k = 10
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<double>").as("v"))
    // driver-side ground truth (500 vectors at sf0.001), same fixed-point
    // arithmetic and (cosine desc, id asc) order as the operator
    val all = vecs.as[(Long, Array[Double])].collect()
    val norms = all.map { case (id, v) => id -> Embeddings.fpNorm(v) }.toMap
    val truth: Map[Long, Set[Long]] = all.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, Embeddings.fpCos(qv, cv, norms(qid), norms(cid))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1).toSet
    }.toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = all.map { case (id, _) =>
        got.getOrElse(id, Set.empty[Long]).intersect(truth(id)).size
      }.sum
      hits.toDouble / (all.length * k)
    }
    graft.CacheRegistry.unpersistAll() // isolate from other suites
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = recall(Embeddings.annTopK(vecs, k, planes = 4))
    val rM = recall(Embeddings.annTopK(vecs, k, planes = 4, multiProbe = true))
    info(f"recall single-probe $r1%.3f, multi-probe $rM%.3f")
    // the tagged frame is registry-owned (no localCheckpoint): both calls
    // plan-match ONE retained entry, and unpersistAll releases its storage
    // (delta-based — earlier suites may hold non-registry caches)
    assert(graft.CacheRegistry.entries == Seq("ann.tagged.p4"),
      s"expected one retained tagged frame, got ${graft.CacheRegistry.entries}")
    graft.CacheRegistry.unpersistAll()
    assert(graft.CacheRegistry.entries.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persistedBefore),
      "annTopK storage must be released by unpersistAll")
    // deterministic on the fixture: measured 0.129 single vs 0.475 multi —
    // pinned with margin (axis-aligned 4-plane LSH on 64-dim embeddings is
    // WEAK by construction; the point is the probe's 3-4x lift)
    assert(rM >= r1, "multi-probe recall must not be below single-probe")
    assert(rM >= 2 * r1, "Hamming-1 probing should roughly triple recall here")
    assert(rM >= 0.4 && r1 >= 0.1)
  }

  test("kMeansModel is deterministic and ivfTopK beats its probed-fraction baseline") {
    val spark0 = spark
    import spark0.implicits._
    val k = 10
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<double>").as("v"))
    // determinism: two independent trainings produce bitwise-equal models
    val m1 = Embeddings.kMeansModel(vecs, k = 8, iters = 3)
    val m2 = Embeddings.kMeansModel(vecs, k = 8, iters = 3)
    assert(m1.length == 8)
    assert(m1.map(_._1).sameElements(m2.map(_._1)))
    m1.zip(m2).foreach { case ((_, c1, n1), (_, c2, n2)) =>
      assert(c1.sameElements(c2) && n1 == n2, "k-means must be bitwise reproducible")
    }
    // recall vs driver-side brute force (same arithmetic/order as the
    // annTopK spec above)
    val all = vecs.as[(Long, Array[Double])].collect()
    val norms = all.map { case (id, v) => id -> Embeddings.fpNorm(v) }.toMap
    val truth: Map[Long, Set[Long]] = all.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, Embeddings.fpCos(qv, cv, norms(qid), norms(cid))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1).toSet
    }.toMap
    val got = Embeddings.ivfTopK(vecs, k, cells = 8, probes = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = all.map { case (id, _) =>
      got.getOrElse(id, Set.empty[Long]).intersect(truth(id)).size
    }.sum.toDouble / (all.length * k)
    info(f"ivf recall (2 of 8 cells probed) $recall%.3f")
    // probing 2 of 8 cells scans ~1/4 of the corpus; recall must beat
    // that random-candidate baseline by a clear margin or the cells
    // carry no signal (threshold pinned from a measured run with margin)
    assert(recall > 0.3, f"ivf recall $recall%.3f not above the 0.25 probed-fraction baseline")
    assert(graft.CacheRegistry.entries.exists(_.startsWith("ivf.tagged")),
      "ivf tagged frame must be registry-owned")
    graft.CacheRegistry.unpersistAll()
  }

  test("v01 top-k: 10 ranked neighbors per query, cosine bounded and descending") {
    val rows = Catalog.byName("v01_similarity_topk").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 100)
    rows.foreach { case (_, _, _, c) => assert(c >= -1.0000001 && c <= 1.0000001) }
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "cosine non-increasing in rank")
    }
  }

  test("v02 bucketed ANN: neighbors share the query's sign bucket") {
    val df = Catalog.byName("v02_ann_bucketed").run(spark, sf)
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    // independently replay the corpus-sized plane derivation
    val planes = Embeddings.lshPlanes(raw.count(), minPlanes = 4, maxPlanes = 16)
    val emb = raw.select(col("vec_id"),
      (0 until planes).map(j =>
          when(col("embedding").getItem(j) >= 0f, 1L << (planes - 1 - j)).otherwise(0L))
        .reduce(_ + _).cast("long").as("true_bucket"))
    val bad = df.join(emb, df("query_id") === emb("vec_id"))
      .filter(col("bucket") =!= col("true_bucket")).count()
    assert(bad == 0)
  }

  test("v16 BM25 hybrid: real BM25 leg — ordering differs from v14's raw overlap; fusion stays top-K-list RRF") {
    val v16 = graft.Catalog.byName("v16_bm25_hybrid").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(v16.groupBy(_._1).size == 10, "10 query panels")
    // the RRF contract carries over unchanged from v14: absent systems
    // contribute nothing, present ones 1/(60+r)
    v16.foreach { case (_, _, _, fused, rl, rv) =>
      val want = rl.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        rv.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      assert(fused == want, s"fused $fused != rrf($rl, $rv)")
    }
    // BM25 must actually change the lexical ranking vs raw token-overlap
    // (IDF discounts ubiquitous terms, doc-length norm penalizes long
    // docs — if the two orderings coincided the BM25 leg would be dead
    // weight): compare the (query, doc) -> r_lex assignments
    val v14 = graft.Catalog.byName("v14_rrf_fusion").run(spark, sf)
      .collect().flatMap(r => (if (r.isNullAt(4)) None else Some(r.getLong(4)))
        .map(rl => (r.getLong(0), r.getLong(2)) -> rl)).toMap
    val lex16 = v16.flatMap { case (q, _, d, _, rl, _) => rl.map((q, d) -> _) }.toMap
    val shared = v14.keySet.intersect(lex16.keySet)
    assert(shared.nonEmpty)
    assert(shared.exists(k => v14(k) != lex16(k)) || v14.keySet != lex16.keySet,
      "BM25 ordering must differ from the raw-overlap ordering on the fixture")
  }

  test("v21 MMR: greedy invariants hold and the diversity term actually binds") {
    val rows = Catalog.byName("v21_mmr_rerank").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { g =>
      val s = g.sortBy(_._2)
      // step 1 is pure relevance: mmr = 0.7*rel; selections never repeat
      assert(s.head._5 == 0.7 * s.head._4 - 0.3 * 0.0)
      assert(s.map(_._3).distinct.length == 5, "a doc was selected twice")
      // later steps: mmr = 0.7*rel - 0.3*maxSim with maxSim in [-1, 1]
      // (an anti-correlated selected set yields a diversity BONUS, so
      // mmr <= 0.7*rel does NOT hold in general — only the band does)
      s.tail.foreach { case (_, _, _, rel, mmr) =>
        assert(math.abs(mmr - 0.7 * rel) <= 0.3 + 1e-12, s"rel=$rel mmr=$mmr") }
    }
    // the diversity term must CHANGE the ranking somewhere vs plain
    // top-5 relevance (v01's panel) — else the second leg is dead weight
    val top5 = Catalog.byName("v01_similarity_topk").run(spark, sf).collect()
      .filter(_.getLong(1) <= 5)
      .map(r => (r.getLong(0), r.getLong(1))  -> r.getLong(2)).toMap
    val mmrSeq = rows.map(r => (r._1, r._2) -> r._3).toMap
    assert(mmrSeq != top5, "MMR selection equals plain top-5 — diversity never bound")
  }

  test("v08 persisted index: read-back plan has no Exchange/recompute; equals v02 rebuild") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Embeddings.buildIndex(vecs, "v08spec")
    val q = Embeddings.queryIndex(spark, "v08spec")
    val plan = q.queryExecution.executedPlan.toString
    // the whole point of the persisted index: the bucketed layout feeds
    // the kernel directly — no shuffle, no norm/bucket recomputation
    assert(!plan.contains("Exchange"), s"index read-back must not shuffle:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"index read-back must not rescan the raw vectors:\n$plan")
    assert(!plan.contains("aggregate("),
      s"norms must come from the stored column, not be recomputed:\n$plan")
    // read-back == rebuild: v08 (through the persisted table) and v02
    // (from scratch) must produce identical rows
    def rows(name: String) = Catalog.byName(name).run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(rows("v08_ann_index_persisted") == rows("v02_ann_bucketed"))
  }

  test("buildIndex is idempotent: rebuild into same name, and over a stale warehouse dir") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // same-session rebuild (Overwrite path)
    Embeddings.buildIndex(vecs, "v08idem")
    Embeddings.buildIndex(vecs, "v08idem")
    val n1 = Embeddings.queryIndex(spark, "v08idem").count()
    assert(n1 > 0)
    // the r4 failure mode: a managed-table directory left by an EARLIER
    // JVM while the current catalog has no entry for it — simulated by
    // planting the location with junk under a name the catalog has never
    // seen. Pre-fix this threw LOCATION_ALREADY_EXISTS on saveAsTable.
    val db = spark.catalog.getDatabase("graft_index")
    val stale = new org.apache.hadoop.fs.Path(db.locationUri, "v08stale")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "junk.bin")).close()
    assert(!spark.catalog.tableExists("graft_index.v08stale"))
    Embeddings.buildIndex(vecs, "v08stale")
    assert(Embeddings.queryIndex(spark, "v08stale").count() == n1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stale, "junk.bin")),
      "stale junk must be replaced by the rebuilt index")
    spark.sql("DROP TABLE IF EXISTS graft_index.v08idem")
    spark.sql("DROP TABLE IF EXISTS graft_index.v08stale")
  }

  test("appendToIndex: build on a prefix + append the rest == full rebuild") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val head = vecs.filter(col("vec_id") < 250)
    val tail = vecs.filter(col("vec_id") >= 250)
    Embeddings.buildIndex(head, "v08incr")
    // file-listing diff across the append: every resident file must
    // survive byte-identical (path, length, mtime) — the append may only
    // ADD files. This is the claim that makes incremental maintenance
    // cheaper than rebuild at 100 TB (v11 gates the equality; this pins
    // the mechanism).
    def listFiles(): Map[String, (Long, Long)] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase("graft_index").locationUri, "v08incr")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        // the zero-byte _SUCCESS commit marker is re-touched per commit
        // by design; only data files matter for the rewrite claim
        if (f.getPath.getName != "_SUCCESS")
          b += f.getPath.toString -> (f.getLen, f.getModificationTime)
      }
      b.result()
    }
    val before = listFiles()
    Embeddings.appendToIndex(tail, "v08incr")
    val after = listFiles()
    val touched = before.filter { case (p, meta) => after.get(p) != Some(meta) }
    assert(touched.isEmpty, s"append modified resident files: ${touched.keys}")
    assert(after.size > before.size, "append must add new files")
    Embeddings.buildIndex(vecs, "v08full")
    def rows(t: String) = Embeddings.queryIndex(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows("v08incr") == rows("v08full"),
      "incremental append must be indistinguishable from a full rebuild")
    // the appended table still reads Exchange-free (the invariant the
    // bucketed layout exists to preserve)
    val plan = Embeddings.queryIndex(spark, "v08incr")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"appended index read-back must not shuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_index.v08incr")
    spark.sql("DROP TABLE IF EXISTS graft_index.v08full")
  }

  /** Every data file under the named graft_index tables, with (length,
    * mtime) — the _SUCCESS commit marker is re-touched per commit by
    * design and excluded. Shared by the PQ persistence tests below. */
  private def pqListFiles(tables: Seq[String]): Map[String, (Long, Long)] = {
    val db = spark.catalog.getDatabase("graft_index")
    val b = Map.newBuilder[String, (Long, Long)]
    tables.foreach { t =>
      val loc = new org.apache.hadoop.fs.Path(db.locationUri, t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        val it = fs.listFiles(loc, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName != "_SUCCESS")
            b += f.getPath.toString -> (f.getLen, f.getModificationTime)
        }
      }
    }
    b.result()
  }

  test("v15 persisted PQ: equals v12; serve plan reads only the code table; rebuild skips training") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the catalog entry builds (or fingerprint-skips) then serves
    val v15 = Catalog.byName("v15_ann_pq_persisted").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val v12 = Catalog.byName("v12_ann_pq").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(v15 == v12,
      "serving from the persisted PQ index must be indistinguishable from the in-session train+encode+search")
    // serve plan: the ONLY distributed input is the persisted 4-byte code
    // table — no raw-corpus scan, no training stage (training is 12
    // Lloyd corpus passes; its jobs read embeddings.parquet, which this
    // plan provably cannot)
    val table = "v15_" + sf.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queryRows = vecs.filter(col("vec_id") < 10)
      .as[(Long, Array[Double])].collect()
    val serve = Embeddings.queryPqIndex(spark, queryRows, table)
    // inspect the actual scan relations (the plan STRING truncates long
    // file paths): every file scan in the serve plan must be the
    // persisted code table — which simultaneously proves no raw-corpus
    // access and no training stage (training jobs read embeddings.parquet)
    val scans = serve.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains(s"${table}_codes")),
      s"serve may scan ONLY the persisted code table, got: $scans")
    // rebuild over an unchanged corpus is a fingerprint probe, not a
    // retrain: every resident file of all three tables survives
    // byte-identical (a retrain rewrites books/codes/meta)
    val tables = Seq(s"${table}_books", s"${table}_codes", s"${table}_meta")
    val before = pqListFiles(tables)
    assert(before.nonEmpty)
    Embeddings.buildPqIndex(vecs, table)
    assert(pqListFiles(tables) == before,
      "matching-fingerprint rebuild must not touch the persisted index")
    // a CHANGED corpus must invalidate the skip and rewrite the index
    Embeddings.buildPqIndex(vecs.filter(col("vec_id") % 2 === 0), table)
    assert(pqListFiles(tables) != before,
      "a different corpus must retrain — the fingerprint may not false-match")
    // restore the full-corpus index for any later test/catalog run
    Embeddings.buildPqIndex(vecs, table)
  }

  test("v19 persisted BM25: equals v16; lex serve scans only the posting table; rebuild skips") {
    import org.apache.spark.sql.functions._
    // the catalog entry builds (or fingerprint-skips) then serves
    val v19 = Catalog.byName("v19_bm25_hybrid_persisted").run(spark, sf)
      .collect().map(_.toSeq).toSeq
    val v16 = Catalog.byName("v16_bm25_hybrid").run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(v19 == v16,
      "serving the lexical leg from the persisted posting table must be " +
        "indistinguishable from recomputing the score table in-session")
    // lex serve plan: the query term panel is a driver-side array, so the
    // ONLY distributed input is the persisted posting table — no documents
    // scan, no tokenize, no tf/df aggregation (those jobs read
    // documents.parquet, which this plan provably cannot)
    val table = "v19_" + sf.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    val lex = Embeddings.queryBm25Index(spark, Array((0L, "the")), table, 60)
    val scans = lex.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains(s"${table}_postings")),
      s"lex serve may scan ONLY the persisted posting table, got: $scans")
    // rebuild over an unchanged corpus is a fingerprint probe, not a
    // recompute: every resident file survives byte-identical
    val docsText = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .join(spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val tables = Seq(s"${table}_postings", s"${table}_meta")
    val before = pqListFiles(tables)
    assert(before.nonEmpty)
    Embeddings.buildBm25Index(docsText, table)
    assert(pqListFiles(tables) == before,
      "matching-fingerprint rebuild must not touch the persisted index")
    // a CHANGED corpus must invalidate the skip and rewrite the index
    Embeddings.buildBm25Index(
      docsText.filter(col("doc_id") % 2 === 0), table)
    assert(pqListFiles(tables) != before,
      "a changed corpus must rebuild — the fingerprint may not false-match")
    // restore the full-universe index for any later test/catalog run
    Embeddings.buildBm25Index(docsText, table)
  }

  test("a corrupt _meta footer propagates from buildPqIndex and buildBm25Index instead of rebuilding") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val docs = Seq((1L, "red fox"), (2L, "blue fox"), (3L, "red hen")).toDF("doc_id", "text")
    Embeddings.buildPqIndex(vecs, "v15corrupt")
    Embeddings.buildBm25Index(docs, "v19corrupt")
    // overwrite every _meta part file with bytes that are not parquet
    // (and drop the checksums, so the read reaches the footer)
    def corruptMeta(table: String): Unit = {
      val dir = new java.io.File(graft.plans.CoLocated
        .tableLocation(spark, "graft_index", s"${table}_meta").toUri.getPath)
      dir.listFiles().foreach { f =>
        if (f.getName.endsWith(".crc")) f.delete()
        else if (f.getName.startsWith("part-"))
          java.nio.file.Files.write(f.toPath, "not a parquet footer".getBytes("UTF-8"))
      }
    }
    for ((table, artifacts, build) <- Seq[(String, Seq[String], () => String)](
        ("v15corrupt", Seq("_books", "_codes", "_coarse"),
          () => Embeddings.buildPqIndex(vecs, "v15corrupt")),
        ("v19corrupt", Seq("_postings"),
          () => Embeddings.buildBm25Index(docs, "v19corrupt")))) {
      corruptMeta(table)
      val before = pqListFiles((artifacts :+ "_meta").map(table + _))
      // a corrupt footer is not a miss: rebuilding would clear the index
      // and retrain on a fault that may be transient
      intercept[org.apache.spark.SparkException](build())
      assert(pqListFiles((artifacts :+ "_meta").map(table + _)) == before,
        s"$table: a corrupt _meta must not trigger a rebuild")
      (artifacts :+ "_meta").foreach(sfx =>
        graft.plans.CoLocated.clearTable(spark, "graft_index", table + sfx))
    }
  }

  test("appendToPqIndex: encodes with the persisted codebooks, adds files only, poisons the fingerprint") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val head = vecs.filter(col("vec_id") % 3 =!= 0)
    val tail = vecs.filter(col("vec_id") % 3 === 0)
    Embeddings.buildPqIndex(head, "v15incr")
    // _coarse is resident state too: an append that rewrote the coarse
    // quantizer would silently re-cell the whole corpus
    val tables = Seq("v15incr_books", "v15incr_codes", "v15incr_coarse")
    val before = pqListFiles(tables)
    Embeddings.appendToPqIndex(tail, "v15incr")
    val after = pqListFiles(tables)
    val touched = before.filter { case (p, meta) => after.get(p) != Some(meta) }
    assert(touched.isEmpty, s"append modified resident files: ${touched.keys}")
    assert(after.size > before.size, "append must add new code files")
    // the appended codes must be what the HEAD-trained codebooks produce
    // for the full corpus — append encodes with the persisted model, it
    // never retrains (the production ingest contract)
    val models = Embeddings.pqTrain(head)
    val expected = Embeddings.pqEncode(vecs, models).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val stored = spark.table("graft_index.v15incr_codes")
      .select(col("vec_id"), col("k0").cast("long"), col("k1").cast("long"),
        col("k2").cast("long"), col("k3").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(stored == expected,
      "append-then-read must equal encoding the full corpus with the head-trained codebooks")
    // the append poisoned the fingerprint: a build over ANY corpus —
    // including the head slice the fingerprint once matched — retrains
    // rather than serving codes its books never saw
    val poisoned = pqListFiles(Seq("v15incr_meta"))
    Embeddings.buildPqIndex(head, "v15incr")
    assert(pqListFiles(Seq("v15incr_meta")) != poisoned,
      "post-append build must retrain (rewrite meta), not fingerprint-skip")
    Seq("v15incr_books", "v15incr_codes", "v15incr_coarse", "v15incr_meta")
      .foreach(t => graft.plans.CoLocated.clearTable(spark, "graft_index", t))
  }

  test("appendToPqIndex killed inside its codes write: sentinel stays, next build retrains, v15 == v12") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val P = graft.plans.PersistedIndex
    val table = "v15_" + sf.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Embeddings.buildPqIndex(vecs, table)
    // a 2-dim delta vector: the lazy encode throws inside the codes
    // write, after the poison
    val short = Seq((1000000L, Array(1.0, 2.0))).toDF("vec_id", "v")
    intercept[Exception](Embeddings.appendToPqIndex(short, table))
    val stored = spark.read.parquet(P.location(spark, table, "_meta"))
      .select($"n", $"fp").as[(Long, Long)].collect().toSeq
    assert(stored == Seq((-1L, -1L)), s"_meta must hold the poison sentinel, got $stored")
    val poisoned = pqListFiles(Seq(s"${table}_meta"))
    Embeddings.buildPqIndex(vecs, table)
    assert(pqListFiles(Seq(s"${table}_meta")) != poisoned,
      "the build after a killed append must retrain (rewrite meta)")
    val v15 = Catalog.byName("v15_ann_pq_persisted").run(spark, sf).collect().toSeq
    val v12 = Catalog.byName("v12_ann_pq").run(spark, sf).collect().toSeq
    assert(v15 == v12, "the retrained index must serve exactly v12's answer")
  }

  test("a PQ _meta written as a catalog table by an earlier version stays fresh") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val P = graft.plans.PersistedIndex
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Embeddings.buildPqIndex(vecs, "v15upgrade")
    // rewrite _meta the way earlier versions did: the same (n, fp) as a
    // catalog CTAS table at the same location
    val (n, fp) = spark.read.parquet(P.location(spark, "v15upgrade", "_meta"))
      .select($"n", $"fp").as[(Long, Long)].head()
    graft.plans.CoLocated.replaceTable(Seq((n, fp)).toDF("n", "fp"),
      "graft_index", "v15upgrade_meta")
    val tables = Seq("_books", "_codes", "_coarse", "_meta").map("v15upgrade" + _)
    val before = pqListFiles(tables)
    Embeddings.buildPqIndex(vecs, "v15upgrade")
    assert(pqListFiles(tables) == before,
      "an upgraded reader must fingerprint-skip, not retrain, a deployed index")
    tables.foreach(t => graft.plans.CoLocated.clearTable(spark, "graft_index", t))
  }

  test("v07 prefix rerank: reranked cosines are exact and recall vs v01 is high") {
    def top(name: String): Map[Long, Seq[(Long, Double)]] =
      Catalog.byName(name).run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    val exact = top("v01_similarity_topk")
    val staged = top("v07_prefix_rerank")
    assert(staged.keySet == exact.keySet)
    // EVERY neighbor v07 returns carries the exact full-dim cosine
    // (rerank is exact; only the candidate set is approximate) — verified
    // by recomputing fpCos for all returned pairs, not just the ones that
    // happen to intersect v01's top-10
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val norms = vecs.map { case (id, v) => id -> Embeddings.fpNorm(v) }
    staged.foreach { case (q, ns) =>
      ns.foreach { case (id, c) =>
        val e = Embeddings.fpCos(vecs(q), vecs(id), norms(q), norms(id))
        assert(e == c, s"query $q neighbor $id: reranked cosine $c != exact $e")
      }
    }
    // the fixture's vectors are isotropic random, so an 8-of-64-dim
    // prefix carries ~1/8 of the cosine signal — recall can't approach 1
    // the way matryoshka-trained embeddings (energy concentrated in the
    // leading dims) would. Gate well above the random-candidate baseline
    // (30/499 ≈ 0.06): measured 0.23 ≈ 4x random.
    val recall = staged.map { case (q, ns) =>
      ns.map(_._1).toSet.intersect(exact(q).map(_._1).toSet).size
    }.sum.toDouble / (exact.size * 10)
    assert(recall >= 0.15, s"two-stage recall vs exact top-10: $recall")
  }

  test("v17 binary hamming: bit packing exact, output ⊆ hamming candidates, rerank cosines exact") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // driver replay of the two-half sign packing
    def pack(v: Array[Double]): (Long, Long) = {
      var b0 = 0L; var b1 = 0L
      (0 until 64).foreach { i =>
        if (v(i) >= 0) { if (i < 32) b0 |= 1L << i else b1 |= 1L << (i - 32) }
      }
      (b0, b1)
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val packed = vecs.view.mapValues(pack).toMap
    // candidate sets the prerank must produce: top-50 by (hamming, id)
    val cand = packed.keys.filter(_ < 10).map { q =>
      q -> packed.keys.filter(_ != q).toSeq
        .map(n => (ham(packed(q), packed(n)), n)).sorted.take(50)
        .map { case (h, n) => n -> h.toLong }.toMap
    }.toMap
    val out = Catalog.byName("v17_binary_hamming").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.groupBy(_._1).size == 10 && out.length == 100)
    val norms = vecs.map { case (id, v) => id -> Embeddings.fpNorm(v) }
    out.foreach { case (q, _, n, h, c) =>
      assert(cand(q).contains(n), s"query $q neighbor $n outside the top-50 hamming candidates")
      assert(cand(q)(n) == h, s"query $q neighbor $n hamming $h != replay ${cand(q)(n)}")
      val e = Embeddings.fpCos(vecs(q), vecs(n), norms(q), norms(n))
      assert(e == c, s"query $q neighbor $n: reranked cosine $c != exact $e")
    }
    // scale-shape pins: the panel broadcasts onto the packed scan, and
    // the crnk <= 50 filter runs as a partial WindowGroupLimit
    val plan = Catalog.byName("v17_binary_hamming").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "query panel must broadcast")
    assert(plan.contains("WindowGroupLimit"), "rank filters must push a WindowGroupLimit")
  }

  test("v18 IVF-PQ: neighbors come from probed coarse cells; plan is broadcast + WindowGroupLimit") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val coarse = Embeddings.kMeansModel(base, 8, 3)
    def argCells(v: Array[Double], n: Int): Seq[Long] = {
      val nrm = Embeddings.fpNorm(v)
      coarse.map(c => (c._1, Embeddings.fpCos(v, c._2, nrm, c._3)))
        .sortWith((a, b) => if (a._2 == b._2) a._1 < b._1 else Embeddings.sqlGt(a._2, b._2))
        .take(n).map(_._1).toSeq
    }
    val vecs = base.as[(Long, Array[Double])].collect().toMap
    val out = Catalog.byName("v18_ivf_pq").run(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == 10 && rows.length == 100)
    rows.foreach { case (q, n) =>
      val probed = argCells(vecs(q), 2).toSet
      val nCell = argCells(vecs(n), 1).head
      assert(probed.contains(nCell),
        s"query $q neighbor $n sits in coarse cell $nCell outside probed $probed")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "probe panel + ADC tables must broadcast")
    assert(plan.contains("WindowGroupLimit"), "top-10 must push a WindowGroupLimit")
  }

  test("v10 int8 codes: cosine error bounded, recall vs exact high") {
    // the oracle hash-gates v10's VALUES; this pins the quantization
    // QUALITY claims — that int8 codes preserve the geometry well enough
    // to serve retrieval (the reason the 8x-smaller code table is usable
    // as the primary index at scale, not just a compressed copy)
    val q8 = Catalog.byName("v10_ann_int8").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(q8.length == 100)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val norms = vecs.map { case (id, v) => id -> Embeddings.fpNorm(v) }
    // 64-dim codes at 127 steps/dim: quantized cosine stays within a few
    // percent of the exact float cosine for every returned pair (max
    // observed on the fixture: 0.0501 — the gate leaves headroom without
    // admitting a broken quantizer, whose errors would be ~0.3+)
    q8.foreach { case (q, n, cq) =>
      val e = Embeddings.fpCos(vecs(q), vecs(n), norms(q), norms(n))
      assert(math.abs(cq - e) < 0.08, s"pair ($q,$n): int8 cosine $cq vs exact $e")
    }
    // and the returned top-10 sets substantially match the exact
    // search's. The fixture is isotropic random, so candidate cosines
    // are packed within a few hundredths of each other — quantization
    // noise reorders genuinely-near ties (measured 0.79; real embedding
    // spaces separate neighbors far more). Random top-10 would be
    // 10/499 ≈ 0.02; gate at 35x that.
    val exact = Catalog.byName("v01_similarity_topk").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val hits = q8.groupBy(_._1).map { case (q, ns) =>
      ns.map(_._2).toSet.intersect(exact(q)).size
    }.sum
    assert(hits >= 70, s"int8 recall vs exact top-10: ${hits / 100.0}")
  }

  test("v10 zero-norm clamp keeps the ranking expression total (ADVICE r5)") {
    // an all-zero code vector (tiny vector vs the per-dim max) gives
    // nn=0; the clamped form must score cosine 0 — never NaN/Inf, whose
    // handling is engine-setting-dependent in the oracle
    val rows = spark.sql(
      """SELECT CAST(dot AS DOUBLE)
                  / sqrt(CAST(GREATEST(qn, 1) * GREATEST(cn, 1) AS DOUBLE)) AS cos_q8
         FROM VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1000 AS BIGINT)),
                     (CAST(50 AS BIGINT), CAST(100 AS BIGINT), CAST(100 AS BIGINT))
              AS t(dot, qn, cn)""").collect()
    assert(rows(0).getDouble(0) == 0.0, "zero-norm code must score 0, not NaN/Inf")
    assert(math.abs(rows(1).getDouble(0) - 0.5) < 1e-12, "clamp is identity off the zero case")
  }

  test("v12 PQ: ADC top-10 recalls the exact dot-product top-10 well above chance") {
    // the oracle hash-gates the full train/encode/search replay; this
    // pins the APPROXIMATION quality — 4-byte codes must preserve the
    // dot-product geometry well enough to retrieve (the reason a 128x
    // compressed corpus is usable as the primary index at scale)
    val pq = Catalog.byName("v12_ann_pq").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val hits = (0L until 10L).map { q =>
      val qv = vecs.find(_._1 == q).get._2
      val exact = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, Embeddings.fpDot(qv, v)) }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
      pq(q).intersect(exact).size
    }.sum
    // random top-10 of 499 would expect ~2/100 total; the isotropic
    // fixture is PQ's worst case (no cluster structure for codebooks to
    // exploit, dot products tightly concentrated) and measured 15/100 —
    // 75x random. Real embedding spaces cluster and fare far better;
    // gate at 4x below the measured value to reject a broken
    // encoder (whose recall would be ~random) without flaking.
    assert(hits >= 8, s"PQ recall vs exact dot top-10: $hits/100")
  }

  test("d07 semanticDedup == driver-side SemDeDup replay; prunes within cells ONLY") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val all = vecs.as[(Long, Array[Double])].collect().sortBy(_._1)
    val vmap = all.toMap
    val norms = all.map { case (id, v) => id -> Embeddings.fpNorm(v) }.toMap
    // spec params differ from the catalog's (cells=4, t=0.25) so the
    // prune is non-trivial at sf0.001 AND cross-cell near-dup pairs
    // exist to witness the within-cell-only property
    val t = 0.25
    val model = Embeddings.kMeansModel(vecs, k = 4, iters = 2)
    def cellOf(id: Long): Long = {
      var best = -1L; var bc = Double.NegativeInfinity; var any = false
      model.foreach { case (cell, cv, cn) =>
        val c = Embeddings.fpCos(vmap(id), cv, norms(id), cn)
        if (!any || Embeddings.sqlGt(c, bc)) { bc = c; best = cell; any = true }
      }
      best
    }
    val cellsMap = all.map { case (id, _) => id -> cellOf(id) }.toMap
    def near(a: Long, b: Long): Boolean = {
      val c = Embeddings.fpCos(vmap(a), vmap(b), norms(a), norms(b))
      c >= t || c.isNaN
    }
    val droppedWant = all.map(_._1).filter { id =>
      all.exists { case (o, _) => o < id && cellsMap(o) == cellsMap(id) && near(o, id) }
    }.toSet
    val want = all.map(_._1).filterNot(droppedWant).map(id => (id, cellsMap(id))).toSeq
    val got = Embeddings.semanticDedup(vecs, cells = 4, iters = 2, threshold = t, blocks = 3)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"survivors diverged: got ${got.size}, want ${want.size}")
    assert(droppedWant.nonEmpty, "prune must be non-trivial on the fixture")
    // within-cell-only witness: some cross-cell near-dup pair exists
    // whose larger member survives — if the operator generated cross-
    // cell pairs, that member would have been dropped
    val crossPairLargerIds = for {
      (a, _) <- all; (b, _) <- all
      if a < b && cellsMap(a) != cellsMap(b) && near(a, b)
    } yield b
    assert(crossPairLargerIds.nonEmpty, "fixture must contain cross-cell near-dups")
    assert(crossPairLargerIds.exists(b => !droppedWant(b) && got.exists(_._1 == b)),
      "a cross-cell near-dup's larger member must survive (within-cell-only pruning)")
  }

  test("kMeansCells pins average occupancy: ceil-div, clamped; derived == explicit in semanticDedup") {
    // integer contract the DuckDB cellp CTE replays: ceil(n/target)
    // clamped to [min, max]
    assert(Embeddings.kMeansCells(0) == 8, "empty corpus clamps to the floor")
    assert(Embeddings.kMeansCells(500) == 8, "sf0.01 corpus stays at the v09 shape")
    assert(Embeddings.kMeansCells(8 * 2048) == 8, "boundary: exactly min*target stays at min")
    assert(Embeddings.kMeansCells(8 * 2048 + 1) == 9, "one past the boundary adds a cell")
    assert(Embeddings.kMeansCells(20000) == 10, "sf1: ceil(20000/2048)")
    assert(Embeddings.kMeansCells(60000) == 30, "sf3: ceil(60000/2048)")
    assert(Embeddings.kMeansCells(128000) == 63, "sf6.4: ceil(128000/2048)")
    // r16: the derivation is UNCAPPED by default (cellModel routes past
    // TwoLevelCellCap to the coarse→fine form instead of letting
    // occupancy grow) — an explicit maxCells still clamps
    assert(Embeddings.kMeansCells(10_000_000_000L) == 4882813,
      "uncapped: 10B vectors derive ceil(n/2048) cells")
    assert(Embeddings.kMeansCells(10_000_000_000L, maxCells = 4096) == 4096,
      "an explicit cap still clamps")
    assert(Embeddings.kMeansCells(Long.MaxValue / 2) == Int.MaxValue,
      "absurd corpora saturate at Int.MaxValue, no overflow")
    // the derived default routes through the SAME trainer as an explicit
    // count — cells=0 must equal cells=kMeansCells(n) row for row
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val n = vecs.count()
    val derived = Embeddings.semanticDedup(vecs, iters = 2, threshold = 0.25, blocks = 3)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val explicit = Embeddings.semanticDedup(vecs, cells = Embeddings.kMeansCells(n),
        iters = 2, threshold = 0.25, blocks = 3)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(derived == explicit && derived.nonEmpty,
      s"derived default must equal the explicit kMeansCells($n) shape")
  }

  test("sampled trainer: cut contract, sampled == trained-on-filter, no-op below target") {
    import org.apache.spark.sql.functions._
    def key(m: Array[(Long, Array[Double], Double)]) =
      m.map { case (c, v, n) => (c, v.toSeq, n) }.toSeq
    // the scut CTE's integer contract: floor(1000000007·S/n), min 1,
    // keep-all (cut above every possible hash) whenever n <= S
    assert(Embeddings.trainSampleCut(500, 65536) >= 1000000007L,
      "n <= target: the cut exceeds the hash range and filters nothing")
    assert(Embeddings.trainSampleCut(128000, 65536) == 1000000007L * 65536 / 128000)
    assert(Embeddings.trainSampleCut(Long.MaxValue / 16, 1) == 1L,
      "the cut never reaches 0 however large n grows")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val full = Embeddings.kMeansModel(vecs, k = 6, iters = 2)
    // S >= n: sampling is a NO-OP — the r15 model is bit-identical, which
    // is why every sub-64x tier's hashes were unchanged by this change
    assert(key(Embeddings.kMeansModel(vecs, k = 6, iters = 2, sampleTarget = 500L)) ==
      key(full), "sampleTarget >= n must reproduce the unsampled model exactly")
    // S < n: the sampled trainer IS the unsampled trainer over the
    // explicit hash-prefix filter — the identity the samp CTE replays
    val cut = Embeddings.trainSampleCut(500, 128)
    val filtered = vecs.filter(graft.QueryHelpers.knuthHash(col("vec_id")) < lit(cut))
    val nSamp = filtered.count()
    assert(nSamp > 0 && nSamp < 500, s"cut must genuinely sample the fixture: $nSamp")
    val sampled = Embeddings.kMeansModel(vecs, k = 6, iters = 2, sampleTarget = 128L)
    assert(key(sampled) == key(Embeddings.kMeansModel(filtered, k = 6, iters = 2)),
      "sampled trainer must equal the full trainer over the hash-prefix sample")
    assert(key(sampled) != key(full),
      "a 128-row sample must diverge from the 500-row trainer on this fixture")
  }

  test("two-level LOCAL trainer (r19 sampled route) == distributed two-level trainer") {
    // sampleTarget >= n makes the cut a no-op, so the r19 driver-local
    // sampled route must reproduce the distributed (sampleTarget = 0)
    // trainer bit-for-bit: coarse array, every fine centroid, stride.
    // This plus the flat "sampled trainer" spec gates the whole
    // lloydLocal/twoLevelLocal arithmetic replica (decimal(38,12)
    // HALF_UP means, knuth seed order, argmax ties).
    def key(m: Array[(Long, Array[Double], Double)]) =
      m.map { case (c, v, n) => (c, v.toSeq, n) }.toSeq
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val local = Embeddings.twoLevelModel(vecs, coarseCells = 3, finePer = 3,
      iters = 2, sampleTarget = 500L)
    val dist = Embeddings.twoLevelModel(vecs, coarseCells = 3, finePer = 3,
      iters = 2, sampleTarget = 0L)
    assert(local.fineStride == dist.fineStride)
    assert(key(local.coarse) == key(dist.coarse), "coarse models must be identical")
    assert(local.fine.keySet == dist.fine.keySet, "fine cell coverage must match")
    local.fine.keySet.foreach { cc =>
      assert(key(local.fine(cc)) == key(dist.fine(cc)), s"fine centroids differ at cc=$cc")
    }
    // knuthHashLong is the column hash, including negative ids
    import org.apache.spark.sql.functions._
    val ids = Seq(-1048574L, -1L, 0L, 1L, 42L, 1048572L, 1048573L, Long.MaxValue, Long.MinValue + 1)
    import spark.implicits._
    val viaSql = ids.toDF("id")
      .select(graft.QueryHelpers.knuthHash(col("id")).as("h"))
      .as[Long].collect().toSeq
    assert(ids.map(Embeddings.knuthHashLong) == viaSql,
      "knuthHashLong must replicate the column form exactly")
  }

  test("cellModel: flat below the cap, coarse→fine above it, deterministic fallback") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    // flat routing: the CellModel wraps exactly kMeansModel's array and
    // assign() is the same argmax (d07/p09/m10's pre-r16 semantics —
    // also pinned corpus-wide by the 118-green oracle gate)
    val flat = Embeddings.cellModel(vecs, cells = 6, iters = 2, sampleTarget = 0L)
    assert(flat.fineStride == 0L && flat.coarse.length == 6 && flat.fine.isEmpty)
    // routing above TwoLevelCellCap: the ceil-sqrt split, same
    // assignments as the explicit twoLevelModel call
    val cells = Embeddings.TwoLevelCellCap + 4
    val kc = math.ceil(math.sqrt(cells.toDouble)).toInt
    val kf = (cells + kc - 1) / kc
    val routed = Embeddings.cellModel(vecs, cells, iters = 2, sampleTarget = 256L)
    assert(routed.fineStride == kf.toLong && routed.coarse.length == kc,
      s"expected $kc coarse x $kf fine, got ${routed.coarse.length} x ${routed.fineStride}")
    val explicit = Embeddings.twoLevelModel(vecs, kc, kf, iters = 2, sampleTarget = 256L)
    def asg(m: Embeddings.CellModel) = Embeddings.assignCells(vecs, m)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val routedA = asg(routed)
    assert(routedA == asg(explicit),
      "cellModel's routed two-level must equal the explicit twoLevelModel")
    assert(routedA.forall { case (_, c) => c >= 0L && c < kc.toLong * kf },
      "every assigned cell id lives in [0, coarse*fine)")
    assert(routedA.map(_._2).distinct.size > 1, "the fixture must spread across cells")
    // fallback: a coarse cell with no trained fine centroids assigns
    // coarse*stride — the COALESCE the v22 oracle replays
    val cm = new Embeddings.CellModel(
      Array((0L, Array(1.0, 0.0), 1.0), (1L, Array(0.0, 1.0), 1.0)),
      Map(0L -> Array((0L, Array(1.0, 0.0), 1.0))), 5L)
    assert(cm.assign(Array(0.0, 1.0), 1.0) == 5L,
      "missing fine set must assign coarse*stride")
    assert(cm.assign(Array(1.0, 0.0), 1.0) == 0L)
    assert(cm.cellSpace == 10L)
  }

  test("two-level vs flat cells: d07 pair recall measured and floored (the m10 lesson)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // r16 pinned cellModel's two-level routing bit-for-bit against the
    // explicit twoLevelModel, but never measured what the coarse→fine
    // split COSTS in pair recall — exactly the gap that hid m10's
    // 0.12-recall r15 design. Ground truth: d07's own near-dup relation
    // (fpCos >= threshold, NaN counts, the semanticDedup emit rule)
    // over all pairs of the fixture. A cell model's pair recall is the
    // fraction of those pairs it keeps in one cell — the pairs
    // semanticDedup can still see. Compare flat k against the router's
    // ceil-sqrt split (kc x kf >= k) on the SAME corpus and floor the
    // two-level's cost: it may lose boundary pairs to the coarse split
    // (disclosed in v22's doc) but must stay within 25% of flat.
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val all = vecs.as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v, Embeddings.fpNorm(v)) }
    // d07's default threshold leaves only 7 pairs on this 500-vector
    // fixture — too sparse to measure a partition's pair-keeping. The
    // question is structural (do both models co-locate cosine-near
    // pairs?), so relax the threshold to 0.30 (920 pairs) while keeping
    // d07's exact near-dup relation; PROBES_r17 carries the larger-
    // corpus numbers at the real threshold.
    val truePairs = (for {
      i <- all.indices.iterator
      j <- (i + 1 until all.length).iterator
      c = Embeddings.fpCos(all(i)._2, all(j)._2, all(i)._3, all(j)._3)
      if c >= 0.30 || c.isNaN
    } yield (all(i)._1, all(j)._1)).toVector
    assert(truePairs.size >= 200,
      s"fixture must carry enough near-dup pairs to measure recall: ${truePairs.size}")
    val k = 16
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    val kf = (k + kc - 1) / kc
    def recallOf(m: Embeddings.CellModel): Double = {
      val cellOf = Embeddings.assignCells(vecs, m)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      truePairs.count { case (a, b) => cellOf(a) == cellOf(b) }.toDouble / truePairs.size
    }
    val flatRecall = recallOf(
      Embeddings.cellModel(vecs, k, iters = 2, sampleTarget = 0L))
    val two = Embeddings.twoLevelModel(vecs, kc, kf, iters = 2, sampleTarget = 0L)
    val twoRecall = recallOf(two)
    // the v23 knob: with top-2 probing a pair is seen whenever the
    // probe sets intersect — measure how much of the boundary loss the
    // multi-probe recovers on the same model
    val probeCellsOf = vecs.as[(Long, Array[Double])].collect()
      .map { case (id, v) => id -> two.probe(v, Embeddings.fpNorm(v), 2).toSet }.toMap
    val probe2Recall = truePairs.count { case (a, b) =>
      (probeCellsOf(a) & probeCellsOf(b)).nonEmpty }.toDouble / truePairs.size
    info(f"flat=$flatRecall%.3f two-level=$twoRecall%.3f ratio=${twoRecall / flatRecall}%.3f " +
      f"two-level-probe2=$probe2Recall%.3f")
    assert(flatRecall > 0.0 && flatRecall <= 1.0)
    assert(twoRecall >= 0.75 * flatRecall,
      f"two-level pair recall $twoRecall%.3f fell below 0.75x flat $flatRecall%.3f " +
        "— the coarse boundary is splitting near-dup pairs the flat model keeps " +
        "(m10's r15 failure mode, now in the trainer the d07/p09/m10 router shares)")
    assert(probe2Recall >= twoRecall,
      "top-2 probing can only widen the pair relation (rank-1 is probed)")
    // the AUTO-wiring floor (r17 verdict #1): at probes = 2 — what
    // autoProbes resolves on any two-level model — the two-level route
    // must see at least as many near-dup pairs as the flat model it
    // replaced (fixture 1.8x; derived-shape sf1/sf3 measured 1.58x/1.90x,
    // PROBES_r18). A failure means the multi-probe no longer pays for
    // the coarse/fine boundary and the production default is wrong.
    assert(probe2Recall >= flatRecall,
      f"two-level probes=2 recall $probe2Recall%.3f fell below flat " +
        f"$flatRecall%.3f — the AUTO default (probes=2 on two-level) " +
        "no longer recovers the boundary cost")
    // STRICT fixture-witness assertion: this is a property of the
    // embeddings FIXTURE (at least one near-dup pair split by the fine
    // argmax boundary), not of the operator. If it fails right after the
    // fixture was regenerated, the new corpus simply carries no
    // boundary-split pair at this shape — enrich/regenerate the fixture
    // (FIXTURES.md) rather than hunting an engine regression; on an
    // UNCHANGED fixture a failure here is a real probe regression.
    assert(probe2Recall > twoRecall,
      "fixture must witness the multi-probe recovering a boundary pair " +
        "(else the v23 knob is untested here). If the embeddings fixture " +
        "was just regenerated, re-seed it with a boundary-split near-dup " +
        "pair (see FIXTURES.md) — this asserts a fixture property, not " +
        "operator correctness")
    // the r19 SPANNING knob (what AUTO deploys on two-level routes):
    // the same p=2 budget split 1+1 over the two nearest coarse cells.
    // Rank-1 (the assign cell) is always probed (quota(1) >= 1), so
    // spanning structurally supersets the single-assignment relation;
    // the deployment floor is vs FLAT — the baseline the two-level
    // route replaced (derived-shape sf1/sf3: 0.59/0.39 vs flat p1
    // 0.29/0.17, PROBES_r19 semcurve).
    val spanCellsOf = vecs.as[(Long, Array[Double])].collect()
      .map { case (id, v) => id -> two.probe(v, Embeddings.fpNorm(v), 2, 2).toSet }.toMap
    val spanRecall = truePairs.count { case (a, b) =>
      (spanCellsOf(a) & spanCellsOf(b)).nonEmpty }.toDouble / truePairs.size
    info(f"two-level-span2=$spanRecall%.3f")
    assert(spanRecall >= twoRecall,
      "spanning probes include every rank-1 cell, so the pair relation " +
        "can only widen vs single assignment")
    assert(spanRecall >= flatRecall,
      f"spanning probes=2 recall $spanRecall%.3f fell below flat " +
        f"$flatRecall%.3f — the r19 AUTO default (probes=2, span=2 on " +
        "two-level) no longer recovers the coarse+fine boundary cost")
  }

  test("spanning probe: span=1 is byte-identical to the classic probe; derived-shape floor holds") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val all = vecs.as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v, Embeddings.fpNorm(v)) }
    val n = all.length.toLong
    // the DERIVED shape (r18 verdict #1's floor demand: "at a derived
    // shape, not just the fixture"): the router's own kMeansCells count
    // and ceil-sqrt split on this corpus — the shape semanticDedup
    // would run, not a hand-pinned k
    val k = Embeddings.kMeansCells(n)
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    val kf = (k + kc - 1) / kc
    val two = Embeddings.twoLevelModel(vecs, kc, kf, iters = 3, knownN = n)
    val flat = Embeddings.cellModel(vecs, k, iters = 3, knownN = n)
    // span=1 delegates to the classic probe — byte-identical, every p
    all.take(100).foreach { case (_, v, nrm) =>
      (1 to 4).foreach { p =>
        assert(two.probe(v, nrm, p, 1).sameElements(two.probe(v, nrm, p)),
          "probe(v, nrm, p, 1) must equal probe(v, nrm, p)")
        assert(flat.probe(v, nrm, p, 2).sameElements(flat.probe(v, nrm, p)),
          "flat models have no coarse boundary — span must be a no-op")
      }
    }
    // spanning budget split: p=3, span=2 probes 2 fine cells of the
    // nearest coarse cell and 1 of the second — never more than p cells
    all.take(100).foreach { case (_, v, nrm) =>
      assert(two.probe(v, nrm, 3, 2).length <= 3)
      assert(two.probe(v, nrm, 2, 2).length <= 2)
    }
    // derived-shape recall floor (threshold relaxed to 0.30 for pair
    // density, as in the recall test above): AUTO's spanning p=2 must
    // see at least the pairs the flat single-assignment baseline sees
    val truePairs = (for {
      i <- all.indices.iterator
      j <- (i + 1 until all.length).iterator
      c = Embeddings.fpCos(all(i)._2, all(j)._2, all(i)._3, all(j)._3)
      if c >= 0.30 || c.isNaN
    } yield (all(i)._1, all(j)._1)).toVector
    assert(truePairs.size >= 200,
      s"fixture must carry enough pairs at the derived shape: ${truePairs.size}")
    def pairRecall(cellsOf: Map[Long, Set[Long]]): Double =
      truePairs.count { case (a, b) =>
        (cellsOf(a) & cellsOf(b)).nonEmpty }.toDouble / truePairs.size
    val flatAssign = all.map { case (id, v, nrm) =>
      id -> Set(flat.assign(v, nrm)) }.toMap
    val spanProbe = all.map { case (id, v, nrm) =>
      id -> two.probe(v, nrm, 2, 2).toSet }.toMap
    val rFlat = pairRecall(flatAssign)
    val rSpan = pairRecall(spanProbe)
    info(f"derived k=$k split=${kc}x$kf flat.assign=$rFlat%.3f twoSpan.p2=$rSpan%.3f")
    assert(rSpan >= rFlat,
      f"derived-shape spanning recall $rSpan%.3f fell below the flat " +
        f"single-assign baseline $rFlat%.3f — the r19 AUTO default no " +
        "longer pays for the two-level route at the shape production runs")
  }

  test("v23 semantic multi-probe: nests around probes=1; recovers boundary drops; fallback probes") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val model = Embeddings.twoLevelModel(vecs, coarseCells = 3, finePer = 3,
      iters = 3, sampleTarget = 256L)
    def survivors(p: Int): Set[Long] =
      Embeddings.semanticDedupWith(vecs, model, threshold = 0.45, blocks = 4,
          probes = p, cacheTag = s"spec.p$p")
        .collect().map(_.getLong(0)).toSet
    val s1 = survivors(1)
    val s2 = survivors(2)
    // widening the pair relation can only drop MORE rows
    assert(s2.subsetOf(s1), "probes=2 survivors must nest inside probes=1's")
    // STRICT fixture witness (see the recall test above): failure right
    // after a fixture regeneration means the new corpus has no
    // boundary-split pair at this 3x3 shape — fix the FIXTURE
    // (FIXTURES.md), not the operator; on an unchanged fixture this is
    // a real multi-probe regression.
    assert(s2.size < s1.size,
      "fixture must witness a boundary pair the single probe misses " +
        s"(probes=1 kept ${s1.size}, probes=2 kept ${s2.size}). If the " +
        "embeddings fixture was just regenerated, re-seed a boundary-split " +
        "near-dup pair (FIXTURES.md) — fixture property, not operator " +
        "correctness")
    // primary cells in the output equal assign() regardless of probes
    val asg = Embeddings.assignCells(vecs, model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out2 = Embeddings.semanticDedupWith(vecs, model, threshold = 0.45,
        blocks = 4, probes = 2, cacheTag = "spec.cells")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out2.forall { case (id, c) => asg(id) == c },
      "survivors must carry their rank-1 (assign) cell")
    // a model with an un-trained coarse cell: the fallback row probes
    // exactly its one fallback cell (CellModel.probe's contract) — a
    // pair of fallback rows in the same coarse cell still meets
    val cm = new Embeddings.CellModel(
      Array((0L, Array(1.0, 0.0), 1.0), (1L, Array(0.0, 1.0), 1.0)),
      Map(0L -> Array((0L, Array(1.0, 0.0), 1.0))), 5L)
    assert(cm.probe(Array(0.0, 1.0), 1.0, 2).toSeq == Seq(5L),
      "fallback rows probe their single fallback cell at any probe count")
    graft.CacheRegistry.unpersistAll()
  }

  test("semanticDedup probes knob: auto resolution, production wiring, fail-fast gates (r17 verdict #1)") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    // autoProbes: 0 = AUTO -> 1 on flat models, 2 on two-level models;
    // explicit probes always wins
    val flat = Embeddings.cellModel(vecs, 8, iters = 1, sampleTarget = 0L)
    val two = Embeddings.twoLevelModel(vecs, coarseCells = 3, finePer = 3,
      iters = 1, sampleTarget = 256L)
    assert(flat.fineStride == 0L && two.fineStride > 0L)
    assert(Embeddings.autoProbes(flat, 0) == 1)
    assert(Embeddings.autoProbes(two, 0) == 2)
    assert(Embeddings.autoProbes(flat, 3) == 3)
    assert(Embeddings.autoProbes(two, 1) == 1, "probes=1 is the explicit opt-out")
    // the production default (probes = 0) is byte-identical to the
    // pre-knob form on a flat-routed corpus: d07's pinned hashes hold
    val auto = Embeddings.semanticDedup(vecs, iters = 2, threshold = 0.30, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val optOut = Embeddings.semanticDedup(vecs, iters = 2, threshold = 0.30, blocks = 3,
      probes = 1).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(auto.sameElements(optOut),
      "AUTO on a flat-routed (derived <= TwoLevelCellCap) corpus must equal probes=1")
    // an explicit probes=2 through the serving form equals the core
    // called with the same derived model at probes=2
    val n = vecs.count()
    val k = Embeddings.kMeansCells(n)
    val model = Embeddings.cellModel(vecs, k, iters = 2,
      sampleTarget = Embeddings.TrainSampleTarget, knownN = n)
    val viaServe = Embeddings.semanticDedup(vecs, iters = 2, threshold = 0.30,
        blocks = 3, probes = 2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaCore = Embeddings.semanticDedupWith(vecs, model, threshold = 0.30,
        blocks = 3, probes = 2, cacheTag = "spec.autowire")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaServe.sameElements(viaCore),
      "semanticDedup(probes=2) must be the core at the same derived model")
    // fail-fast gates: invalid blocks/probes throw BEFORE the corpus
    // count / trainer run (r17 advice #3) — assert on a frame whose
    // evaluation would itself throw, so reaching Spark at all fails
    val poison = vecs.withColumn("v",
      org.apache.spark.sql.functions.expr("assert_true(false)"))
    intercept[IllegalArgumentException] {
      Embeddings.semanticDedup(poison, blocks = 0)
    }
    intercept[IllegalArgumentException] {
      Embeddings.semanticDedup(poison, probes = -1)
    }
    // the assignment cache is probe-independent and shared: two probe
    // settings over the same vectors/model pin ONE registry entry
    // (r17 advice #2 — the tag no longer embeds probes)
    graft.CacheRegistry.unpersistAll()
    Embeddings.semanticDedupWith(vecs, two, threshold = 0.45, blocks = 4,
      probes = 1, cacheTag = "spec.sharedtag").count()
    Embeddings.semanticDedupWith(vecs, two, threshold = 0.45, blocks = 4,
      probes = 2, cacheTag = "spec.sharedtag").count()
    val tagged = graft.CacheRegistry.entries.filter(_.contains("spec.sharedtag"))
    assert(tagged == Seq("semdedup.assigned.spec.sharedtag"),
      s"one probe-independent assignment cache expected, got $tagged")
    graft.CacheRegistry.unpersistAll()
  }

  test("curateSemantic probes passthrough: default AUTO equals explicit opt-out on flat route") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val auto = ids(graft.pipeline.Curation.curateSemantic(docs, vecs, iters = 2))
    graft.CacheRegistry.unpersistAll()
    val opt1 = ids(graft.pipeline.Curation.curateSemantic(docs, vecs, iters = 2,
      probes = 1))
    assert(auto == opt1,
      "pipeline hashes must be unchanged at flat-routed scales (AUTO == probes=1)")
    graft.CacheRegistry.unpersistAll()
  }

  test("p09 cluster-balanced sample: exact per-cell cap, hash-rank membership, replayable") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val n = vecs.count()
    val cells = 4
    val keepDiv = 2L
    val cap = (((n + keepDiv - 1) / keepDiv) + cells - 1) / cells
    val out = Embeddings.clusterBalancedSample(vecs, cells = cells, iters = 2, keepDiv = keepDiv)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._3))
    // per-cell: never exceed the cap; over-full cells are cut EXACTLY to
    // it and under-full cells survive whole — the balance contract
    val byCell = out.groupBy(_._1)
    assert(byCell.nonEmpty && byCell.values.forall(_.length <= cap))
    byCell.foreach { case (cell, rows) =>
      val nC = rows.head._4
      assert(rows.forall(_._4 == nC), s"n_c must be constant within cell $cell")
      assert(rows.length == math.min(cap, nC), s"cell $cell kept ${rows.length} of $nC (cap $cap)")
    }
    assert(byCell.values.exists(_.length == cap),
      "fixture must have at least one over-full cell or the cap is untested")
    // membership is the Knuth-hash rank within the trainer's cells —
    // replay it driver-side (same model, same argmax, same hash)
    val all = vecs.as[(Long, Array[Double])].collect()
    val model = Embeddings.kMeansModel(vecs, k = cells, iters = 2)
    def cellOf(id: Long, v: Array[Double]): Long = {
      val nrm = Embeddings.fpNorm(v)
      var best = -1L; var bc = Double.NegativeInfinity; var any = false
      model.foreach { case (cell, cv, cn) =>
        val c = Embeddings.fpCos(v, cv, nrm, cn)
        if (!any || Embeddings.sqlGt(c, bc)) { bc = c; best = cell; any = true }
      }
      best
    }
    def hash(id: Long): Long = (Math.floorMod(id, 1048573L) * 2654435761L) % 1000000007L
    val want = all.map { case (id, v) => (cellOf(id, v), id) }
      .groupBy(_._1).toSeq.flatMap { case (cell, members) =>
        members.map(_._2).sortBy(id => (hash(id), id)).take(cap.toInt)
          .zipWithIndex.map { case (id, i) => (cell, id, i + 1L, members.length.toLong) }
      }.sortBy(r => (r._1, r._3))
    assert(out.toSeq == want, s"sample diverged: got ${out.length}, want ${want.length}")
    // replayable: a second run reproduces the sample exactly
    val again = Embeddings.clusterBalancedSample(vecs, cells = cells, iters = 2, keepDiv = keepDiv)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._3))
    assert(again.toSeq == out.toSeq)
    // cap is ceil-div twice: a corpus SMALLER than keepDiv still keeps a
    // row (a floored n/keepDiv would cap at 0 and silently discard the
    // whole corpus — the review catch this pins)
    val one = Embeddings.clusterBalancedSample(
      Seq((7L, Array(1.0, 0.0))).toDF("vec_id", "v"), cells = cells, iters = 1, keepDiv = keepDiv)
      .collect()
    assert(one.length == 1 && one.head.getLong(1) == 7L && one.head.getLong(2) == 1L)
  }
}
