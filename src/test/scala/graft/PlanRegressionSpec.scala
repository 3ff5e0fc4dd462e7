package graft

/** Plan-shape regression guards: the properties that make these queries
  * scale (filter pushdown to the parquet scan, column pruning) must stay
  * visible in the executed plan — a refactor that silently loses them
  * would still pass the value-level oracle.
  */
class PlanRegressionSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    Catalog.byName(q).run(spark, sf).queryExecution.executedPlan.toString

  test("q01: shipdate filter reaches the lineitem scan; payload pruned") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
    // pruning: q01 never reads l_orderkey/l_partkey
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("q02: status + price predicates push down") {
    val p = planOf("q02_filter_topn")
    assert(p.contains("EqualTo(o_orderstatus,O)") || p.contains("o_orderstatus"), p.take(2000))
    assert(p.contains("GreaterThan(o_totalprice,400000.0)") || p.contains("o_totalprice"))
  }

  test("q05: fixed-size dims broadcast; no hard broadcast hint on supplier") {
    val p = planOf("q05_nation_volume")
    assert(p.contains("BroadcastExchange"), "region/nation should broadcast")
    // the plan may STILL broadcast supplier at tiny sf via size stats —
    // what must not exist is the analysis-level hint, which would pin the
    // choice at every scale
    val analyzed = Catalog.byName("q05_nation_volume").run(spark, sf)
      .queryExecution.analyzed.toString
    val hintCount = "UnresolvedHint|ResolvedHint".r.findAllIn(analyzed).size
    assert(hintCount <= 2, s"supplier must not carry a broadcast hint:\n$analyzed")
  }

  test("e01: only the needed event columns are read") {
    val p = planOf("e01_json_extract_agg")
    assert(!p.contains("user_id"), "e01 scan should prune user_id")
  }

  test("v01: rank-filter top-k runs as partial WindowGroupLimit, not a full sort") {
    // Spark's InferWindowGroupLimit must keep firing on the row_number +
    // rnk <= k shape — losing it (e.g. by renaming through a projection
    // it can't see through) silently turns top-k into a full window sort
    val p = planOf("v01_similarity_topk")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("v04: the dense all-pairs kernel never plans a nested-loop join or collect") {
    val p = planOf("v04_cosine_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "v04 must use the block self-join kernel, not a BNLJ")
    assert(!p.contains("CartesianProduct"), "no cartesian product in v04")
    assert(p.contains("FlatMapGroups") || p.contains("MapGroups"),
      "block-pair kernel missing from the plan")
  }

  test("v02: bucket kernel plans exactly one shuffle") {
    val p = planOf("v02_ann_bucketed")
    // the groupByKey on the bucket is the only exchange before the final
    // global orderBy (range exchange) — a regression to the self-join
    // form would add join exchanges
    val exchanges = "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges):\n${p.take(3000)}")
  }

  test("p07: chunking is a pure map-side generator — no shuffle before the presentation sort") {
    val p = planOf("p07_doc_chunks")
    // tokenize + sequence + posexplode + slice are all expressions over
    // the scan; the ONLY exchange may be the final global orderBy (range
    // partitioning). A join or aggregation sneaking in would shuffle the
    // corpus to chunk it.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"chunking must not hash-shuffle:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "chunking must not join")
    assert(p.contains("Generate"), "the chunk generator (posexplode) is missing")
  }

  test("v10: query panel broadcasts; top-k runs as partial WindowGroupLimit") {
    val p = planOf("v10_ann_int8")
    // few-queries-vs-corpus: the 10-query side must broadcast so the
    // corpus streams map-side (same economics as v01); the rank<=10
    // filter must prune per-partition before the window's shuffle
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("e13: events scan prunes payload; matrix agg has a map-side partial") {
    val p = planOf("e13_type_transitions")
    assert(!p.contains("props"), "e13 must not read the props payload column")
    assert(!p.contains("value#") && !p.contains(",value"),
      "e13 must not read the value column")
    // the (prev,cur) matrix aggregation must combine map-side — at scale
    // the post-window rows are data-sized and only |types|^2 groups exist
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(3000))
  }

  test("q26: the correlated LATERAL decorrelates to one ranked join") {
    val p = planOf("q26_latest_order_lateral")
    // DecorrelateInnerQuery must rewrite the per-customer ordered-limit
    // subquery into a single join + partial WindowGroupLimit — a
    // regression to nested-loop per-row execution would be quadratic
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must not plan a per-row nested loop")
  }

  test("q17: star dims broadcast; the wide agg combines map-side") {
    // r5 flagged a q17 "regression" that r6 root-caused to bench-harness
    // state (codegen-cache thrash; steady-state == r4's 1.6 s). This pin
    // makes a REAL plan drift visible: nation/region must broadcast and
    // the (r_name, priority) aggregation must have a partial phase so
    // only 25 groups cross the final exchange at any scale.
    val p = planOf("q17_star_wide")
    assert(p.contains("BroadcastExchange"), "nation/region must broadcast")
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q17 must stay an equi-join star")
  }

  test("e10b: bucketed rank — no whole-key window task; selection combines map-side") {
    // r19 two-phase form: the rank window partitions on
    // (event_type, _bkt), never on event_type alone — a regression to
    // the single-key window funnels n/|types| rows through one task
    // (9.1 s of the sf6.4 serve band); the bucket offsets ride
    // broadcast joins and the percentile selection keeps its map-side
    // partial aggregation.
    val p = planOf("e10b_value_percentiles")
    val rowNumberSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(rowNumberSpecs.nonEmpty, s"rank window missing:\n${p.take(2000)}")
    assert(rowNumberSpecs.forall(_.contains("_bkt")),
      s"the rank window must partition on (event_type, _bkt), not the bare key:\n$rowNumberSpecs")
    assert(p.contains("partial_max"), "percentile selection lost its map-side partial")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "offset attachment must stay broadcast-hash")
  }

  test("d07: within-cell prune plans the grouped kernel, not a join explosion") {
    val p = planOf("d07_semantic_dedup")
    assert(p.contains("FlatMapGroups") || p.contains("MapGroups"),
      "cell-block kernel missing from the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "d07 must never plan an all-pairs join")
  }

  test("d08: span builder is the primitive kernel; join is equi, not nested-loop") {
    val p = planOf("d08_duplicate_spans")
    assert(p.contains("SerializeFromObject") || p.contains("MapPartitions"),
      "span kernel missing — a regression to the interpreted HOF form costs 10x")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span self-join must stay an equi-join on (hash, span)")
  }

  test("t10: BPE counting is the mapPartitions kernel, no per-word explode") {
    val p = planOf("t10_bpe_token_stats")
    assert(p.contains("SerializeFromObject") || p.contains("MapPartitions"),
      "BPE kernel missing — a regression to the replace-chain form costs 60x")
    assert(!p.contains("Generate explode"), "t10 must not explode words")
  }

  test("d09: cluster⋈quality is an equi-join; windows share one cluster_id exchange") {
    val p = planOf("d09_canonical_pick")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"survivor pick must never plan a pair explosion:\n${p.take(3000)}")
    // row_number and the member count partition identically — a second
    // hashpartitioning(cluster_id) exchange would mean the window specs
    // drifted apart and the pick pays a redundant shuffle per run
    val clusterExchanges = "hashpartitioning\\(cluster_id".r.findAllIn(p).size
    assert(clusterExchanges <= 1,
      s"windows must share the cluster_id exchange ($clusterExchanges):\n${p.take(3000)}")
  }

  test("v13: metadata predicate rides the documents scan; filter precedes vector work") {
    val p = planOf("v13_filtered_topk")
    // the PUSHED predicate itself must appear (every FileScan prints a
    // PushedFilters list, so checking for the header alone is vacuous —
    // and a regressed plan would still mention 'lang' in a residual
    // Filter node)
    assert(p.contains("EqualTo(lang,en)"),
      s"lang predicate not pushed to the documents scan:\n${p.take(3000)}")
    assert(p.contains("GreaterThanOrEqual(n_chars,200)"),
      s"n_chars predicate not pushed to the documents scan:\n${p.take(3000)}")
    // and the text column is never read for a vec_id-only semi-join
    assert(!p.contains("text"), "documents scan must prune the text column")
    // norm AFTER the filter: the corpus norm projection must sit ABOVE
    // the semi-join (parents print before children, so its fp_dot
    // appears EARLIER in the string than the LeftSemi marker); in the
    // full-corpus-pass plan the corpus side starts at LeftSemi and the
    // first fp_dot only appears below it
    val semiIdx = p.indexOf("LeftSemi")
    val normIdx = p.indexOf("fp_dot(v")
    assert(semiIdx >= 0, s"semi-join missing:\n${p.take(3000)}")
    assert(normIdx >= 0 && normIdx < semiIdx,
      s"corpus norm computed below the semi-join (full-corpus pass):\n${p.take(3000)}")
  }

  test("q29: grouping sets plan one Expand + one agg exchange, columns pruned") {
    val p = planOf("q29_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets should plan an Expand:\n${p.take(2000)}")
    // one exchange for the grouped aggregate (+ the final sort's range
    // exchange); a shuffle per grouping set would not scale
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected a single agg exchange ($hashEx):\n${p.take(3000)}")
    assert(!p.contains("o_custkey") && !p.contains("o_comment"),
      "orders scan must prune columns the grouping never uses")
  }

  test("v14: rank filters enable WindowGroupLimit; corpus norm above the semi-join") {
    val p = planOf("v14_rrf_fusion")
    // the r_lex/r_vec <= 60 filters sit directly above row_number, so
    // the RANKERS must run as partial WindowGroupLimit. Asserting the
    // node name alone is vacuous — the fused rnk<=10 window plans its
    // own WindowGroupLimit regardless — so pin the ranker limit value
    // (row_number(), 60), which only those two filters produce
    assert(p.contains("row_number(), 60"),
      s"ranker rank filters lost the WindowGroupLimit shape:\n${p.take(3000)}")
    // v13's discipline: the 64-dim self-dot runs on universe survivors
    // only. v14 has TWO semi-joins (lex universe + vec universe), so
    // compare LAST occurrences: every norm projection sits above its
    // own LeftSemi child, hence the final fp_dot in print order still
    // has a LeftSemi below (after) it; in the full-corpus-pass layout
    // the last norm project is under the last LeftSemi instead
    val semiIdx = p.lastIndexOf("LeftSemi")
    val normIdx = p.lastIndexOf("fp_dot(v")
    assert(semiIdx >= 0 && normIdx >= 0 && normIdx < semiIdx,
      s"corpus norm computed below the semi-join:\n${p.take(3000)}")
  }

  test("e15: sweep-line — no ×7 explode; the range join sees only day-keyed aggregates") {
    val p = planOf("e15_rolling_wau")
    // r15 shipped a 7× explode of the deduped pairs; its expanded
    // distinct-aggregate hash state was the measured super-unit term
    // at sf6.4 (PROBES_r15). The sweep-line must never materialize
    // that stream
    assert(!p.contains("Generate explode"), s"the ×7 explode is back:\n${p.take(3000)}")
    // dedup to (day, user) still happens FIRST, and the segment merge
    // windows over the user partition (never a global window)
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("day") && l.contains("user_id")),
      s"(day,user) dedup aggregate missing:\n${p.take(3000)}")
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("[user_id")),
      s"per-user segment window missing:\n${p.take(3000)}")
    // the d <= day evaluation join is the one sanctioned nested loop:
    // BOTH inputs must be day-keyed aggregates (calendar-sized), so a
    // HashAggregate appears between the join and the first scan under
    // each child (parents print before children; probe child prints
    // first, build child under BroadcastExchange)
    // locate the BNL's DIRECT children by tree indentation (a flat
    // indexOf("BroadcastExchange", bnl) would anchor on any exchange
    // anywhere below — e.g. a future broadcast hash join inside the
    // probe subtree — and leave the true build side unchecked)
    val lines = p.linesIterator.toVector
    def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    val bnlIdx = lines.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlIdx >= 0, s"sweep evaluation join missing:\n${p.take(3000)}")
    val bi = indent(lines(bnlIdx))
    def subtreeEnd(from: Int, ind: Int): Int = {
      val rel = lines.drop(from + 1).indexWhere(l => indent(l) >= 0 && indent(l) <= ind)
      if (rel < 0) lines.size else from + 1 + rel
    }
    val kids = (bnlIdx + 1 until subtreeEnd(bnlIdx, bi))
      .filter(i => indent(lines(i)) == bi + 3)
    assert(kids.size == 2, s"evaluation join should have exactly two children:\n${p.take(3000)}")
    assert(kids.exists(i => lines(i).contains("BroadcastExchange")),
      s"evaluation join lost its broadcast build side:\n${p.take(3000)}")
    for (k <- kids) {
      val sub = lines.slice(k, subtreeEnd(k, indent(lines(k))))
      val scan = sub.indexWhere(_.contains("FileScan"))
      assert(scan >= 0 && sub.take(scan).exists(_.contains("HashAggregate")),
        s"nested-loop join touches an un-aggregated (data-sized) input:\n${p.take(3000)}")
    }
  }

  test("p06: the cluster frame broadcasts; the unit hash is a projection, not a shuffle") {
    val p = planOf("p06_leakage_safe_splits")
    // the pairs-sized cluster metadata must broadcast into the corpus
    // join — a shuffled join here would exchange the whole corpus to
    // meet a frame thousands of times smaller
    assert(p.contains("BroadcastHashJoin"),
      s"cluster join does not broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "no cartesian/nested-loop in the split assignment")
  }

  test("v20: band candidates come from an equi-join — no cartesian, no nested loop") {
    val p = planOf("v20_semantic_greedy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation degraded to all-pairs:\n${p.take(3000)}")
    // the ida < idb ordering must be a post-join FILTER on the band
    // equi-join, not the join condition of a nested loop
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no hash/merge equi-join in the candidate plan:\n${p.take(3000)}")
  }

  test("q25: lineitem scan reads only the two z-order key columns") {
    val p = planOf("q25_zorder_layout")
    assert(!p.contains("l_orderkey") && !p.contains("l_quantity") &&
      !p.contains("l_extendedprice"),
      "q25 scan must prune all non-key lineitem columns")
    // one hash exchange for the bucket agg + the final range sort only
    val exchanges = "ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning"
      .r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges):\n${p.take(3000)}")
  }

  test("t09: no generator-inferred size(...) > 0 filter re-splits the corpus") {
    // InferFiltersFromGenerate copies each explode input into a
    // pre-Generate Filter (size(e) > 0 AND isnotnull(e)); on t09 that
    // re-evaluates split(text) once per inserted filter (three of them,
    // 2.84x slower; PROBES_r19). Sessions excludes the rule engine-wide.
    val p = Catalog.byName("t09_unigram_xent").run(spark, sf)
      .queryExecution.optimizedPlan.toString
    val inferred = """Filter .*size\(.*\) > 0""".r.findAllIn(p).toSeq
    assert(inferred.isEmpty, s"inferred generator filters:\n${inferred.mkString("\n")}")
  }

  test("hamming bands: flat and cell pair builds plan one shuffle; the cross stratum broadcasts") {
    import spark.implicits._
    import graft.operators.HammingBands
    // the r19 kernel claim: ONE (band, value) exchange, no self-join and
    // no cross-band distinct() — the join form planned 3 exchanges
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val sigs = Seq((1L, 0x0F0FL), (2L, 0x0F0EL), (3L, 1L << 63)).toDF("doc_id", "sig")
    val cellRows = Seq((0, 256L + 0x0F, 1L, 0x0F0FL, Array(1L, 2L)),
      (0, 256L + 0x0F, 2L, 0x0F0FL, Array(1L))).toDS()
    for ((what, p) <- Seq("flat" -> finalPlan(HammingBands.pairs(sigs, "sig")),
                          "cells" -> finalPlan(HammingBands.cellPairs(cellRows)))) {
      val exchanges = "\\bExchange ".r.findAllIn(p).size
      assert(exchanges == 1, s"$what build must plan exactly one shuffle ($exchanges):\n$p")
      assert(!p.contains("Join"), s"$what build must not join:\n$p")
      assert(!p.contains("Aggregate"), s"$what build must not plan a distinct aggregate:\n$p")
    }
    // the append's resident × delta stratum: the delta side broadcasts,
    // so the resident side is scanned in place, never shuffled to join
    val delta = Seq((10L, 0x0F0DL)).toDF("doc_id", "sig")
    val cross = finalPlan(HammingBands.crossPairs(HammingBands.bandRows(sigs, "sig"),
      HammingBands.bandRows(delta, "sig"), "sig"))
    assert(cross.contains("BroadcastHashJoin") && !cross.contains("SortMergeJoin"),
      s"cross stratum must broadcast the delta:\n$cross")
  }
  test("daemon sheet read: range + header + infer runs one Spark job, no exchange, no sort") {
    import graft.control.{CsvControlTable, CsvRunLog, JobRunner, JobSpec}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    // the removed DataFrame reader launched 7 jobs per read: the CSV
    // column probe, the row-numbering offset count, the header collect,
    // the inference aggregate and the write re-running the rest
    val root = java.nio.file.Files.createTempDirectory("sheetjobs")
    val doc = java.nio.file.Files.createDirectory(root.resolve("Doc"))
    java.nio.file.Files.write(doc.resolve("S1.csv"), (Seq("junk,id,qty,note") ++
      (1 to 200).map(i => s"x,$i,${i * 10},n$i")).mkString("\n").getBytes)
    val runner = new JobRunner(spark,
      CsvControlTable.init(java.nio.file.Files.createTempFile("ctl", ".csv"), Seq.empty),
      graft.sinks.SinkRegistry.default(root.resolve("out").toString), root,
      new CsvRunLog(root.resolve("runlog.csv")), log = _ => ())
    val job = JobSpec("Doc", "S1", "B1:D", "warehouse", "t", "", "", "", "", "", "", 2L)
    val group = s"sheet-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    // listener events arrive in order: once the drain job's start is
    // seen, every job the read started has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-drain" => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def inGroup[T](g: String)(body: => T): T = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      val df = inGroup(group) {
        val d = runner.exportPlan(job)
        d.write.format("noop").mode("overwrite").save()
        d
      }
      inGroup(s"$group-drain")(spark.range(1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the drain job")
      assert(jobs.get == 1, s"a sheet read must run exactly one Spark job, ran ${jobs.get}")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange") && !p.contains("Sort"), s"sheet read must not shuffle or sort:\n$p")
    } finally sc.removeSparkListener(listener)
  }
}
