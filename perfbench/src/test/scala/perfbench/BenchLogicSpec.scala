package perfbench

import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import perfbench.SheetGen._

class BenchLogicSpec extends AnyFunSuite {

  private def content(p: Plan) =
    p.jobs.map(j => (j.row, j.kind, j.cells, j.sheet.header, j.sheet.rows.map(_.toSeq)))

  test("the fleet generator is a function of the seed") {
    assert(content(fleet(7)) == content(fleet(7)))
    assert(content(fleet(7)) != content(fleet(8)))
  }

  test("every seed gets the same mix of job kinds, sinks, schedules and rows") {
    def mix(p: Plan) = (p.jobs.groupBy(_.kind).map { case (k, js) => k -> js.length },
      p.jobs.map(j => (j.target, j.incremental)).groupBy(identity).map { case (k, v) => k -> v.length },
      p.jobs.map(_.interval).groupBy(identity).map { case (k, v) => k -> v.length },
      p.jobs.map(_.sheet.rows.length).sorted)
    assert((1L to 20L).map(s => mix(fleet(s))).distinct.length == 1)
    assert(fleet(3).jobs.map(_.row) == (2 until 2 + fleet(3).jobs.length))
  }

  test("generated cells read back as the text they were written as") {
    val p = fleet(5)
    val money = p.jobs.flatMap(_.sheet.rows.map(_(5))).filter(_.contains('.'))
    assert(money.nonEmpty)
    money.foreach(m => assert(java.lang.Double.toString(m.toDouble) == m && m.toDouble % 1 != 0))
    val slice = Slice(2, 4, Some(11))
    val j = p.jobs.find(_.kind == Load).get.copy(slice = Some(slice))
    assert(j.expectedHeader == j.sheet.header.slice(1, 4))
    assert(j.expectedRows.length == 10)
    assert(slice.a1 == "B1:D11" && Slice(1, 3, None).a1 == "A1:C" && letters(28) == "AB")
  }

  test("op_p90 needs ten samples beyond it, so at least 100") {
    assert(Stats.p90((1 to 99).map(_.toDouble)).isEmpty)
    assert(Stats.p90((1 to 100).map(_.toDouble)).contains(90.0))
    assert(Stats.beyond(100, 90) == 10 && Stats.beyond(99, 90) == 9)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a phase runs its minimum passes and its rates are medians over passes") {
    var n = 0
    val ps = Workload.repeat(0, 3) { n += 1; Pass(n.toDouble, 10, 100) }
    assert(ps.length == 3 && n == 3)
    // one pass three times slower moves no median
    val phase = Phase(Seq(1.0, 2.0), 1.5, Seq(Pass(2, 10, 100), Pass(6, 10, 100), Pass(2, 10, 100)))
    assert(phase.opsPerS == 5.0 && phase.rowsPerS == 50.0)
    assert(phase.ops == 30 && phase.rows == 300 && phase.elapsedS == 10.0)
    assert(Check(3, 1, Seq("a")) ++ Check(2, 0, Seq("b")) == Check(5, 1, Seq("a", "b")))
  }

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")
  private def cycles(n: Int) = (1 to n).map(i => t0.plusSeconds(DaemonWorkload.StepSeconds * i))

  test("the schedule model runs designed failures once and repairs a bad interval") {
    val f = fleet(9)
    val two = f.jobs.find(_.interval == "1 minute").get
    val p = Plan(f.jobs :+ two.copy(row = f.jobs.length + 2, interval = "2 minutes"))
    val runs = DaemonWorkload.expectedRuns(p, cycles(4))
    p.jobs.foreach { j =>
      val n = runs(j.row).length
      j.kind match {
        case BadInterval => assert(n == 0)
        case MissingSheet | UnknownTarget => assert(n == 1)
        case _ if j.interval == "1 minute" => assert(n == 4)
        case _ if j.interval == "2 minutes" => assert(n == 2)
        case _ => assert(n == 1, j.interval)
      }
    }
  }

  test("fail_share counts a designed failure with its expected message as a success") {
    val p = fleet(9)
    val missing = p.jobs.find(_.kind == MissingSheet).get
    val load = p.jobs.find(_.kind == Load).get
    val msg = DaemonWorkload.failureMessage(missing).get
    assert(msg == s"Could not find sheet 'Missing'. Available sheets: S1")
    def seen(j: Job, status: String, result: String) = RunSeen(j.key, status, result, 1.0)
    assert(DaemonWorkload.runProblems(missing, Seq(seen(missing, "Failure", msg))).isEmpty)
    assert(DaemonWorkload.runProblems(missing, Seq(seen(missing, "Failure", "boom"))).nonEmpty)
    assert(DaemonWorkload.runProblems(missing, Seq(seen(missing, "Success", "g_sheets.x"))).nonEmpty)
    assert(DaemonWorkload.runProblems(load, Seq(seen(load, "Success", "g_sheets.x"))).isEmpty)
    assert(DaemonWorkload.runProblems(load, Seq(seen(load, "Failure", "boom"))).nonEmpty)
    val bad = p.jobs.find(_.kind == BadInterval).get
    val repaired = Vector("", "", "", "", "", "", "", "", "", "Failure",
      DaemonWorkload.failureMessage(bad).get)
    assert(DaemonWorkload.controlProblems(bad, Vector.empty, repaired).isEmpty)
    assert(DaemonWorkload.controlProblems(bad, Vector.empty,
      repaired.updated(7, "5 weeks")).nonEmpty)
  }

  private def span(id: Long, parent: Long, s: Long, e: Long) = Span(id, "x", "t", parent, s, e)

  test("self time is the span minus the union of its children") {
    val p = span(1, 0, 0, 100)
    assert(SelfTime.selfNs(p, Nil) == 100)
    assert(SelfTime.selfNs(p, Seq(span(2, 1, 10, 20), span(3, 1, 30, 60))) == 60)
    // overlapping children (concurrent jobs) are not counted twice
    assert(SelfTime.selfNs(p, Seq(span(2, 1, 10, 50), span(3, 1, 40, 70))) == 40)
    // a child running past its parent only covers the overlap
    assert(SelfTime.selfNs(p, Seq(span(2, 1, 90, 130))) == 90)
    val all = SelfTime.all(Seq(p, span(2, 1, 10, 50), span(3, 2, 20, 30)))
    assert(all == Map(1L -> 60L, 2L -> 30L, 3L -> 10L))
  }

  test("row digests ignore order and count repeats") {
    val rows = Seq(Seq("1", "a"), Seq("2", ""))
    assert(Digest.of(Seq("k", "v"), rows, 1) == Digest.of(Seq("k", "v"), rows.reverse, 1))
    assert(Digest.of(Seq("k", "v"), rows, 2) == Digest.of(Seq("k", "v"), rows ++ rows, 1))
    assert(Digest.of(Seq("k", "v"), rows, 1) != Digest.of(Seq("k", "v"), Seq(Seq("1", "b")), 1))
    assert(Digest.text(null) == "" && Digest.text(java.lang.Double.valueOf(0.5)) == "0.5")
  }

  test("BENCHMARK.json names exactly the metrics the harness prints") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def listed(key: String) = {
      val it = root.get(key).elements()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val n = it.next(); b += n.get("name").asText -> n.get("unit").asText }
      b.result()
    }
    assert(listed("end_to_end").sorted == Layers.EndToEnd.sorted)
    assert(listed("per_layer") == Layers.Units)
    val workloads = root.get("workloads").elements()
    val names = Seq.newBuilder[String]
    while (workloads.hasNext) names += workloads.next().get("name").asText
    assert(names.result() == Main.Workloads)
  }
}
