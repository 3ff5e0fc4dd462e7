package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The measurement core and the bench's bookkeeping, without a catalog
  * run: every case here runs in milliseconds and needs no session. */
class BenchSpec extends AnyFunSuite {

  test("median takes the middle value at odd n and averages the two middle values at even n") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Measure.median(Seq(7.0)) == 7.0)
  }

  test("a GateRefusal down the cause chain is a refusal; guidance text alone is a failure") {
    val gate = new util.GateRefusal("hot bucket above bound; raise maxBandBucket")
    assert(Measure.isRefusal(new RuntimeException("job aborted",
      new RuntimeException("task failed", gate))))
    assert(!Measure.isRefusal(
      new IllegalStateException("hot bucket above bound; raise maxBandBucket")))
  }

  test("artifact names: bare at sf0.1, suffixed at other tiers, .failed.json for a failed run") {
    assert(Measure.artifactName("BENCH_full", "/data/sf0.1") == "BENCH_full.json")
    assert(Measure.artifactName("BENCH_full", "/data/sf1/") == "BENCH_full.sf1.json")
    assert(Measure.artifactName("STREAMBENCH", "sf0.001") == "STREAMBENCH.sf0.001.json")
    assert(Measure.failedSibling(Paths.get("/r/BENCH_full.sf1.json")) ==
      Paths.get("/r/BENCH_full.sf1.failed.json"))
  }

  test("prior artifact queries parse; a missing or garbled artifact reads as empty") {
    val p = Files.createTempFile("bench", ".json")
    Measure.write(p, """{"metric":"total","queries":{"q01_a":1.25,"v04_b":3.0E-4},""" +
      """"queries_min":{"q01_a":0.5},"value":1.2503}""")
    assert(Measure.priorQueries(p) == Map("q01_a" -> 1.25, "v04_b" -> 3.0e-4))
    Files.writeString(p, "not json")
    assert(Measure.priorQueries(p).isEmpty)
    Files.delete(p)
    assert(Measure.priorQueries(p).isEmpty)
  }

  test("a throwing re-probe is classified like the isolated pass, never recorded as a time") {
    val ledger = new Bench.Ledger
    val medians = Seq("slow_a" -> 3.0, "slow_b" -> 5.0, "steady" -> 1.0)
    val prior = Map("slow_a" -> 1.0, "slow_b" -> 1.0, "steady" -> 1.0)
    val timed = Bench.reprobe(medians, prior, ledger) {
      case "slow_a" => throw new RuntimeException("broken row")
      case _ => throw new RuntimeException("wrapped", new util.GateRefusal("over bound"))
    }
    assert(timed.isEmpty)
    assert(ledger.errors.map(_._1) == Seq("reprobe:slow_a"))
    assert(ledger.refusals.map(_._1) == Seq("reprobe:slow_b"))
  }

  test("an unknown subcommand or bad arguments fail with usage before a session starts") {
    for (args <- Seq(Array("nope"), Array("time"), Array("stream"),
        Array("time", "/d", "q01_pricing_summary", "x"), Array("curation", "/d", "0"))) {
      val e = intercept[IllegalArgumentException](Bench.main(args))
      assert(e.getMessage.contains("usage: Bench"), args.mkString(" "))
    }
    val e = intercept[IllegalArgumentException](
      Bench.main(Array("time", "/d", "no_such_query")))
    assert(e.getMessage.contains("unknown queries: no_such_query"))
  }
}
