package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's committed-baseline parse must accept BOTH on-disk shapes —
  * the refresh's compact form and the pretty-printed form round-snapshot
  * tooling leaves behind. The r18→r19 regression this pins: the strict
  * no-space parse read the pretty form as an EMPTY baseline, silently
  * disabling the rerun-defense thresholds and the min-merge refresh. */
class BenchBaselineSpec extends AnyFunSuite {

  test("parseBaseline reads compact and pretty-printed forms identically") {
    val compact = """{"q1_pricing_summary":0.403,"dedup_lsh_tuning":2.664}"""
    val pretty =
      """{
        | "q1_pricing_summary": 0.403,
        | "dedup_lsh_tuning": 2.664
        |}""".stripMargin
    val expect = Map("q1_pricing_summary" -> 0.403, "dedup_lsh_tuning" -> 2.664)
    assert(Bench.parseBaseline(compact) == expect)
    assert(Bench.parseBaseline(pretty) == expect)
  }

  test("parseBaseline reads exponents and negative numbers; a partial parse fails loudly") {
    val json = """{"tiny": 1.5e-3, "big": 2E2, "neg": -0.25, "int": 7}"""
    assert(Bench.parseBaseline(json) ==
      Map("tiny" -> 0.0015, "big" -> 200.0, "neg" -> -0.25, "int" -> 7.0))
    assert(Bench.parseBaselineStrict(json, "inline").size == 4)
    val partial = """{"q1": 0.4, "q2": "n/a", "q3": null}"""
    val e = intercept[IllegalStateException](Bench.parseBaselineStrict(partial, "inline"))
    assert(e.getMessage.contains("parsed 1 numbers from 3 keys"))
  }

  test("a failed pooled build drops the queued builds instead of running them") {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = Seq("boom") ++ (1 to 5).map(i => s"slow$i")
    intercept[java.util.concurrent.ExecutionException] {
      Bench.runPooled(names, threads = 1) { q =>
        started.incrementAndGet()
        if (q == "boom") throw new IllegalStateException("setup failed")
        Thread.sleep(1000)
        finished.incrementAndGet()
      }
    }
    Thread.sleep(2500)
    // the one worker may have taken the next build before the failure
    // reached the caller; that build is interrupted, and the rest never start
    assert(started.get() <= 2, s"${started.get()} builds started after the failure")
    assert(finished.get() == 0, s"${finished.get()} builds ran to completion after the failure")
    assert(Bench.runPooled(Seq("a", "b", "c"), threads = 2)(_.toUpperCase) ==
      Seq("a" -> "A", "b" -> "B", "c" -> "C"))
  }

  test("the committed sf0.1 baseline resource actually parses non-empty") {
    val b = Bench.loadBaseline("sf0.1")
    assert(b.size >= 300, s"committed baseline parsed only ${b.size} entries")
    assert(b.values.forall(v => v > 0 && v < 600))
  }

  test("the parallelism block records master, parallelism, partitions and the CPU env as received") {
    import org.json4s.jackson.JsonMethods.compact
    val got = Bench.parallelismJson("local[4]", 4, "4", Some(" 8 "))
    assert(compact(got) === """{"master":"local[4]","default_parallelism":4,""" +
      """"shuffle_partitions":"4","spark_graft_cpus":" 8 "}""")
    assert(compact(Bench.parallelismJson("spark://h:7077", 32, "64", None))
      .endsWith(""""shuffle_partitions":"64","spark_graft_cpus":null}"""))
    // the block splices into the one-line JSON the bench prints
    val line = "{\"metric\":\"total\",\"parallelism\":" + compact(got) + "}"
    assert(org.json4s.jackson.JsonMethods.parse(line) \ "parallelism" \ "default_parallelism" ===
      org.json4s.JInt(4))
  }
}
