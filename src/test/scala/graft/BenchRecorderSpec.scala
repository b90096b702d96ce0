package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench recorder's two outputs — the artifact file and the compact
  * stdout line — are json4s values built from the recorder's state: they
  * stay valid JSON whatever an error message holds, the compact line stays
  * inside the driver's kept tail, and its optional keys appear exactly when
  * their state exists. */
class BenchRecorderSpec extends SparkSpec {

  private def recorder(): (Bench.Recorder, java.io.ByteArrayOutputStream, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec_").resolve("a.json").toString
    (new Bench.Recorder(spark, sf001, out, 2400.0, new java.io.PrintStream(buf, true)), buf, out)
  }
  private def line(j: JValue): String = JsonMethods.compact(j)
  private def keys(j: JValue): Set[String] = j match {
    case JObject(fs) => fs.map(_._1).toSet
    case _ => Set.empty
  }

  test("artifact and compact line stay valid JSON when error messages hold quotes, backslashes and newlines") {
    val (rec, _, out) = recorder()
    val msg = "bad \"quoted\" path C:\\tmp\\x\nsecond line\r\tend"
    rec.phase("write_bench", 0.0, "write_bench") { throw new IllegalStateException(msg) }
    rec.phase("scale_trend", 0.0, "scale_trend") { throw new RuntimeException(msg) }
    // a failed Spark job reaches job_errors through the recorder's listener
    intercept[Exception](spark.range(1).rdd.foreach(_ => throw new IllegalStateException(msg)))
    val deadline = System.nanoTime() + 20e9.toLong
    while ((rec.artifact(false) \ "job_errors") == JNothing && System.nanoTime() < deadline)
      Thread.sleep(50)

    val artifact = JsonMethods.parse(line(rec.artifact(partial = false)))
    assert((artifact \ "write_bench" \ "error") === JString("IllegalStateException: " + msg))
    val jobErrors = (artifact \ "job_errors").children.collect { case JString(s) => s }
    assert(jobErrors.exists(_.contains("SparkException: Job aborted")), jobErrors)
    // the streamed file is the same JSON
    val flushed = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
    assert(JsonMethods.parse(flushed) \ "write_bench" === artifact \ "write_bench")

    val compact = JsonMethods.parse(line(rec.compact(partial = false)))
    assert(compact \ "scale_error" === JBool(true))
    assert(compact \ "job_errors" === JInt(jobErrors.size))
  }

  test("a compact line over 326 query results stays under 2 KB") {
    val (rec, buf, _) = recorder()
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 326)
    names.take(326).zipWithIndex.foreach { case (q, i) =>
      rec.record(q, 0.1 + i * 0.037)
      rec.recordMemory(q, (64L + i) << 20, 1L << 20, 12L)
    }
    rec.phase("setup", 0.0, "setup") {
      JObject("sec" -> Bench.num(164.021, 3), "queries" -> JObject(names.take(40).toList.map(_ -> JDouble(1))))
    }
    val flagged = names.take(4)
    rec.phase("scale_trend", 0.0, "scale_trend") {
      JObject("control_ratio" -> Bench.num(5.77, 2), "flag_ratio" -> Bench.num(8.66, 2),
        "scale_confidence" -> JString("low"),
        "flagged" -> JArray(flagged.toList.map(JString(_))),
        "queries" -> JObject(flagged.toList.map(q => q -> JObject("exponent" -> Bench.num(1.234, 2)))))
    }
    rec.headline("sort_overhead_x" -> Bench.num(1.38, 2), "skip_sorted_pct" -> Bench.num(93.8, 1))
    Seq("rerun_defense:tail", "occ_bench", "sqlread_bench").foreach(rec.shed)
    rec.printCompact(partial = true)
    val printed = buf.toString("UTF-8")
    assert(printed.count(_ == '\n') == 1 && printed.endsWith("\n"))
    assert(printed.getBytes("UTF-8").length < 2048, s"${printed.length} bytes: $printed")
    val compact = JsonMethods.parse(printed)
    assert((compact \ "n_queries") === JInt(326))
    assert(keys(compact \ "queries").size == 10 && keys(compact \ "mem_top_peak_mb").size == 5)
    assert(keys(compact \ "scale_flagged") == flagged.toSet)
    // numbers keep their fixed decimals
    assert(printed.contains("\"setup_sec\":164.021") && printed.contains("\"skip_sorted_pct\":93.8"))
    assert(printed.contains("\"scale_flag_ratio\":8.66"))
    // the artifact keeps every result
    assert(keys(rec.artifact(partial = true) \ "queries").size == 326)
  }

  test("setup_sec is in the compact line exactly when a setup block exists") {
    val (rec, _, _) = recorder()
    rec.record("q1_pricing_summary", 0.4)
    assert(!keys(rec.compact(false)).contains("setup_sec"))
    rec.phase("setup", 0.0, "setup")(JNothing) // no fixture to build: no block
    assert(!keys(rec.compact(false)).contains("setup_sec"))
    assert(!keys(rec.artifact(false)).contains("setup"))
    rec.phase("setup", 0.0, "setup") { JObject("sec" -> Bench.num(7.5, 3)) }
    assert(keys(rec.artifact(false)).contains("setup"))
    assert(line(rec.compact(false)).contains("\"total_sec\":0.400,\"setup_sec\":7.500,"))
  }

  test("partial and shed are present exactly when the run was partial or shed something") {
    val (rec, buf, _) = recorder()
    val flags = Set("partial", "shed", "budget_s", "elapsed_s")
    for (j <- Seq(rec.compact(false), rec.artifact(false)))
      assert((keys(j) & flags).isEmpty)
    for (j <- Seq(rec.compact(true), rec.artifact(true))) {
      assert((keys(j) & flags) == flags)
      assert(j \ "partial" === JBool(true) && j \ "shed" === JArray(Nil))
    }
    // a phase the budget cannot fit is shed, and the shed shows on a complete run too
    rec.phase("write_bench", 1e9, "write_bench")(fail("a shed phase must not run"))
    for (j <- Seq(rec.compact(false), rec.artifact(false))) {
      assert(j \ "partial" === JBool(false))
      assert(j \ "shed" === JArray(List(JString("write_bench"))))
      assert(!keys(j).contains("write_bench"))
    }
    // the shutdown hook's line: partial, marked terminated, printed once
    rec.terminate()
    rec.printCompact(partial = false)
    val printed = buf.toString("UTF-8")
    assert(printed.count(_ == '\n') == 1)
    val compact = JsonMethods.parse(printed)
    assert(compact \ "partial" === JBool(true))
    assert(compact \ "shed" === JArray(List(JString("write_bench"), JString("terminated-early"))))
  }
}
