package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the query suite at
  * SPARK_GRAFT_SF_DIR, writes the FULL benchmark artifact to a JSON file
  * and prints ONE COMPACT (<2 KB) JSON summary line as the LAST stdout
  * line.
  *
  * Stdout contract (learned the hard way): the driver keeps only the
  * trailing ~4 KB of stdout, and rounds 1–9 printed the whole artifact as
  * one line that outgrew that buffer — every BENCH_r0*.json came back
  * `parsed: null` because the kept tail started mid-line. The full
  * per-query map, write/stream/fetch/scale/memory blocks therefore go to
  * SPARK_GRAFT_BENCH_OUT (default `bench_artifact.json`, committed per
  * round), and stdout carries only: totals, n_queries, n_reruns, the
  * top-10 slowest, write-bench headline, scale-trend flags with measured
  * exponents, contention_x, the effective parallelism, and the artifact
  * path.
  *
  * Each query is materialised with a noop-format write so the full plan
  * executes (a bare count() lets Spark prune projections and under-reports).
  * One warmup query amortises JVM/codegen startup out of the numbers.
  * SPARK_GRAFT_QUERIES (comma-separated) restricts the set for local runs.
  *
  * Contention defense: shared-host noise has repeatedly inflated single
  * measurements 2–10× on untouched queries (documented in SURVEY §6/§7 —
  * same binary, idle-box re-runs at historical times). A benchmark artifact
  * read without a shell to re-measure must therefore defend itself:
  *  - per-query best-of-2 — a query whose first time exceeds
  *    max(2 × its committed idle-box baseline, [[Bench.rerunMinSec]] s)
  *    (or [[Bench.rerunFloorSec]] when it has no baseline) is re-run once
  *    and the better time recorded (a genuine regression reproduces on
  *    the re-run; a contention spike does not);
  *  - the baseline ships as a classpath resource
  *    (`graft/bench_baseline_<sf>.json`, keyed by SF dir name, refreshed via
  *    SPARK_GRAFT_BASELINE_OUT=path and committed), so the artifact's
  *    defense needs no warm state on the measuring host;
  *  - `n_reruns` / `first_pass_sec` are emitted beside the totals so a
  *    reader can see how much the defense fired. One-time fixture builds
  *    (iceberg physical tables, memoized dedup/LSH pipelines) run in a
  *    RECORDED `setup` phase before the suite (`setup` block in the
  *    artifact, `setup_sec` in the compact line), so `first_pass_sec` and
  *    the per-query times both describe the steady state a user's Nth
  *    query sees; the cold story is setup_sec plus the (deliberately
  *    memo-cold) scale-trend points.
  *
  * Phase ORDER matters for the scale trend: it runs FIRST (right after
  * warmup), not last — the r9 driver artifact measured q55 at "exponent
  * 2.99" because its 16× points ran in a heap carrying 247 queries' worth
  * of accumulated checkpoint blocks (a fresh JVM measures 1.02). Running
  * the trend in a young heap, and unpersisting memo-owned blocks at its
  * phase boundaries ([[graft.plans.Memo.reset]]), makes the artifact
  * measure PLANS instead of heap history.
  *
  * The write bench interleaves plain/sorted writes A/B/A/B… and reports
  * per-arm MEDIANS: interleaving puts both arms under the same noise
  * regime, and the median of 3 discards a single contended rep (the r7
  * driver artifact recorded sort_overhead_x 0.91 — a physical
  * impossibility — from one inflated plain write).
  *
  * Interruption-proofing (the BENCH_r17 rc=124 lesson — a driver-window
  * timeout used to leave nothing): the artifact file is STREAMED (rewritten
  * after every phase and every ~15 suite queries, `"partial": true` until
  * complete), a SIGTERM shutdown hook prints the compact snapshot line if
  * the normal path never did, and SPARK_GRAFT_TIME_BUDGET_S (default 2400)
  * sheds phases when the remaining budget can't fit them — extras first
  * (write/stream/fetch/occ/sqlread), then the rerun defense, then remaining
  * scale rungs, then (last resort) remaining suite queries. Shed names ride
  * the artifact and the compact line (`shed` array) so absence-by-budget is
  * never mistaken for failure; per-phase heartbeats go to stderr so a
  * timeout's kept tail shows where the run died.
  *
  * Per-query MEMORY columns (`mem` block in the artifact): max task
  * `peakExecutionMemory` and summed `memoryBytesSpilled`+`diskBytesSpilled`
  * per query — the Spark-native mirror of the reference's per-benchmark RSS
  * tracking (poc/utils/metrics_collector.py:51,77). Attribution is
  * snapshot-based (no per-query event settling — that would add ~25 s across
  * 247 queries); a straggler task's metrics may land on the next query,
  * which bounds the error to one task's worth.
  */
object Bench {

  /** Absolute re-run trigger for queries with no committed baseline. */
  val rerunFloorSec = 3.0

  /** Minimum re-run trigger for queries WITH a baseline. The r13 lesson:
    * a flat 3 s floor exempted every sub-3 s query from the best-of-2
    * defense, so sub-second baselines under box contention polluted the
    * >2×-own-baseline list with ~12 pure-noise names (dedup_soft 8.0×,
    * lake_cdc_changelog 5.9× — all sub-2.5 s absolutes). With a 0.25 s
    * minimum, any baselined query measured at >2× reruns once (a tiny
    * query's rerun costs what it costs — sub-seconds), while 100 ms
    * jitter on the very smallest queries still never triggers. */
  val rerunMinSec = 0.25

  /** Scale-trend ABSOLUTE flag floor on cpu(16×)/cpu(4×): linear = 4,
    * quadratic = 16. The effective threshold is
    * max(this, 1.5 × measured linear-control ratio) — the control absorbs
    * what a single box adds at 16× per-core volume (cache misses, agg-map
    * growth) that a cluster scale-out would not. */
  val scaleFlagRatio = 5.0

  /** Sanctioned super-linear growth laws (the Audit-BNLJ-sanction pattern):
    * queries whose DESIGNED complexity is super-linear but sub-quadratic
    * flag only above their documented law + slack. `dedup_embedding`:
    * corpus-adaptive hyperplane LSH ([[graft.dedup.Dedup.embBandParams]])
    * costs n·B(r)·r with B ∝ n^0.33 (the price of holding both bucket
    * occupancy and cos-0.8 recall as n grows) → designed 4×→16× cpu ratio
    * 4^1.33 ≈ 6.3; 8.0 allows measurement slack while still catching any
    * regression back toward the quadratic fixed-bucket shape (which
    * measured 18.5 before the r9 fix). */
  val scaleSanctionedRatio: Map[String, Double] = Map(
    "dedup_embedding" -> 8.0)

  /** The linear control's cpu(16×)/cpu(4×) ratio measured on an IDLE box
    * (committed r15 idle run: 2.46). The control exists to absorb what a
    * single box adds at 16× per-core volume, but under heavy external
    * contention it can itself inflate far past its idle value — BENCH_r15
    * measured 18.47 vs 2.46 idle, silently raising the flag bar to 27.7,
    * at which point a genuinely quadratic plan (~16× ratio) would sail
    * through unflagged. When the measured control exceeds
    * [[controlSuspectX]] × this, the trend re-measures the control once
    * (per-rung min — contention only inflates cpu) and, if it STAYS above,
    * the artifact carries `scale_confidence: "low"` so a reader never
    * mistakes a blind `scale_flagged: {}` for evidence. */
  val idleControlRatio = 2.46
  val controlSuspectX = 2.0

  /** Default scale-trend set: the r8 top-20 slowest — the queries whose
    * growth curve dominates total cost, hence the ones whose exponent the
    * 100 TB claim rests on — plus the adaptive LSH shapes (embedding
    * near-dup, hyperplane top-k) whose bucket occupancy is held by a
    * corpus-adaptive ladder by construction: the structurally likeliest
    * quadratic risks, in the set precisely because they might flag. */
  val scaleTrendQueries: Seq[String] = Seq(
    "text_pipeline_funnel", "ev_rfm", "dedup_minhash_calibration", "dedup_lsh_tuning",
    "ev_power_users", "dedup_substring", "ev_rolling_active", "lake_commit_cadence",
    "text_char_langid", "lake_column_update_cost", "q56_mad_outliers", "knn_ivfpq",
    "lake_snapshot_lineage", "text_perplexity", "ev_path_trigrams", "ev_seasonal_anomaly",
    "dedup_minhash", "q55_market_basket", "q63_pareto", "q49_spearman",
    "dedup_embedding", "knn_lsh",
    // round-9 second-half heavies: block/CDC dedup are token-grain signature
    // shuffles (linear by design — measured to hold):
    "dedup_blocks", "dedup_cdc",
    // round-10 additions — the next tier of structural risk, in the set
    // precisely because they might flag: the post-df-cap shingle self-join,
    // the chunk-grain roaring window, the three-table n-gram LM joins, the
    // anchor-capped substring union, and the full-corpus survivor window:
    "dedup_ngram_jaccard", "lake_dv_roaring", "text_lm_backoff",
    "dedup_onion", "lake_pos_runs",
    // round-11 addition: the clustered Iceberg write's per-month rank
    // window is the one new shape with structural risk (per-group sort);
    // the other new iceberg queries are metadata-grain or plain scans:
    "iceberg_sort_skipping",
    // round-13 addition: the real DV delete storm — five sequential
    // appendDvPuffin commits (scan → executor-side roaring serialize →
    // puffin/manifest write) per measured point; in the set because the
    // commit loop is the new structurally-risky shape:
    "iceberg_delete_storm",
    // round-13 addition: the z-order rewrite — append + full-table Morton
    // rewrite per measured point; the new writer arrangement is a pure
    // projection + (month, zfid) repartition (no rank window), so it
    // should hold linear; in the set to prove it:
    "iceberg_zorder_rewrite",
    // round-13 addition: the perceptual-hash banded self-join — candidate
    // volume is bounded only by the occupancy ladder + the hard bucket cap,
    // so it stays in the set to prove those bounds hold as the corpus grows:
    "mm_phash",
    // round-14 additions: the changelog after its de-scale (per-file DV
    // blob-union interval events — should now measure metadata-grain, in
    // the set to prove the r13 per-snapshot-rescan killer stays dead) and
    // the GC cliff (three DV waves incl. a 50%-of-table blob serialize —
    // the heaviest DV writer shape):
    "iceberg_changelog", "iceberg_gc_cliff",
    // round-15 addition: the all-delete-forms changelog — its equality
    // resolution adds the round's one new data-grain shape (ONE bounded
    // candidate-file scan semi-joined with the broadcast key table); in
    // the set to prove the scan stays linear and never regresses toward a
    // per-snapshot rescan:
    "iceberg_changelog_mixed",
    // round-15 addition: rewrite_position_deletes — the consolidation
    // unions pos-parquet rows with executor-decoded DV positions and
    // re-serializes ONE roaring blob per referenced file in a single
    // groupBy; in the set to prove the union + serialize stays linear:
    "iceberg_rewrite_deletes",
    // round-16 addition: the MOR UPDATE commit — one victim scan (prior
    // DVs anti-joined), executor-side roaring serialize, month-partitioned
    // replacement write, all per measured point; the round's one new
    // data-grain commit shape, in the set to prove it stays linear:
    "iceberg_update_mor")

  /** Rung-profile integrity primitives (unit-tested in ScaleTrendSpec):
    * executor cpu is physically monotone in data volume for any plan, so a
    * measured dip is a measurement artifact (one-time JIT landing on an
    * earlier rung) — [[monotoneCpu]] detects it (5% tolerance) and
    * [[cpuEnvelope]] is the monotone envelope ratios are computed on, so a
    * residual dip raises the denominator to the largest smaller-volume
    * rung (a lower bound on the rung's true cost) instead of feeding the
    * ratio a measurement the profile itself refutes. */
  def monotoneCpu(cpu: Seq[Double]): Boolean =
    cpu.sliding(2).forall { case Seq(a, b) => b >= 0.95 * a; case _ => true }

  /** env[i] = max(cpu[0..i]) — see [[monotoneCpu]]. */
  def cpuEnvelope(cpu: Seq[Double]): Seq[Double] = cpu.scanLeft(0.0)(math.max).tail

  /** cpu(hi-rung)/cpu(next rung) on the monotone envelope — the scale-flag
    * statistic. */
  def envelopeRatioHi(cpu: Seq[Double]): Double = {
    val env = cpuEnvelope(cpu)
    env.last / math.max(env(env.size - 2), 1e-3)
  }

  /** Committed idle-box per-query seconds (best observed on a quiet host);
    * keyed by scale-factor directory name — comparing an sf1 run against
    * sf0.1 times would trip the 2× trigger on every query and silently
    * double the wall-clock. Empty when no resource exists for the SF (the
    * defense then degrades to the absolute floor). */
  /** Whitespace-tolerant `{"query": sec, …}` parse: the committed resource
    * has been both compact (`"k":0.4` — what the refresh writes) and
    * pretty-printed (`"k": 0.4` — what round-snapshot tooling reformats it
    * to). The previous strict no-space regex silently parsed the pretty
    * form as an EMPTY baseline, which disabled the rerun-defense
    * thresholds and turned the min-merge refresh into a raw overwrite. */
  def parseBaseline(json: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*(-?[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** [[parseBaseline]] that fails loudly when the parse is implausibly
    * small: fewer numbers than the text has keys means some entries did
    * not parse, and a silently partial baseline weakens the rerun defense
    * for exactly the queries it dropped. */
  def parseBaselineStrict(json: String, source: String): Map[String, Double] = {
    val parsed = parseBaseline(json)
    val keys = """"[^"]+"\s*:""".r.findAllMatchIn(json).size
    if (parsed.size < keys)
      throw new IllegalStateException(
        s"baseline $source: parsed ${parsed.size} numbers from $keys keys")
    parsed
  }

  def loadBaseline(sfName: String): Map[String, Double] = {
    val resource = s"/graft/bench_baseline_$sfName.json"
    val src = sys.env.get("SPARK_GRAFT_BASELINE")
      .map(p => (p, scala.io.Source.fromFile(p)))
      .orElse(Option(getClass.getResourceAsStream(resource))
        .map(s => (resource, scala.io.Source.fromInputStream(s))))
    src.map { case (name, s) =>
      try parseBaselineStrict(s.mkString, name)
      finally s.close()
    }.getOrElse(Map.empty)
  }

  /** Runs `build` for each name on a pool of `threads` workers and returns
    * the results in input order. A failure escaping a build stops the
    * rest — queued builds are dropped and running ones interrupted
    * (`shutdownNow`) before it propagates — so the bench does not spend
    * its budget on builds whose results nobody collects. */
  def runPooled[A](names: Seq[String], threads: Int)(build: String => A): Seq[(String, A)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val out = names.map(q => q -> pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = build(q)
      })).map { case (q, fut) => q -> fut.get() }
      pool.shutdown()
      out
    } catch { case e: Throwable => pool.shutdownNow(); throw e }
  }

  /** The `"parallelism"` block the artifact and the compact line carry: the
    * master, Spark's default parallelism, the shuffle partition count and
    * `SPARK_GRAFT_CPUS` exactly as received (null when unset), so a reader
    * checks the cores a run used instead of inferring them from timings. */
  def parallelismJson(master: String, defaultParallelism: Int, shufflePartitions: String,
                      cpusEnv: Option[String]): String = {
    import org.json4s._
    ",\"parallelism\":" + org.json4s.jackson.JsonMethods.compact(JObject(
      "master" -> JString(master),
      "default_parallelism" -> JInt(defaultParallelism),
      "shuffle_partitions" -> JString(shufflePartitions),
      "spark_graft_cpus" -> cpusEnv.map(JString(_)).getOrElse(JNull)))
  }

  def main(args: Array[String]): Unit = {
    // Stdout contract hardening: log4j already targets SYSTEM_ERR, but the
    // BENCH_r14 tail showed an executor ClassNotFound stack trace written
    // STRAIGHT to stdout (raw printStackTrace from a daemon thread) landing
    // just before the summary line — one such trace landing AFTER it would
    // evict the contract line from the driver's ~4 KB tail (the r1–r9
    // parsed:null failure mode). Redirect System.out/Console.out to stderr
    // for the whole run and hold the REAL stdout for exactly one write:
    // the compact summary line, printed after spark.stop() so shutdown
    // noise can't follow it on this stream.
    val realOut = System.out
    val errStream = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true)
    System.setOut(errStream)
    // Force scala.Console's lazy init NOW, post-redirect: 2.13 removed
    // Console.setOut, and the root DynamicVariable captures
    // java.lang.System.out at class init — touching it here makes
    // Scala-side println default to the stderr wrapper for this JVM.
    // Assert the BINDING, not mere initialization: if Console was already
    // initialized earlier in the JVM its DynamicVariable default still
    // holds the real stdout and Scala-side println would bypass the
    // redirect — fail loudly here rather than leak println onto the
    // contract stream ("ne null" always passed and detected nothing).
    require(scala.Console.out eq System.out,
      "scala.Console was initialized before the stdout redirect; " +
        "Scala println would leak to the contract stream")
    // ---- Interruption-proofing + wall-clock budget (the BENCH_r17 rc=124
    // lesson: the driver's window is finite and a timeout used to leave
    // NOTHING — no artifact, no compact line). Three defenses, all active
    // by default:
    //  1. the artifact file is STREAMED — rewritten after every phase and
    //     every ~15 suite queries with `"partial": true` until the run
    //     completes, so a kill -9 mid-suite leaves N complete measurements;
    //  2. SPARK_GRAFT_TIME_BUDGET_S (default 2400) sheds phases when the
    //     remaining budget can't fit them — extras (write/stream/fetch/occ/
    //     sqlread) first, then the rerun defense, then remaining scale
    //     rungs, then (last resort) remaining suite queries — and the
    //     compact line still prints with whatever completed, carrying
    //     `partial` + the shed list;
    //  3. a JVM shutdown hook prints the compact snapshot line if the
    //     normal path never did — `timeout(1)` sends SIGTERM (rc=124), and
    //     hooks run on SIGTERM, so even a driver-window kill now yields a
    //     parseable BENCH line.
    // Heartbeats go to stderr per phase so a timeout's kept tail shows
    // where the run died.
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    // Default sized from the measured close-run wall: a full 317-query run
    // (scale trend ~840 s + setup ~400 s + suite ~450 s + defense + extras)
    // is ~2030 s in-JVM on a 1.4–3× contended box — 2400 sheds nothing on
    // a healthy run and trims extras-first under the heavy contention that
    // killed BENCH_r17; the SIGTERM hook remains the last-resort line.
    val budgetS = sys.env.get("SPARK_GRAFT_TIME_BUDGET_S").map(_.toDouble).getOrElse(2400.0)
    def remainingS: Double = budgetS - elapsedS
    val shedPhases = scala.collection.mutable.ArrayBuffer.empty[String]
    def heartbeat(msg: String): Unit =
      System.err.println(f"[bench ${elapsedS}%.0f/${budgetS}%.0fs] $msg")
    /** Gate a sheddable phase on the remaining budget: false records the
      * shed (artifact + compact line both carry it) so a reader knows the
      * block is absent by BUDGET, not by failure. estimateS is deliberately
      * coarse — the gate exists to protect the compact line, not to
      * schedule precisely. */
    def phaseGate(name: String, estimateS: Double): Boolean = {
      val ok = remainingS > estimateS + 30.0
      if (!ok) { shedPhases += name; heartbeat(s"BUDGET: shedding $name") }
      ok
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    val parallelism = parallelismJson(spark.sparkContext.master,
      spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions"),
      sys.env.get("SPARK_GRAFT_CPUS"))

    // ---- Streamed-artifact state: every phase writes through these so the
    // artifact file and the compact line can both be composed at ANY moment
    // (mid-suite kill, SIGTERM, budget shed) from whatever has completed.
    val stateLock = new Object
    val jobErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    val resultsNow = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val memStats = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val extraBlocks = new StringBuilder
    var setupJson = ""
    var scaleJson = ""
    var writeHeadline = ""
    var nReruns = 0
    var firstPassTotal = 0.0
    var scaleFlagged: Seq[String] = Seq.empty
    var scaleExponents: Map[String, Double] = Map.empty
    var scaleCtl: Double = 0.0
    var scaleThreshold: Double = 0.0
    var scaleConfidence: String = ""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (new java.io.File("/root/repo").isDirectory) "/root/repo/bench_artifact.json"
      else "bench_artifact.json")
    def contentionXNow: Double =
      if (calibSamples.nonEmpty) calibSamples.max / math.max(calibSamples.min, 1e-3) else 0.0
    // Present on any snapshot that is incomplete OR shed anything: a reader
    // must be able to tell "block absent by budget" from "block failed".
    def partialJson(partial: Boolean): String =
      if (!partial && shedPhases.isEmpty) ""
      else s""","partial":$partial,"shed":${shedPhases.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
        f""","budget_s":$budgetS%.0f,"elapsed_s":$elapsedS%.1f"""
    // Mid-suite snapshots haven't closed the first pass yet — report the
    // running sum so a partial line's first_pass_sec is never a bogus 0.
    def firstPassNow(total: Double): Double =
      if (firstPassTotal > 0) firstPassTotal else total
    def artifactNow(partial: Boolean): String = stateLock.synchronized {
      val results = resultsNow.toSeq
      val total = results.map(_._2).sum
      val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val top = results.sortBy(-_._2).take(20)
        .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val memJson = memStats.map { case (q, (peak, spill, gc)) =>
        "\"" + q + f"""\":{"peak_mb":${peak / 1048576.0}%.1f,"spill_mb":${spill / 1048576.0}%.1f,"gc_ms":$gc}"""
      }.mkString("{", ",", "}")
      val contention =
        if (calibSamples.nonEmpty)
          f""","contention":{"samples":${calibSamples.map(t => f"$t%.3f").mkString("[", ",", "]")},""" +
            f""""x":$contentionXNow%.2f}"""
        else ""
      val jobErrJson =
        if (jobErrors.isEmpty) ""
        else jobErrors.map("\"" + _ + "\"").mkString(""","job_errors":[""", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"top20_slowest":$top,""" +
        f""""mem":$memJson,"n_queries":${results.size},"n_reruns":$nReruns,""" +
        f""""first_pass_sec":${firstPassNow(total)}%.3f,"total_sec":$total%.3f""" +
        s"""$setupJson${extraBlocks.toString}$scaleJson$contention$jobErrJson${partialJson(partial)}""" +
        s"""$parallelism,"sf":"$sfDir"}"""
    }
    def flushArtifact(partial: Boolean = true): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        artifactNow(partial).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact flush failed: ${e.getMessage}") }
    def compactNow(partial: Boolean): String = stateLock.synchronized {
      val results = resultsNow.toSeq
      val total = results.map(_._2).sum
      val top10 = results.sortBy(-_._2).take(10)
        .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val memTop = memStats.toSeq.sortBy(-_._2._1).take(5)
        .map { case (q, (peak, _, _)) => "\"" + q + f"\":${peak / 1048576.0}%.1f" }
        .mkString("{", ",", "}")
      val flaggedJson = scaleFlagged
        .map(q => "\"" + q + f"\":${scaleExponents.getOrElse(q, 0.0)}%.2f")
        .mkString("{", ",", "}")
      val scaleSummary =
        if (scaleJson.isEmpty) ""
        else if (scaleJson.contains("\"error\"")) s""","scale_error":true"""
        else f""","scale_flagged":$flaggedJson,"scale_control_ratio":$scaleCtl%.2f,"scale_flag_ratio":$scaleThreshold%.2f,"scale_confidence":"$scaleConfidence""""
      val setupHeadline =
        if (setupJson.isEmpty) ""
        else setupJson.replaceAll(""","setup":\{"sec":([0-9.]+).*""", ""","setup_sec":$1""")
      val jobErrHeadline =
        if (jobErrors.isEmpty) "" else s""","job_errors":${jobErrors.size}"""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_sec":$total%.3f""" +
        setupHeadline +
        f""","n_queries":${results.size},"n_reruns":$nReruns,"first_pass_sec":${firstPassNow(total)}%.3f,""" +
        f""""queries":$top10,"mem_top_peak_mb":$memTop""" +
        writeHeadline + scaleSummary + jobErrHeadline + partialJson(partial) +
        f""","contention_x":$contentionXNow%.2f$parallelism,"artifact":"$outPath","sf":"$sfDir"}"""
    }
    val linePrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def printCompact(partial: Boolean): Unit =
      if (linePrinted.compareAndSet(false, true)) {
        realOut.println(compactNow(partial)); realOut.flush()
      }
    // SIGTERM safety net: `timeout(1)` kills with TERM (rc=124) and the JVM
    // runs shutdown hooks on TERM — a driver-window timeout now prints the
    // partial compact line + flushes the artifact instead of losing the
    // round's entire bench signal (the BENCH_r17 failure). kill -9 skips
    // hooks, but the streamed artifact file survives it.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        if (!linePrinted.get()) {
          // fires on SIGTERM (driver-window timeout) AND on any abnormal
          // JVM exit that skipped the normal finale — either way the
          // partial snapshot is strictly better than silence
          shedPhases += "terminated-early"
          flushArtifact()
          printCompact(partial = true)
        }
      } catch { case _: Throwable => () }
    }))

    // Bench measures the shipped shape: sketch queries run their
    // verification-free variants (SparkEntry.benchVariants), everything else
    // the `queries` entry.
    def run(name: String): Unit =
      SparkEntry.benchVariants.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.filter(SparkEntry.queries.contains))
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)

    // Warmup: JVM + codegen + parquet footer cache. q1 touches lineitem;
    // the count()s touch every other table's footers so no family's first
    // query pays first-open IO inside its measurement (counts only read
    // metadata/one column — they warm the file handles, not the data).
    run("q1_pricing_summary")
    Seq(graft.tables.Tables.orders(spark, sfDir),
        graft.tables.Tables.events(spark, sfDir),
        graft.tables.Tables.documents(spark, sfDir),
        graft.tables.Tables.embeddings(spark, sfDir)).foreach(_.count())

    // JSON-safe error rendering: class + truncated message (an error class
    // alone is undiagnosable from a BENCH artifact).
    def errStr(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
        .take(160).replaceAll("""[\\"\n\r\t]""", " ")

    // Job-failure observability: any failed Spark job's exception HEAD is
    // recorded into the artifact (`job_errors`) — the r18 driver run
    // carried a truncated `ERROR TaskSetManager ... aborting job` stack in
    // its 2000-char tail with the cause scrolled away; absorbed failures
    // (defense/probe phases, rc=0) must still be diagnosable from the
    // artifact alone.
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        e.jobResult match {
          case org.apache.spark.scheduler.JobFailed(ex) => stateLock.synchronized {
            // capped with an explicit truncation marker: deliberate probe
            // failures must not silently exhaust the cap and hide a later
            // genuine failure's absence from the artifact
            if (jobErrors.size < 8)
              jobErrors += f"job ${e.jobId} @${elapsedS}%.0fs: ${errStr(ex)}"
            else if (jobErrors.size == 8)
              jobErrors += "... further job failures truncated"
          }
          case _ => ()
        }
    })

    // ---- Phase 1: empirical scale trend (FIRST — young heap; see scaladoc).
    // Default ON; SPARK_GRAFT_SCALE_BENCH=0 disables. The "would this
    // survive 100×" claim as a MEASUREMENT: heavies run against
    // replica-scaled copies ([[graft.tables.ScaleUp]] — per-replica
    // statistics invariant, replicas mutually disjoint, dims fixed) of the
    // sf0.01 sibling dir at 1×/4×/16× volume. Growth is judged on executor
    // CPU time (wall is dominated by fixed driver cost at these sizes;
    // summed executorRunTime inflates with task count). A codegen warmup
    // pass runs every scale query once against the base dir first, then
    // Memo.reset() (which now also unpersists) makes every measured point
    // memo-COLD; a second reset at phase end releases the scaled dirs'
    // blocks before the main suite runs.
    heartbeat("phase: scale trend")
    val scaleBench =
      if (!sys.env.get("SPARK_GRAFT_SCALE_BENCH").contains("0") &&
          phaseGate("scale_trend", 240.0)) {
        try {
          val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
            new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath)
          if (!new java.io.File(base).isDirectory) ""
          else {
            val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,4,16")
              .split(",").map(_.trim.toInt).toSeq.sorted
            val qnames = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
              .map(_.split(",").toSeq).getOrElse(scaleTrendQueries)
              .filter(SparkEntry.queries.contains)
            val tmp = java.nio.file.Files.createTempDirectory("graft_scale_").toString
            val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
            val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
            val listener = new org.apache.spark.scheduler.SparkListener {
              override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
                if (e.taskMetrics != null) {
                  taskMs.addAndGet(e.taskMetrics.executorRunTime)
                  cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
                }
            }
            spark.sparkContext.addSparkListener(listener)
            // Listener events arrive async: poll the counter to a fixed
            // point so a job's tail tasks don't bleed into the next window.
            def settledTaskMs(): Long = {
              var prev = -1L; var cur = taskMs.get()
              while (cur != prev) { Thread.sleep(50); prev = cur; cur = taskMs.get() }
              cur
            }
            // Scale-phase contention bracket: the same fixed CPU-bound
            // calibration job as the main suite's index, sampled before and
            // after the trend measurements. BENCH_r10 was judged "weak
            // evidence" precisely because its flags carried no in-artifact
            // contention context (contention_x 5.53 was measured in phase 2,
            // an hour after the trend ran) — the trend now records its OWN
            // box state so a flag and its noise regime ship together.
            val scCal = scala.collection.mutable.ArrayBuffer.empty[Double]
            def scCalibrate(): Unit = {
              val t0 = System.nanoTime()
              spark.range(400000000L)
                .agg(org.apache.spark.sql.functions.sum(
                  org.apache.spark.sql.functions.col("id"))).collect()
              scCal += (System.nanoTime() - t0) / 1e9
            }
            try {
              // EVERY point — 1× included — is materialized through the same
              // writer with the same fixed-width token salt (saltAll): the
              // points differ in volume and nothing else (encoding, token
              // length, file layout regime all shared).
              val dirs = mults.map { m =>
                val d = s"$tmp/x$m"
                graft.tables.ScaleUp.materialize(spark, base, d, m, saltAll = true)
                m -> d
              }
              def runAt(q: String, d: String): Unit =
                SparkEntry.benchVariants.getOrElse(q, SparkEntry.queries(q))(spark, d)
                  .write.format("noop").mode("overwrite").save()
              // Codegen/planner warmup on the 1× dir, then memo-cold reset.
              qnames.foreach(q => try runAt(q, dirs.head._2) catch { case _: Throwable => () })
              graft.plans.Memo.reset()
              // Linear CONTROL: a token histogram is linear-by-construction
              // (one explode + one hash agg), so its measured CPU ratio
              // captures everything a single box adds at 16× per-core volume
              // that is NOT plan growth — cache-miss inflation, agg-map
              // resizing, spill-path switches. Queries are flagged RELATIVE
              // to it (see below), which is what makes a flag mean "the PLAN
              // grows", not "the box ran out of L3".
              def controlAt(d: String): Unit = {
                import org.apache.spark.sql.functions._
                graft.tables.Tables.documents(spark, d)
                  .select(explode(split(trim(col("text")), "\\s+")).as("token"))
                  .groupBy(col("token")).count()
                  .write.format("noop").mode("overwrite").save()
              }
              controlAt(dirs.head._2) // codegen warm
              scCalibrate() // opening contention sample (post-warm)
              def measureControl(): Seq[Double] = dirs.map { case (_, d) =>
                settledTaskMs(); val c0 = cpuNs.get()
                controlAt(d)
                settledTaskMs(); (cpuNs.get() - c0) / 1e9
              }
              // Contention-aware control (the r15 lesson — control ratio
              // 18.47 vs 2.46 idle made the whole trend blind): a control
              // far above its committed idle ratio is re-measured ONCE,
              // immediately (this is the first phase — the cheapest moment),
              // keeping the per-rung min; if it still reads high the
              // artifact downgrades its own scale verdict to low confidence.
              var controlCpu = measureControl()
              var controlRemeasured = false
              if (envelopeRatioHi(controlCpu) > controlSuspectX * idleControlRatio) {
                controlRemeasured = true
                controlCpu = controlCpu.zip(measureControl())
                  .map { case (a, b) => math.min(a, b) }
              }
              // Query-major order: one query's three scale points run
              // back-to-back under the same noise regime, which is what makes
              // the RATIO trustworthy on a shared host. Memo.reset() BEFORE
              // every query (not just at phase boundaries): r12 measured
              // dedup_onion at "exponent 2.41" because its 1×/4× points hit
              // the memoized substrRuns build from dedup_substring's earlier
              // measurement while its 16× point missed and paid the full
              // rebuild — an attribution artifact, not a plan shape (cold
              // standalone it measures 0.50). Resetting per query makes all
              // three rungs of every query EQUALLY memo-cold (build included,
              // the honest production-cold shape) and releases the previous
              // queries' checkpoint blocks, so late-list queries measure in
              // a young heap instead of one carrying 25 queries × 3 rungs of
              // block history (the q55 "exponent 2.99" failure mode). Safe
              // here for the same reason the phase-boundary reset is: every
              // prior query's result is fully noop-materialized, no evicted
              // DataFrame reference is live.
              val scaleFailed = scala.collection.mutable.Set.empty[String]
              def measure(q: String): Seq[(Double, Double, Double)] = {
                graft.plans.Memo.reset()
                dirs.map { case (m, d) =>
                  val ms0 = settledTaskMs(); val c0 = cpuNs.get()
                  val t0 = System.nanoTime()
                  try runAt(q, d)
                  catch { case e: Throwable =>
                    scaleFailed += q
                    System.err.println(s"[scale] $q x$m failed: ${e.getMessage}")
                  }
                  val wall = (System.nanoTime() - t0) / 1e9
                  val task = (settledTaskMs() - ms0) / 1e3
                  (wall, task, (cpuNs.get() - c0) / 1e9)
                }
              }
              // Rung-profile integrity guard (the r14 lesson —
              // lake_commit_cadence "confirmed" at 10.99× off a profile whose
              // 4× rung measured BELOW its 1× rung): executor cpu is
              // physically monotone in volume for any plan, so a dip means
              // one-time work landed on an earlier rung (JIT of this query's
              // generated classes after cache eviction — measured ~0.35 s on
              // the 1× rung of a 0.2 s query) and the later ratio divides by
              // a deflated denominator. Two defenses, both BEFORE flagging:
              //  - a non-monotone first pass re-measures once and keeps the
              //    per-rung MIN (cpu can't measure below true cost, so min
              //    across passes strips whichever rung paid the one-time
              //    work — uniformly, not just the flagged numerator);
              //  - ratios are computed on the MONOTONE ENVELOPE
              //    (env[i] = max(cpu[0..i])): a residual dip raises the
              //    denominator to the largest smaller-volume rung — a lower
              //    bound on the rung's true cost — instead of feeding the
              //    ratio a measurement the profile itself refutes.
              val nonMonotone = scala.collection.mutable.ArrayBuffer.empty[String]
              // Budget shed order puts "remaining scale rungs" LAST among
              // sheddable work, but the trend runs FIRST chronologically —
              // so its own gate is generous (half the budget): only a
              // pathologically contended box sheds here, and the shed names
              // ride the artifact so a reader knows which exponents are
              // absent by budget.
              val firstMeasure = qnames.flatMap { q =>
                if (elapsedS > 0.5 * budgetS) {
                  shedPhases += s"scale:$q"; None
                } else Some(q -> ())
              }.map { case (q, _) =>
                var ts = measure(q)
                if (!scaleFailed(q) && !monotoneCpu(ts.map(_._3))) {
                  nonMonotone += q
                  val ts2 = measure(q)
                  // a re-measure that FAILS keeps the valid first pass
                  // (q was not in scaleFailed on entry to this branch)
                  if (scaleFailed.contains(q)) scaleFailed -= q
                  else ts = ts.zip(ts2).map { case ((w1, t1, c1), (w2, t2, c2)) =>
                    (math.min(w1, w2), math.min(t1, t2), math.min(c1, c2))
                  }
                }
                q -> ts
              }
              val (mLo, mHi) = (mults(mults.size - 2), mults.last)
              def ratioHi(ts: Seq[Double]): Double = envelopeRatioHi(ts)
              val ctlRatio = ratioHi(controlCpu)
              // scale_confidence: "low" = the control (even after its
              // re-measure) sits far above the committed idle ratio, so the
              // effective flag threshold is inflated past where a genuine
              // quadratic would trip — a reader must not take an empty
              // flagged list as evidence on this run.
              scaleConfidence =
                if (ctlRatio > controlSuspectX * idleControlRatio) "low" else "normal"
              val flagThreshold = math.max(scaleFlagRatio, 1.5 * ctlRatio)
              def thresholdFor(q: String): Double =
                math.max(flagThreshold, scaleSanctionedRatio.getOrElse(q, 0.0))
              def isFlagged(q: String, ts: Seq[(Double, Double, Double)]): Boolean =
                !scaleFailed(q) && ratioHi(ts.map(_._3)) > thresholdFor(q)
              // Best-of-2 for flagged queries — the same defense the main
              // suite applies per query: a single noisy point (contention
              // only ever INFLATES cpu) can push a linear query's 16×/4×
              // ratio over the threshold, and a genuine super-linear plan
              // reproduces on the re-run while noise does not. Keep the
              // per-point MIN across the two passes. Memos are reset first
              // so the re-measure is as cold as the first pass.
              val rerunCount = new java.util.concurrent.atomic.AtomicInteger(0)
              // Per-flag defense record: first-pass ratio, the RE-RUN'S OWN
              // ratio (second_ratio — an independent isolated measurement;
              // the r12 artifact recorded only first/best and a min-merge
              // that kept every first-pass point made "confirmed" look like
              // "never re-measured"), best-of-2 ratio, and the verdict the
              // artifact itself can defend — "confirmed" (reproduced on an
              // isolated re-measure) vs "cleared" (a contention spike that
              // did not reproduce). A re-measure that FAILS keeps the first
              // pass's measurements AND flag status: a min-merge with a
              // fast-fail's near-zero points would silently unflag a
              // genuinely super-linear query.
              val defense = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, String)]
              val perQuery = firstMeasure.map { case (q, ts) =>
                if (!isFlagged(q, ts)) q -> ts
                else if (elapsedS > 0.55 * budgetS) {
                  // Budget-shed flag re-measure: the flag STANDS (first-pass
                  // evidence, unconfirmed) and the shed is recorded — never
                  // silently clear a flag because the box was slow.
                  shedPhases += s"scale-rerun:$q"
                  q -> ts
                } else {
                  rerunCount.incrementAndGet()
                  val failedBefore = scaleFailed.contains(q)
                  val ts2 = measure(q)
                  val rerunFailed = scaleFailed.contains(q) && !failedBefore
                  val merged =
                    if (rerunFailed) { scaleFailed -= q; ts } // keep valid first pass
                    else ts.zip(ts2).map { case ((w1, t1, c1), (w2, t2, c2)) =>
                      (math.min(w1, w2), math.min(t1, t2), math.min(c1, c2))
                    }
                  val r1 = ratioHi(ts.map(_._3))
                  val r2 = if (rerunFailed) Double.NaN else ratioHi(ts2.map(_._3))
                  val rBest = ratioHi(merged.map(_._3))
                  // The verdict is the RE-RUN'S OWN ratio, not the min-merged
                  // one: merging pairs each rung's fastest sample, so a
                  // spuriously FAST middle rung in pass 1 (a denominator dip
                  // — noise deflates as well as inflates) rides into rBest
                  // and "confirms" a flag the isolated re-measure refuted
                  // (r14: mm_phash first 5.45 / second 4.40 / merged 5.45).
                  // A genuine super-linear plan reproduces on the re-run;
                  // a one-point dip does not.
                  defense(q) = (r1, r2, rBest,
                    if (rerunFailed) "rerun-failed-kept-first-pass"
                    else if (r2 > thresholdFor(q)) "confirmed" else "cleared")
                  q -> merged
                }
              }
              val flagged = perQuery.collect { case (q, ts) if isFlagged(q, ts) &&
                defense.get(q).forall(_._4 != "cleared") => q }
              scaleFlagged = flagged
              scaleCtl = ctlRatio
              scaleThreshold = flagThreshold
              scaleExponents = perQuery.map { case (q, ts) =>
                q -> math.log(ratioHi(ts.map(_._3))) / math.log(mHi.toDouble / mLo)
              }.toMap
              scCalibrate() // closing contention sample brackets the trend
              val qjson = perQuery.map { case (q, ts) =>
                val cpuSec = ts.map(_._3)
                val ex = scaleExponents(q)
                "\"" + q + "\":{\"sec\":" + ts.map(t => f"${t._1}%.3f").mkString("[", ",", "]") +
                  ",\"task_sec\":" + ts.map(t => f"${t._2}%.3f").mkString("[", ",", "]") +
                  ",\"cpu_sec\":" + cpuSec.map(t => f"$t%.3f").mkString("[", ",", "]") +
                  f""","ratio_hi":${ratioHi(cpuSec)}%.2f,"exponent":$ex%.2f""" +
                  scaleSanctionedRatio.get(q).map(s => f""","sanctioned_ratio":$s%.1f""").getOrElse("") +
                  (if (scaleFailed(q)) ",\"failed\":true" else "") + "}"
              }.mkString("{", ",", "}")
              val defJson = defense.map { case (q, (r1, r2, rb, v)) =>
                val second = if (r2.isNaN) "null" else f"$r2%.2f"
                "\"" + q + f"""\":{"first_ratio":$r1%.2f,"second_ratio":$second,"best_ratio":$rb%.2f,""" +
                  f""""control":$ctlRatio%.2f,"threshold":${thresholdFor(q)}%.2f,"verdict":"$v"}"""
              }.mkString("{", ",", "}")
              val scContentionX =
                if (scCal.nonEmpty) scCal.max / math.max(scCal.min, 1e-3) else 0.0
              s""","scale_trend":{"base":"${new java.io.File(base).getName}","mults":${
                mults.mkString("[", ",", "]")},"control_cpu_sec":${
                controlCpu.map(t => f"$t%.3f").mkString("[", ",", "]")},"control_ratio":${
                f"$ctlRatio%.2f"},"control_idle_ratio":$idleControlRatio,"control_remeasured":${
                controlRemeasured},"scale_confidence":"$scaleConfidence","flag_ratio":${
                f"$flagThreshold%.2f"},"n_reruns":${
                rerunCount.get()},"rung_remeasured":${
                nonMonotone.map("\"" + _ + "\"").mkString("[", ",", "]")},"contention_samples":${
                scCal.map(t => f"$t%.3f").mkString("[", ",", "]")},"contention_x":${
                f"$scContentionX%.2f"},"defense":$defJson,"flagged":${
                flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":$qjson}"""
            } finally {
              spark.sparkContext.removeSparkListener(listener)
              // Release every block the scale phase pinned (scaled-dir
              // memos would never be re-hit by the sf0.1 suite — they'd
              // only distort its heap the way the old end-of-run order
              // distorted the trend's).
              graft.plans.Memo.reset()
              org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
            }
          }
        } catch {
          case e: Throwable => s""","scale_trend":{"error":"${errStr(e)}"}"""
        }
      } else ""

    // ---- Phase 1.5: RECORDED setup — build every memoized shared fixture
    // (iceberg physical tables, dedup/LSH pipelines) by running one
    // representative query per fixture, timed into a `setup` artifact block
    // that is NOT part of any per-query number. Before this existed, the
    // one-time build landed on whichever family query ran first, which is
    // what made iceberg_mor_read-class queries read as 3–5× their committed
    // baseline on a fresh box (r11 item 8 / r12 adjudication). The cold
    // build story now lives HERE (setup_sec) and in the scale trend (whose
    // points are deliberately memo-cold); the suite measures steady state.
    // SPARK_GRAFT_SETUP_BENCH=0 disables (the suite then re-pays builds).
    scaleJson = scaleBench
    flushArtifact()
    heartbeat("phase: setup")
    if (!sys.env.get("SPARK_GRAFT_SETUP_BENCH").contains("0") &&
        phaseGate("setup", 60.0)) {
      // Fixture builds are independent of each other, so they run from a
      // small thread pool (guide §2.6: overlap independent jobs — each
      // build's serial driver/commit tail back-fills with another build's
      // tasks). Every worker thread gets ITS OWN session
      // (spark.newSession(), tuned identically): fixture builders mutate
      // session confs (partition-overwrite mode, catalog registrations),
      // which are session-scoped, so a shared session would race conf
      // restores across threads. plans.Memo keys artifacts by
      // SparkContext and serializes same-key builds, so the suite's main
      // session reuses every fixture built here. `setup.sec` is the phase
      // WALL (what the budget pays); `cpu_sec` keeps the old
      // sum-of-builds number and the per-query map keeps per-build walls.
      val setupNames = SparkEntry.benchSetupQueries.filter(names.contains)
      val nWorkers = math.max(1, math.min(
        sys.env.get("SPARK_GRAFT_SETUP_THREADS").map(_.toInt).getOrElse(4),
        setupNames.size))
      val wallT0 = System.nanoTime()
      val workerSession = new ThreadLocal[SparkSession] {
        override def initialValue(): SparkSession = {
          val s = spark.newSession()
          s.conf.set("spark.sql.shuffle.partitions", cpus)
          s.conf.set("spark.sql.session.timeZone", "UTC")
          GraftSession.tune(s)
          s
        }
      }
      // runPooled shuts the pool down on every path: an exception
      // escaping fut.get() (interruption) must not leave the non-daemon
      // pool threads pinning the JVM open past main — that would starve
      // the shutdown hook of an exit and lose the BENCH contract line.
      val setupTimes = runPooled(setupNames, nWorkers) { q =>
        val t0 = System.nanoTime()
        try {
          val s = workerSession.get()
          s.sparkContext.setJobDescription(s"setup: $q")
          SparkEntry.benchVariants.getOrElse(q, SparkEntry.queries(q))(s, sfDir)
            .write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          System.err.println(s"[setup] $q failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val wall = (System.nanoTime() - wallT0) / 1e9
      if (setupTimes.nonEmpty) {
        val m = setupTimes.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
        setupJson = f""","setup":{"sec":$wall%.3f,""" +
          f""""cpu_sec":${setupTimes.map(_._2).sum}%.3f,""" +
          f""""threads":$nWorkers,"queries":$m}"""
      }
    }

    // ---- Phase 2: the main per-query suite, with memory attribution.
    // A failed query's fast-fail elapsed time must never enter the baseline:
    // min-merge would make the bogus sub-second "best" permanent and the 2×
    // trigger would rerun the (healthy) query every round thereafter.
    val failed = scala.collection.mutable.Set.empty[String]
    val memPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val memListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          memPeak.accumulateAndGet(e.taskMetrics.peakExecutionMemory, Math.max _)
          memSpill.addAndGet(e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled)
        }
    }
    spark.sparkContext.addSparkListener(memListener)
    // Driver-JVM GC time per query (collection-time deltas across all
    // collectors) — the Spark-native mirror of the reference's per-benchmark
    // GC tracking (poc/utils/metrics_collector.py:66 collect_gc_metrics).
    // local-mode executors share the JVM, so this is the whole GC story here;
    // on a cluster the same beans run per executor.
    def gcTotalMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def timeQuery(name: String, recordMem: Boolean = false): Double = {
      if (recordMem) { memPeak.set(0L); memSpill.set(0L) }
      val gc0 = if (recordMem) gcTotalMs() else 0L
      val t0 = System.nanoTime()
      try run(name) catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (recordMem) stateLock.synchronized {
        memStats(name) = (memPeak.get(), memSpill.get(), gcTotalMs() - gc0)
      }
      sec
    }
    val baseline = loadBaseline(new java.io.File(sfDir).getName)
    // Contention index: a fixed ~0.2 s CPU-bound calibration job interleaved
    // every 20 queries. Its time dispersion (max/min across the run) is a
    // property of the BOX during the run, not of any query — a reader of the
    // artifact can see "contention_x: 4.1" and discount per-query spikes
    // without needing a shell to re-measure (the round-7/8 adjudications
    // each required exactly that).
    def calibrate(warm: Boolean = false): Unit = {
      val t0 = System.nanoTime()
      spark.range(400000000L)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("id"))).collect()
      if (!warm) calibSamples += (System.nanoTime() - t0) / 1e9
    }
    heartbeat(s"phase: suite (${names.size} queries)")
    calibrate(warm = true) // codegen/scheduler warm — not a sample
    // Suite first pass streams into resultsNow (artifact flushed every 15
    // queries) and is itself budget-capped as a LAST resort: the totals are
    // the artifact's core, so they shed only when even the core can't fit.
    var suiteStopped = false
    names.zipWithIndex.foreach { case (name, i) =>
      if (!suiteStopped && remainingS < 60.0) {
        suiteStopped = true
        shedPhases += s"suite:${names.size - i}-of-${names.size}-unmeasured"
        heartbeat(s"BUDGET: shedding ${names.size - i} remaining suite queries")
      }
      if (!suiteStopped) {
        if (i % 20 == 0) calibrate()
        val t = timeQuery(name, recordMem = true)
        stateLock.synchronized { resultsNow(name) = t }
        if (i % 15 == 14) flushArtifact()
      }
    }
    calibrate() // closing sample brackets the run
    firstPassTotal = resultsNow.values.sum
    flushArtifact()
    // best-of-2 defense: re-run only queries whose first time is beyond the
    // contention trigger — bounded extra cost, and a real regression
    // reproduces while a noise spike does not. Budget-sheddable as a unit
    // (ahead of scale rungs per the shed order, behind the extras because
    // it runs earlier chronologically): a shed defense leaves valid
    // first-pass times, just without the noise-discount pass.
    def trigger(name: String): Double =
      baseline.get(name).map(b => math.max(2.0 * b, rerunMinSec)).getOrElse(rerunFloorSec)
    if (phaseGate("rerun_defense", 60.0)) {
      heartbeat("phase: rerun defense")
      var rerunShed = false
      resultsNow.toSeq.foreach { case (name, t1) =>
        if (t1 > trigger(name)) {
          if (remainingS < 45.0) {
            if (!rerunShed) { rerunShed = true; shedPhases += "rerun_defense:tail" }
          } else {
            nReruns += 1
            val t2 = timeQuery(name)
            // A rerun that FAILS fast-fails: its elapsed time is bogus, so
            // the published per-query time keeps the (successful) first pass.
            if (!failed(name)) stateLock.synchronized {
              resultsNow(name) = math.min(t1, t2)
            }
          }
        }
      }
      flushArtifact()
    }
    // refresh the committed baseline from this run's best-known times —
    // write it to the SF-named resource path (bench_baseline_<sf>.json).
    // Start from the loaded baseline so a SPARK_GRAFT_QUERIES-restricted
    // run refreshes only its own entries instead of wiping the rest, and
    // drop failed queries so a fast-fail time can't poison the min-merge.
    sys.env.get("SPARK_GRAFT_BASELINE_OUT").foreach { p =>
      // Keep only live query names so renamed/removed queries don't persist
      // in the committed artifact forever.
      val merged = (baseline ++ resultsNow.toSeq.filterNot(r => failed(r._1)).map {
        case (k, v) => k -> math.min(v, baseline.getOrElse(k, Double.MaxValue))
      }).filter { case (k, _) => SparkEntry.queries.contains(k) }
      val json = merged.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // ---- Phase 3: write/stream/fetch/OCC micro-benches (budget-sheddable,
    // FIRST in the shed order — each gated on a coarse estimate).
    heartbeat("phase: write bench")
    val writeBench =
      if (!sys.env.get("SPARK_GRAFT_WRITE_BENCH").contains("0") &&
          phaseGate("write_bench", 120.0)) {
        import org.apache.spark.sql.functions._
        val mult = sys.env.get("SPARK_GRAFT_WRITE_MULT").map(_.toInt).getOrElse(8)
        val li0 = graft.tables.Tables.lineitem(spark, sfDir)
        val li = (1 to mult).map(i =>
          li0.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong << 40))).reduce(_ union _)
        val dir = java.nio.file.Files.createTempDirectory("graft_wb_").toString
        def timeIt(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        // min/max file skip rate the written layout achieves for a
        // one-quarter shipdate predicate (parquet footer stats modeled by
        // per-file min/max — the same pruning a lake reader performs).
        def skipRatePct(path: String, lo: String, hi: String): Double = {
          val r = spark.read.parquet(path)
            .select(col("l_shipdate"), input_file_name().as("f"))
            .groupBy(col("f"))
            .agg(min(col("l_shipdate")).as("fmin"), max(col("l_shipdate")).as("fmax"))
            .agg(count(lit(1)).as("files"),
              sum(when(col("fmax") < lit(lo).cast("timestamp") ||
                       col("fmin") > lit(hi).cast("timestamp"), 1L).otherwise(0L)).as("skipped"))
            .head()
          r.getLong(1) * 100.0 / r.getLong(0)
        }
        try {
          val nRows = li.count() // materialize footer/page cache before timing
          // Interleaved A/B/A/B…: both arms sample the same noise regime,
          // and the per-arm MEDIAN discards a single contended rep — the
          // only way a shell-less reader can trust sort_overhead_x.
          val reps = sys.env.get("SPARK_GRAFT_WRITE_REPS").map(_.toInt).getOrElse(3)
          // Per-rep contention bracket (r14 verdict: the driver's sorted_secs
          // carried a 17.8 s outlier the median absorbed, but a shell-less
          // reader couldn't tell outlier from regression) — the same fixed
          // CPU-bound calibration job as the suite index, sampled before the
          // first rep and after every A/B pair, so each rep ships with the
          // box state it ran under.
          val wbCal = scala.collection.mutable.ArrayBuffer.empty[Double]
          def wbCalibrate(): Unit = {
            val t0 = System.nanoTime()
            spark.range(400000000L).agg(sum(col("id"))).collect()
            wbCal += (System.nanoTime() - t0) / 1e9
          }
          wbCalibrate()
          val (plainTs, sortedTs) = (1 to reps).map { _ =>
            val pair =
              (timeIt(li.write.mode("overwrite").parquet(s"$dir/unsorted")),
               timeIt(graft.lake.Layout.writeSorted(li, "l_shipdate", s"$dir/sorted", 32)))
            wbCalibrate()
            pair
          }.unzip
          def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
          val (tPlain, tSorted) = (median(plainTs), median(sortedTs))
          def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
          val skipPlain = skipRatePct(s"$dir/unsorted", "1997-01-01", "1997-03-31")
          val skipSorted = skipRatePct(s"$dir/sorted", "1997-01-01", "1997-03-31")
          writeHeadline =
            f""","sort_overhead_x":${tSorted / tPlain}%.2f,"skip_sorted_pct":$skipSorted%.1f"""
          f""","write_bench":{"rows":$nRows,"plain_sec":$tPlain%.3f,"sorted_sec":$tSorted%.3f,""" +
            f""""plain_secs":${arr(plainTs)},"sorted_secs":${arr(sortedTs)},""" +
            f""""contention_samples":${arr(wbCal.toSeq)},""" +
            f""""contention_x":${wbCal.max / math.max(wbCal.min, 1e-3)}%.2f,""" +
            f""""sort_overhead_x":${tSorted / tPlain}%.3f,"skip_rate_plain_pct":$skipPlain%.2f,"skip_rate_sorted_pct":$skipSorted%.2f}"""
        } catch {
          case e: Throwable => s""","write_bench":{"error":"${errStr(e)}"}"""
        } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      } else ""
    extraBlocks ++= writeBench
    flushArtifact()
    heartbeat("phase: streaming")
    // Streaming mirrors (default ON; SPARK_GRAFT_STREAM_BENCH=0 disables):
    // rows/sec per mirror through a MemoryStream + noop sink — the measured
    // counterpart of StreamingSpec's correctness checks.
    val streamBench =
      if (!sys.env.get("SPARK_GRAFT_STREAM_BENCH").contains("0") &&
          phaseGate("stream_bench", 60.0)) {
        try {
          val n = sys.env.get("SPARK_GRAFT_STREAM_ROWS").map(_.toInt).getOrElse(200000)
          // Streaming-drain contention bracket (the write-bench pattern):
          // the same fixed CPU-bound calibration job sampled before and
          // after the drain, so per-arm rows/s in a contended suite run is
          // attributable — BENCH_r15's `dedup` arm read 3.7 k rows/s vs
          // 39 k idle history and only box-wide contention_x (measured an
          // hour earlier) said why.
          val stCal = scala.collection.mutable.ArrayBuffer.empty[Double]
          def stCalibrate(): Unit = {
            val t0 = System.nanoTime()
            spark.range(400000000L)
              .agg(org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.col("id"))).collect()
            stCal += (System.nanoTime() - t0) / 1e9
          }
          stCalibrate()
          val arms = graft.streaming.StreamBench.run(spark, n)
          stCalibrate()
          val armsJson = arms.map { case (k, rows, sec) =>
            f""""$k":{"rows":$rows,"sec":$sec%.3f,"rows_per_sec":${(rows / sec).toLong}}"""
          }.mkString(",")
          val stX = stCal.max / math.max(stCal.min, 1e-3)
          s""","streaming":{$armsJson,"contention_samples":${
            stCal.map(t => f"$t%.3f").mkString("[", ",", "]")},"contention_x":${
            f"$stX%.2f"}}"""
        } catch {
          case e: Throwable => s""","streaming":{"error":"${errStr(e)}"}"""
        }
      } else ""
    extraBlocks ++= streamBench
    flushArtifact()
    heartbeat("phase: fetch")
    // Measured parallel-fetch ladder (default ON; SPARK_GRAFT_FETCH_BENCH=0
    // disables): executor-side TTFB-sleep tasks, the measured mirror of
    // lake.Manifest.fetchLatency's analytic ceil(n/p)×TTFB model. model_x
    // near 1.0 per rung = the model the lake operators report is a
    // measurement, not an assumption.
    val fetchBench =
      if (!sys.env.get("SPARK_GRAFT_FETCH_BENCH").contains("0") &&
          phaseGate("fetch_bench", 45.0)) {
        try {
          val sim = graft.lake.FetchSim.ladder(spark).map { case (p, meas, model) =>
            f""""p$p":{"measured_sec":$meas%.3f,"modeled_sec":$model%.3f,"model_x":${meas / model}%.3f}"""
          }
          // REAL metadata tree fetch ladder: a one-manifest-per-month table
          // (appendGrouped(1)) planned through the actual planFiles fetch
          // path with an injected per-manifest-open TTFB — the reference's
          // parallel-S3-fetch study run against the real planner instead of
          // a modeled file list. model = ceil(n/p) x delay.
          val treeDir = java.nio.file.Files.createTempDirectory("graft_fetch_tree_").toString
          val real = try {
            import graft.lake.iceberg.IcebergTable
            IcebergTable.appendGrouped(spark,
              graft.tables.Tables.lineitem(spark, sfDir), treeDir, groupMonths = 1)
            val n = IcebergTable.readManifestList(IcebergTable.currentSnapshot(
              IcebergTable.readMetadata(treeDir)).manifestList).size
            val delayMs = 2L
            Seq(1, 4, 16).map { p =>
              val t0 = System.nanoTime()
              IcebergTable.planFiles(treeDir, fetchParallelism = p, fetchDelayMs = delayMs)
              val meas = (System.nanoTime() - t0) / 1e9
              val model = math.ceil(n.toDouble / p) * delayMs / 1000.0
              f""""iceberg_p$p":{"manifests":$n,"measured_sec":$meas%.3f,""" +
                f""""modeled_sec":$model%.3f,"model_x":${meas / model}%.3f}"""
            }
          } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(treeDir))
          (sim ++ real).mkString(""","fetch_bench":{""", ",", "}")
        } catch {
          case e: Throwable => s""","fetch_bench":{"error":"${errStr(e)}"}"""
        }
      } else ""
    extraBlocks ++= fetchBench
    flushArtifact()
    heartbeat("phase: occ")
    // Threaded OCC commit micro-harness (default ON; SPARK_GRAFT_OCC_BENCH=0
    // disables): real Thread writers racing atomic commit-file creation with
    // conflict retries — the MEASURED counterpart of the modeled
    // `lake_concurrent_commits` (the reference's test_concurrent_writers.py
    // shape: threads + lock + retry loop).
    val occBench =
      if (!sys.env.get("SPARK_GRAFT_OCC_BENCH").contains("0") &&
          phaseGate("occ_bench", 45.0)) {
        try {
          val model = graft.lake.OccBench.ladder().map { r =>
            f""""w${r.writers}":{"commits":${r.commits},"conflicts":${r.conflicts},""" +
              f""""sec":${r.sec}%.3f,"commits_per_sec":${r.commits / r.sec}%.1f,""" +
              f""""mean_retries":${r.conflicts.toDouble / r.commits}%.2f}"""
          }
          // The REAL commit path raced: threads vs IcebergTable's exclusive
          // version-file create (tryCommitTouch). ids_contiguous +
          // new_ids_distinct == commits is the no-lost/no-duplicate proof
          // the modeled harness could only assert about its own lock table.
          val real = graft.lake.iceberg.IcebergOcc.ladder(spark).map { r =>
            f""""iceberg_w${r.writers}":{"commits":${r.commits},"conflicts":${r.conflicts},""" +
              f""""sec":${r.sec}%.3f,"commits_per_sec":${r.commits / r.sec}%.1f,""" +
              f""""mean_retries":${r.conflicts.toDouble / r.commits}%.2f,""" +
              f""""new_ids_distinct":${r.newIdsDistinct},"ids_contiguous":${r.idsContiguous},""" +
              f""""snapshots_after":${r.snapshotsAfter}}"""
          }
          // DATA commits raced (appendOcc): parquet written once per
          // writer outside the retry loop, metadata CAS'd with retries —
          // the no-lost-update proof at data grain (rows_actual must equal
          // rows_expected).
          val dataReal = Seq(2, 4).map { w =>
            val r = graft.lake.iceberg.IcebergOcc.dataRace(spark, w)
            f""""iceberg_data_w${r.writers}":{"commits":${r.commits},""" +
              f""""conflicts":${r.conflicts},"sec":${r.sec}%.3f,""" +
              f""""rows_expected":${r.rowsExpected},"rows_actual":${r.rowsActual},""" +
              f""""ids_contiguous":${r.idsContiguous}}"""
          }
          (model ++ real ++ dataReal).mkString(""","occ_bench":{""", ",", "}")
        } catch {
          case e: Throwable => s""","occ_bench":{"error":"${errStr(e)}"}"""
        }
      } else ""
    extraBlocks ++= occBench
    flushArtifact()
    heartbeat("phase: sqlread")

    // SQL-front-door read vs library read on the same fixture (default ON;
    // SPARK_GRAFT_SQLREAD_BENCH=0 disables): the r16 verdict's vectorized-
    // reader "Done" datapoint — sql_vs_lib_x near 1.0 means the DSv2 path
    // costs what Spark's own FileScan costs; the MOR pair times the SQL
    // read and readMorUnified, both through the delete-resolving scan.
    val sqlReadBench =
      if (!sys.env.get("SPARK_GRAFT_SQLREAD_BENCH").contains("0") &&
          phaseGate("sqlread_bench", 60.0)) {
        try {
          val (sqlT, libT, morSqlT, morLibT) = graft.lake.iceberg.IcebergOps
            .sqlReadBench(spark, graft.tables.Tables.lineitem(spark, sfDir))
          f""","sql_read_bench":{"sql_sec":$sqlT%.3f,"lib_sec":$libT%.3f,""" +
            f""""sql_vs_lib_x":${sqlT / libT}%.3f,""" +
            f""""mor_sql_sec":$morSqlT%.3f,"mor_lib_sec":$morLibT%.3f,""" +
            f""""mor_sql_vs_lib_x":${morSqlT / morLibT}%.3f}"""
        } catch {
          case e: Throwable => s""","sql_read_bench":{"error":"${errStr(e)}"}"""
        }
      } else ""
    extraBlocks ++= sqlReadBench

    // ---- Full artifact → file; compact summary → stdout (LAST line).
    // A run that shed anything is marked partial so a reader never mistakes
    // a budget-trimmed artifact for a complete one.
    val partial = shedPhases.nonEmpty
    flushArtifact(partial)
    // Per-CPU-config snapshot alongside the main artifact: the driver runs
    // the bench at two core counts into the same default outPath, and the
    // second run used to overwrite the first's per-query map — keep a
    // `_c<cpus>` copy per config so both stay verifiable.
    try {
      val cpuPath =
        if (outPath.endsWith(".json")) outPath.stripSuffix(".json") + s"_c$cpus.json"
        else s"${outPath}_c$cpus"
      java.nio.file.Files.write(java.nio.file.Paths.get(cpuPath),
        artifactNow(partial).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] per-cpu artifact snapshot failed: ${e.getMessage}") }
    heartbeat(if (partial) s"done (partial; shed: ${shedPhases.mkString(", ")})" else "done")
    // stop() is best-effort: a shutdown-race exception must not cost the
    // contract line (the whole point of holding realOut for last)
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    printCompact(partial)
  }
}
