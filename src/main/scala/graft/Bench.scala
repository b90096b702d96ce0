package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.{SparkSession, functions}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.plans.Memo
import graft.tables.Tables

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
  * path. `main` is a sequence of phase functions that record both through
  * one [[Bench.Recorder]].
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
    * defense then degrades to the absolute floor).
    *
    * The parse is a JSON parse, so the compact form the refresh writes and
    * the pretty-printed form round-snapshot tooling reformats it to read
    * alike (a strict no-space regex once parsed the pretty form as an EMPTY
    * baseline, which disabled the rerun-defense thresholds and turned the
    * min-merge refresh into a raw overwrite). Non-numeric values are
    * skipped. */
  def parseBaseline(json: String): Map[String, Double] =
    numbers(baselineFields(json)).toMap

  private def baselineFields(json: String): List[JField] =
    JsonMethods.parse(json) match { case JObject(fs) => fs; case _ => Nil }

  private def numbers(fs: List[JField]): List[(String, Double)] = fs.collect {
    case (k, JDouble(v)) => k -> v
    case (k, JInt(v)) => k -> v.toDouble
    case (k, JDecimal(v)) => k -> v.toDouble
    case (k, JLong(v)) => k -> v.toDouble
  }

  /** [[parseBaseline]] that fails loudly when the parse is implausibly
    * small: fewer numbers than the text has keys means some entries did
    * not parse, and a silently partial baseline weakens the rerun defense
    * for exactly the queries it dropped. */
  def parseBaselineStrict(json: String, source: String): Map[String, Double] = {
    val fields = baselineFields(json)
    val parsed = numbers(fields).toMap
    if (parsed.size < fields.size)
      throw new IllegalStateException(
        s"baseline $source: parsed ${parsed.size} numbers from ${fields.size} keys")
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
                      cpusEnv: Option[String]): JObject = JObject(
    "master" -> JString(master),
    "default_parallelism" -> JInt(defaultParallelism),
    "shuffle_partitions" -> JString(shufflePartitions),
    "spark_graft_cpus" -> cpusEnv.map(JString(_)).getOrElse(JNull))

  /** `v` rounded half-up to `scale` decimals and printed with all of them
    * (`0.400`), as every artifact number is; a non-finite value is null. */
  def num(v: Double, scale: Int): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP))

  private def nums(vs: Iterable[Double], scale: Int): JArray = JArray(vs.map(num(_, scale)).toList)
  private def strs(vs: Iterable[String]): JArray = JArray(vs.map(JString(_)).toList)
  private def secs(rs: Iterable[(String, Double)]): JObject =
    JObject(rs.map { case (k, v) => k -> num(v, 3) }.toList)
  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private val MiB = 1048576.0

  /** Error text for the artifact: class + truncated message (an error
    * class alone is undiagnosable from a BENCH artifact). */
  private def errStr(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(160)

  /** One scale-trend rung or query measurement: (wall, task, cpu) seconds. */
  type Point = (Double, Double, Double)

  /** Per-rung minimum of two passes: contention only inflates a
    * measurement, so the min strips whichever pass paid the noise. */
  private def minMerge(a: Seq[Point], b: Seq[Point]): Seq[Point] = a.zip(b).map {
    case ((w1, t1, c1), (w2, t2, c2)) => (math.min(w1, w2), math.min(t1, t2), math.min(c1, c2))
  }

  /** The run's one recorder. It holds the streamed-artifact state — the
    * per-query results, memory stats, phase blocks, compact-line headline
    * fields, shed list and job errors — under `stateLock`, so the artifact
    * file and the compact line can both be composed at ANY moment
    * (mid-suite kill, SIGTERM, budget shed) from whatever has completed.
    * It also owns the run's one Spark listener, its calibration job, its
    * query runner and the [[phase]] wrapper every optional phase runs
    * through. The compact line goes to `out`, once. The budget counts from
    * `startNs`. */
  final class Recorder(val spark: SparkSession, val sfDir: String, val outPath: String,
                       val budgetS: Double, out: java.io.PrintStream,
                       startNs: Long = System.nanoTime()) {
    def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
    def remainingS: Double = budgetS - elapsedS
    /** Per-phase heartbeats go to stderr so a timeout's kept tail shows
      * where the run died. */
    def heartbeat(msg: String): Unit =
      System.err.println(f"[bench ${elapsedS}%.0f/${budgetS}%.0fs] $msg")

    private val stateLock = new Object
    private val results = mutable.LinkedHashMap.empty[String, Double]
    private val mem = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    private val blocks = mutable.LinkedHashMap.empty[String, JValue]
    private val headlines = mutable.ArrayBuffer.empty[JField]
    private val shedNames = mutable.ArrayBuffer.empty[String]
    private val jobErrors = mutable.ArrayBuffer.empty[String]
    /** Suite queries that failed on some run: a fast-fail time never
      * enters the published result or the baseline. */
    val failed = mutable.Set.empty[String]
    @volatile var nReruns = 0
    @volatile var firstPassTotal = 0.0
    val parallelism: JObject = parallelismJson(spark.sparkContext.master,
      spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions"),
      sys.env.get("SPARK_GRAFT_CPUS"))

    /** One contention series: the seconds of a fixed CPU-bound calibration
      * job, sampled when its phase asks. Its dispersion (max/min) is a
      * property of the BOX while the phase ran, not of any query, so a
      * reader of the artifact can discount a spike without a shell to
      * re-measure — and each phase carries the box state it ran under. */
    final class Calibration {
      private val samples = mutable.ArrayBuffer.empty[Double]
      /** The job's seconds, not recorded (a warm run). */
      def time(): Double = seconds {
        spark.range(400000000L).agg(functions.sum(functions.col("id"))).collect()
      }
      def sample(): Unit = { val t = time(); synchronized(samples += t) }
      def snapshot: Seq[Double] = synchronized(samples.toList)
      def x: Double = {
        val s = snapshot
        if (s.isEmpty) 0.0 else s.max / math.max(s.min, 1e-3)
      }
      def fields: List[JField] =
        List("contention_samples" -> nums(snapshot, 3), "contention_x" -> num(x, 2))
    }
    /** The suite's contention index, sampled every 20 queries. */
    val contention = new Calibration

    // The one listener. Job failures: any failed Spark job's exception
    // head lands in the artifact (`job_errors`) — absorbed failures
    // (defense/probe phases, rc=0) must stay diagnosable from the artifact
    // alone. Task ends: executor time and cpu for the scale trend, peak
    // execution memory and spill for the suite's `mem` block. Memory
    // attribution is snapshot-based (see the object doc).
    private val taskMs, cpuNs, memPeak, memSpill = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case JobFailed(ex) => stateLock.synchronized {
          // capped with an explicit truncation marker: deliberate probe
          // failures must not silently exhaust the cap and hide a later
          // genuine failure's absence from the artifact
          if (jobErrors.size < 8) jobErrors += f"job ${e.jobId} @${elapsedS}%.0fs: ${errStr(ex)}"
          else if (jobErrors.size == 8) jobErrors += "... further job failures truncated"
        }
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          val m = e.taskMetrics
          taskMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          memPeak.accumulateAndGet(m.peakExecutionMemory, Math.max _)
          memSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    })

    // Listener events arrive async: poll the counter to a fixed point so a
    // job's tail tasks don't bleed into the next window.
    private def settledTaskMs(): Long = {
      var prev = -1L; var cur = taskMs.get()
      while (cur != prev) { Thread.sleep(50); prev = cur; cur = taskMs.get() }
      cur
    }

    /** (wall, task, cpu) seconds of `body`, the task time and cpu summed
      * over the task events of the jobs it ran. */
    def measure(body: => Unit): Point = {
      val ms0 = settledTaskMs(); val c0 = cpuNs.get()
      val wall = seconds(body)
      (wall, (settledTaskMs() - ms0) / 1e3, (cpuNs.get() - c0) / 1e9)
    }

    /** Runs query `name` on `dir` to completion. The bench measures the
      * shipped shape: sketch queries run their verification-free variants
      * (SparkEntry.benchVariants), everything else the `queries` entry.
      * Each is materialised with a noop-format write so the full plan
      * executes. */
    def runQuery(s: SparkSession, name: String, dir: String): Unit =
      SparkEntry.benchVariants.getOrElse(name, SparkEntry.queries(name))(s, dir)
        .write.format("noop").mode("overwrite").save()

    /** Seconds query `name` takes on the run's SF dir. With `recordMem`, its
      * max task peak execution memory, summed spill and driver-JVM GC time
      * (local-mode executors share the JVM, so that is the whole GC story
      * here) land in the `mem` block. A failure is logged into `failed`. */
    def timeQuery(name: String, recordMem: Boolean): Double = {
      if (recordMem) { memPeak.set(0L); memSpill.set(0L) }
      val gc0 = gcTotalMs()
      val sec = seconds {
        try runQuery(spark, name, sfDir)
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      if (recordMem) recordMemory(name, memPeak.get(), memSpill.get(), gcTotalMs() - gc0)
      sec
    }

    private def gcTotalMs(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum

    def record(name: String, sec: Double): Unit = stateLock.synchronized { results(name) = sec }
    def recordMemory(name: String, peak: Long, spill: Long, gcMs: Long): Unit =
      stateLock.synchronized { mem(name) = (peak, spill, gcMs) }
    def resultsNow: Seq[(String, Double)] = stateLock.synchronized(results.toList)
    /** Fields the compact line carries for a phase, after the memory top-5. */
    def headline(fields: JField*): Unit = stateLock.synchronized { headlines ++= fields }

    /** Records `name` as shed, so the artifact and the compact line both
      * say the block is absent by BUDGET, not by failure. */
    def shed(name: String): Unit = {
      stateLock.synchronized(shedNames += name)
      heartbeat(s"BUDGET: shedding $name")
    }
    def shedAny: Boolean = stateLock.synchronized(shedNames.nonEmpty)

    /** Gate a sheddable phase on the remaining budget; false records the
      * shed. estimateS is deliberately coarse — the gate exists to protect
      * the compact line, not to schedule precisely. */
    def gate(name: String, estimateS: Double): Boolean = {
      val ok = remainingS > estimateS + 30.0
      if (!ok) shed(name)
      ok
    }

    /** Runs one optional phase: skipped when the environment variable
      * `toggle` is `0`, shed as `name` when the budget cannot fit
      * `estimateS`. What `body` returns (JNothing for nothing) becomes the
      * artifact's `block`, or `{"error": …}` when it throws. The artifact
      * is flushed after. */
    def phase(name: String, estimateS: Double, block: String, toggle: String = "")
             (body: => JValue): Unit = {
      heartbeat(s"phase: $name")
      if (!sys.env.get(toggle).contains("0") && gate(name, estimateS)) {
        val v = try body catch { case e: Throwable => JObject("error" -> JString(errStr(e))) }
        if (v != JNothing) stateLock.synchronized { blocks(block) = v }
      }
      flush()
    }

    // Present on any snapshot that is incomplete OR shed anything: a reader
    // must be able to tell "block absent by budget" from "block failed".
    private def partialFields(partial: Boolean): List[JField] =
      if (!partial && shedNames.isEmpty) Nil
      else List("partial" -> JBool(partial), "shed" -> strs(shedNames),
        "budget_s" -> num(budgetS, 0), "elapsed_s" -> num(elapsedS, 1))

    private def totals: List[JField] = {
      val total = results.values.sum
      List("metric" -> JString("total"), "value" -> num(total, 3), "unit" -> JString("sec"),
        "total_sec" -> num(total, 3))
    }
    // Mid-suite snapshots haven't closed the first pass yet — report the
    // running sum so a partial line's first_pass_sec is never a bogus 0.
    private def counts: List[JField] = {
      val total = results.values.sum
      List("n_queries" -> JInt(results.size), "n_reruns" -> JInt(nReruns),
        "first_pass_sec" -> num(if (firstPassTotal > 0) firstPassTotal else total, 3))
    }
    private def slowest(n: Int): JObject = secs(results.toList.sortBy(-_._2).take(n))

    /** The full artifact: every per-query time and memory stat and every
      * phase block. */
    def artifact(partial: Boolean): JObject = stateLock.synchronized {
      val cal = contention.snapshot
      JObject(totals ++ List[JField]("queries" -> secs(results),
        "top20_slowest" -> slowest(20),
        "mem" -> JObject(mem.toList.map { case (q, (peak, spill, gc)) =>
          q -> JObject("peak_mb" -> num(peak / MiB, 1), "spill_mb" -> num(spill / MiB, 1),
            "gc_ms" -> JLong(gc))
        })) ++ counts ++ blocks ++
        (if (cal.isEmpty) Nil
         else List("contention" ->
           JObject("samples" -> nums(cal, 3), "x" -> num(contention.x, 2)))) ++
        (if (jobErrors.isEmpty) Nil else List("job_errors" -> strs(jobErrors))) ++
        partialFields(partial) ++
        List("parallelism" -> parallelism, "sf" -> JString(sfDir)))
    }

    /** The compact (< 2 KB) line: totals, the top-10 slowest, the phase
      * headlines, scale-trend flags with their exponents, contention_x, the
      * parallelism and the artifact path. */
    def compact(partial: Boolean): JObject = stateLock.synchronized {
      val setupSec = blocks.get("setup").map(_ \ "sec").filter(_ != JNothing)
      JObject(totals ++ setupSec.map("setup_sec" -> _) ++ counts ++
        List[JField]("queries" -> slowest(10),
          "mem_top_peak_mb" -> JObject(mem.toList.sortBy(-_._2._1).take(5).map {
            case (q, (peak, _, _)) => q -> num(peak / MiB, 1) })) ++
        headlines ++ scaleHeadline ++
        (if (jobErrors.isEmpty) Nil else List("job_errors" -> JInt(jobErrors.size))) ++
        partialFields(partial) ++
        List("contention_x" -> num(contention.x, 2), "parallelism" -> parallelism,
          "artifact" -> JString(outPath), "sf" -> JString(sfDir)))
    }

    // the scale trend's verdict, read back from its block
    private def scaleHeadline: List[JField] = blocks.get("scale_trend").toList.flatMap { b =>
      if (b \ "error" != JNothing) List("scale_error" -> JBool(true))
      else List("scale_flagged" -> JObject((b \ "flagged").children.collect {
          case JString(q) => q -> (b \ "queries" \ q \ "exponent") }),
        "scale_control_ratio" -> b \ "control_ratio",
        "scale_flag_ratio" -> b \ "flag_ratio",
        "scale_confidence" -> b \ "scale_confidence")
    }

    /** Writes the artifact to `path`; a failed write is logged, never
      * thrown, so it cannot cost the compact line. */
    def flush(partial: Boolean = true, path: String = outPath): Unit =
      try Files.write(Paths.get(path),
        JsonMethods.compact(artifact(partial)).getBytes(StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write to $path failed: ${e.getMessage}") }

    private val printed = new AtomicBoolean(false)
    /** Prints the compact line to `out`; only the first call prints. */
    def printCompact(partial: Boolean): Unit =
      if (printed.compareAndSet(false, true)) {
        out.println(JsonMethods.compact(compact(partial))); out.flush()
      }

    /** The shutdown hook's body: when the normal finale never printed the
      * line (SIGTERM from a driver-window timeout, or any abnormal exit),
      * the partial snapshot is strictly better than silence. */
    def terminate(): Unit =
      if (!printed.get()) {
        shed("terminated-early")
        flush()
        printCompact(partial = true)
      }
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val out = redirectStdout()
    // Default sized from the measured close-run wall: a full 317-query run
    // (scale trend ~840 s + setup ~400 s + suite ~450 s + defense + extras)
    // is ~2030 s in-JVM on a 1.4–3× contended box — 2400 sheds nothing on
    // a healthy run and trims extras-first under the heavy contention that
    // killed BENCH_r17; the SIGTERM hook remains the last-resort line.
    val budgetS = sys.env.get("SPARK_GRAFT_TIME_BUDGET_S").map(_.toDouble).getOrElse(2400.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_artifact.json")
    val rec = new Recorder(session(cpus), sfDir, outPath, budgetS, out, startNs)
    // SIGTERM safety net: `timeout(1)` kills with TERM (rc=124) and the JVM
    // runs shutdown hooks on TERM. kill -9 skips hooks, but the streamed
    // artifact file survives it.
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try rec.terminate() catch { case _: Throwable => () }))
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.filter(SparkEntry.queries.contains))
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)

    warmup(rec)
    rec.phase("scale_trend", 240.0, "scale_trend", "SPARK_GRAFT_SCALE_BENCH")(scaleTrend(rec))
    rec.phase("setup", 60.0, "setup", "SPARK_GRAFT_SETUP_BENCH")(setup(rec, names, cpus))
    suite(rec, names)
    rec.phase("write_bench", 120.0, "write_bench", "SPARK_GRAFT_WRITE_BENCH")(writeBench(rec))
    rec.phase("stream_bench", 60.0, "streaming", "SPARK_GRAFT_STREAM_BENCH")(streamBench(rec))
    rec.phase("fetch_bench", 45.0, "fetch_bench", "SPARK_GRAFT_FETCH_BENCH")(fetchBench(rec))
    rec.phase("occ_bench", 45.0, "occ_bench", "SPARK_GRAFT_OCC_BENCH")(occBench(rec))
    rec.phase("sqlread_bench", 60.0, "sql_read_bench", "SPARK_GRAFT_SQLREAD_BENCH")(
      sqlReadBench(rec))
    finale(rec, cpus)
  }

  /** Stdout contract hardening: log4j already targets SYSTEM_ERR, but the
    * BENCH_r14 tail showed an executor ClassNotFound stack trace written
    * STRAIGHT to stdout (raw printStackTrace from a daemon thread) landing
    * just before the summary line — one such trace landing AFTER it would
    * evict the contract line from the driver's ~4 KB tail. System.out and
    * Console.out go to stderr for the whole run; the REAL stdout, returned
    * here, carries exactly one write: the compact line, printed after
    * spark.stop() so shutdown noise can't follow it on this stream. */
  private def redirectStdout(): java.io.PrintStream = {
    val realOut = System.out
    System.setOut(new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
    // Force scala.Console's lazy init NOW, post-redirect: 2.13 removed
    // Console.setOut, and the root DynamicVariable captures
    // java.lang.System.out at class init. Assert the BINDING, not mere
    // initialization: if Console was already initialized earlier in the
    // JVM its default still holds the real stdout and Scala-side println
    // would bypass the redirect — fail loudly rather than leak println
    // onto the contract stream.
    require(scala.Console.out eq System.out,
      "scala.Console was initialized before the stdout redirect; " +
        "Scala println would leak to the contract stream")
    realOut
  }

  private def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    spark
  }

  /** JVM + codegen + parquet footer cache. q1 touches lineitem; the
    * count()s touch every other table's footers so no family's first query
    * pays first-open IO inside its measurement (counts only read
    * metadata/one column — they warm the file handles, not the data). */
  private def warmup(rec: Recorder): Unit = {
    val (spark, sfDir) = (rec.spark, rec.sfDir)
    rec.runQuery(spark, "q1_pricing_summary", sfDir)
    Seq(Tables.orders(spark, sfDir), Tables.events(spark, sfDir),
        Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir)).foreach(_.count())
  }

  /** Phase 1: the empirical scale trend (FIRST — young heap; see the
    * object doc). The "would this survive 100×" claim as a MEASUREMENT:
    * heavies run against replica-scaled copies ([[graft.tables.ScaleUp]] —
    * per-replica statistics invariant, replicas mutually disjoint, dims
    * fixed) of the sf0.01 sibling dir at 1×/4×/16× volume. Growth is judged
    * on executor CPU time (wall is dominated by fixed driver cost at these
    * sizes; summed executorRunTime inflates with task count). A codegen
    * warmup pass runs every scale query once against the base dir first,
    * then Memo.reset() (which also unpersists) makes every measured point
    * memo-COLD; a second reset at phase end releases the scaled dirs'
    * blocks before the main suite runs. No block when the base dir is
    * missing. */
  private def scaleTrend(rec: Recorder): JValue = {
    val spark = rec.spark
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      new File(new File(rec.sfDir).getParentFile, "sf0.01").getPath)
    if (!new File(base).isDirectory) return JNothing
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val qnames = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq).getOrElse(scaleTrendQueries)
      .filter(SparkEntry.queries.contains)
    val tmp = Files.createTempDirectory("graft_scale_").toString
    // The trend records its OWN contention bracket (BENCH_r10 was judged
    // "weak evidence" because its flags carried the suite's contention_x,
    // measured an hour later): a flag and its noise regime ship together.
    val cal = new rec.Calibration
    try {
      // EVERY point — 1× included — is materialized through the same
      // writer with the same fixed-width token salt (saltAll): the points
      // differ in volume and nothing else.
      val dirs = mults.map { m =>
        val d = s"$tmp/x$m"
        graft.tables.ScaleUp.materialize(spark, base, d, m, saltAll = true)
        m -> d
      }
      // Codegen/planner warmup on the 1× dir, then memo-cold reset.
      qnames.foreach { q =>
        try rec.runQuery(spark, q, dirs.head._2) catch { case _: Throwable => () }
      }
      Memo.reset()
      // Linear CONTROL: a token histogram is linear-by-construction (one
      // explode + one hash agg), so its measured CPU ratio captures what a
      // single box adds at 16× per-core volume that is NOT plan growth —
      // cache-miss inflation, agg-map resizing, spill-path switches.
      // Queries are flagged RELATIVE to it, which is what makes a flag mean
      // "the PLAN grows", not "the box ran out of L3".
      def controlAt(d: String): Unit = {
        import org.apache.spark.sql.functions._
        Tables.documents(spark, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("token"))
          .groupBy(col("token")).count()
          .write.format("noop").mode("overwrite").save()
      }
      controlAt(dirs.head._2) // codegen warm
      cal.sample() // opening contention sample (post-warm)
      def measureControl(): Seq[Double] = dirs.map { case (_, d) => rec.measure(controlAt(d))._3 }
      // Contention-aware control (the r15 lesson — control ratio 18.47 vs
      // 2.46 idle made the whole trend blind): a control far above its
      // committed idle ratio is re-measured ONCE, immediately, keeping the
      // per-rung min; if it still reads high the block downgrades its own
      // verdict to low confidence.
      var controlCpu = measureControl()
      val controlRemeasured = envelopeRatioHi(controlCpu) > controlSuspectX * idleControlRatio
      if (controlRemeasured)
        controlCpu = controlCpu.zip(measureControl()).map { case (a, b) => math.min(a, b) }
      // Query-major order: one query's points run back-to-back under the
      // same noise regime, which is what makes the RATIO trustworthy on a
      // shared host. Memo.reset() BEFORE every query makes all rungs of
      // every query EQUALLY memo-cold (r12 measured dedup_onion at
      // "exponent 2.41" because its 1×/4× points hit a memo built by an
      // earlier query while its 16× point paid the rebuild) and releases the
      // previous queries' checkpoint blocks, so late-list queries measure in
      // a young heap. Safe because every prior result is fully
      // noop-materialized: no evicted DataFrame reference is live.
      val scaleFailed = mutable.Set.empty[String]
      def measure(q: String): Seq[Point] = {
        Memo.reset()
        dirs.map { case (m, d) =>
          rec.measure {
            try rec.runQuery(spark, q, d)
            catch { case e: Throwable =>
              scaleFailed += q
              System.err.println(s"[scale] $q x$m failed: ${e.getMessage}")
            }
          }
        }
      }
      def ratioOf(ts: Seq[Point]): Double = envelopeRatioHi(ts.map(_._3))
      // Rung-profile integrity guard (the r14 lesson — lake_commit_cadence
      // "confirmed" at 10.99× off a profile whose 4× rung measured BELOW its
      // 1× rung): a dip means one-time work (JIT of this query's generated
      // classes) landed on an earlier rung. A non-monotone first pass is
      // re-measured once and merged per rung; ratios are computed on the
      // monotone envelope ([[envelopeRatioHi]]).
      val nonMonotone = mutable.ArrayBuffer.empty[String]
      // Budget shed order puts "remaining scale rungs" LAST among sheddable
      // work, but the trend runs FIRST chronologically — so its own gate is
      // generous (half the budget), checked before each query.
      val firstMeasure = qnames.flatMap { q =>
        if (rec.elapsedS > 0.5 * rec.budgetS) { rec.shed(s"scale:$q"); None }
        else {
          var ts = measure(q)
          if (!scaleFailed(q) && !monotoneCpu(ts.map(_._3))) {
            nonMonotone += q
            val ts2 = measure(q)
            // a re-measure that FAILS keeps the valid first pass
            if (scaleFailed(q)) scaleFailed -= q else ts = minMerge(ts, ts2)
          }
          Some(q -> ts)
        }
      }
      val ctlRatio = envelopeRatioHi(controlCpu)
      // "low" = the control (even after its re-measure) sits far above the
      // committed idle ratio, so the effective flag threshold is inflated
      // past where a genuine quadratic would trip — a reader must not take
      // an empty flagged list as evidence on this run.
      val confidence = if (ctlRatio > controlSuspectX * idleControlRatio) "low" else "normal"
      val flagThreshold = math.max(scaleFlagRatio, 1.5 * ctlRatio)
      def thresholdFor(q: String): Double =
        math.max(flagThreshold, scaleSanctionedRatio.getOrElse(q, 0.0))
      def isFlagged(q: String, ts: Seq[Point]): Boolean =
        !scaleFailed(q) && ratioOf(ts) > thresholdFor(q)
      // Best-of-2 for flagged queries, the suite's defense: a single noisy
      // point can push a linear query over the threshold, and a genuine
      // super-linear plan reproduces on the re-run while noise does not.
      // Each re-run records the first-pass ratio, the RE-RUN'S OWN ratio
      // (an independent isolated measurement), the min-merged ratio and the
      // verdict. The verdict is the re-run's own ratio, not the merged one:
      // merging pairs each rung's fastest sample, so a spuriously FAST
      // middle rung in pass 1 would ride into the merge and "confirm" a
      // flag the isolated re-measure refuted (r14: mm_phash first 5.45 /
      // second 4.40 / merged 5.45). A re-measure that FAILS keeps the first
      // pass's points AND flag: a merge with a fast-fail's near-zero points
      // would silently unflag a genuinely super-linear query.
      val defense = mutable.LinkedHashMap.empty[String, (String, JValue)]
      val perQuery = firstMeasure.map { case (q, ts) =>
        if (!isFlagged(q, ts)) q -> ts
        else if (rec.elapsedS > 0.55 * rec.budgetS) {
          // the flag STANDS (first-pass evidence, unconfirmed) — never
          // silently clear a flag because the box was slow
          rec.shed(s"scale-rerun:$q")
          q -> ts
        } else {
          val ts2 = measure(q)
          val rerunFailed = scaleFailed(q)
          val merged = if (rerunFailed) { scaleFailed -= q; ts } else minMerge(ts, ts2)
          val verdict =
            if (rerunFailed) "rerun-failed-kept-first-pass"
            else if (ratioOf(ts2) > thresholdFor(q)) "confirmed" else "cleared"
          defense(q) = verdict -> JObject(
            "first_ratio" -> num(ratioOf(ts), 2),
            "second_ratio" -> (if (rerunFailed) JNull else num(ratioOf(ts2), 2)),
            "best_ratio" -> num(ratioOf(merged), 2), "control" -> num(ctlRatio, 2),
            "threshold" -> num(thresholdFor(q), 2), "verdict" -> JString(verdict))
          q -> merged
        }
      }
      val flagged = perQuery.collect {
        case (q, ts) if isFlagged(q, ts) && !defense.get(q).exists(_._1 == "cleared") => q }
      val (mLo, mHi) = (mults(mults.size - 2), mults.last)
      cal.sample() // closing contention sample brackets the trend
      JObject(List[JField]("base" -> JString(new File(base).getName),
        "mults" -> JArray(mults.map(JInt(_)).toList),
        "control_cpu_sec" -> nums(controlCpu, 3), "control_ratio" -> num(ctlRatio, 2),
        "control_idle_ratio" -> JDouble(idleControlRatio),
        "control_remeasured" -> JBool(controlRemeasured),
        "scale_confidence" -> JString(confidence), "flag_ratio" -> num(flagThreshold, 2),
        "n_reruns" -> JInt(defense.size), "rung_remeasured" -> strs(nonMonotone)) ++
        cal.fields ++ List(
        "defense" -> JObject(defense.toList.map { case (q, (_, d)) => q -> d }),
        "flagged" -> strs(flagged),
        "queries" -> JObject(perQuery.toList.map { case (q, ts) =>
          q -> JObject(List[JField]("sec" -> nums(ts.map(_._1), 3),
            "task_sec" -> nums(ts.map(_._2), 3), "cpu_sec" -> nums(ts.map(_._3), 3),
            "ratio_hi" -> num(ratioOf(ts), 2),
            "exponent" -> num(math.log(ratioOf(ts)) / math.log(mHi.toDouble / mLo), 2)) ++
            scaleSanctionedRatio.get(q).map(s => "sanctioned_ratio" -> num(s, 1)) ++
            (if (scaleFailed(q)) List("failed" -> JBool(true)) else Nil))
        })))
    } finally {
      // Release every block the scale phase pinned (scaled-dir memos would
      // never be re-hit by the suite — they'd only distort its heap).
      Memo.reset()
      org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
    }
  }

  /** Phase 1.5: RECORDED setup — build every memoized shared fixture
    * (iceberg physical tables, dedup/LSH pipelines) by running one
    * representative query per fixture, timed into the `setup` block and NOT
    * into any per-query number. Before this existed, the one-time build
    * landed on whichever family query ran first (iceberg_mor_read-class
    * queries read as 3–5× their committed baseline on a fresh box). The
    * cold build story lives HERE (setup_sec) and in the scale trend; the
    * suite measures steady state.
    *
    * Fixture builds are independent of each other, so they run from a small
    * thread pool: each build's serial driver/commit tail back-fills with
    * another build's tasks. Every worker thread gets ITS OWN session
    * (spark.newSession(), tuned identically): fixture builders mutate
    * session confs, which are session-scoped, so a shared session would
    * race conf restores across threads. plans.Memo keys artifacts by
    * SparkContext, so the suite's main session reuses every fixture built
    * here. `sec` is the phase WALL (what the budget pays); `cpu_sec` is the
    * sum of builds and the per-query map keeps per-build walls. */
  private def setup(rec: Recorder, names: Seq[String], cpus: String): JValue = {
    val setupNames = SparkEntry.benchSetupQueries.filter(names.contains)
    val nWorkers = math.max(1, math.min(
      sys.env.get("SPARK_GRAFT_SETUP_THREADS").map(_.toInt).getOrElse(4), setupNames.size))
    val workerSession = new ThreadLocal[SparkSession] {
      override def initialValue(): SparkSession = {
        val s = rec.spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", cpus)
        s.conf.set("spark.sql.session.timeZone", "UTC")
        GraftSession.tune(s)
        s
      }
    }
    val wallT0 = System.nanoTime()
    // runPooled shuts the pool down on every path: an exception escaping
    // (interruption) must not leave the non-daemon pool threads pinning the
    // JVM open past main — that would starve the shutdown hook of an exit.
    val setupTimes = runPooled(setupNames, nWorkers) { q =>
      seconds {
        try {
          val s = workerSession.get()
          s.sparkContext.setJobDescription(s"setup: $q")
          rec.runQuery(s, q, rec.sfDir)
        } catch { case e: Throwable => System.err.println(s"[setup] $q failed: ${e.getMessage}") }
      }
    }
    val wall = (System.nanoTime() - wallT0) / 1e9
    if (setupTimes.isEmpty) JNothing
    else JObject("sec" -> num(wall, 3), "cpu_sec" -> num(setupTimes.map(_._2).sum, 3),
      "threads" -> JInt(nWorkers), "queries" -> secs(setupTimes))
  }

  /** Phase 2: the per-query suite, with memory attribution, then the
    * rerun defense and the baseline refresh. The first pass streams into
    * the recorder (artifact flushed every 15 queries) and is itself
    * budget-capped as a LAST resort: the totals are the artifact's core, so
    * they shed only when even the core can't fit. */
  private def suite(rec: Recorder, names: Seq[String]): Unit = {
    val baseline = loadBaseline(new File(rec.sfDir).getName)
    rec.heartbeat(s"phase: suite (${names.size} queries)")
    rec.contention.time() // codegen/scheduler warm — not a sample
    var stopped = false
    names.zipWithIndex.foreach { case (name, i) =>
      if (!stopped && rec.remainingS < 60.0) {
        stopped = true
        rec.shed(s"suite:${names.size - i}-of-${names.size}-unmeasured")
      }
      if (!stopped) {
        if (i % 20 == 0) rec.contention.sample()
        rec.record(name, rec.timeQuery(name, recordMem = true))
        if (i % 15 == 14) rec.flush()
      }
    }
    rec.contention.sample() // closing sample brackets the run
    rec.firstPassTotal = rec.resultsNow.map(_._2).sum
    rec.flush()
    // best-of-2 defense: re-run only queries whose first time is beyond the
    // contention trigger — bounded extra cost, and a real regression
    // reproduces while a noise spike does not. Sheddable as a unit (ahead of
    // scale rungs per the shed order, behind the extras because it runs
    // earlier): a shed defense leaves valid first-pass times.
    def trigger(name: String): Double =
      baseline.get(name).map(b => math.max(2.0 * b, rerunMinSec)).getOrElse(rerunFloorSec)
    rec.phase("rerun_defense", 60.0, "rerun_defense") {
      var tailShed = false
      rec.resultsNow.foreach { case (name, t1) =>
        if (t1 > trigger(name)) {
          if (rec.remainingS < 45.0) {
            if (!tailShed) { tailShed = true; rec.shed("rerun_defense:tail") }
          } else {
            rec.nReruns += 1
            val t2 = rec.timeQuery(name, recordMem = false)
            // A rerun that FAILS fast-fails: its elapsed time is bogus, so
            // the published time keeps the (successful) first pass.
            if (!rec.failed(name)) rec.record(name, math.min(t1, t2))
          }
        }
      }
      JNothing
    }
    // Refresh the committed baseline from this run's best-known times.
    // Start from the loaded baseline so a SPARK_GRAFT_QUERIES-restricted run
    // refreshes only its own entries, drop failed queries so a fast-fail
    // time can't poison the min-merge, and keep only live query names so
    // renamed/removed queries don't persist forever.
    sys.env.get("SPARK_GRAFT_BASELINE_OUT").foreach { p =>
      val merged = (baseline ++ rec.resultsNow.filterNot(r => rec.failed(r._1)).map {
        case (k, v) => k -> math.min(v, baseline.getOrElse(k, Double.MaxValue))
      }).filter { case (k, _) => SparkEntry.queries.contains(k) }
      Files.write(Paths.get(p),
        JsonMethods.compact(secs(merged.toSeq.sortBy(_._1))).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Phase 3: the write bench. Plain and sorted writes interleave
    * A/B/A/B… so both arms sample the same noise regime, and each arm
    * reports its MEDIAN, which discards a single contended rep. The
    * calibration is sampled before the first rep and after every pair, so
    * each rep ships with the box state it ran under. */
  private def writeBench(rec: Recorder): JValue = {
    import org.apache.spark.sql.functions._
    val spark = rec.spark
    val mult = sys.env.get("SPARK_GRAFT_WRITE_MULT").map(_.toInt).getOrElse(8)
    val li0 = Tables.lineitem(spark, rec.sfDir)
    val li = (1 to mult).map(i =>
      li0.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong << 40))).reduce(_ union _)
    val dir = Files.createTempDirectory("graft_wb_").toString
    // min/max file skip rate the written layout achieves for a one-quarter
    // shipdate predicate (parquet footer stats modeled by per-file min/max —
    // the same pruning a lake reader performs).
    def skipRatePct(path: String): Double = {
      val r = spark.read.parquet(path)
        .select(col("l_shipdate"), input_file_name().as("f"))
        .groupBy(col("f"))
        .agg(min(col("l_shipdate")).as("fmin"), max(col("l_shipdate")).as("fmax"))
        .agg(count(lit(1)).as("files"),
          sum(when(col("fmax") < lit("1997-01-01").cast("timestamp") ||
                   col("fmin") > lit("1997-03-31").cast("timestamp"), 1L).otherwise(0L))
            .as("skipped"))
        .head()
      r.getLong(1) * 100.0 / r.getLong(0)
    }
    try {
      val nRows = li.count() // materialize footer/page cache before timing
      val reps = sys.env.get("SPARK_GRAFT_WRITE_REPS").map(_.toInt).getOrElse(3)
      val cal = new rec.Calibration
      cal.sample()
      val (plainTs, sortedTs) = (1 to reps).map { _ =>
        val pair = (seconds(li.write.mode("overwrite").parquet(s"$dir/unsorted")),
          seconds(graft.lake.Layout.writeSorted(li, "l_shipdate", s"$dir/sorted", 32)))
        cal.sample()
        pair
      }.unzip
      def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
      val (tPlain, tSorted) = (median(plainTs), median(sortedTs))
      val skipPlain = skipRatePct(s"$dir/unsorted")
      val skipSorted = skipRatePct(s"$dir/sorted")
      rec.headline("sort_overhead_x" -> num(tSorted / tPlain, 2),
        "skip_sorted_pct" -> num(skipSorted, 1))
      JObject(List[JField]("rows" -> JLong(nRows), "plain_sec" -> num(tPlain, 3),
        "sorted_sec" -> num(tSorted, 3), "plain_secs" -> nums(plainTs, 3),
        "sorted_secs" -> nums(sortedTs, 3)) ++ cal.fields ++
        List("sort_overhead_x" -> num(tSorted / tPlain, 3),
          "skip_rate_plain_pct" -> num(skipPlain, 2), "skip_rate_sorted_pct" -> num(skipSorted, 2)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  /** Streaming mirrors: rows/sec per mirror through a MemoryStream + noop
    * sink — the measured counterpart of StreamingSpec's correctness checks —
    * bracketed by calibration samples so a slow arm in a contended run is
    * attributable. */
  private def streamBench(rec: Recorder): JValue = {
    val n = sys.env.get("SPARK_GRAFT_STREAM_ROWS").map(_.toInt).getOrElse(200000)
    val cal = new rec.Calibration
    cal.sample()
    val arms = graft.streaming.StreamBench.run(rec.spark, n)
    cal.sample()
    JObject(arms.toList.map { case (k, rows, sec) =>
      k -> JObject("rows" -> JInt(rows), "sec" -> num(sec, 3),
        "rows_per_sec" -> JLong((rows / sec).toLong))
    } ++ cal.fields)
  }

  /** Measured parallel-fetch ladder: executor-side TTFB-sleep tasks, the
    * measured mirror of lake.Manifest.fetchLatency's analytic ceil(n/p)×TTFB
    * model (model_x near 1.0 per rung = the model the lake operators report
    * is a measurement), then the REAL metadata tree: a
    * one-manifest-per-month table planned through the actual planFiles
    * fetch path with an injected per-manifest-open TTFB. */
  private def fetchBench(rec: Recorder): JValue = {
    import graft.lake.iceberg.IcebergTable
    def rung(meas: Double, model: Double): List[JField] = List("measured_sec" -> num(meas, 3),
      "modeled_sec" -> num(model, 3), "model_x" -> num(meas / model, 3))
    val sim = graft.lake.FetchSim.ladder(rec.spark).map { case (p, meas, model) =>
      s"p$p" -> JObject(rung(meas, model))
    }
    val treeDir = Files.createTempDirectory("graft_fetch_tree_").toString
    val real = try {
      IcebergTable.appendGrouped(rec.spark, Tables.lineitem(rec.spark, rec.sfDir), treeDir,
        groupMonths = 1)
      val n = IcebergTable.readManifestList(IcebergTable.currentSnapshot(
        IcebergTable.readMetadata(treeDir)).manifestList).size
      val delayMs = 2L
      Seq(1, 4, 16).map { p =>
        val meas = seconds(
          IcebergTable.planFiles(treeDir, fetchParallelism = p, fetchDelayMs = delayMs))
        s"iceberg_p$p" -> JObject(("manifests" -> JInt(n)) ::
          rung(meas, math.ceil(n.toDouble / p) * delayMs / 1000.0))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(treeDir))
    JObject((sim ++ real).toList)
  }

  /** Threaded OCC commits: the modeled harness (threads racing atomic
    * commit-file creation with conflict retries), the REAL commit path
    * raced (threads vs IcebergTable's exclusive version-file create —
    * ids_contiguous + new_ids_distinct == commits is the no-lost/no-duplicate
    * proof), and DATA commits raced (appendOcc: rows_actual must equal
    * rows_expected). */
  private def occBench(rec: Recorder): JValue = {
    import graft.lake.iceberg.IcebergOcc
    def race(commits: Int, conflicts: Int, sec: Double): List[JField] =
      List("commits" -> JInt(commits), "conflicts" -> JInt(conflicts), "sec" -> num(sec, 3))
    def rates(commits: Int, conflicts: Int, sec: Double): List[JField] =
      race(commits, conflicts, sec) ++ List("commits_per_sec" -> num(commits / sec, 1),
        "mean_retries" -> num(conflicts.toDouble / commits, 2))
    val model = graft.lake.OccBench.ladder().map { r =>
      s"w${r.writers}" -> JObject(rates(r.commits, r.conflicts, r.sec))
    }
    val real = IcebergOcc.ladder(rec.spark).map { r =>
      s"iceberg_w${r.writers}" -> JObject(rates(r.commits, r.conflicts, r.sec) ++
        List("new_ids_distinct" -> JInt(r.newIdsDistinct),
          "ids_contiguous" -> JBool(r.idsContiguous), "snapshots_after" -> JInt(r.snapshotsAfter)))
    }
    val dataReal = Seq(2, 4).map { w =>
      val r = IcebergOcc.dataRace(rec.spark, w)
      s"iceberg_data_w${r.writers}" -> JObject(race(r.commits, r.conflicts, r.sec) ++
        List("rows_expected" -> JLong(r.rowsExpected), "rows_actual" -> JLong(r.rowsActual),
          "ids_contiguous" -> JBool(r.idsContiguous)))
    }
    JObject((model ++ real ++ dataReal).toList)
  }

  /** SQL-front-door read vs library read on the same fixture: sql_vs_lib_x
    * near 1.0 means the DSv2 path costs what Spark's own FileScan costs; the
    * MOR pair times the SQL read and readMorUnified, both through the
    * delete-resolving scan. */
  private def sqlReadBench(rec: Recorder): JValue = {
    val (sqlT, libT, morSqlT, morLibT) = graft.lake.iceberg.IcebergOps
      .sqlReadBench(rec.spark, Tables.lineitem(rec.spark, rec.sfDir))
    JObject("sql_sec" -> num(sqlT, 3), "lib_sec" -> num(libT, 3),
      "sql_vs_lib_x" -> num(sqlT / libT, 3), "mor_sql_sec" -> num(morSqlT, 3),
      "mor_lib_sec" -> num(morLibT, 3), "mor_sql_vs_lib_x" -> num(morSqlT / morLibT, 3))
  }

  /** The full artifact to file and the compact line to stdout (LAST). A run
    * that shed anything is marked partial so a reader never mistakes a
    * budget-trimmed artifact for a complete one. The driver runs the bench
    * at two core counts into the same default path, so a `_c<cpus>` copy
    * keeps each config's per-query map. */
  private def finale(rec: Recorder, cpus: String): Unit = {
    val partial = rec.shedAny
    rec.flush(partial)
    rec.flush(partial,
      if (rec.outPath.endsWith(".json")) rec.outPath.stripSuffix(".json") + s"_c$cpus.json"
      else s"${rec.outPath}_c$cpus")
    rec.heartbeat("done" + (if (partial) " (partial)" else ""))
    // stop() is best-effort: a shutdown-race exception must not cost the
    // contract line (the whole point of holding the real stdout for last)
    try rec.spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    rec.printCompact(partial)
  }
}
