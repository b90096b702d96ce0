package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.GraftSession
import graft.lake.iceberg.{GraftCatalog, IcebergCatalog, IcebergTable}

/** Executes one benchmark plan against graft and writes what happened as
  * JSON lines. The plan (operations, set-up steps, run length) comes from
  * `run.py`, which also checks the results and computes the metrics; this
  * program only calls graft's public surface — SQL through [[GraftCatalog]]
  * and the [[IcebergTable]] library — and times those calls.
  *
  * Usage: Runner <plan.json> <out.jsonl>
  */
object Runner {
  private implicit val formats: Formats = DefaultFormats

  final case class Op(id: String, kind: String, sql: String, src: String,
                      lo: Option[String], hi: Option[String], groupMonths: Int, fresh: Boolean,
                      table: String)

  private def parseOp(v: JValue): Op = Op(
    (v \ "id").extract[String], (v \ "kind").extract[String],
    (v \ "sql").extractOpt[String].getOrElse(""), (v \ "src").extractOpt[String].getOrElse(""),
    (v \ "lo").extractOpt[String], (v \ "hi").extractOpt[String],
    (v \ "group_months").extractOpt[Int].getOrElse(1),
    (v \ "fresh").extractOpt[Boolean].getOrElse(false),
    (v \ "table").extractOpt[String].getOrElse("li"))

  /** A table of the benchmark's catalog: its identifier and location. */
  final case class Table(catalog: String, warehouse: String, name: String) {
    val ident = s"$catalog.bench.$name"
    val location: String = IcebergCatalog.tableLocation(warehouse, "bench", name)
  }

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val out = new PrintWriter(args(1), "UTF-8")
    def emit(fields: (String, Any)*): Unit = {
      out.println(Serialization.write(fields.toMap)); out.flush()
    }
    val tracer = new Tracer
    val tracing = (plan \ "trace").extract[Boolean]
    val seconds = (plan \ "seconds").extract[Double]
    val work = (plan \ "work").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val ops = (plan \ "ops").extract[List[JValue]].map(parseOp)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    val sc = spark.sparkContext
    val listener = new OpListener(tracer)
    if (tracing) sc.addSparkListener(listener)

    def bind(session: SparkSession, t: Table): Unit = {
      session.conf.set(s"spark.sql.catalog.${t.catalog}", classOf[GraftCatalog].getName)
      session.conf.set(s"spark.sql.catalog.${t.catalog}.warehouse", t.warehouse)
    }
    def registerRaw(session: SparkSession): Unit =
      session.read.parquet((plan \ "raw").extract[String]).createOrReplaceTempView("raw")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rt = Runtime.getRuntime
    emit("type" -> "env",
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "available_processors" -> rt.availableProcessors(),
      "max_heap_mb" -> rt.maxMemory() / 1048576.0,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "spark_version" -> spark.version,
      "jvm_version" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "session_s" -> sessionS)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    def dirCensus(root: File): (Long, Long, Long) = { // data files, data bytes, metadata bytes
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val data = walk(new File(root, "data")).filter(_.getName.endsWith(".parquet"))
      (data.size.toLong, data.map(_.length).sum, walk(new File(root, "metadata")).map(_.length).sum)
    }

    def rowJson(r: Row): Seq[Any] = r.toSeq.map {
      case t: java.time.LocalDateTime => t.toString.replace('T', ' ')
      case t: java.sql.Timestamp => t.toLocalDateTime.toString.replace('T', ' ')
      case d: java.math.BigDecimal => d.doubleValue
      case v => v
    }

    val tracedOps = scala.collection.mutable.Set.empty[String]
    /** Runs one operation, times it, and records the outcome; a traced
      * operation also records spans, listener counts and metadata probes. */
    def run(op: Op, base: Table, phase: String, session: SparkSession, traced: Boolean): Unit = {
      val t = if (op.table == base.name) base else base.copy(name = op.table)
      if (traced) tracedOps += op.id
      val text = op.sql.replace("{t}", t.ident)
      val gc0 = gcMs
      val before = if (traced && isWrite(op.kind)) Some(dirCensus(new File(t.location))) else None
      var rows: Seq[Seq[Any]] = Seq.empty
      var error: Option[String] = None
      val phases = scala.collection.mutable.Map.empty[String, Double]
      var constructS = Double.NaN
      var constructJobs = 0L
      var probe: Map[String, Any] = Map.empty
      val sc = session.sparkContext
      val t0 = System.nanoTime()
      var latency = 0.0
      tracer.span(0, op.id, s"op.${op.kind}") { opSpan =>
        if (traced) {
          sc.setLocalProperty("perfbench.op", op.id)
          sc.setLocalProperty("perfbench.span", opSpan.toString)
        }
        def inSpan[T](name: String)(body: => T): T = tracer.span(opSpan, op.id, name) { id =>
          if (traced) sc.setLocalProperty("perfbench.span", id.toString)
          try body finally if (traced) sc.setLocalProperty("perfbench.span", opSpan.toString)
        }
        def query(sqlText: String): Unit = {
          val df = inSpan("spark.sql")(session.sql(sqlText))
          inSpan("executedPlan")(df.queryExecution.executedPlan)
          rows = inSpan("collect")(df.collect()).toSeq.map(rowJson)
          if (traced) df.queryExecution.tracker.phases.foreach { case (k, v) =>
            phases(k) = v.durationMs / 1e3
          }
        }
        try op.kind match {
          case "select" => query(text)
          case "lib_select" =>
            val jobs0 = if (traced) { PerfbenchBus.drain(sc); listener.counts(op.id).jobs } else 0L
            val c0 = System.nanoTime()
            val (df, _, _, _, _) = inSpan("lib.construct")(IcebergTable.readMorUnified(session, t.location))
            constructS = (System.nanoTime() - c0) / 1e9
            if (traced) { PerfbenchBus.drain(sc); constructJobs = listener.counts(op.id).jobs - jobs0 }
            df.createOrReplaceTempView("lib_scan")
            try query(op.sql.replace("{t}", "lib_scan")) finally session.catalog.dropTempView("lib_scan")
          case "append_grouped" =>
            inSpan("library.append_grouped")(
              IcebergTable.appendGrouped(session, session.sql(op.src), t.location, op.groupMonths))
          case "eq_delete" =>
            inSpan("library.eq_delete")(
              IcebergTable.appendEqualityDeletes(session, session.sql(op.src), t.location))
          case _ => rows = inSpan("spark.sql")(session.sql(text).collect()).toSeq.map(rowJson)
        } catch {
          case e: Throwable =>
            error = Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
              .linesIterator.take(3).mkString(" | ").take(600))
        }
        latency = (System.nanoTime() - t0) / 1e9
        if (traced) {
          sc.setLocalProperty("perfbench.span", null)
          PerfbenchBus.drain(sc)
          sc.setLocalProperty("perfbench.op", null)
          if (error.isEmpty && (op.kind == "select" || op.kind == "lib_select"))
            probe = metadataProbe(opSpan, op, t)
        }
      }
      val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
      if (traced) {
        val c = listener.counts(op.id)
        extra ++= Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_cpu_s" -> c.cpuNs / 1e9, "input_bytes" -> c.inputBytes,
          "records_read" -> c.recordsRead, "shuffle_bytes" -> c.shuffleBytes,
          "spill_bytes" -> c.spillBytes, "scheduler_wait_s" -> c.schedulerWaitMs / 1e3,
          "catalyst" -> phases.toMap, "metadata" -> probe)
        if (op.kind == "lib_select")
          extra ++= Seq("construct_s" -> constructS, "construct_jobs" -> constructJobs)
        before.foreach { case (f0, b0, m0) =>
          val (f1, b1, m1) = dirCensus(new File(t.location))
          extra ++= Seq("data_files_added" -> (f1 - f0), "data_bytes_added" -> (b1 - b0),
            "metadata_bytes_added" -> (m1 - m0))
        }
      }
      emit(Seq[(String, Any)]("type" -> "op", "id" -> op.id, "kind" -> op.kind, "phase" -> phase,
        "traced" -> traced,
        "latency_s" -> latency, "gc_s" -> (gcMs - gc0) / 1e3, "error" -> error.orNull,
        "rows" -> rows) ++ extra: _*)
    }

    def metadataProbe(parent: Int, op: Op, t: Table): Map[String, Any] = {
      val (meta, version) = tracer.span(parent, op.id, "metadata.read")(_ =>
        IcebergTable.readMetadataWithVersion(t.location))
      tracer.span(parent, op.id, "metadata.manifest_list")(_ =>
        IcebergTable.readManifestList(IcebergTable.currentSnapshot(meta).manifestList))
      val plan = tracer.span(parent, op.id, "metadata.plan_files")(_ =>
        IcebergTable.planFiles(t.location, dateLo = op.lo, dateHi = op.hi))
      Map("manifests_read" -> plan.manifestsRead, "manifests_total" -> plan.manifestsTotal,
        "files_selected" -> plan.filesSelected, "files_total" -> plan.filesTotal,
        "json_bytes" -> new File(s"${t.location}/metadata/v$version.metadata.json").length())
    }

    // ---- set-up: build the fixture, then warm up. Warm-up writes go to a
    // table of their own, so the measured table is exactly as the fixture
    // left it.
    val table = Table("lake", s"$work/wh", "li")
    val f0 = System.nanoTime()
    registerRaw(spark)
    bind(spark, table)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${table.catalog}.bench")
    (plan \ "fixture").extract[List[JValue]].map(parseOp).foreach(op => run(op, table, "fixture", spark, tracing))
    val w0 = System.nanoTime()
    (plan \ "warmup").extract[List[JValue]].map(parseOp).foreach(op => run(op, table, "warmup", spark, traced = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    emit("type" -> "setup", "session_s" -> sessionS, "fixture_s" -> (w0 - f0) / 1e9, "warmup_s" -> warmupS,
      "total_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)

    // ---- timed phase: one closed-loop client
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    // A workload whose statements change the table runs all of them, so
    // that every run ends in the same table state; the others stop at the
    // deadline.
    val untilDeadline = (plan \ "until_deadline").extract[Boolean]
    var done = 0
    val seenOfKind = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    while (done < ops.size && (!untilDeadline || System.nanoTime() < deadline)) {
      // a traced run traces every other operation of each kind; the rest
      // measure the tracing overhead
      val op = ops(done)
      run(op, table, "timed", spark, tracing && seenOfKind(op.kind) % 2 == 0)
      seenOfKind(op.kind) += 1
      done += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val timedCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // the heap graft still holds once the timed phase is over: what full
    // collections cannot free (the pauses let Spark's context cleaner drop
    // the blocks of the plans the earlier collections freed)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    emit("type" -> "timed", "ops_done" -> done, "ops_planned" -> ops.size, "wall_s" -> timedS,
      "cpu_s" -> timedCpuS, "heap_peak_mb" -> heapPeakMb, "heap_live_mb" -> heapLiveMb)

    // ---- after the timed phase: re-reads (some from a fresh session)
    lazy val fresh = { val s = spark.newSession(); bind(s, table); registerRaw(s); s }
    (plan \ "after").extract[List[JValue]].map(parseOp).foreach { op =>
      run(op, table, "after", if (op.fresh) fresh else spark, traced = false)
    }

    // ---- end-of-run table census from the table's own metadata
    val meta = IcebergTable.readMetadata(table.location)
    val manifests = IcebergTable.readManifestList(IcebergTable.currentSnapshot(meta).manifestList)
    val entries = manifests.flatMap(m => IcebergTable.readManifest(m.path))
    val (dvs, posFiles) = entries.filter(_.content == 1).partition(_.referencedDataFile.isDefined)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val tableFiles = walk(new File(table.location))
    emit("type" -> "end",
      "snapshots" -> meta.snapshots.size, "manifests" -> manifests.size,
      "data_files" -> entries.count(_.content == 0),
      "data_records" -> entries.filter(_.content == 0).map(_.recordCount).sum,
      "dv_blobs" -> dvs.size, "dv_positions" -> dvs.map(_.recordCount).sum,
      "position_delete_files" -> posFiles.size,
      "eq_keys" -> entries.filter(_.content == 2).map(_.recordCount).sum,
      "table_files" -> tableFiles.size, "table_bytes" -> tableFiles.map(_.length).sum,
      "peak_rss_mb" -> peakRssMb())
    tracer.all.filter(s => tracedOps.contains(s.op)).foreach { s =>
      emit("type" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)
    }
    out.close()
    // Everything is written; end without Spark's orderly shutdown, which
    // costs seconds per run and measures nothing.
    Runtime.getRuntime.halt(0)
  }

  private def isWrite(kind: String): Boolean = !Set("select", "lib_select", "props_check").contains(kind)

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
