package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names, each also a `prefix*`
    // pattern, for local iteration; with two args every query runs.
    val only: Option[Seq[String]] = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String): Boolean = only.forall(_.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is known before any query runs — write it FIRST so an
    // interrupted run (driver hiccup, OOM-kill, wall-clock cutoff) still
    // leaves the oracle side of the compare on disk alongside however many
    // dumps completed. results.jsonl then accrues one line per query as each
    // dump commits, so partial evidence survives any interruption.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val progress = new java.io.PrintWriter(new java.io.FileWriter(
      s"$outDir/results.jsonl", /*append=*/ false), /*autoFlush=*/ true)
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val ms = (System.nanoTime() - t0) / 1000000
        val rows = spark.read.parquet(s"$outDir/$name").count()
        progress.println(
          s"""{"query": ${q(name)}, "ok": true, "rows": $rows, "ms": $ms}""")
      } catch { case e: Throwable =>
        val ms = (System.nanoTime() - t0) / 1000000
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        progress.println(s"""{"query": ${q(name)}, "ok": false, "ms": $ms, """ +
          s""""error": ${q(String.valueOf(e.getMessage).take(400))}}""")
      }
    }
    progress.close()
    spark.stop()
  }
}
