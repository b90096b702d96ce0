package graft.lake.iceberg

import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-19 write-distribution contracts:
  *  - distribution/sort keys derive from the table's PARTITION SPEC, not a
  *    hardcoded column name (an arbitrary-named partition column flows
  *    through to the delta write's required ordering);
  *  - the `months` V2 function served by the catalog's FunctionCatalog
  *    computes the Iceberg month-transform value;
  *  - every write hash-clusters its rows by months(<part col>) (the
  *    delta write by (_file, months(<part col>))) and sorts them by the
  *    column within a task, so a streaming epoch or a statement writes
  *    ≈ months-touched files instead of tasks × months, with no range
  *    partitioner's sampling job, and a task holds one file open. */
class WriteDistributionSpec extends SparkSpec {

  test("distribution source column derives from an arbitrary-named partition transform") {
    assert(GraftPartitioning.sourceColumnOf(
      Array(Expressions.months("event_ts"))).contains("event_ts"))
    assert(GraftPartitioning.sourceColumnOf(
      Array(Expressions.months("l_shipdate"))).contains("l_shipdate"))
    assert(GraftPartitioning.sourceColumnOf(Array.empty).isEmpty)
    // the catalog's declared spec resolves to its own source column
    assert(GraftPartitioning.sourceColumnOf(
      Array(GraftPartitioning.monthTransform)).contains("l_shipdate"))
  }

  test("delta write sort keys follow the spec's source column, falling back to (_file,_pos)") {
    val schema = StructType(Seq(
      StructField("event_ts", TimestampType), StructField("v", LongType)))
    def orderingCols(partCol: Option[String]): Seq[String] =
      new GraftDeltaWrite("/tmp/unused", schema, partCol)
        .requiredOrdering().toSeq.map(_.expression().references().head.fieldNames.head)
    // arbitrary-named partition column: the data sort key is that column
    assert(orderingCols(Some("event_ts")) == Seq("_file", "event_ts"))
    // spec column absent from the write schema (pure DELETE): row-id order
    assert(orderingCols(Some("not_there")) == Seq("_file", "_pos"))
    assert(orderingCols(None) == Seq("_file", "_pos"))
  }

  /** The clustering expressions of a write's required distribution, as
    * Spark describes them. */
  private def clustering(d: org.apache.spark.sql.connector.distributions.Distribution)
      : Seq[String] = d match {
    case c: org.apache.spark.sql.connector.distributions.ClusteredDistribution =>
      c.clustering().toSeq.map(_.describe())
    case other => fail(s"expected a clustered distribution, got $other")
  }

  test("delta, dynamic-overwrite, append and truncate writes are hash-clustered by month") {
    import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
    val schema = StructType(Seq(
      StructField("l_shipdate", TimestampType), StructField("v", LongType)))
    val delta = new GraftDeltaWrite("/tmp/unused", schema, Some("l_shipdate"))
    assert(clustering(delta.requiredDistribution()) == Seq("_file", "months(l_shipdate)"))
    // a pure DELETE's rows carry no data columns: clustered by file alone
    val deleteOnly = StructType(Seq(StructField("v", LongType)))
    assert(clustering(new GraftDeltaWrite("/tmp/unused", deleteOnly, Some("l_shipdate"))
      .requiredDistribution()) == Seq("_file"))
    def write(mode: GraftWriteBuilder => Unit): RequiresDistributionAndOrdering = {
      val b = new GraftWriteBuilder("/tmp/unused", schema)
      mode(b)
      b.build().asInstanceOf[RequiresDistributionAndOrdering]
    }
    for ((name, w) <- Seq("dynamic" -> write(_.overwriteDynamicPartitions()),
                          "append" -> write(_ => ()), "truncate" -> write(_.truncate()))) {
      assert(clustering(w.requiredDistribution()) == Seq("months(l_shipdate)"), name)
      assert(w.requiredOrdering().toSeq.map(_.expression().describe()) == Seq("l_shipdate"), name)
    }
  }

  private def monthRows(days: Seq[Int]): Seq[org.apache.spark.sql.catalyst.InternalRow] =
    days.zipWithIndex.map { case (d, i) =>
      org.apache.spark.sql.catalyst.InternalRow(d * 86400L * 1000000L, i.toLong) }

  private val monthSchema = StructType(Seq(
    StructField("l_shipdate", TimestampType), StructField("v", LongType)))

  test("a task fed three months in order holds one open file and writes one file per month") {
    val dir = Files.createTempDirectory("graft_one_open_").toString
    val w = new GraftDeltaWriter(dir, monthSchema, 0, 1L, Some("l_shipdate"))
    // 1970-01 ×2, 1970-02 ×2, 1970-03 ×1
    monthRows(Seq(0, 10, 40, 50, 70)).foreach { r =>
      w.insert(r)
      assert(w.openFiles <= 1)
    }
    val files = w.commit().asInstanceOf[GraftDeltaCommitMessage].files.toSeq
    assert(w.openFiles == 0)
    assert(files.map(f => new java.io.File(f).getParentFile.getName) ==
      Seq("p_month=1970-01", "p_month=1970-02", "p_month=1970-03"))
    assert(spark.read.parquet(files: _*).count() == 5)
  }

  test("write.target-records-per-file starts a new file in the month every target rows") {
    val dir = Files.createTempDirectory("graft_target_rows_").toString
    val w = new GraftDeltaWriter(dir, monthSchema, 0, 1L, Some("l_shipdate"), Some(2L))
    // 5 rows of 1970-01, then 1 of 1970-02: ceil(5/2) + 1 files
    monthRows(Seq(0, 1, 2, 3, 4, 40)).foreach(w.insert)
    val files = w.commit().asInstanceOf[GraftDeltaCommitMessage].files.toSeq
    assert(files.map(f => new java.io.File(f).getParentFile.getName) ==
      Seq.fill(3)("p_month=1970-01") :+ "p_month=1970-02")
    assert(files.map(f => spark.read.parquet(f).count()) == Seq(2L, 2L, 1L, 1L))
  }

  private val unpartitionedSchema = StructType(Seq(
    StructField("v", LongType), StructField("event_ts", TimestampType)))
  private val writeInfo = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
    override def numPartitions(): Int = 1
  }
  private def unpartitionedRows: Seq[org.apache.spark.sql.catalyst.InternalRow] =
    Seq(0L, 40L * 86400L, 400L * 86400L).zipWithIndex.map { case (sec, i) =>
      org.apache.spark.sql.catalyst.InternalRow(i.toLong, sec * 1000000L) }

  /** The written files sit directly under `dataDir` and hold every row. */
  private def assertFlat(dataDir: String, files: Seq[String]): Unit = {
    assert(files.size == 1, s"one task writes one unpartitioned file: $files")
    assert(new java.io.File(files.head).getParent == dataDir)
    assert(!new java.io.File(dataDir).list().exists(_.startsWith("p_month=")))
    assert(spark.read.parquet(files: _*).select("v").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L, 2L))
  }

  test("a delta write whose spec has no source column writes unpartitioned") {
    val loc = Files.createTempDirectory("graft_unpart_delta_").toString
    val w = new GraftDeltaBatchWrite(loc, unpartitionedSchema, s"$loc/data/snap-7", None)
      .createBatchWriterFactory(writeInfo).createWriter(0, 11L)
    // rows span three months, and the schema has no l_shipdate column
    unpartitionedRows.foreach(w.insert)
    w.delete(null, org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"$loc/old.parquet"), 3L))
    val msg = w.commit().asInstanceOf[GraftDeltaCommitMessage]
    assert(msg.deletes.map(d => (d._1, d._3)).toSeq == Seq((s"$loc/old.parquet", 1L)))
    assertFlat(s"$loc/data/snap-7", msg.files.toSeq)
  }

  test("a dynamic overwrite whose spec has no source column writes unpartitioned") {
    import org.apache.spark.sql.connector.distributions.UnspecifiedDistribution
    import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
    val loc = Files.createTempDirectory("graft_unpart_overwrite_").toString
    val write = new GraftWriteBuilder(loc, unpartitionedSchema, partitioning = Array.empty)
      .overwriteDynamicPartitions().build()
    val rdo = write.asInstanceOf[RequiresDistributionAndOrdering]
    assert(rdo.requiredDistribution().isInstanceOf[UnspecifiedDistribution])
    assert(rdo.requiredOrdering().isEmpty)
    val w = write.toBatch.createBatchWriterFactory(writeInfo).createWriter(0, 5L)
    unpartitionedRows.foreach(w.write)
    val msg = w.commit().asInstanceOf[GraftDeltaCommitMessage]
    // the statement stages in its own data/snap-<tag> directory
    val staged = new java.io.File(msg.files.head).getParentFile
    assert(staged.getParent == s"$loc/data" && staged.getName.startsWith("snap-"))
    assertFlat(staged.getPath, msg.files.toSeq)
  }

  test("months V2 function computes the Iceberg month-transform value") {
    val bound = GraftMonthsFunction.bind(
      StructType(Seq(StructField("ts", TimestampType))))
    def monthsOf(isoDate: String): Integer = {
      val micros = java.time.LocalDate.parse(isoDate).atStartOfDay
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
      bound.asInstanceOf[
          org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(org.apache.spark.sql.catalyst.InternalRow(micros))
    }
    assert(monthsOf("1970-01-15") == 0)
    assert(monthsOf("1970-02-01") == 1)
    assert(monthsOf("1997-03-15") == (1997 - 1970) * 12 + 2)
    // catalog serves it through the FunctionCatalog surface
    val cat = new GraftCatalog()
    val opts = new java.util.HashMap[String, String]()
    opts.put("warehouse", Files.createTempDirectory("graft_fn_wh_").toString)
    cat.initialize("gfn", new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    assert(cat.loadFunction(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "months"))
      eq GraftMonthsFunction)
  }

  test("write.distribution-mode=hash clusters streaming epochs: files == months touched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = Files.createTempDirectory("graft_wdist_wh_").toString
    spark.conf.set("spark.sql.catalog.gwdist", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwdist.warehouse", w)
    // one epoch spanning three months, arriving SHUFFLED by join key (NOT
    // by month — broadcast disabled so the shuffle really happens): without
    // the clustered distribution every join task would open a writer per
    // month it sees (tasks × months files)
    val li = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
    spark.sql(s"""CREATE TABLE gwdist.lake.li_stream_dist
      | (${li.schema.toDDL})
      | TBLPROPERTIES ('write.distribution-mode'='hash')""".stripMargin)
    val loc = IcebergCatalog.tableLocation(w, "lake", "li_stream_dist")
    val markers = MemoryStream[Int]
    val streamDf = markers.toDF().toDF("__m")
      .join(li.withColumn("__b", pmod(col("l_orderkey"), lit(4L)).cast("int")),
        col("__m") === col("__b"))
      .drop("__m", "__b")
    val ckpt = Files.createTempDirectory("graft_wdist_ckpt_").toString
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = streamDf.writeStream
        .option("checkpointLocation", ckpt)
        .toTable("gwdist.lake.li_stream_dist")
      try { markers.addData(0, 1, 2, 3); q.processAllAvailable() } finally q.stop()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    val meta = IcebergTable.readMetadata(loc)
    val files = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path)).filter(_.content == 0)
    val nMonths = li.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    assert(files.size.toLong == nMonths,
      s"expected one file per month ($nMonths), got ${files.size}")
    // and the rows all arrived
    val n = spark.table("gwdist.lake.li_stream_dist").count()
    assert(n == li.count())
  }
}
