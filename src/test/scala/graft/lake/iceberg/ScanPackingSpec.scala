package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The scan packs its planned files into size-balanced tasks
  * ([[GraftScanPacking]]): the rule matches Spark's own file sources, a
  * packed task reads its files one after another with per-file
  * `_file`/`_pos` and delete state, and the row-level statements and the
  * streaming source keep their results over packed scans. */
class ScanPackingSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  private def partitionsOf(loc: String): Seq[GraftInputPartition] =
    new GraftScanBuilder(loc, None, IcebergTable.readMetadata(loc).currentSchema).build().toBatch
      .planInputPartitions().toSeq.map(_.asInstanceOf[GraftInputPartition])

  private def catalog(w: String, tag: String): String = {
    val cat = s"graft_${tag}_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    cat
  }

  test("packing follows Spark's FilePartition rule: same split size, same groups, plan order") {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val mb = 1024L * 1024L
    // Spark's grouping charges the session's open cost
    val openCost = org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    // many small files, one larger than any task, and small ones after it
    val sizes: Seq[Long] = Seq.tabulate(72)(i => 60000L + 1000L * i) ++
      Seq(300 * mb) ++ Seq.fill(9)(2 * mb)
    val files = sizes.zipWithIndex.map { case (s, i) => (s"/t/f$i.parquet", s) }
    for (minPartitions <- Seq(1, 4, 32)) {
      val max = GraftScanPacking.maxSplitBytes(sizes, 128 * mb, openCost, minPartitions)
      assert(max == math.min(128 * mb,
        math.max(openCost, sizes.map(_ + openCost).sum / minPartitions)))
      val packed = GraftScanPacking.pack[(String, Long)](files, _._2, max, openCost)
      assert(packed.flatten == files, "packing must keep plan order and split no file")
      val spark0 = FilePartition.getFilePartitions(spark,
        files.map { case (p, s) =>
          PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p), 0L, s) }, max)
      assert(packed.map(_.map(_._1)) ==
        spark0.map(_.files.toSeq.map(_.filePath.toString)),
        s"groups differ from Spark's at minPartitions=$minPartitions")
    }
  }

  test("a table of many small files plans fewer scan tasks than files, within the rule") {
    val w = Files.createTempDirectory("graft_pack_plan_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val loc = IcebergCatalog.createTable(w, "ns", "li")
    IcebergTable.append(spark, lineitem, loc)
    val plan = IcebergTable.planFiles(loc)
    val parts = partitionsOf(loc)
    assert(plan.files.size > 20, s"fixture must hold many files, has ${plan.files.size}")
    assert(parts.size < plan.files.size)
    // next-fit fills every pair of neighbouring tasks past the cap, so the
    // rule allows at most twice the tasks its cap divides the bytes into
    val openCost = org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    val cost = plan.files.map(_.fileSizeBytes + openCost).sum
    val max = GraftScanPacking.maxSplitBytes(plan.files.map(_.fileSizeBytes),
      128L * 1024 * 1024, openCost, spark.sparkContext.defaultParallelism)
    assert(parts.size <= 2 * math.ceil(cost.toDouble / max).toInt,
      s"${parts.size} tasks for ${plan.files.size} files under a $max-byte cap")
    assert(parts.flatMap(_.files.map(_.path)) == plan.files.map(_.path),
      "tasks must cover the plan once, in plan order")
    // the SQL read over the packed scan sees every row
    val cat = catalog(w, "pack_plan")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.li").head().getLong(0) == lineitem.count())
  }

  /** One parquet file of `n` rows: l_orderkey = row ordinal. */
  private def sequential(n: Long): String = {
    val dir = Files.createTempDirectory("graft_pack_file_").toString
    spark.range(0, n).select(col("id").as("l_orderkey"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
  }

  test("inside one packed task _file, _pos, DVs and equality keys stay per file") {
    val a = sequential(5000) // sequence 1: DVs and the equality wave apply
    val b = sequential(100)  // sequence 1: every row under its DV
    val c = sequential(6000) // sequence 3: newer than the equality wave
    val dvA = Array(0L, 7L, 4097L)
    val eq = Array(1L, 4095L, 4096L)
    val part = GraftInputPartition(Array(
      GraftFileTask(a, 1L, Array(RoaringDv.serializeDvBlob(dvA))),
      GraftFileTask(b, 1L, Array(RoaringDv.serializeDvBlob((0L until 100L).toArray))),
      GraftFileTask(c, 3L, Array.empty)))
    val fields = Array[(String, DataType)](
      ("_file", StringType), ("_pos", LongType), ("l_orderkey", LongType))
    val factory = new GraftReaderFactory(fields,
      spark.sparkContext.broadcast(Array((2L, eq))))
    val r = factory.createColumnarReader(part)
    val rows = Seq.newBuilder[(String, Long, Long)]
    try while (r.next()) {
      r.get().rowIterator().asScala.foreach(x =>
        rows += ((x.getUTF8String(0).toString, x.getLong(1), x.getLong(2))))
    } finally r.close()
    val got = rows.result()
    val wantA = (0L until 5000L).filterNot(p => dvA.contains(p) || eq.contains(p))
    val wantC = 0L until 6000L
    assert(got.map(_._1).distinct == Seq(a, c), "_file must change once, at the file boundary")
    assert(got.filter(_._1 == a).map(_._2) == wantA)
    assert(got.filter(_._1 == c).map(_._2) == wantC,
      "_pos restarts at 0, and A's DVs and the older equality wave do not reach C")
    assert(got.forall(x => x._2 == x._3), "values must come from each row's own file")
  }

  test("a packed reader closes each file's reader before it opens the next") {
    val paths = Seq(sequential(10), sequential(5), sequential(20))
    val events = Seq.newBuilder[String]
    val tasks = paths.map(p => GraftFileTask(p, 1L, Array.empty)).toArray
    val r = new GraftPackedReader(tasks, { f =>
      val i = paths.indexOf(f.path)
      events += s"open $i"
      new PartitionReader[ColumnarBatch] {
        private val in = new GraftColumnarReader(f.path, Array(("v", LongType)),
          Array.empty, Array.empty)
        override def next(): Boolean = in.next()
        override def get(): ColumnarBatch = in.get()
        override def close(): Unit = { events += s"close $i"; in.close() }
      }
    })
    var n = 0
    try while (r.next()) n += r.get().numRows() finally r.close()
    assert(n == 35)
    assert(events.result() == Seq("open 0", "close 0", "open 1", "close 1", "open 2", "close 2"))
  }

  test("SQL DELETE and UPDATE over a packed scan change exactly the oracle's rows") {
    val w = Files.createTempDirectory("graft_pack_rl_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val loc = IcebergCatalog.createTable(w, "ns", "li")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L)
        .select(col("l_orderkey")).distinct(), loc)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 6L)
    assert(partitionsOf(loc).size < IcebergTable.planFiles(loc).files.size,
      "the fixture's scan must be packed")
    val cat = catalog(w, "pack_rl")
    spark.sql(s"DELETE FROM $cat.ns.li WHERE l_orderkey % 7 = 2")
    spark.sql(s"UPDATE $cat.ns.li SET l_quantity = l_quantity + 100 WHERE l_orderkey % 11 = 4")
    val k = col("l_orderkey")
    val oracle = lineitem
      .filter(pmod(k, lit(10L)) =!= 3L && pmod(k, lit(10L)) =!= 6L && pmod(k, lit(7L)) =!= 2L)
      .select(k, col("l_linenumber"),
        when(pmod(k, lit(11L)) === 4L, col("l_quantity") + 100).otherwise(col("l_quantity"))
          .as("l_quantity"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.select(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
          round(col("l_quantity").cast("double"), 4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(rows(spark.table(s"$cat.ns.li")) == rows(oracle))
  }

  test("the streaming source packs its micro-batches and delivers each appended file once") {
    val w = Files.createTempDirectory("graft_pack_stream_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val loc = IcebergCatalog.createTable(w, "ns", "s")
    val era1 = lineitem.filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    val era2 = lineitem.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
    IcebergTable.append(spark, era1, loc)
    val stream = new GraftMicroBatchStream(loc, lineitem.schema)
    val head = IcebergTable.readMetadata(loc).currentSnapshotId
    val parts = stream.planInputPartitions(GraftStreamOffset(0L), GraftStreamOffset(head))
      .toSeq.map(_.asInstanceOf[GraftInputPartition])
    val planned = IcebergTable.planIncremental(loc, 0L, head).files.map(_.path)
    assert(parts.flatMap(_.files.map(_.path)) == planned)
    assert(parts.size < planned.size, "a micro-batch of many files must be packed")
    val cat = catalog(w, "pack_stream")
    val ckpt = Files.createTempDirectory("graft_pack_stream_ckpt_").toString
    val q = spark.readStream.table(s"$cat.ns.s")
      .writeStream.format("memory").queryName("graft_pack_stream_sink")
      .option("checkpointLocation", ckpt).start()
    def keys(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    try {
      q.processAllAvailable()
      assert(keys(spark.table("graft_pack_stream_sink")) == keys(era1))
      IcebergTable.append(spark, era2, loc)
      q.processAllAvailable()
      assert(keys(spark.table("graft_pack_stream_sink")) == keys(lineitem),
        "every appended row must arrive exactly once")
    } finally q.stop()
  }
}
