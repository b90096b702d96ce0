package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.ExecutedCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unit coverage for the executor-side columnar per-file reader behind
  * the DSv2 SQL front door — the physical-form and schema-drift cases a
  * table-level query can't isolate: legacy int96 timestamps, columns a
  * pre-evolution file lacks (null-fill), the synthesized `_file`/`_pos`
  * metadata columns (row-level operations' rowId), DV/equality filtering
  * by row ordinal across decode batches, and the plan shape that keeps
  * delete-carrying scans columnar. */
class VectorizedReaderSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def lineitem = Tables.lineitem(spark, sf0001)

  private def writeOne(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_vread_").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
  }

  /** One file of `n` rows in id order: l_orderkey = id, q = id (INT),
    * v = 2 * id — larger than one 4096-row decode batch for n > 4096. */
  private def sequential(n: Long): String =
    writeOne(spark.range(0, n).select(col("id").as("l_orderkey"),
      col("id").cast("int").as("q"), (col("id") * 2).as("v")))

  private def reader(path: String, fields: Seq[(String, DataType)],
                     dv: Array[Long] = Array.empty, eq: Array[Long] = Array.empty,
                     widened: Set[String] = Set.empty): GraftColumnarReader =
    new GraftColumnarReader(path, fields.toArray, dv, eq.sorted, Map.empty, widened)

  /** Every batch's row count and its rows, copied out (the reader reuses
    * its vectors across batches). */
  private def drainBatches(r: GraftColumnarReader): Seq[(Int, Seq[InternalRow])] = {
    import scala.jdk.CollectionConverters._
    val out = Seq.newBuilder[(Int, Seq[InternalRow])]
    try while (r.next()) {
      val b = r.get()
      out += ((b.numRows(), b.rowIterator().asScala.map(_.copy()).toSeq))
    } finally r.close()
    out.result()
  }

  private def drain(r: GraftColumnarReader): Seq[InternalRow] = drainBatches(r).flatMap(_._2)

  test("int96 timestamps decode to the same micros Spark's own reader returns") {
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    val src = lineitem.limit(200)
      .select(col("l_orderkey"),
        col("l_shipdate").cast("timestamp_ltz").as("l_shipdate"))
      .orderBy("l_orderkey")
    val path =
      try writeOne(src)
      finally old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    assert(GraftVectorized.fileSchemaOf(path).getType(Seq("l_shipdate"): _*)
      .asPrimitiveType().getPrimitiveTypeName.toString == "INT96",
      "fixture must exercise the legacy physical form")
    val rows = drain(reader(path,
      Seq(("l_orderkey", LongType), ("l_shipdate", TimestampType))))
    val expect = spark.read.parquet(new File(path).getParent)
      .orderBy("l_orderkey")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant))
    val got = rows.map(r => (r.getLong(0),
      java.time.Instant.EPOCH.plusNanos(r.getLong(1) * 1000L)))
      .sortBy(_._1)
    assert(got == expect.toSeq)
  }

  test("missing columns null-fill; _file/_pos synthesize; DV+equality filter by ordinal") {
    val src = lineitem.limit(50).select(col("l_orderkey"), col("l_quantity"))
      .orderBy("l_orderkey")
    val path = writeOne(src)
    val all = drain(reader(path,
      Seq(("l_orderkey", LongType), ("added_later", StringType),
        ("_file", StringType), ("_pos", LongType))))
    assert(all.size == 50)
    assert(all.forall(_.isNullAt(1)), "absent column must null-fill")
    assert(all.forall(_.getUTF8String(2).toString == path))
    assert(all.map(_.getLong(3)) == (0L until 50L))
    // DV positions skip by ordinal; equality keys filter by value
    val keys = src.collect().map(_.getLong(0)).sorted
    val dv = Array(0L, 7L, 49L)
    val eq = Array(keys(3), keys(5))
    val left = drain(reader(path,
      Seq(("l_orderkey", LongType), ("_pos", LongType)), dv, eq))
    assert(left.size == 45)
    assert(!left.exists(r => dv.contains(r.getLong(1))))
    assert(!left.exists(r => eq.contains(r.getLong(0))))
  }

  test("empty projection (count(*) shape) still counts every live row") {
    val path = writeOne(lineitem.limit(64).select(col("l_orderkey")))
    val n = drainBatches(reader(path, Seq.empty, Array(3L))).map(_._1).sum
    assert(n == 63)
  }

  test("DV positions on both sides of the 4096-row decode-batch boundary") {
    val path = sequential(10000)
    val dv = Array(0L, 4094L, 4095L, 4096L, 4097L, 8191L, 8192L, 9999L)
    val batches = drainBatches(reader(path,
      Seq(("l_orderkey", LongType), ("_pos", LongType), ("v", LongType)), dv))
    // batches follow the decoder's: [0, 4096), [4096, 8192), [8192, 10000)
    assert(batches.map(_._1) == Seq(4096 - 3, 4096 - 3, 1808 - 2))
    val rows = batches.flatMap(_._2)
    val want = (0L until 10000L).filterNot(dv.contains)
    assert(rows.map(_.getLong(1)) == want, "_pos must be each survivor's file ordinal")
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) && r.getLong(2) == 2 * r.getLong(1)),
      "values must come from the surviving rows")
  }

  test("a batch whose every row is deleted does not end the file") {
    val path = sequential(10000)
    val dv = (4096L until 8192L).toArray
    val batches = drainBatches(reader(path, Seq(("_pos", LongType), ("v", LongType)), dv))
    assert(batches.map(_._1) == Seq(4096, 1808))
    assert(batches.flatMap(_._2).map(_.getLong(0)) ==
      ((0L until 4096L) ++ (8192L until 10000L)))
    // the same through equality keys alone, and the count(*) shape
    val eq = (4096L until 8192L).toArray
    assert(drain(reader(path, Seq(("v", LongType)), eq = eq)).size == 10000 - 4096)
    assert(drainBatches(reader(path, Seq.empty, dv)).map(_._1).sum == 10000 - 4096)
  }

  test("equality deletes apply when l_orderkey is not in the projection") {
    val path = sequential(6000)
    val eq = Array(1L, 4095L, 4096L, 5999L, 123456L)
    val rows = drain(reader(path, Seq(("v", LongType)), eq = eq))
    val want = (0L until 6000L).filterNot(eq.contains).map(_ * 2)
    assert(rows.map(_.getLong(0)) == want)
    assert(rows.forall(_.numFields == 1), "the key column read for deletes must not leak")
  }

  test("a widened column reads through the upcast beneath the DV filter") {
    val path = sequential(5000)
    assert(GraftVectorized.fileSchemaOf(path).getType(Seq("q"): _*)
      .asPrimitiveType().getPrimitiveTypeName.toString == "INT32")
    val dv = Array(2L, 4095L, 4999L)
    val r = reader(path, Seq(("q", LongType), ("_pos", LongType)), dv, widened = Set("q"))
    assert(r.next())
    val first = r.get()
    assert(first.column(0).isInstanceOf[GraftFilteredVector],
      "a batch that lost rows must be served through the row-id map")
    assert(first.column(0).dataType() == LongType)
    val rows = {
      import scala.jdk.CollectionConverters._
      val head = first.rowIterator().asScala.map(_.copy()).toSeq
      head ++ drain(r)
    }
    val want = (0L until 5000L).filterNot(dv.contains)
    assert(rows.map(_.getLong(0)) == want)
    assert(rows.map(_.getLong(1)) == want)
  }

  test("SQL reads and the row-level DELETE scan of a table with DVs and equality deletes stay columnar") {
    val w = Files.createTempDirectory("graft_vread_plan_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val t = IcebergCatalog.createTable(w, "ns", "li")
    IcebergTable.append(spark, lineitem, t)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L)
        .select(col("l_orderkey")).distinct(), t)
    IcebergTable.appendDvPuffin(spark, t, pmod(col("l_orderkey"), lit(10L)) === 6L)
    val cat = "graft_vplan_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)

    def assertColumnarScans(plan: SparkPlan, what: String): Unit = {
      val scans = collect(plan) { case b: BatchScanExec => b }
      assert(scans.nonEmpty, s"$what: no BatchScan in\n$plan")
      val underC2R = collect(plan) {
        case ColumnarToRowExec(b: BatchScanExec) => b
        case ColumnarToRowExec(InputAdapter(b: BatchScanExec)) => b // under codegen
      }
      assert(underC2R.size == scans.size, s"$what: a BatchScan reads rows in\n$plan")
    }

    val df = spark.sql(s"SELECT count(*), round(sum(l_quantity), 4) FROM $cat.ns.li")
    val got = df.collect().head // executes df's own plan: AQE's final form
    val live = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) =!= 3L &&
      pmod(col("l_orderkey"), lit(10L)) =!= 6L)
    assert(got.getLong(0) == live.count())
    assertColumnarScans(df.queryExecution.executedPlan, "SQL read")

    val delN = live.filter(pmod(col("l_orderkey"), lit(100L)) === 29L).count()
    assert(delN > 0)
    val del = spark.sql(s"DELETE FROM $cat.ns.li WHERE l_orderkey % 100 = 29")
    val command = del.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case other => other
    }
    assert(!command.isInstanceOf[ExecutedCommandExec], s"DELETE must plan a row-level write:\n$command")
    assertColumnarScans(command, "row-level DELETE")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.li").head().getLong(0) ==
      live.count() - delN)
  }
}
