package graft.lake.iceberg

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{AppendDataExec, BatchScanExec, WriteDeltaExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** How many Spark jobs a statement through [[GraftCatalog]] launches.
  * A table's schema comes from metadata.json and a written file's stats
  * from its parquet footer on the driver ([[ParquetFooters]]), so only the
  * data work of a statement runs as jobs: an INSERT's write, a SELECT's
  * scan. Writes are DSv2 batch writes clustered by month, so no write runs
  * a nested file-source write or a range partitioner's sampling job. */
class JobCensusSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def lineitem = Tables.lineitem(spark, sf0001)

  private val CensusKey = "graft.census.id"

  /** The Spark jobs `body` launches from this thread (and the threads it
    * starts, which inherit the thread's local properties). */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(CensusKey) == id)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(CensusKey, id)
    try body
    finally {
      sc.setLocalProperty(CensusKey, null)
      GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** A catalog over a fresh warehouse with namespace `lake`. */
  private def warehouse(tag: String): (String, String) = {
    val w = Files.createTempDirectory(s"graft_census_${tag}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_census_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (w, cat)
  }

  /** The physical plan a command statement executed. */
  private def commandPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case c: CommandResultExec => c.commandPhysicalPlan
    case p => p
  }

  /** The physical plans of the SQL executions `body` starts, as Spark
    * describes them. */
  private def executions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try body
    finally { GraftListenerBus.drain(sc); sc.removeSparkListener(listener) }
    plans.asScala.toSeq
  }

  test("INSERT runs only its write's jobs; SET TBLPROPERTIES runs none") {
    val (w, cat) = warehouse("ins")
    IcebergTable.append(spark, lineitem, IcebergCatalog.createTable(w, "lake", "li"))
    lineitem.createOrReplaceTempView("graft_census_src")
    var inserted: DataFrame = null
    var insert = 0
    val started = executions {
      insert = jobs { inserted = spark.sql(
        s"INSERT INTO $cat.lake.li SELECT * FROM graft_census_src WHERE l_orderkey % 5 = 0") }
    }
    assert(insert <= 2, s"INSERT ran $insert jobs")
    // a DSv2 append, not the V1 bridge's nested file-source write
    val plan = commandPlan(inserted)
    assert(plan.isInstanceOf[AppendDataExec], plan.toString)
    assert(plan.find(_.getClass.getSimpleName == "AppendDataExecV1").isEmpty, plan.toString)
    assert(!started.exists(_.contains("InsertIntoHadoopFsRelationCommand")), started.mkString("\n"))
    val props = jobs(spark.sql(s"ALTER TABLE $cat.lake.li SET TBLPROPERTIES ('census' = 'on')"))
    assert(props == 0, s"SET TBLPROPERTIES ran $props jobs")
    var deleted: DataFrame = null
    val delete = jobs { deleted = spark.sql(s"DELETE FROM $cat.lake.li WHERE l_orderkey % 7 = 3") }
    val update = jobs(spark.sql(
      s"UPDATE $cat.lake.li SET l_quantity = l_quantity + 1 WHERE l_orderkey % 11 = 2"))
    info(s"jobs: INSERT $insert, SET TBLPROPERTIES $props, DELETE $delete, UPDATE $update")
    // the delta stream is hash-clustered: no range partitioner samples the
    // scan in a job of its own before the shuffle scans it again
    assert(delete <= 2, s"DELETE ran $delete jobs")
    assert(update <= 2, s"UPDATE ran $update jobs")
    val deletePlan = commandPlan(deleted)
    assert(deletePlan.isInstanceOf[WriteDeltaExec], deletePlan.toString)
    val ranges = collect(deletePlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, deletePlan.toString)
  }

  test("a SELECT over DVs and equality deletes runs no schema job") {
    val (w, cat) = warehouse("sel")
    val loc = IcebergCatalog.createTable(w, "lake", "mor")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 6L)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L).select("l_orderkey").distinct(), loc)
    val select = jobs(spark.sql(
      s"SELECT count(*), sum(l_quantity) FROM $cat.lake.mor WHERE l_linenumber > 1").collect())
    info(s"jobs: SELECT $select")
    // the same statement ran 3 jobs with the per-statement mergeSchema job
    assert(select <= 2, s"SELECT ran $select jobs")
  }

  test("resolving a widened table's schema over three eras runs no job") {
    val (w, cat) = warehouse("eras")
    val loc = IcebergCatalog.createTable(w, "lake", "eras")
    val thirds = (0L until 3L).map(r => pmod(col("l_orderkey"), lit(3L)) === r)
    IcebergTable.append(spark, lineitem.filter(thirds(0)), loc)
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", LongType)
    for (t <- thirds.tail)
      IcebergTable.append(spark,
        lineitem.filter(t).withColumn("l_linenumber", col("l_linenumber").cast("long")), loc)
    assert(IcebergTable.planFiles(loc).files.map(_.sequence).distinct.size == 3)
    var schema: org.apache.spark.sql.types.StructType = null
    val resolve = jobs { schema = spark.table(s"$cat.lake.eras").schema }
    assert(resolve == 0, s"schema resolution ran $resolve jobs")
    assert(schema("l_linenumber").dataType == LongType)
    assert(schema.fieldNames.toSeq == lineitem.columns.toSeq)
  }

  test("building a library read runs no job; it plans one scan and no join") {
    val (w, _) = warehouse("lib")
    val loc = IcebergCatalog.createTable(w, "lake", "lib")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 6L)
    IcebergTable.appendPositionDeletes(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 7L)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L).select("l_orderkey").distinct(), loc)
    var live: DataFrame = null
    val build = jobs { live = IcebergTable.readMorUnified(spark, loc)._1 }
    assert(build == 0, s"building the read ran $build jobs")
    val plan = live.agg(count(lit(1)), sum(col("l_quantity"))).queryExecution.executedPlan
    val scans = collect(plan) { case s: BatchScanExec => s }
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(scans.size == 1 && joins.isEmpty, plan.toString)
  }

  test("a read that differs only in its pushed literal compiles no new class") {
    val (w, cat) = warehouse("lit")
    val loc = IcebergCatalog.createTable(w, "lake", "lit")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 6L)
    def read(discount: String): DataFrame = spark.sql(
      s"SELECT l_returnflag, count(*), sum(l_quantity) FROM $cat.lake.lit " +
        s"WHERE l_discount >= $discount GROUP BY l_returnflag")
    read("0.02").collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = read("0.05")
    second.collect()
    // a filter above the scan would carry the literal into the generated code
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second read compiled new classes")
    val plan = second.queryExecution.executedPlan
    assert(collect(plan) { case f: FilterExec => f }.isEmpty, plan.toString)
  }
}
