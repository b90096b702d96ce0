package graft.lake.iceberg

import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL write statements as DSv2 batch writes ([[GraftWriteBuilder]]):
  * each commits the snapshot its library twin commits — CTAS and `INSERT`
  * an append, RTAS, static `INSERT OVERWRITE` and a whole-table
  * `writeTo(…).overwrite` one "replace" snapshot, a branch `INSERT` an
  * append that moves only the branch — with one data file per month
  * touched, and reads back every row it wrote. */
class SqlWriteSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  private var n = 0

  /** A catalog over a fresh warehouse with namespace `lake`. */
  private def warehouse(): (String, String) = {
    n += 1
    val w = Files.createTempDirectory(s"graft_sqlwrite_${n}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_sqlwrite_$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (w, cat)
  }

  private def snapshots(loc: String): Seq[(Long, String, Long)] =
    IcebergTable.readMetadata(loc).snapshots.map(s => (s.id, s.operation, s.parentId))

  /** The live data files of the table's current snapshot. */
  private def dataFiles(loc: String): Seq[IcebergTable.DataFileEntry] =
    IcebergTable.planFiles(loc).files

  private def months(df: DataFrame): Long =
    df.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()

  /** `a` holds exactly `b`'s rows, in `b`'s columns. */
  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val got = a.select(b.columns.toIndexedSeq.map(col): _*)
    assert(got.exceptAll(b).isEmpty)
    assert(b.exceptAll(got).isEmpty)
  }

  test("CTAS and RTAS commit an append and a replace of one file per month") {
    val (w, cat) = warehouse()
    lineitem.createOrReplaceTempView("graft_sqlwrite_src")
    spark.sql(s"CREATE TABLE $cat.lake.t AS SELECT * FROM graft_sqlwrite_src")
    val loc = IcebergCatalog.tableLocation(w, "lake", "t")
    assert(snapshots(loc) == Seq((1L, "append", -1L)))
    assert(dataFiles(loc).size.toLong == months(lineitem))
    sameRows(spark.table(s"$cat.lake.t"), lineitem)
    val early = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    early.createOrReplaceTempView("graft_sqlwrite_early")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.lake.t AS SELECT * FROM graft_sqlwrite_early")
    assert(snapshots(loc) == Seq((1L, "append", -1L), (2L, "replace", 1L)))
    assert(dataFiles(loc).size.toLong == months(early))
    sameRows(spark.table(s"$cat.lake.t"), early)
  }

  test("static INSERT OVERWRITE and writeTo().overwrite(true) replace the whole table") {
    val (w, cat) = warehouse()
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem, loc)
    val odd = lineitem.filter(pmod(col("l_orderkey"), lit(2L)) === 1L)
    odd.createOrReplaceTempView("graft_sqlwrite_odd")
    spark.sql(s"INSERT OVERWRITE $cat.lake.t SELECT * FROM graft_sqlwrite_odd")
    assert(snapshots(loc).last == ((2L, "replace", 1L)))
    sameRows(spark.table(s"$cat.lake.t"), odd)
    val even = lineitem.filter(pmod(col("l_orderkey"), lit(2L)) === 0L)
    even.writeTo(s"$cat.lake.t").overwrite(lit(true))
    assert(snapshots(loc).last == ((3L, "replace", 2L)))
    assert(dataFiles(loc).size.toLong == months(even))
    sameRows(spark.table(s"$cat.lake.t"), even)
  }

  test("an INSERT of no rows commits nothing") {
    val (w, cat) = warehouse()
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem, loc)
    lineitem.createOrReplaceTempView("graft_sqlwrite_none")
    spark.sql(s"INSERT INTO $cat.lake.t SELECT * FROM graft_sqlwrite_none WHERE l_orderkey < 0")
    assert(snapshots(loc) == Seq((1L, "append", -1L)))
    assert(IcebergTable.readMetadataWithVersion(loc)._2 == 1L)
  }

  test("a branch INSERT appends to the branch only") {
    val (w, cat) = warehouse()
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    val early = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val late = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
    IcebergTable.append(spark, early, loc)
    IcebergTable.setRef(loc, "dev", 1L, "branch")
    late.createOrReplaceTempView("graft_sqlwrite_late")
    spark.sql(s"INSERT INTO $cat.lake.t.branch_dev SELECT * FROM graft_sqlwrite_late")
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.currentSnapshotId == 1L && meta.refs("main").snapshotId == 1L)
    assert(meta.refs("dev").snapshotId == 2L)
    assert(meta.snapshots.last.summary.get("branch").contains("dev"))
    sameRows(spark.table(s"$cat.lake.t"), early)
    sameRows(spark.table(s"$cat.lake.t.branch_dev"), lineitem)
    val refused = intercept[Exception](
      spark.sql(s"INSERT OVERWRITE $cat.lake.t.branch_dev SELECT * FROM graft_sqlwrite_late"))
    assert(Iterator.iterate[Throwable](refused)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("append-only"))), refused.toString)
  }

  test("an INSERT of LTZ timestamps in a non-UTC session reads back every row") {
    val (w, cat) = warehouse()
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      spark.sql(s"CREATE TABLE $cat.lake.ltz (l_orderkey BIGINT, l_quantity DOUBLE, " +
        "l_shipdate TIMESTAMP)")
      // the rows straddle UTC month starts, where the session's calendar
      // month and the UTC month (the month transform) differ
      val src = lineitem.select(col("l_orderkey"), col("l_quantity"),
        (col("l_shipdate").cast("timestamp") + expr("INTERVAL 20 HOURS")).as("l_shipdate"))
      src.createOrReplaceTempView("graft_sqlwrite_ltz")
      spark.sql(s"INSERT INTO $cat.lake.ltz SELECT * FROM graft_sqlwrite_ltz")
      sameRows(spark.table(s"$cat.lake.ltz"), src)
      val loc = IcebergCatalog.tableLocation(w, "lake", "ltz")
      // the files are partitioned by UTC month
      val utcMonths = src.select(date_format(
        to_utc_timestamp(col("l_shipdate"), "America/Los_Angeles"), "yyyy-MM"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(dataFiles(loc).map(_.partition).toSet == utcMonths)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}
