package graft.lake.iceberg

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The pushed filters a graft scan evaluates itself ([[GraftRowFilter]]).
  * Each filter read through the catalog returns what Spark's own
  * evaluation returns over a parquet copy of the table's live rows, and
  * the plan keeps a Spark filter exactly when some part of the filter is
  * one the reader does not evaluate. */
class ScanFilterSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A catalog over a fresh warehouse with namespace `lake`. */
  private def catalog(tag: String): (String, String) = {
    val w = Files.createTempDirectory(s"graft_filter_${tag}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_filter_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (w, cat)
  }

  /** 90 rows whose columns cycle through the values filters get wrong:
    * nulls, NaN, both zeros and both infinities, the int extremes,
    * non-ASCII and combining-mark strings, timestamps across the 2024-03-10
    * US daylight-saving change, and one ship date every 20 days of
    * 2000-2004 (so the rows spread over many month files). */
  private def values: DataFrame = spark.range(0, 90).selectExpr(
    "id AS l_orderkey",
    "element_at(array(CAST(NULL AS INT), -2147483648, -1, 0, 1, 42, 2147483647), " +
      "CAST(id % 7 AS INT) + 1) AS i",
    "element_at(array(CAST(NULL AS DOUBLE), double('NaN'), double('-0.0'), 0.0D, " +
      "double('Infinity'), double('-Infinity'), 1.5D, -2.5D, 0.05D), CAST(id % 9 AS INT) + 1) AS d",
    "element_at(array(CAST(NULL AS STRING), '', 'a', 'b', 'é', 'e\u0301', '日本', 'ß', 'Z', " +
      "'😀', 'abc', 'Ａ'), CAST(id % 12 AS INT) + 1) AS s",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE date_add(DATE '2000-01-01', CAST(id AS INT) - 45) END AS dt",
    "CASE WHEN id % 6 = 1 THEN NULL ELSE timestamp_seconds(1710054000 + id * 1200) END AS tz",
    "CASE WHEN id % 6 = 2 THEN NULL " +
      "ELSE CAST(timestamp_seconds(1710054000 + id * 1200) AS TIMESTAMP_NTZ) END AS ntz",
    "CASE WHEN id % 4 = 0 THEN NULL ELSE CAST(id / 4 AS DECIMAL(10, 2)) END AS dec",
    "CAST(timestamp_seconds(946684800 + id * 86400 * 20) AS TIMESTAMP_NTZ) AS l_shipdate")

  /** A table of [[values]] written by two statements, then narrowed by an
    * SQL DELETE (a deletion vector) and changed by an UPDATE. */
  private def valuesTable(tag: String): (String, String) = {
    val (w, cat) = catalog(tag)
    val t = s"$cat.lake.t"
    values.createOrReplaceTempView(s"graft_filter_${tag}_src")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM graft_filter_${tag}_src WHERE l_orderkey < 45")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_filter_${tag}_src WHERE l_orderkey >= 45")
    spark.sql(s"DELETE FROM $t WHERE l_orderkey % 8 = 1")
    spark.sql(s"UPDATE $t SET d = d + 1 WHERE i = 42")
    (IcebergCatalog.tableLocation(w, "lake", "t"), t)
  }

  /** A parquet copy of `cols` of the live rows of `table`. */
  private def liveCopy(table: String, cols: String = "*"): String = {
    val dir = Files.createTempDirectory("graft_filter_live_").toString + "/rows"
    spark.sql(s"SELECT $cols FROM $table").write.parquet(dir)
    dir
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `cols` of `table` under `where` equals the same filter over `copy`,
    * and the plan holds a Spark filter exactly when `sparkFilters`. */
  private def check(table: String, copy: String, where: String,
                    sparkFilters: Boolean = false, cols: String = "*"): Unit = {
    val df = spark.sql(s"SELECT $cols FROM $table WHERE $where")
    val plan = df.queryExecution.executedPlan
    assert(rows(df) == rows(spark.read.parquet(copy).where(where)), where)
    assert(collect(plan) { case s: BatchScanExec => s }.size == 1, plan.toString)
    assert(collect(plan) { case f: FilterExec => f }.nonEmpty == sparkFilters, s"$where\n$plan")
  }

  test("every evaluated filter shape returns Spark's own rows and plans no Spark filter") {
    val (loc, t) = valuesTable("shapes")
    val copy = liveCopy(t)
    val evaluated = Seq(
      // doubles: NaN equals NaN and sorts above everything, -0.0 equals 0.0
      "d = double('NaN')", "d > 1.0", "d = double('-0.0')", "d = 0.0D", "d < 0.0D",
      "d <= double('-0.0')", "d >= double('Infinity')", "d < double('-Infinity')",
      "d > double('-Infinity') AND d < double('NaN')", "d > double('NaN')",
      // nulls under NOT, OR and AND
      "NOT (d > 0.0D)", "d > 0.0D OR s = 'é'", "NOT (i = 1 OR d IS NULL)",
      "i IS NULL AND NOT (s IS NOT NULL)", "NOT (i > 0 AND s < 'b')",
      "(i IS NULL OR d IS NULL) AND NOT (l_orderkey = 3)", "NOT (s = 'a' OR i < 0)",
      // strings compare bytewise
      "s > 'e'", "s >= 'é'", "s < '日'", "s = '😀'", "s <> 'ß'",
      "s > 'Z' AND s < 'Ａ'", "s = ''", "s = 'e\u0301'",
      // ints, longs, dates, timestamps
      "i >= 0", "i < -1", "i = 2147483647", "i <= -2147483648",
      "l_orderkey BETWEEN 10 AND 20", "l_orderkey > 80 OR l_orderkey < 3",
      "dt >= DATE '2000-01-10'", "dt < DATE '1999-12-31' OR dt IS NULL",
      "ntz <= TIMESTAMP_NTZ '2024-03-10 02:30:00'", "tz > TIMESTAMP '2024-03-10 12:00:00'",
      "l_shipdate >= TIMESTAMP_NTZ '2002-06-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP_NTZ '2003-01-01 00:00:00'",
      "l_shipdate = TIMESTAMP_NTZ '2000-01-21 00:00:00'")
    evaluated.foreach(check(t, copy, _))
    // filters on decimals, on expressions and string patterns stay Spark's
    for (where <- Seq("dec > 1.5", "dec IS NULL", "l_orderkey % 101 = 3", "s LIKE 'a%'",
                      "d > 0.0D AND dec < 10"))
      check(t, copy, where, sparkFilters = true)
    // a pinned library read evaluates them the same way
    val pinned = IcebergTable.readMorUnified(spark, loc)._1
    val oracle = spark.read.parquet(copy)
    for (where <- Seq("d >= 0.0D", "NOT (i = 1 OR d IS NULL)", "s >= 'é'",
                      "l_shipdate < TIMESTAMP_NTZ '2001-01-01 00:00:00'"))
      assert(rows(pinned.where(where)) == rows(oracle.where(where)), where)
  }

  test("filters on metadata columns stay Spark filters") {
    val (_, t) = valuesTable("meta")
    val cols = "*, _file, _pos, _row_id"
    val copy = liveCopy(t, cols)
    for (where <- Seq("_pos < 5", "_row_id >= 10", "_file > ''", "_pos < 5 AND i > 0"))
      check(t, copy, where, sparkFilters = true, cols = cols)
  }

  test("timestamp and date filters under a non-UTC session zone") {
    val (_, t) = valuesTable("zone")
    val copy = liveCopy(t)
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      for (where <- Seq("tz < TIMESTAMP '2024-03-10 03:00:00'",
                        "tz >= TIMESTAMP '2024-03-10 01:30:00' " +
                          "AND tz <= TIMESTAMP '2024-03-10 04:00:00'",
                        "ntz > TIMESTAMP_NTZ '2024-03-10 12:00:00'",
                        "NOT (tz = TIMESTAMP '2024-03-10 20:20:00')",
                        "dt = DATE '2000-01-14'", "dt <> DATE '2000-01-14'",
                        "l_shipdate <= TIMESTAMP_NTZ '2000-06-01 00:00:00'",
                        // Spark unwraps the cast into a range of tz in the session zone
                        "CAST(tz AS DATE) = DATE '2024-03-10'"))
        check(t, copy, where)
      check(t, copy, "hour(tz) = 1", sparkFilters = true)
    } finally spark.conf.set(key, old)
  }

  test("a renamed, a widened and an added column filter old files as new ones") {
    val (_, cat) = catalog("evo")
    val t = s"$cat.lake.evo"
    values.createOrReplaceTempView("graft_filter_evo_src")
    spark.sql(s"CREATE TABLE $t AS SELECT l_orderkey, CAST(l_orderkey % 13 AS INT) AS q, " +
      "s AS name, l_shipdate FROM graft_filter_evo_src WHERE l_orderkey < 45")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN name TO label")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN q TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT l_orderkey, l_orderkey % 13 + 3000000000, s, l_shipdate, d " +
      "FROM graft_filter_evo_src WHERE l_orderkey >= 45")
    val copy = liveCopy(t)
    for (where <- Seq("label = 'é'", "label > 'a' AND label < 'ß'", "label IS NULL",
                      "q > 5", "q >= 3000000000", "q < 3 OR q > 3000000010",
                      "extra IS NULL", "extra > 0.5D", "NOT (extra < 1.0D)",
                      "extra IS NULL OR label IS NULL", "extra = double('NaN') OR q = 4"))
      check(t, copy, where)
  }

  test("a streaming read applies the WHERE of its query") {
    val (w, cat) = catalog("stream")
    val t = s"$cat.lake.s"
    values.createOrReplaceTempView("graft_filter_stream_src")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM graft_filter_stream_src WHERE l_orderkey < 45")
    val where = "d > 0.0D OR s = 'é' OR i IS NULL"
    val ckpt = Files.createTempDirectory("graft_filter_ckpt_").toString
    val q = spark.readStream.table(t).where(where)
      .writeStream.format("memory").queryName("graft_filter_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      spark.sql(s"INSERT INTO $t SELECT * FROM graft_filter_stream_src WHERE l_orderkey >= 45")
      q.processAllAvailable()
    } finally q.stop()
    val copy = liveCopy(t)
    val got = rows(spark.table("graft_filter_sink"))
    assert(got.nonEmpty && got == rows(spark.read.parquet(copy).where(where)))
    // Spark builds a streaming source's scan without pushing filters; a
    // stream made from a scan that was given some applies them itself
    val loc = IcebergCatalog.tableLocation(w, "lake", "s")
    val builder = new GraftSqlTable(t, loc, None)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).asInstanceOf[GraftScanBuilder]
    assert(builder.pushFilters(Array(sources.Or(sources.GreaterThan("d", 0.0),
      sources.IsNull("i")))).isEmpty)
    val stream = builder.build().toMicroBatchStream(ckpt)
    val factory = stream.createReaderFactory()
    val head = GraftStreamOffset(IcebergTable.readMetadata(loc).currentSnapshotId)
    val keys = stream.planInputPartitions(GraftStreamOffset(0L), head).toSeq.flatMap { p =>
      val r = factory.createColumnarReader(p)
      try Iterator.continually(r.next()).takeWhile(identity)
        .flatMap(_ => r.get().rowIterator().asScala.map(_.getLong(0))).toList
      finally r.close()
    }
    assert(keys.sorted == spark.read.parquet(copy).where("d > 0.0D OR i IS NULL")
      .select("l_orderkey").collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("l_shipdate and l_discount comparisons plan no Spark filter and list as pushed") {
    val (w, cat) = catalog("plan")
    IcebergTable.append(spark, Tables.lineitem(spark, sf0001),
      IcebergCatalog.createTable(w, "lake", "li"))
    val t = s"$cat.lake.li"
    def scanOf(where: String) = {
      val plan = spark.sql(s"SELECT count(*), sum(l_quantity) FROM $t WHERE $where")
        .queryExecution.executedPlan
      (collect(plan) { case s: BatchScanExec => s.scan.asInstanceOf[GraftScan] }.head,
        collect(plan) { case f: FilterExec => f })
    }
    val (date, dateFilters) = scanOf("l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'")
    assert(dateFilters.isEmpty)
    assert(date.pushed.exists {
      case sources.LessThanOrEqual("l_shipdate", _) => true
      case _ => false
    }, date.pushed.mkString(", "))
    val (discount, discountFilters) = scanOf("l_discount >= 0.05")
    assert(discountFilters.isEmpty)
    assert(discount.pushed.contains(sources.GreaterThanOrEqual("l_discount", 0.05)),
      discount.pushed.mkString(", "))
    val (_, modFilters) = scanOf("l_orderkey % 101 = 3")
    assert(modFilters.nonEmpty)
  }
}
