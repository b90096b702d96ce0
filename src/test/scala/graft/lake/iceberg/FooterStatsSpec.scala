package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.lake.iceberg.GraftVectorized.cleanPath
import graft.tables.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-file stats come from the written files' parquet footers, read on
  * the driver ([[ParquetFooters]]). The Spark aggregation that computed
  * them before is kept here, and only here, as the reference: for every
  * writer, the manifest entries a commit adds equal what the aggregation
  * computes over the same data directory, path bytes included, and come in
  * (partition, path) order; a file's footer schema is what Spark infers. */
class FooterStatsSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  /** The former stats: one Spark aggregation over a data directory, with
    * the wide bounds' encodings as Column functions. */
  private def reference(dataDir: String): Seq[IcebergTable.DataFileEntry] = {
    val wide: Seq[(String, String, Column => Column)] = Seq(
      ("l_orderkey", "l_orderkey", _.cast("long")),
      ("l_extendedprice_cents", "l_extendedprice", c => round(c * 100).cast("long")),
      ("l_quantity", "l_quantity", c => round(c).cast("long")))
    val base = spark.read.parquet(dataDir)
    val present = wide.filter { case (_, src, _) => base.columns.contains(src) }
    base.select(Seq(input_file_name().as("file_path"), col("p_month").cast("string").as("p_month"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("d")) ++
        present.map { case (k, src, enc) => enc(col(src)).as(k) }: _*)
      .groupBy(col("file_path"), col("p_month"))
      .agg(count(lit(1)).as("record_count"), Seq(min(col("d")).as("lo"), max(col("d")).as("hi")) ++
        present.flatMap { case (k, _, _) =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")) }: _*)
      .collect().toSeq.map { r =>
        val p = r.getAs[String]("file_path").stripPrefix("file:")
        IcebergTable.DataFileEntry(p, r.getAs[String]("p_month"), r.getAs[Long]("record_count"),
          new File(p).length(), r.getAs[String]("lo"), r.getAs[String]("hi"),
          wideBounds = present.map { case (k, _, _) =>
            k -> ((r.getAs[Long](s"__lo_$k").toString, r.getAs[Long](s"__hi_$k").toString))
          }.toMap)
      }.sortBy(f => (f.partition, f.path))
  }

  /** The data entries the current snapshot of `loc` added, in manifest
    * order, stripped to the fields the stats decide. */
  private def added(loc: String): Seq[IcebergTable.DataFileEntry] = {
    val snap = IcebergTable.currentSnapshot(IcebergTable.readMetadata(loc))
    IcebergTable.readManifestList(snap.manifestList).flatMap(m => IcebergTable.readManifest(m.path))
      .filter(e => e.content == 0 && e.entrySnapshotId == snap.id)
      .map(e => IcebergTable.DataFileEntry(e.path, e.partition, e.recordCount, e.fileSizeBytes,
        e.loShip, e.hiShip, wideBounds = e.wideBounds))
  }

  /** The directory a data file was written under: the base of its
    * `p_month=` partition directories. */
  private def dataDirOf(path: String): String = path.take(path.indexOf("/p_month="))

  private def assertMatchesReference(loc: String, what: String): Unit = {
    val mine = added(loc)
    assert(mine.nonEmpty, s"$what added no data file")
    assert(mine == mine.sortBy(f => (f.partition, f.path)), s"$what: entries not in (partition, path) order")
    val ref = mine.map(f => dataDirOf(f.path)).distinct.flatMap(reference)
      .sortBy(f => (f.partition, f.path))
    assert(mine == ref, s"$what: footer stats differ from the aggregation's")
    // the footer schema is what Spark's own inference reads
    val file = cleanPath(mine.head.path)
    assert(ParquetFooters.read(Seq(file)).head.schema == spark.read.parquet(file).schema, what)
  }

  private def table(tag: String): String =
    Files.createTempDirectory(s"graft_footer_${tag}_").toString

  test("every library writer's footer stats equal the aggregation's") {
    val writers: Seq[(String, String => Unit)] = Seq(
      "append" -> (loc => IcebergTable.append(spark, lineitem, loc)),
      "weekly" -> (loc => IcebergTable.append(spark, lineitem, loc, weekly = true)),
      "appendBucket" -> (loc => IcebergTable.appendBucket(spark, lineitem, loc)),
      "clusterFiles" -> (loc => IcebergTable.append(spark, lineitem, loc,
        clusterFiles = Some((3, true)))),
      "targetRecordsPerFile" -> (loc => IcebergTable.append(spark, lineitem, loc,
        targetRecordsPerFile = Some(20L))),
      "rewriteZOrder" -> { loc =>
        IcebergTable.append(spark, lineitem, loc)
        IcebergTable.rewriteZOrder(spark, loc, 4)
      },
      // replacement files carry the materialized _row_id lineage column
      "updateMorDv" -> { loc =>
        IcebergTable.append(spark, lineitem, loc)
        IcebergTable.updateMorDv(spark, loc, pmod(col("l_orderkey"), lit(9L)) === 4L,
          Seq("l_quantity" -> (col("l_quantity") + 1)))
      })
    val byWriter = writers.map { case (what, write) =>
      val loc = table(what)
      write(loc)
      assertMatchesReference(loc, what)
      what -> added(loc)
    }.toMap
    // several files share a month under the target split: path orders them
    assert(byWriter("targetRecordsPerFile").groupBy(_.partition).exists(_._2.size > 1))
    assert(spark.read.parquet(byWriter("updateMorDv").head.path).columns.contains("_row_id"))
  }

  test("SQL UPDATE, dynamic INSERT OVERWRITE and a streaming epoch: footer stats equal the aggregation's") {
    val w = table("sql")
    IcebergCatalog.createNamespace(w, "lake")
    val cat = "graft_footer_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    val loc = IcebergCatalog.createTable(w, "lake", "li")
    IcebergTable.append(spark, lineitem, loc)
    spark.sql(s"UPDATE $cat.lake.li SET l_quantity = l_quantity + 1 WHERE l_orderkey % 9 = 4")
    assertMatchesReference(loc, "SQL UPDATE")

    val owMode = "spark.sql.sources.partitionOverwriteMode"
    val oldMode = spark.conf.getOption(owMode)
    spark.conf.set(owMode, "dynamic")
    try {
      lineitem.filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-06-01").cast("timestamp"))
        .createOrReplaceTempView("graft_footer_ow_src")
      spark.sql(s"INSERT OVERWRITE $cat.lake.li SELECT * FROM graft_footer_ow_src")
    } finally oldMode.fold(spark.conf.unset(owMode))(v => spark.conf.set(owMode, v))
    assertMatchesReference(loc, "dynamic INSERT OVERWRITE")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val markers = MemoryStream[Int]
    val stream = markers.toDF().toDF("__m")
      .join(lineitem.withColumn("__b", pmod(col("l_orderkey"), lit(4L)).cast("int")),
        col("__m") === col("__b"))
      .drop("__m", "__b")
    val q = stream.writeStream
      .option("checkpointLocation", table("ckpt"))
      .toTable(s"$cat.lake.li")
    try { markers.addData(1, 2); q.processAllAvailable() } finally q.stop()
    assert(IcebergTable.currentSnapshot(IcebergTable.readMetadata(loc)).summary
      .contains("epoch-id"), "the streaming epoch must be the current snapshot")
    assertMatchesReference(loc, "streaming epoch")
  }

  test("a column with no values or no footer statistics gets no bound and is never pruned") {
    // all-null l_quantity: the footer holds no bound, so the entry has
    // none; the aggregation's null minimum failed the commit instead
    val loc = table("nulls")
    IcebergTable.append(spark, lineitem.withColumn("l_quantity", lit(null).cast("double")), loc)
    val entries = added(loc)
    assert(entries.forall(f => !f.wideBounds.contains("l_quantity") &&
      f.wideBounds.contains("l_orderkey") && f.loShip.nonEmpty))
    intercept[NullPointerException](reference(dataDirOf(entries.head.path)))

    // a file written without statistics: no bound at all, kept by every
    // date window, while a file with bounds outside the window is pruned
    val stage = table("nostats_stage")
    lineitem.limit(50).withColumn("p_month", lit("1997-01"))
      .write.partitionBy("p_month").option("parquet.column.statistics.enabled", "false")
      .mode("overwrite").parquet(stage)
    val files = ParquetFooters.list(stage)
    assert(files.size == 1)
    IcebergTable.commitStreamAppend(spark, loc, stage, files, "nostats", 0L)
    val bare = added(loc)
    assert(bare.map(f => (f.loShip, f.hiShip, f.wideBounds)) == Seq(("", "", Map.empty)))
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(IcebergTable.readMetadata(loc)).manifestList)
    assert(manifests.flatMap(m => IcebergTable.readManifest(m.path))
      .filter(_.path == bare.head.path).map(_.loShip) == Seq(""))
    val plan = IcebergTable.planFiles(loc, dateLo = Some("1901-01-01"), dateHi = Some("1901-01-31"))
    assert(plan.files.map(_.path) == bare.map(_.path))
    assert(IcebergTable.planFiles(loc, monthLo = Some("1997-01"), monthHi = Some("1997-01"))
      .files.exists(_.path == bare.head.path))
  }
}
