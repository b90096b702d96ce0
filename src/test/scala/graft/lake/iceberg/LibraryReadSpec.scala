package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Library merge-on-read reads ([[IcebergTable.readMorUnified]]) run
  * through the table's own scan ([[GraftScan]]). The join-based readers
  * they replaced are kept here, and only here, as the reference: on a
  * table that mixes every delete form with an UPDATE's materialized
  * `_row_id`, a renamed column and a widened column, the scan returns the
  * reference's rows, and the lineage the reference attached. */
class LibraryReadSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  /** The former `readMorUnified`: one parquet read per data sequence,
    * anti-joined against the newer v2 position deletes, DV positions and
    * equality keys. */
  private def reference(location: String, monthLo: Option[String],
                        monthHi: Option[String]): DataFrame = {
    val meta = IcebergTable.readMetadata(location)
    val manifests = IcebergTable.readManifestList(IcebergTable.currentSnapshot(meta).manifestList)
    val all = IcebergTable.readManifestsParallel(manifests.map(_.path)).flatten
    val eqDeletes = all.filter(_.content == 2)
    val (dvEntries, posDeletes) = all.filter(_.content == 1).partition(_.referencedDataFile.isDefined)
    val blobBytes = IcebergTable.dvBlobs()
    val tupleEnc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val plan = IcebergTable.planFiles(location, None, monthLo, monthHi)
    val parts = plan.files.groupBy(_.sequence).toSeq.sortBy(_._1).map { case (seq, fs) =>
      var df = spark.read.parquet(fs.map(_.path): _*)
      val posApp = posDeletes.filter(_.sequence >= seq)
      val dvApp = dvEntries.filter(_.sequence >= seq)
      if (posApp.nonEmpty || dvApp.nonEmpty)
        df = df.withColumn("__file", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index").cast("long"))
      if (posApp.nonEmpty) {
        val dv = spark.read.parquet(posApp.map(_.path): _*)
          .select(col("file_path").as("dv_file"), col("pos").as("dv_pos"))
        df = df.join(dv, col("__file") === col("dv_file") && col("__pos") === col("dv_pos"),
          "left_anti")
      }
      if (dvApp.nonEmpty) {
        val rows = dvApp.map(e => (e.referencedDataFile.get, blobBytes(e)))
        val dv = spark.createDataset(rows)(tupleEnc)
          .flatMap { case (f, b) => RoaringDv.deserializeDvBlob(b).map(p => (f, p)) }(pairEnc)
          .toDF("dvb_file", "dvb_pos")
        df = df.join(dv, regexp_replace(col("__file"), "^file:", "//") === col("dvb_file") &&
          col("__pos") === col("dvb_pos"), "left_anti")
      }
      if (posApp.nonEmpty || dvApp.nonEmpty) df = df.drop("__file", "__pos")
      val eqApp = eqDeletes.filter(_.sequence > seq)
      if (eqApp.nonEmpty) {
        val keys = spark.read.parquet(eqApp.map(_.path): _*)
        df = df.join(broadcast(keys), df("l_orderkey") === keys("key"), "left_anti")
      }
      df
    }
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The former `readMorDv(withRowIds = true)`: DVs anti-joined per data
    * sequence, `_row_id` as the materialized value or first_row_id +
    * position, `_last_updated_sequence_number` as the materialized value
    * or the file's sequence. */
  private def referenceLineage(location: String): DataFrame = {
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(IcebergTable.readMetadata(location)).manifestList)
    val dvEntries = IcebergTable.readManifestsParallel(manifests.map(_.path)).flatten
      .filter(e => e.content == 1 && e.referencedDataFile.isDefined)
    val blobBytes = IcebergTable.dvBlobs()
    val tupleEnc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val plan = IcebergTable.planFiles(location)
    val parts = plan.files.groupBy(_.sequence).toSeq.sortBy(_._1).map { case (seq, fs) =>
      var df = spark.read.parquet(fs.map(_.path): _*)
        .withColumn("__file", regexp_replace(input_file_name(), "^file:", ""))
        .withColumn("__pos", col("_metadata.row_index").cast("long"))
      val idMap = spark.createDataset(fs.map(f => (f.path, f.firstRowId)))(pairEnc)
        .toDF("__file", "__first")
      df = df.join(broadcast(idMap), Seq("__file"))
      df = (if (df.columns.contains("_row_id"))
              df.withColumn("_row_id", coalesce(col("_row_id"), col("__first") + col("__pos")))
            else df.withColumn("_row_id", col("__first") + col("__pos"))).drop("__first")
      df = (if (df.columns.contains("_last_updated_sequence_number"))
              df.withColumn("_last_updated_sequence_number",
                coalesce(col("_last_updated_sequence_number"), lit(seq)))
            else df.withColumn("_last_updated_sequence_number", lit(seq)))
      val applicable = dvEntries.filter(_.sequence >= seq)
      if (applicable.nonEmpty) {
        val rows = applicable.map(e => (e.referencedDataFile.get, blobBytes(e)))
        val dv = spark.createDataset(rows)(tupleEnc)
          .flatMap { case (f, b) => RoaringDv.deserializeDvBlob(b).map(p => (f, p)) }(pairEnc)
          .toDF("dv_file", "dv_pos")
        df = df.join(dv, col("__file") === col("dv_file") && col("__pos") === col("dv_pos"),
          "left_anti")
      }
      df.drop("__file", "__pos")
    }
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Every row of `df` as text, in a fixed order (lineitem is not unique
    * on any key, so rows compare as a multiset). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** `ref` in `schema`'s columns and types; a renamed column takes the
    * value under its current name, else under its old one. */
  private def conform(ref: DataFrame, schema: StructType, renamed: Map[String, String]): DataFrame =
    ref.select(schema.fields.map { f =>
      val c = renamed.get(f.name).filter(ref.columns.contains) match {
        case Some(old) if ref.columns.contains(f.name) => coalesce(col(f.name), col(old))
        case Some(old) => col(old)
        case None => col(f.name)
      }
      c.cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** A table `lake.<name>` in a fresh warehouse, with its SQL name. */
  private def sqlTable(name: String): (String, String) = {
    val w = Files.createTempDirectory(s"graft_libread_${name}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_libread_$name"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (IcebergCatalog.createTable(w, "lake", name), s"$cat.lake.$name")
  }

  private def residue(m: Long, r: Long) = pmod(col("l_orderkey"), lit(m)) === r

  test("a library read equals the join-based readers on every delete form, rename and widening") {
    val (loc, t) = sqlTable("mixed")
    val cut = lit("1997-01-01").cast("timestamp")
    IcebergTable.append(spark, lineitem.filter(col("l_shipdate") < cut), loc)      // seq 1
    IcebergTable.append(spark, lineitem.filter(col("l_shipdate") >= cut), loc)     // seq 2
    IcebergTable.appendDvPuffin(spark, loc, residue(10L, 6L))                      // seq 3
    IcebergTable.updateMorDv(spark, loc, residue(10L, 5L),                         // seq 4
      Seq("l_quantity" -> (col("l_quantity") + lit(100.0))))
    spark.sql(s"UPDATE $t SET l_discount = l_discount + 0.5 WHERE l_orderkey % 10 = 1") // seq 5

    // lineage before the v2 and equality deletes, which the DV-only
    // reference does not apply
    val lineage = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "_row_id",
      "_last_updated_sequence_number").map(col)
    val ids = IcebergTable.withLineage(IcebergTable.readMorUnified(spark, loc)._1).select(lineage: _*)
    assert(ids.filter(col("_row_id").isNull).isEmpty)
    assert(rowsOf(ids) == rowsOf(referenceLineage(loc).select(lineage: _*)),
      "_row_id / _last_updated_sequence_number differ from the join-based lineage read")

    IcebergTable.appendPositionDeletes(spark, loc, residue(10L, 7L))               // seq 6
    IcebergTable.appendEqualityDeletes(spark,                                      // seq 7
      lineitem.filter(residue(10L, 3L)).select("l_orderkey").distinct(), loc)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN l_linestatus TO l_status")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN l_linenumber TYPE BIGINT")
    // re-appended keys outlive the older equality delete
    IcebergTable.append(spark, lineitem.filter(residue(10L, 3L))                   // seq 8
      .withColumnRenamed("l_linestatus", "l_status")
      .withColumn("l_linenumber", col("l_linenumber").cast("long")), loc)

    for ((lo, hi) <- Seq[(Option[String], Option[String])]((None, None),
        (Some("1996-11"), Some("1997-02")))) {
      val (live, plan, eqs, positional, dvs) = IcebergTable.readMorUnified(spark, loc, lo, hi)
      assert(live.schema.fieldNames.contains("l_status") && !live.columns.contains("_row_id"))
      assert(live.schema("l_linenumber").dataType == org.apache.spark.sql.types.LongType)
      assert(plan == IcebergTable.planFiles(loc, None, lo, hi))
      assert(Seq(eqs.size, positional.size) == Seq(1, 1) && dvs.nonEmpty)
      val expected = conform(reference(loc, lo, hi), live.schema, Map("l_status" -> "l_linestatus"))
      val mine = rowsOf(live)
      assert(mine.nonEmpty && mine == rowsOf(expected), s"months [$lo, $hi]")
    }
  }

  test("a library read keeps returning its snapshot's rows after an INSERT and a DELETE") {
    val (loc, t) = sqlTable("pinned")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, residue(10L, 6L))
    val live = IcebergTable.readMorUnified(spark, loc)._1
    val before = rowsOf(live)
    lineitem.createOrReplaceTempView("graft_libread_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_libread_src WHERE l_orderkey % 5 = 0")
    spark.sql(s"DELETE FROM $t WHERE l_orderkey % 7 = 3")
    assert(IcebergTable.readMetadata(loc).snapshots.size == 4)
    assert(rowsOf(live) == before)
    assert(live.filter(residue(7L, 3L)).count() > 0)
    assert(IcebergTable.readMorUnified(spark, loc)._1.filter(residue(7L, 3L)).isEmpty)
  }

  test("re-planning a pinned read reads none of its delete files again") {
    val loc = Files.createTempDirectory("graft_libread_once_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, residue(10L, 6L))
    IcebergTable.appendPositionDeletes(spark, loc, residue(10L, 7L))
    val (live, _, _, positional, dvs) = IcebergTable.readMorUnified(spark, loc)
    val before = rowsOf(live)
    assert(positional.nonEmpty && dvs.nonEmpty)
    // each new DataFrame over the pin plans its scan afresh; with the delete
    // files moved away, a plan that read them again would fail
    val files = (positional ++ dvs).map(e => new File(e.path)).distinct
    files.foreach(f => assert(f.renameTo(new File(f.getPath + ".away"))))
    try {
      assert(rowsOf(live.select("*")) == before)
      assert(live.filter(residue(10L, 6L) || residue(10L, 7L)).isEmpty)
    } finally files.foreach(f => new File(f.getPath + ".away").renameTo(f))
    // an unpinned read loads its own snapshot's deletes
    assert(rowsOf(IcebergTable.readMorUnified(spark, loc)._1) == before)
  }

  test("two reads of one manifest decode against the same writer schema instance") {
    val loc = Files.createTempDirectory("graft_libread_avro_").toString
    IcebergTable.append(spark, lineitem, loc)
    val manifest = new File(IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(IcebergTable.readMetadata(loc)).manifestList).head.path)
    val a = IcebergTable.readAvro(manifest).head.getSchema
    val b = IcebergTable.readAvro(manifest).head.getSchema
    assert(a eq b, "each read parsed its own writer schema, which Avro's reader cache keeps")
  }

  test("repeated planFiles calls start no thread") {
    val loc = Files.createTempDirectory("graft_fetch_pool_").toString
    // one manifest per month: planning fetches them in parallel
    IcebergTable.appendGrouped(spark, lineitem, loc, groupMonths = 1)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    IcebergTable.planFiles(loc)
    val before = threads.getTotalStartedThreadCount
    for (_ <- 1 to 5) IcebergTable.planFiles(loc)
    // a pool per call would start FetchParallelism threads each time; the
    // slack is for a thread Spark itself may start meanwhile
    val started = threads.getTotalStartedThreadCount - before
    assert(started < IcebergTable.FetchParallelism, s"$started threads started")
    // the fetches run on the caller and the pool's kept threads
    val names = (1 to 3).flatMap(_ =>
      IcebergTable.inParallel(1 to 64)(_ => Thread.currentThread.getName)).toSet
    assert(names.size <= IcebergTable.FetchParallelism, names)
  }
}
