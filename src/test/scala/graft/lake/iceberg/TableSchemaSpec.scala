package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** metadata.json is the one record of a table's schema: typed schema
  * versions whose field ids never change, every snapshot naming the schema
  * it was committed under, and reads that learn the schema from that file
  * alone. */
class TableSchemaSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  /** A catalog over a fresh warehouse with namespace `lake`. */
  private def warehouse(tag: String): (String, String) = {
    val w = Files.createTempDirectory(s"graft_schema_${tag}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_schema_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (w, cat)
  }

  private def metadataFiles(loc: String): Seq[String] =
    Option(new File(loc, "metadata").list()).map(_.toSeq.sorted).getOrElse(Seq.empty)

  test("DDL leaves no sidecar; a created table exists for the library and SQL alike") {
    val (w, cat) = warehouse("ddl")
    lineitem.createOrReplaceTempView("graft_schema_ddl_src")
    spark.sql(s"CREATE TABLE $cat.lake.c (l_orderkey BIGINT, l_quantity DOUBLE, " +
      "l_shipdate TIMESTAMP) TBLPROPERTIES ('k' = 'v')")
    val loc = IcebergCatalog.tableLocation(w, "lake", "c")
    assert(IcebergCatalog.tableExists(w, "lake", "c"))
    assert(IcebergCatalog.listTables(w, "lake") === Seq("c"))
    assert(spark.sql(s"SHOW TABLES IN $cat.lake").collect().map(_.getString(1)).toSeq === Seq("c"))
    val created = IcebergTable.readMetadata(loc)
    assert(created.currentSnapshotId === -1L && created.snapshots.isEmpty)
    assert(created.properties === Map("k" -> "v"))
    assert(created.currentSchema.fields.map(f => (f.id, f.name, f.tpe)) ===
      Seq((1, "l_orderkey", "long"), (2, "l_quantity", "double"), (3, "l_shipdate", "timestamptz")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.c").head().getLong(0) === 0L)
    spark.sql(s"ALTER TABLE $cat.lake.c SET TBLPROPERTIES ('k2' = 'v2')")
    spark.sql(s"ALTER TABLE $cat.lake.c ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $cat.lake.c SELECT l_orderkey, l_quantity, l_shipdate, 'x' " +
      "FROM graft_schema_ddl_src")
    spark.sql(s"CREATE TABLE $cat.lake.ctas AS SELECT * FROM graft_schema_ddl_src")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.lake.c AS SELECT l_orderkey, l_shipdate " +
      "FROM graft_schema_ddl_src")
    for (t <- Seq("c", "ctas")) {
      val files = metadataFiles(IcebergCatalog.tableLocation(w, "lake", t))
      assert(files.nonEmpty && !files.exists(_.endsWith(".pending.json")), files.mkString(","))
    }
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.properties === Map.empty)
    assert(meta.currentSchema.fields.map(f => (f.id, f.name)) === Seq((1, "l_orderkey"), (3, "l_shipdate")))
    // every snapshot names the schema it was committed under
    assert(meta.snapshots.map(_.schemaId) === Seq(1, 2))
  }

  test("REPLACE TABLE without AS SELECT leaves the table empty under the clause's schema") {
    val (w, cat) = warehouse("repl")
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem, loc)
    val t = s"$cat.lake.t"
    spark.sql(s"ALTER TABLE $t DROP COLUMN l_tax")
    spark.sql(s"REPLACE TABLE $t (l_orderkey BIGINT, l_tax DOUBLE, l_shipdate TIMESTAMP_NTZ) " +
      "TBLPROPERTIES ('k' = 'v')")
    // the old files would serve the new l_tax the dropped column's values
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === 0L)
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.properties === Map("k" -> "v") && meta.snapshots.size === 2)
    assert(meta.currentSchema.field("l_tax").map(_.id) === Some(meta.lastColumnId))
    // history survives: the replaced snapshot keeps its rows and schema
    assert(spark.sql(s"SELECT count(l_tax) FROM $t VERSION AS OF 1").head().getLong(0) ===
      lineitem.count())
  }

  test("ALTER never renumbers a field; ADD takes last-column-id + 1") {
    val (w, cat) = warehouse("ids")
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem, loc)
    val t = s"$cat.lake.t"
    val first = IcebergTable.readMetadata(loc).currentSchema
    assert(first.fields.map(_.id) === (1 to lineitem.columns.length))
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    spark.sql(s"ALTER TABLE $t DROP COLUMN l_tax")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN l_quantity TO qty")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN l_linenumber TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ADD COLUMN note2 INT")
    val (meta, version) = IcebergTable.readMetadataWithVersion(loc)
    assert(meta.schemas.map(_.id) === (0 to 5) && meta.currentSchemaId === 5)
    val cur = meta.currentSchema
    val n = lineitem.columns.length
    assert(cur.field("note").map(_.id) === Some(n + 1) && cur.field("note2").map(_.id) === Some(n + 2))
    assert(meta.lastColumnId === n + 2)
    assert(cur.field("qty").map(_.id) === first.field("l_quantity").map(_.id))
    assert(cur.field("l_linenumber") === first.field("l_linenumber").map(_.copy(tpe = "long")))
    // in every version, a field of the first schema keeps its name unless renamed
    for (s <- meta.schemas; f <- s.fields if f.id <= n && f.name != "qty")
      assert(first.fields.find(_.id == f.id).map(_.name) === Some(f.name))
    val text = Files.readString(new File(loc, s"metadata/v$version.metadata.json").toPath)
    assert(text.contains("\"current-schema-id\":5") && text.contains(s"\"last-column-id\":${n + 2}"))
    assert(text.contains("\"name\":\"l_linenumber\",\"required\":false,\"type\":\"long\""))
  }

  test("a name another field id held is refused for ADD and RENAME TO") {
    val (w, cat) = warehouse("held")
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem.select("l_orderkey", "l_quantity", "l_shipdate"), loc)
    val t = s"$cat.lake.t"
    spark.sql(s"ALTER TABLE $t RENAME COLUMN l_quantity TO qty")
    val add = intercept[Exception](spark.sql(s"ALTER TABLE $t ADD COLUMN l_quantity DOUBLE"))
    assert(add.getMessage.contains("l_quantity"))
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("l_orderkey", "qty", "l_shipdate"))
    assert(spark.sql(s"SELECT count(qty) FROM $t").head().getLong(0) === lineitem.count())
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra DOUBLE")
    intercept[Exception](spark.sql(s"ALTER TABLE $t RENAME COLUMN extra TO l_quantity"))
    // a library write of the old name is refused at commit too
    intercept[IllegalArgumentException](IcebergTable.append(spark,
      lineitem.select("l_orderkey", "l_quantity", "l_shipdate"), loc))
    // the field may take back its own earlier name
    spark.sql(s"ALTER TABLE $t RENAME COLUMN qty TO l_quantity")
    assert(spark.sql(s"SELECT count(l_quantity) FROM $t").head().getLong(0) === lineitem.count())
  }

  test("a table's schema resolves from metadata.json alone") {
    val (w, cat) = warehouse("alone")
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    IcebergTable.append(spark, lineitem, loc)
    spark.sql(s"ALTER TABLE $cat.lake.t RENAME COLUMN l_quantity TO qty")
    val meta = IcebergTable.readMetadata(loc)
    val list = new File(IcebergTable.currentSnapshot(meta).manifestList)
    val away = Files.createTempDirectory("graft_schema_away_").toFile
    val moved = (list +: IcebergTable.readManifestList(list.getPath).map(m => new File(m.path)))
      .map(f => f -> new File(away, f.getName))
    moved.foreach { case (f, to) => Files.move(f.toPath, to.toPath) }
    try {
      val schema = spark.table(s"$cat.lake.t").schema
      assert(schema.fieldNames.toSeq ===
        lineitem.columns.toSeq.map(c => if (c == "l_quantity") "qty" else c))
      assert(schema("l_linenumber").dataType === org.apache.spark.sql.types.IntegerType)
    } finally moved.foreach { case (f, to) => Files.move(to.toPath, f.toPath) }
    assert(spark.table(s"$cat.lake.t").count() === lineitem.count())
  }

  test("time travel serves each snapshot's own schema") {
    val (w, cat) = warehouse("tt")
    val loc = IcebergCatalog.createTable(w, "lake", "t")
    val cut = lit("1997-01-01").cast("timestamp")
    val era1 = lineitem.filter(col("l_shipdate") < cut)
    IcebergTable.append(spark, era1, loc) // snapshot 1
    val t = s"$cat.lake.t"
    spark.sql(s"ALTER TABLE $t RENAME COLUMN l_quantity TO qty")
    spark.sql(s"ALTER TABLE $t DROP COLUMN l_tax")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN l_linenumber TYPE BIGINT")
    lineitem.filter(col("l_shipdate") >= cut).createOrReplaceTempView("graft_schema_tt_src")
    spark.sql(s"INSERT INTO $t SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
      "l_quantity, l_extendedprice, l_discount, l_returnflag, l_linestatus, l_shipdate " +
      "FROM graft_schema_tt_src") // snapshot 2
    // the pre-rename snapshot shows its own names, types and dropped column
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.columns.toSeq === lineitem.columns.toSeq)
    assert(v1.schema("l_linenumber").dataType === org.apache.spark.sql.types.IntegerType)
    assert(v1.agg(count("l_quantity"), count("l_tax")).head().toSeq === Seq(era1.count(), era1.count()))
    // the head stitches both eras under the current schema: the renamed
    // column by its old name in era-1 files, era-1 line numbers upcast
    val now = spark.table(t)
    assert(now.columns.toSeq === lineitem.columns.toSeq.filterNot(_ == "l_tax")
      .map(c => if (c == "l_quantity") "qty" else c))
    assert(now.schema("l_linenumber").dataType === org.apache.spark.sql.types.LongType)
    val got = now.agg(count("qty"), sum("l_linenumber")).head()
    assert(got.getLong(0) === lineitem.count())
    assert(got.getLong(1) === lineitem.agg(sum("l_linenumber")).head().getLong(0))
  }

  test("updateMorDv finds its victims through the scan, under every delete form") {
    val loc = Files.createTempDirectory("graft_schema_upd_").toString
    def residue(r: Long) = pmod(col("l_orderkey"), lit(10L)) === r
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(residue(3L)).select("l_orderkey").distinct(), loc)
    IcebergTable.appendPositionDeletes(spark, loc, residue(7L))
    IcebergTable.appendDvPuffin(spark, loc, residue(6L))
    def rows(): Seq[(Long, Long, Double)] =
      IcebergTable.withLineage(IcebergTable.readMorUnified(spark, loc)._1)
        .select("_row_id", "l_orderkey", "l_quantity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val before = rows()
    assert(before.nonEmpty && !before.exists(r => Set(3L, 6L, 7L)(r._2 % 10)))
    // the predicate also matches every deleted residue: only live rows update
    val id = IcebergTable.updateMorDv(spark, loc, pmod(col("l_orderkey"), lit(10L)).isin(3, 6, 7, 8),
      Seq("l_quantity" -> (col("l_quantity") + lit(100.0))))
    val expected = before.map { case (rid, k, q) => (rid, k, if (k % 10 == 8) q + 100.0 else q) }.sorted
    assert(rows() === expected, "updated rows, their _row_id, or the deleted rows differ")
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.currentSnapshotId === id && IcebergTable.currentSnapshot(meta).operation === "overwrite")
  }
}
