package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType,
  TimestampType}

/** Scale and protocol contracts of the round-18 committer work:
  *  - SQL delta commit messages carry Roaring BLOBS, never raw position
  *    longs (the driver-heap contract — an UPDATE touching 10⁹ rows must
  *    not ship ~8 GB into driver heap);
  *  - commitDelta / commitOverwriteMonths are OPTIMISTIC (racing writers
  *    serialize under the version CAS instead of last-writer-winning);
  *  - the streaming epoch commit is exactly-once on replay;
  *  - DROP/RENAME COLUMN and type promotions are schema versions whose
  *    field ids never change, and they round-trip the metadata JSON. */
class DeltaCommitSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  test("delta commit payload is compressed-blob grain: bytes << 8 * positions") {
    // a dense run of 100k positions — the shape a big UPDATE produces
    val positions = (0L until 100000L).toArray
    val blob = RoaringDv.serializeDvBlob(positions)
    assert(blob.length.toLong * 20 < positions.length * 8L,
      s"blob ${blob.length} B should be far under raw ${positions.length * 8} B")
    // the merged driver-side rows stay blob-grain
    val merged = GraftDeltaBatchWrite.mergeBlobs(Seq(
      ("f1", RoaringDv.serializeDvBlob(Array(1L, 5L)), 2L, 1L, 5L),
      ("f1", RoaringDv.serializeDvBlob(Array(3L, 9L)), 2L, 3L, 9L),
      ("f2", blob, positions.length.toLong, 0L, positions.last)))
    assert(merged.map(_._1) === Seq("f1", "f2"))
    val f1 = merged.head
    assert(RoaringDv.deserializeDvBlob(f1._2).toSeq === Seq(1L, 3L, 5L, 9L))
    assert((f1._3, f1._4, f1._5) === ((4L, 1L, 9L)))
    // the single-chunk file passes through untouched (no re-encode)
    assert(merged(1)._2 eq blob)
  }

  test("commitDelta is OCC: racing delta commits serialize, none lost") {
    val loc = Files.createTempDirectory("graft_delta_occ_").toString
    IcebergTable.append(spark, lineitem, loc)
    val plan = IcebergTable.planFiles(loc)
    val victim = plan.files.head.path
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        val dv = RoaringDv.serializeDvBlob(Array(i.toLong))
        results.add(IcebergTable.commitDelta(spark, loc,
          Seq((victim, dv, 1L, i.toLong, i.toLong)), s"$loc/none", Seq.empty))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val ids = results.asScala.toSeq.sorted
    assert(ids.size === 4)
    assert(ids.distinct.size === 4, s"colliding snapshot ids: $ids")
    val meta = IcebergTable.readMetadata(loc)
    // all four DV commits landed: 1 append + 4 overwrites, contiguous ids
    assert(meta.snapshots.map(_.id).sorted === (1L to 5L))
    assert(meta.snapshots.count(_.operation == "overwrite") === 4)
  }

  test("commitStreamAppend replays are no-ops (exactly-once)") {
    val loc = Files.createTempDirectory("graft_stream_once_").toString
    IcebergTable.append(spark, lineitem, loc)
    def stageFiles(): (String, Seq[String]) = {
      val stage = Files.createTempDirectory("graft_stream_stage_").toString
      lineitem.limit(100)
        .withColumn("p_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.partitionBy("p_month").mode("overwrite").parquet(stage)
      val fs = new File(stage).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq
      (stage, fs)
    }
    val (s1, f1) = stageFiles()
    val id1 = IcebergTable.commitStreamAppend(spark, loc, s1, f1, "q-test", 0L)
    val n1 = IcebergTable.readMetadata(loc).snapshots.size
    // the replay: same (query, epoch), freshly staged files — must no-op
    val (s2, f2) = stageFiles()
    val id2 = IcebergTable.commitStreamAppend(spark, loc, s2, f2, "q-test", 0L)
    assert(id2 === id1)
    assert(IcebergTable.readMetadata(loc).snapshots.size === n1)
    assert(!f2.exists(p => new File(p).exists()), "replayed staged files must be dropped")
    // a LATER epoch commits normally
    val (s3, f3) = stageFiles()
    IcebergTable.commitStreamAppend(spark, loc, s3, f3, "q-test", 1L)
    assert(IcebergTable.readMetadata(loc).snapshots.size === n1 + 1)
    // a different query's epoch 0 is NOT deduped against q-test's
    val (s4, f4) = stageFiles()
    IcebergTable.commitStreamAppend(spark, loc, s4, f4, "q-other", 0L)
    assert(IcebergTable.readMetadata(loc).snapshots.size === n1 + 2)
  }

  test("drop tombstones and rename chains round-trip the metadata JSON") {
    val loc = Files.createTempDirectory("graft_evo_meta_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.dropSchemaColumn(loc, "l_tax")
    IcebergTable.renameSchemaColumn(loc, "l_quantity", "qty")
    IcebergTable.renameSchemaColumn(loc, "qty", "quantity2")
    val meta = IcebergTable.readMetadata(loc)
    val first = meta.schemas.head
    // the drop and both renames are schema versions; no field id changes
    assert(meta.schemas.map(_.id) === Seq(0, 1, 2, 3) && meta.currentSchemaId === 3)
    assert(meta.currentSchema.field("l_tax").isEmpty)
    assert(meta.currentSchema.field("quantity2").map(_.id) === first.field("l_quantity").map(_.id))
    assert(meta.currentSchema.fields.forall(f => first.fields.exists(_.id == f.id)))
    assert(IcebergTable.columnHistory(meta, meta.currentSchema)("quantity2")._1 ===
      Seq("qty", "l_quantity"))
    // an unrelated commit CARRIES the history
    IcebergTable.append(spark, lineitem.drop("l_tax").withColumnRenamed("l_quantity", "quantity2"), loc)
    val meta2 = IcebergTable.readMetadata(loc)
    assert(meta2.schemas === meta.schemas && meta2.currentSchemaId === meta.currentSchemaId)
    assert(meta2.snapshots.map(_.schemaId) === Seq(0, 3))
    // a dropped name is never given to another field
    intercept[IllegalArgumentException] {
      IcebergTable.addSchemaColumn(loc, "l_tax", DoubleType)
    }
  }

  test("type promotions round-trip the metadata JSON and follow renames") {
    val loc = Files.createTempDirectory("graft_widen_meta_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", LongType)
    val meta = IcebergTable.readMetadata(loc)
    val id = meta.currentSchema.field("l_linenumber").get.id
    assert(meta.schemas.head.field("l_linenumber").map(_.tpe) === Some("int"))
    assert(meta.currentSchema.field("l_linenumber").map(_.tpe) === Some("long"))
    // an unrelated commit (of narrow values, read upcast) CARRIES the promotion
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).currentSchema === meta.currentSchema)
    // the promotion follows a rename (the type rides with the field id)
    IcebergTable.renameSchemaColumn(loc, "l_linenumber", "lnum")
    assert(IcebergTable.readMetadata(loc).currentSchema.field("lnum") ===
      Some(IcebergTable.SchemaField(id, "lnum", "long")))
    // dropping the column drops the promotion with its field
    IcebergTable.dropSchemaColumn(loc, "lnum")
    assert(IcebergTable.readMetadata(loc).currentSchema.fields.forall(_.id != id))
    // widening a dropped column is refused
    intercept[IllegalArgumentException] {
      IcebergTable.widenSchemaColumn(loc, "lnum", LongType)
    }
  }

  test("ALTER COLUMN TYPE: illegal promotions refused, era files stay narrow") {
    val w = Files.createTempDirectory("graft_widen_sql_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = "graft_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE TABLE $cat.lake.wt (qty INT, l_shipdate TIMESTAMP)")
    lineitem.createOrReplaceTempView("graft_widen_spec_src")
    spark.sql(s"INSERT INTO $cat.lake.wt SELECT CAST(l_quantity AS INT), " +
      "l_shipdate FROM graft_widen_spec_src WHERE l_shipdate < TIMESTAMP '1997-01-01'")
    // narrowing and cross-family changes are refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.wt ALTER COLUMN qty TYPE STRING") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.wt ALTER COLUMN qty TYPE FLOAT") }
    spark.sql(s"ALTER TABLE $cat.lake.wt ALTER COLUMN qty TYPE BIGINT")
    // re-narrowing is refused too
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.wt ALTER COLUMN qty TYPE INT") }
    spark.sql(s"INSERT INTO $cat.lake.wt SELECT l_orderkey + 3000000000, " +
      "l_shipdate FROM graft_widen_spec_src WHERE l_shipdate >= TIMESTAMP '1997-01-01'")
    // the PHYSICAL files stay era-typed: INT32 before the ALTER, INT64 after
    val loc = IcebergCatalog.tableLocation(w, "lake", "wt")
    val plan = IcebergTable.planFiles(loc)
    val eraTypes = plan.files.groupBy(_.sequence).toSeq.sortBy(_._1).map { case (seq, fs) =>
      import scala.jdk.CollectionConverters._
      seq -> GraftVectorized.fileSchemaOf(fs.head.path).getFields.asScala
        .find(_.getName == "qty").get.asPrimitiveType().getPrimitiveTypeName.toString
    }
    assert(eraTypes.map(_._2) === Seq("INT32", "INT64"))
    // one scan serves both eras under the widened type (columnar upcast)
    val df = spark.table(s"$cat.lake.wt")
    assert(df.schema("qty").dataType === org.apache.spark.sql.types.LongType)
    val r = df.agg(sum("qty"), max("qty")).head()
    assert(r.getLong(1) > 3000000000L, "era-2 long values must survive the read")
    val e1 = df.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .agg(sum("qty")).head().getLong(0)
    val expected = lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .agg(sum(col("l_quantity").cast("int"))).head().getLong(0)
    assert(e1 === expected, "era-1 INT32 values must upcast losslessly")
  }

  test("table properties carry across commits and survive set/unset") {
    val loc = Files.createTempDirectory("graft_props_meta_").toString
    // CREATE-clause properties are the table's first version's
    IcebergTable.create(loc, lineitem.schema, Map("graft.note" -> "created"))
    assert(IcebergTable.readMetadata(loc).properties === Map("graft.note" -> "created"))
    assert(IcebergTable.readMetadata(loc).snapshots.isEmpty)
    // the first snapshot keeps them
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).properties === Map("graft.note" -> "created"))
    IcebergTable.setTableProperties(loc,
      Map("write.target-records-per-file" -> "100", "graft.era" -> "one"))
    assert(IcebergTable.targetRecordsProp(IcebergTable.readMetadata(loc).properties) === Some(100L))
    // an unrelated commit CARRIES the properties
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).properties ===
      Map("graft.note" -> "created", "write.target-records-per-file" -> "100",
        "graft.era" -> "one"))
    IcebergTable.setTableProperties(loc, Map("graft.era" -> "two"),
      unset = Set("write.target-records-per-file"))
    assert(IcebergTable.targetRecordsProp(IcebergTable.readMetadata(loc).properties) === None)
    assert(IcebergTable.readMetadata(loc).properties ===
      Map("graft.note" -> "created", "graft.era" -> "two"))
  }

  test("remove_orphan_files deletes exactly the unreachable files, twice is a no-op") {
    val loc = Files.createTempDirectory("graft_orphan_rm_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.append(spark, lineitem.limit(100), loc)
    val before = IcebergTable.read(spark, loc).count()
    // plant what a crashed writer leaves: a stray parquet + a stray avro
    Files.write(new File(s"$loc/data", "plant.parquet").toPath, Array[Byte](1, 2))
    Files.write(new File(s"$loc/metadata", "plant.avro").toPath, Array[Byte](3, 4))
    assert(IcebergTable.removeOrphanFiles(loc) === ((1L, 1L)))
    // reachable files (BOTH snapshots' trees) are untouched
    assert(IcebergTable.read(spark, loc).count() === before)
    assert(IcebergTable.read(spark, loc, snapshotId = Some(1L)).count() ===
      lineitem.count())
    // idempotent: a clean tree has nothing to delete
    assert(IcebergTable.removeOrphanFiles(loc) === ((0L, 0L)))
  }

  test("rollback_to_timestamp re-points by time; set_current re-points forward") {
    val loc = Files.createTempDirectory("graft_rb_ts_").toString
    IcebergTable.append(spark, lineitem.limit(10), loc)
    IcebergTable.append(spark, lineitem.limit(10), loc)
    IcebergTable.append(spark, lineitem.limit(10), loc)
    // snapshot timestamps are deterministic id*1000
    assert(IcebergTable.rollbackToTimestamp(loc, 2500L) === 2L)
    assert(IcebergTable.readMetadata(loc).currentSnapshotId === 2L)
    // forward re-point (set_current_snapshot semantics)
    IcebergTable.rollback(loc, 3L)
    assert(IcebergTable.readMetadata(loc).currentSnapshotId === 3L)
    intercept[IllegalArgumentException] {
      IcebergTable.rollbackToTimestamp(loc, 500L) // before the first commit
    }
  }

  test("staged CREATE aborts clean; staged REPLACE resets evolution bookkeeping") {
    val w = Files.createTempDirectory("graft_staged_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = new GraftCatalog
    cat.initialize("graft_staged_t", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("warehouse", w)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("lake"), "st")
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_shipdate", TimestampType)))
    val staged = cat.stageCreate(ident, schema,
      Array.empty, java.util.Collections.emptyMap[String, String]())
    assert(cat.tableExists(ident))
    staged.abortStagedChanges()
    assert(!cat.tableExists(ident), "aborted staged CREATE must drop the registration")
    // a replace starts afresh: the clause's schema and properties, a
    // column keeping the id of the current column of its name and the
    // others fresh ids that carry no earlier name or type
    val loc = Files.createTempDirectory("graft_staged_repl_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.renameSchemaColumn(loc, "l_quantity", "qty")
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", LongType)
    IcebergTable.setTableProperties(loc, Map("gen" -> "one"))
    val before = IcebergTable.readMetadata(loc)
    val clause = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_quantity", DoubleType), StructField("l_linenumber", IntegerType),
      StructField("l_shipdate", before.currentSchema.field("l_shipdate").get.dataType)))
    val replace = IcebergTable.replaceSchema(clause, Map("gen" -> "two"))
    val meta = IcebergTable.commit(loc)(replace).meta
    val cur = meta.currentSchema
    assert(cur.struct === clause && meta.properties === Map("gen" -> "two"))
    assert(cur.field("l_orderkey") === before.currentSchema.field("l_orderkey"))
    assert(cur.field("l_linenumber").map(_.id) === before.currentSchema.field("l_linenumber").map(_.id))
    assert(cur.field("l_quantity").get.id === before.lastColumnId + 1)
    assert(IcebergTable.columnHistory(meta, cur)("l_quantity") === ((Seq.empty, false)))
    // the history stays: time travel still serves the replaced schema
    assert(meta.schemas.take(before.schemas.size) === before.schemas)
    // a replace that changes nothing commits nothing
    val (_, version) = IcebergTable.readMetadataWithVersion(loc)
    IcebergTable.commit(loc)(replace)
    assert(IcebergTable.readMetadataWithVersion(loc)._2 === version)
  }

  test("branch append moves only its ref; fast-forward publishes exactly-once") {
    val loc = Files.createTempDirectory("graft_branch_w_").toString
    val era1 = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val era2 = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
    IcebergTable.append(spark, era1, loc)
    IcebergTable.setRef(loc, "dev", 1L, "branch")
    val id = IcebergTable.appendToBranch(spark, era2, loc, "dev")
    assert(id === 2L)
    val meta = IcebergTable.readMetadata(loc)
    // main and the table head stay put; only dev moved
    assert(meta.currentSnapshotId === 1L)
    assert(meta.refs("main").snapshotId === 1L)
    assert(meta.refs("dev").snapshotId === 2L)
    // main readers see era 1 only; the branch serves both
    assert(IcebergTable.read(spark, loc).count() === era1.count())
    assert(IcebergTable.read(spark, loc, snapshotId = Some(2L)).count() ===
      lineitem.count())
    // incremental consumers see nothing on main yet…
    assert(IcebergTable.planIncremental(loc, 1L, meta.currentSnapshotId).files.isEmpty)
    // …and exactly the branch snapshot's files after the publish
    IcebergTable.rollback(loc, 2L) // fast_forward(main, dev)
    val inc = IcebergTable.planIncremental(loc, 1L, 2L)
    assert(inc.files.map(_.recordCount).sum === era2.count())
    // tags refuse writes
    IcebergTable.setRef(loc, "pin", 1L, "tag")
    intercept[IllegalArgumentException] {
      IcebergTable.appendToBranch(spark, era2, loc, "pin")
    }
  }

  test("columnar upcast survives multi-batch files (closeIfFreeable contract)") {
    // ColumnarToRowExec calls closeIfFreeable() after EVERY consumed
    // batch; a file bigger than the 4096-row decode batch therefore
    // exercises the wrapper's ownership signal — the sf0.1 bench caught
    // the close-by-default inheritance freeing the reader's vectors
    // between batches (NPE on the second batch's dictionary decode).
    val w = Files.createTempDirectory("graft_widen_mb_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = "graft_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE TABLE $cat.lake.wmb (qty INT, amt DECIMAL(9,2), l_shipdate TIMESTAMP)")
    // ONE month => ONE file of ~6000 rows => >1 decode batch per file
    lineitem.withColumn("l_shipdate", lit("1997-03-15").cast("timestamp"))
      .createOrReplaceTempView("graft_widen_mb_src")
    spark.sql(s"INSERT INTO $cat.lake.wmb SELECT CAST(l_quantity AS INT), " +
      "CAST(l_orderkey % 10000 AS DECIMAL(9,2)), l_shipdate FROM graft_widen_mb_src")
    spark.sql(s"ALTER TABLE $cat.lake.wmb ALTER COLUMN qty TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.lake.wmb ALTER COLUMN amt TYPE DECIMAL(18,2)")
    spark.sql(s"INSERT INTO $cat.lake.wmb SELECT l_orderkey + 3000000000, " +
      "CAST(l_orderkey + 10000000000 AS DECIMAL(18,2)), l_shipdate FROM graft_widen_mb_src")
    val n = lineitem.count()
    val expQty = lineitem.agg(sum(col("l_quantity").cast("int"))).head().getLong(0) +
      lineitem.agg(sum(col("l_orderkey") + 3000000000L)).head().getLong(0)
    val r = spark.sql(s"SELECT count(*), CAST(sum(qty) AS BIGINT) FROM $cat.lake.wmb").head()
    assert(r.getLong(0) === 2 * n)
    assert(r.getLong(1) === expQty)
  }

  /** A SQL-created table holding `lineitem` under one DV wave, and a
    * listing of every file under its directory. */
  private def noopFixture(tag: String): (String, String, () => Set[String]) = {
    val w = Files.createTempDirectory(s"graft_noop_${tag}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val loc = IcebergCatalog.createTable(w, "lake", "li")
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 6L)
    val cat = s"graft_${tag}_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(new File(loc).toPath)
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    (s"$cat.lake.li", loc, () => files())
  }

  test("DELETE and UPDATE that match no live row commit nothing") {
    val (t, loc, files) = noopFixture("noop_rl")
    val before = files()
    val snaps = IcebergTable.readMetadata(loc).snapshots.size
    val n = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    // `%` keeps both statements on the row-level (delta) path; the second
    // DELETE matches only rows the DV wave already removed
    spark.sql(s"DELETE FROM $t WHERE l_orderkey % 101 = 0 AND l_orderkey < 0")
    spark.sql(s"DELETE FROM $t WHERE l_orderkey % 10 = 6")
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE l_orderkey % 103 = 0 AND l_orderkey < 0")
    assert(IcebergTable.readMetadata(loc).snapshots.size === snaps)
    assert(files() === before, "a statement that changes nothing must write nothing")
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === n)
  }

  test("INSERT of zero rows commits nothing") {
    val (t, loc, files) = noopFixture("noop_ins")
    val before = files()
    val snaps = IcebergTable.readMetadata(loc).snapshots.size
    lineitem.filter(col("l_shipdate") >= lit("2003-01-01").cast("timestamp"))
      .createOrReplaceTempView("graft_noop_ins_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_noop_ins_src")
    assert(IcebergTable.readMetadata(loc).snapshots.size === snaps)
    // the same under a file-size target, whose split sizing sums per-month
    // counts that an empty insert does not have
    assert(IcebergTable.append(spark, lineitem.limit(0), loc,
      targetRecordsPerFile = Some(1000L)) === IcebergTable.readMetadata(loc).currentSnapshotId)
    assert(IcebergTable.readMetadata(loc).snapshots.size === snaps)
    assert(files() === before, "an empty INSERT must leave no file behind")
    // the library append reports the unchanged current snapshot
    assert(IcebergTable.append(spark, lineitem.limit(0), loc) ===
      IcebergTable.readMetadata(loc).currentSnapshotId)
  }

  test("murmur3 bucket mode: spec layout and point lookup agree") {
    val loc = Files.createTempDirectory("graft_bucket_m3_").toString
    IcebergTable.appendBucket(spark, lineitem, loc, murmur3 = true)
    val keys = lineitem.select("l_orderkey").distinct().limit(20)
      .collect().map(_.getLong(0))
    keys.foreach { k =>
      val plan = IcebergTable.planBucketLookup(loc, k, murmur3 = true)
      val label = IcebergTable.bucketLabel(k, murmur3 = true)
      assert(plan.files.nonEmpty, s"key $k bucket $label found no files")
      assert(plan.files.forall(_.partition == label))
      // the file really contains the key (layout and lookup agree)
      val found = spark.read.parquet(plan.files.map(_.path): _*)
        .filter(col("l_orderkey") === k).count()
      assert(found > 0, s"key $k not in its murmur3 bucket files")
    }
  }

  test("streaming sink survives a genuine query restart exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = Files.createTempDirectory("graft_stream_restart_wh_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = "graft_sr_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    val ckpt = Files.createTempDirectory("graft_stream_restart_ck_").toString
    val li = lineitem.withColumn("__b", pmod(col("l_orderkey"), lit(2L)).cast("int"))
    val in = MemoryStream[Int]
    def start() = in.toDF().toDF("__m").join(li, col("__m") === col("__b"))
      .drop("__m", "__b")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.lake.lineitem_restart")
    val q1 = start()
    try { in.addData(0); q1.processAllAvailable() } finally q1.stop()
    // RESTART from the same checkpoint: the second query must resume the
    // epoch sequence (not re-commit epoch 0) and keep the SAME dedup key
    // (the stable query id, not the per-run id) in its snapshot summaries.
    val q2 = start()
    try { in.addData(1); q2.processAllAvailable() } finally q2.stop()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_restart")
    val meta = IcebergTable.readMetadata(loc)
    val commits = meta.snapshots.filter(_.summary.contains("streaming-query"))
    assert(commits.size === 2, s"expected 2 epoch commits, got ${commits.size}")
    assert(commits.map(_.summary("streaming-query")).distinct.size === 1,
      "dedup key must be restart-stable (query id, not run id)")
    assert(commits.flatMap(_.summary.get("epoch-id")).map(_.toLong).sorted === Seq(0L, 1L))
    // EXACTLY the two buckets' rows, no duplicates across the restart
    val expected = li.filter(col("__b").isin(0, 1)).count()
    val actual = spark.table(s"$cat.lake.lineitem_restart").count()
    assert(actual === expected)
  }

  // ---- the commit transaction: no acknowledged commit is lost, and no
  // accepted value makes the metadata unreadable ----

  /** A warehouse with namespace `lake` behind a fresh GraftCatalog name. */
  private def sqlWarehouse(tag: String): (String, String) = {
    val w = Files.createTempDirectory(s"graft_${tag}_").toString
    IcebergCatalog.createNamespace(w, "lake")
    val cat = s"graft_${tag}_" + (w.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (cat, w)
  }

  /** Run `body` until it is acknowledged: a lost version race may surface
    * as `FileAlreadyExistsException`, anywhere in the cause chain. */
  private def untilAcknowledged(body: => Unit): Unit = {
    def lostRace(t: Throwable): Boolean = t != null &&
      (t.isInstanceOf[java.nio.file.FileAlreadyExistsException] || lostRace(t.getCause))
    var done = false
    while (!done) try { body; done = true } catch { case e: Exception if lostRace(e) => () }
  }

  private def versionChain(loc: String): Seq[Long] =
    new File(loc, "metadata").listFiles().map(_.getName)
      .collect { case n if n.matches("v[0-9]+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }
      .sorted.toSeq

  private def inThreads(n: Int)(body: Int => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map(i => new Thread(() =>
      try body(i) catch { case t: Throwable => failures.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"a racing writer died: ${failures.peek()}")
  }

  test("racing property commits lose no acknowledged property; the version chain has no gaps") {
    val loc = Files.createTempDirectory("graft_props_race_").toString
    IcebergTable.append(spark, lineitem.limit(50), loc)
    inThreads(3) { t =>
      (0 until 50).foreach(i =>
        untilAcknowledged(IcebergTable.setTableProperties(loc, Map(s"t$t.k$i" -> s"$i"))))
    }
    val props = IcebergTable.readMetadata(loc).properties
    val missing = for (t <- 0 until 3; i <- 0 until 50 if !props.contains(s"t$t.k$i"))
      yield s"t$t.k$i"
    assert(missing.isEmpty, s"${missing.size} acknowledged properties lost: ${missing.take(5)}")
    val chain = versionChain(loc)
    assert(chain === (1L to chain.last), "metadata versions must be gap-free")
    assert(chain.last === 151L, "one version per acknowledged commit")
  }

  test("SQL INSERT racing property commits keeps every inserted row and every property") {
    val (cat, w) = sqlWarehouse("ins_race")
    val loc = IcebergCatalog.createTable(w, "lake", "li")
    val base = lineitem.filter(pmod(col("l_orderkey"), lit(5L)) === 0L)
    IcebergTable.append(spark, base, loc)
    (1 to 4).foreach(k => lineitem.filter(pmod(col("l_orderkey"), lit(5L)) === k.toLong)
      .createOrReplaceTempView(s"graft_ins_race_$k"))
    val inserting = new java.util.concurrent.atomic.AtomicBoolean(true)
    val acknowledged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    inThreads(3) {
      case 0 =>
        try (1 to 4).foreach(k => untilAcknowledged(
          spark.sql(s"INSERT INTO $cat.lake.li SELECT * FROM graft_ins_race_$k")))
        finally inserting.set(false)
      case t =>
        var i = 0
        while (inserting.get() || i < 20) {
          untilAcknowledged(IcebergTable.setTableProperties(loc, Map(s"p$t.$i" -> "v")))
          acknowledged.add(s"p$t.$i")
          i += 1
          Thread.sleep(10)
        }
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.li").head().getLong(0) ===
      lineitem.count(), "every inserted row must survive the property commits")
    import scala.jdk.CollectionConverters._
    val props = IcebergTable.readMetadata(loc).properties
    val lost = acknowledged.asScala.filterNot(props.contains)
    assert(lost.size === 0, s"acknowledged properties lost, e.g. ${lost.take(5)}")
    assert(IcebergTable.readMetadata(loc).snapshots.size === 5)
  }

  test("racing SQL row-level writes stage apart: neither commit deletes the other's files") {
    val loc = Files.createTempDirectory("graft_stage_race_").toString
    IcebergTable.append(spark, lineitem, loc)
    val rows = lineitem.limit(2).queryExecution.toRdd.map(_.copy()).collect()
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    // two statements built at the same version, each inserting one row
    // from its own task, committed one after the other
    val staged = Seq(0, 1).map { i =>
      val batch = new GraftDeltaWrite(loc, lineitem.schema, Some("l_shipdate")).toBatch
      val w = batch.createBatchWriterFactory(info).createWriter(0, i.toLong)
      w.insert(rows(i))
      (batch, w.commit())
    }
    staged.foreach { case (batch, msg) => batch.commit(Array(msg)) }
    val live = IcebergTable.planFiles(loc).files.map(_.path)
    val missing = live.filterNot(p =>
      new File(p.stripPrefix("file:").replaceFirst("^/{2,}", "/")).exists())
    assert(missing.isEmpty, s"committed files deleted by a racing statement: $missing")
    assert(IcebergTable.readMetadata(loc).snapshots.size === 3)
    assert(spark.read.parquet(live: _*).count() === lineitem.count() + 2)
  }

  /** Property values no hand-built JSON survives. */
  private val awkward = Seq("say \"hi\"", "back\\slash \\\"", "two\nlines\ttab",
    "caf\u00e9 \u2603 \u65e5\u672c", "{\"json\":[1,2]}")

  test("quoted, escaped, multi-line and non-ASCII values round-trip every metadata path") {
    val (cat, w) = sqlWarehouse("quoting")
    def sqlString(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'")
      .replace("\n", "\\n").replace("\t", "\\t") + "'"
    val want = awkward.zipWithIndex.map { case (v, i) => s"graft.q$i" -> v }.toMap
    val clause = want.toSeq.map { case (k, v) => s"'$k' = ${sqlString(v)}" }.mkString(", ")
    // CREATE TABLE … TBLPROPERTIES: the table's first version, then the first snapshot
    spark.sql(s"CREATE TABLE $cat.lake.c (l_orderkey BIGINT, l_shipdate TIMESTAMP) " +
      s"TBLPROPERTIES ($clause)")
    val cloc = IcebergCatalog.tableLocation(w, "lake", "c")
    assert(IcebergTable.readMetadata(cloc).properties === want)
    lineitem.createOrReplaceTempView("graft_quoting_src")
    spark.sql(s"INSERT INTO $cat.lake.c SELECT l_orderkey, l_shipdate FROM graft_quoting_src")
    assert(IcebergTable.readMetadata(cloc).properties === want)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.c").head().getLong(0) > 0)
    // SET TBLPROPERTIES on a committed table
    val loc = IcebergCatalog.createTable(w, "lake", "s")
    IcebergTable.append(spark, lineitem, loc)
    spark.sql(s"ALTER TABLE $cat.lake.s SET TBLPROPERTIES ($clause)")
    assert(IcebergTable.readMetadata(loc).properties === want)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.s").head().getLong(0) === lineitem.count())
    spark.sql(s"ALTER TABLE $cat.lake.s UNSET TBLPROPERTIES ('graft.q0')")
    assert(IcebergTable.readMetadata(loc).properties === want - "graft.q0")
    // a branch name lands in the ref map and the snapshot summary
    val branch = awkward.mkString("|")
    IcebergTable.setRef(loc, branch, 1L, "branch")
    val id = IcebergTable.appendToBranch(spark, lineitem.limit(10), loc, branch)
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.refs(branch).snapshotId === id)
    assert(meta.snapshots.find(_.id == id).get.summary("branch") === branch)
    IcebergTable.append(spark, lineitem.limit(10), loc) // the next commit reads it back
    assert(IcebergTable.readMetadata(loc).refs(branch).snapshotId === id)
  }

  test("the metadata serializer inverts the parser on every version of an evolved table") {
    val loc = Files.createTempDirectory("graft_serde_").toString
    IcebergTable.append(spark, lineitem.filter(col("l_shipdate") < lit("1997-01-01")
      .cast("timestamp")), loc)
    IcebergTable.append(spark, lineitem.filter(col("l_shipdate") >= lit("1997-01-01")
      .cast("timestamp")), loc, weekly = true)
    IcebergTable.setRef(loc, "pin", 1L, "tag")
    IcebergTable.setRef(loc, "dev", 2L, "branch")
    IcebergTable.appendToBranch(spark, lineitem.limit(20), loc, "dev")
    IcebergTable.computeTableStats(spark, loc, Seq("l_orderkey"), 16)
    IcebergTable.appendEqualityDeletes(spark, lineitem.select("l_orderkey").limit(5), loc)
    IcebergTable.dropSchemaColumn(loc, "l_tax")
    IcebergTable.renameSchemaColumn(loc, "l_quantity", "qty")
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", LongType)
    IcebergTable.setTableProperties(loc,
      awkward.zipWithIndex.map { case (v, i) => s"k$i" -> v }.toMap)
    import org.json4s.jackson.JsonMethods
    versionChain(loc).foreach { v =>
      val text = Files.readString(new File(loc, s"metadata/v$v.metadata.json").toPath)
      val m = IcebergTable.parseMetadata(JsonMethods.parse(text))
      val json = IcebergTable.metadataJson(m)
      assert(IcebergTable.parseMetadata(json) === m, s"v$v does not round-trip")
      assert(JsonMethods.compact(json) === text, s"v$v is not what the serializer writes")
    }
    val last = IcebergTable.readMetadata(loc)
    assert(last.snapshots.size === 4 && last.refs.keySet === Set("main", "pin", "dev"))
    assert(last.statistics.size === 1 && last.partitionSpecIds === Set(0, 1))
    val first = last.schemas.head
    assert(last.schemas.size === 4 && last.lastColumnId === first.fields.size)
    assert(last.currentSchema.field("l_tax").isEmpty &&
      last.currentSchema.field("qty").map(_.id) === first.field("l_quantity").map(_.id) &&
      last.currentSchema.field("l_linenumber").map(_.tpe) === Some("long"))
    assert(last.properties.values.toSet === awkward.toSet)
  }
}
