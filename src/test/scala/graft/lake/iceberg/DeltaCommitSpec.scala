package graft.lake.iceberg

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Scale and protocol contracts of the round-18 committer work:
  *  - SQL delta commit messages carry Roaring BLOBS, never raw position
  *    longs (the driver-heap contract — an UPDATE touching 10⁹ rows must
  *    not ship ~8 GB into driver heap);
  *  - commitDelta / commitOverwriteMonths are OPTIMISTIC (racing writers
  *    serialize under the version CAS instead of last-writer-winning);
  *  - the streaming epoch commit is exactly-once on replay;
  *  - DROP/RENAME COLUMN metadata semantics (tombstone windows, rename
  *    chains) round-trip through the metadata JSON. */
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
    assert(meta.droppedColumns === Map("l_tax" -> 1L))
    assert(meta.renamedColumns === Map("quantity2" -> Seq("qty", "l_quantity")))
    // an unrelated commit CARRIES the bookkeeping
    IcebergTable.append(spark, lineitem, loc)
    val meta2 = IcebergTable.readMetadata(loc)
    assert(meta2.droppedColumns === meta.droppedColumns)
    assert(meta2.renamedColumns === meta.renamedColumns)
    // name-based schemas refuse resurrecting a dropped name
    intercept[IllegalArgumentException] {
      IcebergTable.addSchemaColumn(loc, "l_tax")
    }
  }

  test("type promotions round-trip the metadata JSON and follow renames") {
    val loc = Files.createTempDirectory("graft_widen_meta_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", "BIGINT")
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.widenedColumns === Map("l_linenumber" -> "BIGINT"))
    // an unrelated commit CARRIES the promotion
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).widenedColumns === meta.widenedColumns)
    // the promotion follows a rename (the type rides with the field)
    IcebergTable.renameSchemaColumn(loc, "l_linenumber", "lnum")
    assert(IcebergTable.readMetadata(loc).widenedColumns === Map("lnum" -> "BIGINT"))
    // dropping the column clears the promotion
    IcebergTable.dropSchemaColumn(loc, "lnum")
    assert(IcebergTable.readMetadata(loc).widenedColumns === Map.empty)
    // widening a dropped column is refused
    intercept[IllegalArgumentException] {
      IcebergTable.widenSchemaColumn(loc, "lnum", "BIGINT")
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
    // pre-commit: CREATE-clause properties live in the pending sidecar
    IcebergTable.writePendingProperties(loc, Map("graft.note" -> "created"))
    assert(IcebergTable.readPendingProperties(loc) === Map("graft.note" -> "created"))
    // the FIRST commit folds the sidecar into metadata.json
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).properties === Map("graft.note" -> "created"))
    IcebergTable.setTableProperties(loc,
      Map("write.target-records-per-file" -> "100", "graft.era" -> "one"))
    assert(IcebergTable.targetRecordsProp(loc) === Some(100L))
    // an unrelated commit CARRIES the properties
    IcebergTable.append(spark, lineitem, loc)
    assert(IcebergTable.readMetadata(loc).properties ===
      Map("graft.note" -> "created", "write.target-records-per-file" -> "100",
        "graft.era" -> "one"))
    IcebergTable.setTableProperties(loc, Map("graft.era" -> "two"),
      unset = Set("write.target-records-per-file"))
    assert(IcebergTable.targetRecordsProp(loc) === None)
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
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_shipdate",
        org.apache.spark.sql.types.TimestampType)))
    val staged = cat.stageCreate(ident, schema,
      Array.empty, java.util.Collections.emptyMap[String, String]())
    assert(cat.tableExists(ident))
    staged.abortStagedChanges()
    assert(!cat.tableExists(ident), "aborted staged CREATE must drop the registration")
    // replace on a table with live evolution bookkeeping clears it
    val loc = Files.createTempDirectory("graft_staged_repl_").toString
    IcebergTable.append(spark, lineitem, loc)
    IcebergTable.renameSchemaColumn(loc, "l_quantity", "qty")
    IcebergTable.widenSchemaColumn(loc, "l_linenumber", "BIGINT")
    IcebergTable.resetColumnEvolution(loc)
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.renamedColumns.isEmpty && meta.widenedColumns.isEmpty &&
      meta.droppedColumns.isEmpty)
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
}
