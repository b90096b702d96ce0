package graft

import java.io.File
import java.nio.file.Files

import graft.lake.iceberg.IcebergTable
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Protocol-level invariants of the from-scratch Iceberg layer: the
  * HadoopTables version-hint commit protocol, manifest reuse across
  * snapshots, two-level pruning, time travel, and full roundtrip
  * fidelity. */
class IcebergSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf0001)

  private lazy val loc: String = {
    val l = Files.createTempDirectory("graft_iceberg_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    l
  }

  test("HadoopTables layout: versioned metadata JSON + version hint advance per commit") {
    assert(new File(s"$loc/metadata/v1.metadata.json").exists())
    assert(new File(s"$loc/metadata/v2.metadata.json").exists())
    val hint = new String(Files.readAllBytes(
      new File(s"$loc/metadata/version-hint.text").toPath)).trim
    assert(hint == "2")
    val meta = IcebergTable.readMetadata(loc)
    assert(meta.formatVersion == 2)
    assert(meta.currentSnapshotId == 2L)
    assert(meta.snapshots.map(_.id) == Seq(1L, 2L))
  }

  test("snapshot 2's manifest list REUSES snapshot 1's manifest (append = new list, old manifests untouched)") {
    val meta = IcebergTable.readMetadata(loc)
    val list2 = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == 2).get.manifestList)
    assert(list2.size == 2)
    assert(list2.map(_.addedSnapshotId).sorted == Seq(1L, 2L))
    val list1 = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == 1).get.manifestList)
    assert(list1.size == 1 && list1.head.addedSnapshotId == 1L)
    // the shared manifest is literally the same file
    assert(list2.find(_.addedSnapshotId == 1L).get.path == list1.head.path)
  }

  test("roundtrip fidelity: full read returns exactly the source rows") {
    val src = lineitem.agg(count(lit(1)), round(sum(col("l_quantity")), 4)).head()
    val got = IcebergTable.read(spark, loc)
      .agg(count(lit(1)), round(sum(col("l_quantity")), 4)).head()
    assert(got.getLong(0) == src.getLong(0))
    assert(got.getDouble(1) == src.getDouble(1))
  }

  test("two-level pruning: the pre-cut manifest is skipped without being opened") {
    val plan = IcebergTable.planFiles(loc, None, Some("1997-01"), Some("1997-03"))
    assert(plan.manifestsTotal == 2)
    assert(plan.manifestsRead == 1, "snapshot-1 summary ends before 1997-01 — prune by list alone")
    assert(plan.filesSelected == 3, "one file per month, three months selected")
    assert(plan.files.forall(f => f.partition >= "1997-01" && f.partition <= "1997-03"))
    // file-level stats carry real date bounds inside the partition
    plan.files.foreach { f =>
      assert(f.loShip.startsWith(f.partition) && f.hiShip.startsWith(f.partition))
      assert(f.recordCount > 0 && f.fileSizeBytes > 0)
    }
  }

  test("equality-delete MOR: anti-join applies the delete file, data plan unchanged") {
    val l = Files.createTempDirectory("graft_iceberg_mor_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L).select(col("l_orderkey")).distinct(), l)
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.map(_.operation) == Seq("append", "append", "delete"))
    val (live, plan, deletes, _, _) = IcebergTable.readMorUnified(spark, l)
    assert(deletes.size == 1 && deletes.head.content == 2)
    // the delete snapshot adds no DATA files: content=2 entries are
    // excluded from the data plan (planFiles filters on content)
    assert(plan.files.forall(_.content == 0))
    val expectedLive = lineitem.filter(col("l_orderkey") % 10 =!= 3L).count()
    assert(live.count() == expectedLive)
    // deleting is monotone: live rows < total, and exactly the keyed rows go
    assert(expectedLive < lineitem.count())
  }

  test("rewrite_manifests: metadata-only regroup — same files/rows, fewer manifests opened, delete scoping survives") {
    val l = Files.createTempDirectory("graft_iceberg_rw_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L).select(col("l_orderkey")).distinct(), l)
    val liveBefore = IcebergTable.readMorUnified(spark, l)._1.count()
    val planBefore = IcebergTable.planFiles(l)
    IcebergTable.rewriteManifests(l, groupMonths = 12)
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.last.operation == "replace")
    // metadata-only: identical data file paths, identical per-entry sequence
    val planAfter = IcebergTable.planFiles(l)
    assert(planAfter.files.map(_.path).toSet == planBefore.files.map(_.path).toSet)
    assert(planAfter.files.map(f => f.path -> f.sequence).toMap ==
      planBefore.files.map(f => f.path -> f.sequence).toMap,
      "rewritten entries must keep their original data sequence numbers")
    assert(planAfter.files.forall(f => f.wideBounds.keySet ==
      Set("l_orderkey", "l_extendedprice_cents", "l_quantity")),
      "wide column stats must survive the rewrite wholesale")
    assert(planAfter.files.map(f => f.path -> f.wideBounds).toMap ==
      planBefore.files.map(f => f.path -> f.wideBounds).toMap)
    // grouped layout: a one-month probe opens ONE branch manifest (plus the
    // delete manifest, which carries no partition range worth pruning on)
    val probe = IcebergTable.planFiles(l, None, Some("1997-03"), Some("1997-03"))
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    assert(manifests.count(_.addedSnapshotId == meta.currentSnapshotId) > 1,
      "rewrite must produce multiple branch manifests")
    assert(probe.filesSelected == 1)
    // delete scoping survives: MOR after the rewrite sees the same live set
    assert(IcebergTable.readMorUnified(spark, l)._1.count() == liveBefore)
  }

  test("commit series: manifest list grows one per commit, fold collapses it, probe IO stays flat") {
    val out = graft.lake.iceberg.IcebergOps.commitSeries(spark, lineitem).collect()
    val series = out.filter(_.getAs[String]("state") != "fold")
    assert(series.length == graft.lake.iceberg.IcebergOps.SeriesMonths)
    series.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("manifests_total") == i + 1, s"commit ${i + 1}: list must grow by 1")
      assert(r.getAs[Long]("files_total") == i + 1)
      // range pruning keeps the probe's planner IO CONSTANT while the
      // table's metadata grows — the property that makes tiny commits
      // survivable at all
      assert(r.getAs[Long]("manifests_read") == 1 && r.getAs[Long]("entries_parsed") == 1)
      assert(r.getAs[Long]("files_selected") == 1)
    }
    val fold = out.find(_.getAs[String]("state") == "fold").get
    assert(fold.getAs[Long]("manifests_total") < graft.lake.iceberg.IcebergOps.SeriesMonths,
      "fold must collapse the manifest list")
    assert(fold.getAs[Long]("files_total") == graft.lake.iceberg.IcebergOps.SeriesMonths)
    assert(fold.getAs[Long]("manifests_read") == 1)
    // identical planned rows at every state: metadata reorganization never
    // changes results
    assert(out.map(_.getAs[Long]("rows_planned")).toSet.size == 1)
  }

  test("compaction rewrite: replace snapshot carries merged truth, old snapshots stay time-travelable") {
    val l = Files.createTempDirectory("graft_iceberg_compact_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L).select(col("l_orderkey")).distinct(), l)
    IcebergTable.rewriteCompact(spark, l)
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.map(_.operation) == Seq("append", "append", "delete", "replace"))
    // the replace head has ONE manifest and no delete files
    val headList = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
    assert(headList.size == 1)
    val headEntries = headList.flatMap(m => IcebergTable.readManifest(m.path))
    assert(headEntries.forall(_.content == 0))
    // manifest stats alone count the merged truth...
    val expectedLive = lineitem.filter(col("l_orderkey") % 10 =!= 3L).count()
    assert(IcebergTable.planFiles(l).files.map(_.recordCount).sum == expectedLive)
    // ...and the rewritten files read back clean with zero merge cost
    val (live, _, deletes, _, _) = IcebergTable.readMorUnified(spark, l)
    assert(deletes.isEmpty)
    assert(live.count() == expectedLive)
    // time travel still sees the pre-compaction world
    assert(IcebergTable.read(spark, l, Some(2L)).count() == lineitem.count())
  }

  test("expiry: orphans physically deleted, head intact, dropped time travel gone") {
    val l = Files.createTempDirectory("graft_iceberg_expire_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L).select(col("l_orderkey")).distinct(), l)
    IcebergTable.rewriteCompact(spark, l)
    val headFiles = IcebergTable.planFiles(l).files.map(_.path)
    val rep = IcebergTable.expireSnapshots(l, keepLast = 1)
    assert(rep.snapshotsRemoved == 3 && rep.manifestsDeleted == 3)
    assert(rep.deleteFilesDeleted == 1)
    // head data files still on disk; table still plans and reads
    headFiles.foreach(p => assert(new File(p).exists(), s"head file deleted: $p"))
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.map(_.operation) == Seq("replace"))
    val expectedLive = lineitem.filter(col("l_orderkey") % 10 =!= 3L).count()
    assert(IcebergTable.read(spark, l).count() == expectedLive)
    // dropped snapshots are unreachable by id
    intercept[IllegalArgumentException] { IcebergTable.planFiles(l, Some(1L)) }
  }

  test("incremental scan: replace boundary throws, delete snapshots contribute zero rows") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_incboundary_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l, sorted = true)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, sorted = true)
    T.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(10L)) === 1L)
    // a DV commit in range adds no data files: the delta over (1, 3] is
    // exactly snapshot 2's appended rows — tailing across it stays
    // exactly-once, never re-emitting snapshot 1
    val inc = T.planIncremental(l, 1L, 3L)
    val era2 = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")).count()
    assert(inc.files.map(_.recordCount).sum == era2)
    // a compaction in range contributes NOTHING (replace = layout change,
    // not data): the naive head-list-only plan would have re-emitted the
    // whole rewritten table as new rows; the append-scoped plan reads the
    // absorbed append through its OWN immutable manifest list instead, so
    // tailing across the compaction stays exactly-once
    T.rewriteCompact(spark, l)
    assert(T.planIncremental(l, 1L, 4L).files.map(_.recordCount).sum == era2,
      "crossing a compaction must emit only the real appends' rows")
    assert(T.planIncremental(l, 0L, 4L).files.map(_.recordCount).sum == lineitem.count())
    assert(T.planIncremental(l, 4L, 4L).files.isEmpty ||
      T.planIncremental(l, 4L, 4L).files.map(_.recordCount).sum == 0,
      "the replace snapshot itself is an empty delta")
    // ...and the same holds across a metadata-only rewrite_manifests
    T.rewriteManifests(l, groupMonths = 12)
    assert(T.planIncremental(l, 1L, 5L).files.map(_.recordCount).sum == era2)
    // spec rule: rewritten EXISTING entries retain the snapshot id of the
    // commit that originally added the file (here the compaction, id 4);
    // only the manifest-list row records the rewriter (id 5)
    val rwManifests = T.readManifestList(
      T.currentSnapshot(T.readMetadata(l)).manifestList)
      .filter(_.addedSnapshotId == 5L)
    val rwEntries = rwManifests.flatMap(m => T.readManifest(m.path))
    assert(rwEntries.nonEmpty && rwEntries.forall(_.entrySnapshotId == 4L),
      "EXISTING entries must keep their original adding snapshot id")
  }

  test("changelog across a compaction: the replace step emits nothing, live rows carry through") {
    import graft.lake.iceberg.IcebergOps
    IcebergOps.dvCompactSummary(spark, lineitem).collect() // builds the fixture
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.dvcompact")(
      fail("fixture must exist"): String)
    val rows = IcebergOps.changelogOf(spark, loc).collect().sortBy(_.getAs[String]("step"))
    val replace = rows.last
    assert(replace.getAs[String]("step").endsWith("_replace"))
    assert(replace.getAs[Long]("n_inserts") == 0L &&
      replace.getAs[Long]("n_deletes_asserted") == 0L &&
      replace.getAs[Long]("n_deletes_net") == 0L,
      "a maintenance replace is a layout move, not a changelog event")
    assert(replace.getAs[Long]("live_rows") ==
      rows(rows.length - 2).getAs[Long]("live_rows"),
      "live rows must carry through the compaction unchanged")
    // per-step conservation still closes over the whole history
    var cumIns = 0L; var cumNet = 0L
    rows.foreach { r =>
      cumIns += r.getAs[Long]("n_inserts"); cumNet += r.getAs[Long]("n_deletes_net")
      assert(r.getAs[Long]("live_rows") == cumIns - cumNet)
    }
  }

  test("3-level tree: planner IO monotone in depth, identical planned files at every rung") {
    import graft.lake.iceberg.{IcebergOps, IcebergTable => T}
    val rows = IcebergOps.tree3Plan(spark, lineitem).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    val Seq(flat, grouped, tree3) = Seq("1_flat", "2_grouped", "3_tree3").map(rows)
    // results identical at every rung — the tree changes COST, not results
    Seq(grouped, tree3).foreach { r =>
      assert(r.getAs[Long]("files_selected") == flat.getAs[Long]("files_selected"))
      assert(r.getAs[Long]("rows_planned") == flat.getAs[Long]("rows_planned"))
    }
    // planner IO (entries parsed) strictly decreases with depth; the
    // 3-level plan pays exactly one extra list-grain read (index + 1 sub)
    assert(flat.getAs[Long]("entries_parsed") > grouped.getAs[Long]("entries_parsed"))
    assert(grouped.getAs[Long]("entries_parsed") > tree3.getAs[Long]("entries_parsed"))
    assert(flat.getAs[Long]("lists_read") == 1L && grouped.getAs[Long]("lists_read") == 1L)
    assert(tree3.getAs[Long]("lists_read") == 2L)
    // the one-month scan opens ONE leaf at both grouped rungs
    assert(grouped.getAs[Long]("manifests_read") == 1L)
    assert(tree3.getAs[Long]("manifests_read") == 1L)
    // the index's sub-list count equals the 2-level branch count (both are
    // TreeGroupMonths ranges over the same months), and the 3-level plan
    // selects the exact same file PATHS as a flat plan of the same range
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.tree3")(
      fail("fixture must exist"): (String, String))
    val subs = T.readManifestList(loc._2)
    assert(subs.size.toLong == grouped.getAs[Long]("manifests_total"))
    val tp = T.planFilesTree3(loc._2, "1997-01", "1997-06")
    val flatPlan = T.planFiles(loc._1, None, Some("1997-01"), Some("1997-06"))
    assert(tp.files.map(_.path).sorted == flatPlan.files.map(_.path).sorted)
  }

  test("orphan scan: crashed-writer debris detected, the rest of the tree fully referenced") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.orphanScan(spark, lineitem).collect()
      .map(r => r.getAs[String]("category") -> r).toMap
    val pre = lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    val total = lineitem
      .select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    val data = rows("1_data_file")
    assert(data.getAs[Long]("n_orphans") == pre,
      "the crashed writer left exactly its month slice as debris")
    assert(data.getAs[Long]("n_referenced") == total)
    assert(data.getAs[Long]("n_on_disk") ==
      data.getAs[Long]("n_referenced") + data.getAs[Long]("n_orphans"))
    // every metadata file is reachable — only a disk walk can find the
    // debris (no snapshot references it, so expiry can never GC it)
    Seq("2_manifest", "3_manifest_list", "4_metadata_json").foreach { c =>
      assert(rows(c).getAs[Long]("n_orphans") == 0L, s"$c must be fully referenced")
      assert(rows(c).getAs[Long]("n_on_disk") == rows(c).getAs[Long]("n_referenced"))
    }
  }

  test("row lineage: dense disjoint assignment, ids preserved exactly across compaction") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.rowLineage(spark, lineitem).collect()
      .sortBy(_.getAs[Long]("first_row_id"))
    // assignment is dense and disjoint in commit order: each file starts
    // exactly where the previous one ended, ids never reused
    var expect = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("first_row_id") == expect,
        s"gap or overlap at ${r.getAs[String]("p_month")}")
      expect += r.getAs[Long]("n_rows")
    }
    assert(expect == lineitem.count())
    // survivors keep ids INSIDE their original file's range (preservation:
    // the compaction materialized _row_id instead of re-deriving position)
    rows.foreach { r =>
      val lo = r.getAs[Long]("first_row_id")
      val hi = lo + r.getAs[Long]("n_rows") - 1
      assert(r.getAs[Long]("survivor_id_min") >= lo)
      assert(r.getAs[Long]("survivor_id_max") <= hi)
      assert(r.getAs[Long]("survivor_rows") < r.getAs[Long]("n_rows"),
        "the DV wave must have deleted something in every month")
    }
    // the committed counter burned ids for appends AND the rewrite's fresh
    // files — monotone, never reused
    val live = rows.map(_.getAs[Long]("survivor_rows")).sum
    assert(rows.head.getAs[Long]("next_row_id") == lineitem.count() + live)
  }

  test("gc cliff: ladder verdicts consistent, union dedups overlapping waves") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.gcCliff(spark, lineitem).collect()
      .map(r => r.getAs[String]("step") -> r).toMap
    val waves = Seq("1_sparse", "2_page", "3_dense").map(rows)
    val all = rows("4_all")
    // the ladder counts are cumulative per blob: le_4kb <= le_64kb <= le_10mb
    (waves :+ all).foreach { r =>
      assert(r.getAs[Long]("n_le_4kb") <= r.getAs[Long]("n_le_64kb"))
      assert(r.getAs[Long]("n_le_64kb") <= r.getAs[Long]("n_le_10mb"))
      assert(r.getAs[Long]("n_le_10mb") == r.getAs[Long]("n_dv_blobs"),
        "no blob is humongous at test scale")
      assert(r.getAs[Long]("max_blob_bytes") <= r.getAs[Long]("payload_bytes"))
    }
    // waves are ordered by victim volume: payload strictly grows
    assert(waves.map(_.getAs[Long]("payload_bytes")).sliding(2).forall(s => s(0) < s(1)))
    // the 4_all row deduplicates: union cardinality < the asserted sum
    // (waves overlap by construction) and conservation closes on it
    val assertedSum = waves.map(_.getAs[Long]("dv_cardinality")).sum
    assert(all.getAs[Long]("dv_cardinality") < assertedSum)
    assert(all.getAs[Long]("dv_cardinality") + all.getAs[Long]("live_rows") ==
      lineitem.count())
    // payload class matches the ladder applied to the payload bytes
    (waves :+ all).foreach { r =>
      val b = r.getAs[Long]("payload_bytes")
      val expect = IcebergOps.CliffLadder.find(b <= _._2).map(_._1).getOrElse("humongous")
      assert(r.getAs[String]("payload_class") == expect)
    }
  }

  test("changelog resume: (0,m] ++ (m,head] partitions the full history at every split") {
    import graft.lake.iceberg.{IcebergOps, IcebergTable => T}
    IcebergOps.dvCompactSummary(spark, lineitem).collect() // builds the fixture
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.dvcompact")(
      fail("fixture must exist"): String)
    val snaps = T.readMetadata(loc).snapshots.sortBy(_.id)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("step"), r.getAs[Long]("n_inserts"),
        r.getAs[Long]("n_deletes_asserted"), r.getAs[Long]("n_deletes_net"),
        r.getAs[Long]("live_rows"))
    val full = IcebergOps.changelogOf(spark, loc).collect().map(key).sortBy(_._1)
    // every split point: a tailer that checkpointed at m and resumed sees
    // exactly the rows it has not yet consumed — no loss, no re-emission
    snaps.map(_.id).foreach { m =>
      val first = IcebergOps.changelogOf(spark, loc, 0L, m).collect().map(key)
      val second = IcebergOps.changelogOf(spark, loc, m).collect().map(key)
      assert((first ++ second).sortBy(_._1).toSeq == full.toSeq,
        s"split at $m must partition the changelog")
      assert(first.length == snaps.count(_.id <= m), s"range (0,$m] row count")
    }
    // unretained checkpoint ids are refused, exactly the real contract
    intercept[IllegalArgumentException] {
      IcebergOps.changelogOf(spark, loc, fromId = 9999L)
    }
  }

  test("DV lifecycle: storm -> compact -> expire physically GCs every Puffin DV, rows preserved") {
    import graft.lake.iceberg.{IcebergOps, IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_dvgc_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l, sorted = true)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, sorted = true)
    IcebergOps.StormResidues.foreach { r =>
      T.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(IcebergOps.DeleteKeyMod)) === r)
    }
    val expectedLive = lineitem
      .filter(!pmod(col("l_orderkey"), lit(IcebergOps.DeleteKeyMod))
        .isin(IcebergOps.StormResidues: _*)).count()
    // the wave DV puffins referenced by the head (additive delete commits)
    val dvPuffins = T.readManifestList(
        T.currentSnapshot(T.readMetadata(l)).manifestList)
      .flatMap(m => T.readManifest(m.path)).filter(_.content == 1)
      .map(_.path).distinct
    assert(dvPuffins.nonEmpty && dvPuffins.forall(p => new File(p).exists()))
    // compaction materializes the MOR view — DVs leave the live tree but
    // stay on disk for time travel; expiry then physically GCs them
    T.rewriteCompact(spark, l)
    dvPuffins.foreach(p => assert(new File(p).exists(), "DV puffins must survive until expiry"))
    T.expireSnapshots(l, keepLast = 1)
    dvPuffins.foreach(p => assert(!new File(p).exists(), s"orphaned DV puffin not GC'd: $p"))
    assert(T.read(spark, l).count() == expectedLive, "compacted head preserves the MOR view")
  }

  test("streaming ingest: foreachBatch commits one real snapshot per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val l = Files.createTempDirectory("graft_iceberg_stream_").toString
    val ckpt = Files.createTempDirectory("graft_iceberg_stream_ckpt_").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("l_orderkey", "l_shipdate", "l_quantity")
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { IcebergTable.append(spark, batch, l); () }
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((1L, ts("1997-01-05 00:00:00"), 1.0), (2L, ts("1997-02-10 00:00:00"), 2.0))
      q.processAllAvailable()
      input.addData((3L, ts("1997-02-20 00:00:00"), 3.0))
      q.processAllAvailable()
      val meta = IcebergTable.readMetadata(l)
      assert(meta.snapshots.size == 2, "one snapshot per non-empty micro-batch")
      assert(meta.snapshots.forall(_.operation == "append"))
      assert(IcebergTable.read(spark, l).count() == 3)
      // month files accumulate per batch without rewriting earlier ones:
      // batch 1 wrote 1997-01 + 1997-02, batch 2 wrote its own 1997-02 file
      val files = IcebergTable.planFiles(l).files
      assert(files.map(_.partition).sorted == Seq("1997-01", "1997-02", "1997-02"))
      // partition pruning across streamed commits
      val feb = IcebergTable.planFiles(l, None, Some("1997-02"), Some("1997-02"))
      assert(feb.filesSelected == 2 && feb.files.map(_.recordCount).sum == 2)
    } finally q.stop()
  }

  test("partition evolution: weekly-spec files are week-grain, planning prunes across both specs") {
    val l = Files.createTempDirectory("graft_iceberg_evo_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, weekly = true)
    val meta = IcebergTable.readMetadata(l)
    val manifests = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
    assert(manifests.map(_.specId).sorted == Seq(0, 1))
    // weekly partition values are ISO week-start dates, monthly are months
    val bySpec = manifests.map(m => m.specId -> IcebergTable.readManifest(m.path)).toMap
    assert(bySpec(0).forall(_.partition.length == 7))
    assert(bySpec(1).forall(_.partition.length == 10))
    assert(bySpec(1).size > bySpec(0).size / 2, "week grain is finer than month grain")
    // cross-spec date-bounds planning: an 11-day window in the weekly era
    // opens at most 3 week files, never a whole month's worth of rows
    val plan = IcebergTable.planFiles(l, None, None, None, Some("1997-02-05"), Some("1997-02-15"))
    assert(plan.files.nonEmpty && plan.files.forall(_.partition.length == 10))
    assert(plan.filesSelected <= 3)
    // full read across both specs still returns every row
    assert(IcebergTable.read(spark, l).count() == lineitem.count())
  }

  test("refs: main tracks the head, a tag pins its snapshot against expiry") {
    val l = Files.createTempDirectory("graft_iceberg_refs_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    assert(IcebergTable.snapshotForRef(l, "main") == 2L, "main follows every commit")
    IcebergTable.setRef(l, "v1", 1L, "tag")
    assert(IcebergTable.snapshotForRef(l, "v1") == 1L)
    intercept[IllegalArgumentException] { IcebergTable.setRef(l, "bad", 99L) }
    // expiry must NOT remove the tagged snapshot even though keepLast=1
    val rep = IcebergTable.expireSnapshots(l, keepLast = 1)
    assert(rep.snapshotsRemoved == 0, "tag pins snapshot 1 against expiry")
    val preCut = lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count()
    assert(IcebergTable.read(spark, l,
      Some(IcebergTable.snapshotForRef(l, "v1"))).count() == preCut)
  }

  test("write-audit-publish: staged snapshot invisible to default reads until published") {
    val l = Files.createTempDirectory("graft_iceberg_wap_spec_").toString
    val preCut = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    IcebergTable.append(spark, preCut, l)
    val staged = IcebergTable.appendStaged(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    // default reads still see the old head; main has not moved
    assert(IcebergTable.read(spark, l).count() == preCut.count())
    assert(IcebergTable.snapshotForRef(l, "main") == 1L)
    assert(IcebergTable.snapshotForRef(l, "staging") == staged)
    // audit reads the staged snapshot by id
    assert(IcebergTable.read(spark, l, Some(staged)).count() == lineitem.count())
    // an UNpublished stage is not logical table content: incremental scans
    // covering its id emit nothing
    assert(IcebergTable.planIncremental(l, 1L, staged).files.isEmpty,
      "unpublished staged rows must not leak into incremental scans")
    // publish: metadata-only fast-forward — now everyone sees it
    IcebergTable.publishStaged(l, staged)
    assert(IcebergTable.snapshotForRef(l, "main") == staged)
    assert(IcebergTable.read(spark, l).count() == lineitem.count())
    assert(!IcebergTable.readMetadata(l).refs.contains("staging"))
    // publish rewrites the operation to "append" — the published WAP rows
    // now enter every incremental scan covering the staged id (the r13
    // ADVICE hole: left as "stage" they were silently omitted)
    assert(IcebergTable.readMetadata(l).snapshots
      .find(_.id == staged).get.operation == "append")
    val postCut = lineitem.count() - preCut.count()
    assert(IcebergTable.planIncremental(l, 1L, staged)
      .files.map(_.recordCount).sum == postCut,
      "published WAP rows date from their staged snapshot id")
    assert(IcebergTable.planIncremental(l, 0L, staged)
      .files.map(_.recordCount).sum == lineitem.count())
    // ...and survive a later compaction via the replace-absorption path
    val compactId = IcebergTable.rewriteCompact(spark, l)
    assert(IcebergTable.planIncremental(l, 1L, compactId)
      .files.map(_.recordCount).sum == postCut,
      "incremental across publish + compaction stays exactly-once")
  }

  test("time travel: reading snapshot 1 sees only pre-cut rows") {
    val expected = lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count()
    val planned = IcebergTable.planFiles(loc, Some(1L))
    assert(planned.files.map(_.recordCount).sum == expected,
      "manifest stats count the snapshot without reading data")
    assert(IcebergTable.read(spark, loc, Some(1L)).count() == expected)
  }

  test("position deletes (content=1): real (file_path, row_index) pairs, MOR read drops exactly the victims") {
    val l = Files.createTempDirectory("graft_iceberg_posdv_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.appendPositionDeletes(spark, l, pmod(col("l_orderkey"), lit(10)) === 7L)
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.map(_.operation) == Seq("append", "append", "delete"))
    val headEntries = IcebergTable.readManifestList(
        meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    val dvs = headEntries.filter(_.content == 1)
    val nVictims = lineitem.filter(col("l_orderkey") % 10 === 7L).count()
    assert(dvs.size == 1 && dvs.map(_.recordCount).sum == nVictims)
    // the delete file's rows are real coordinates: sorted (file_path, pos),
    // pos within the addressed file's record count
    val dvRows = spark.read.parquet(dvs.head.path)
    assert(dvRows.columns.toSeq == Seq("file_path", "pos"))
    assert(dvRows.count() == nVictims)
    // normalize both path spellings ("file:///…" from input_file_name vs
    // "file:/…" from _metadata.file_path) to plain filesystem paths
    def norm(p: String) = new File(p.replaceFirst("^file:", "")).getPath
    val dataBounds = headEntries.filter(_.content == 0)
      .map(f => norm(f.path) -> f.recordCount).toMap
    val offenders = dvRows
      .groupBy(col("file_path")).agg(max(col("pos")).as("mx")).collect()
      .filter(r => r.getAs[Long]("mx") >=
        dataBounds(norm(r.getAs[String]("file_path"))))
    assert(offenders.isEmpty, "positions must address rows inside their file")
    // MOR read drops exactly the predicate rows
    val (live, plan, _, applied, _) = IcebergTable.readMorUnified(spark, l)
    assert(applied.size == 1 && plan.files.forall(_.content == 0))
    assert(live.count() == lineitem.count() - nVictims)
    assert(live.filter(col("l_orderkey") % 10 === 7L).count() == 0)
    // pruned positional read: deletes still apply inside the month range
    val feb = IcebergTable.readMorUnified(spark, l, Some("1997-02"), Some("1997-02"))._1
    val expectedFeb = lineitem.filter(
      date_format(col("l_shipdate"), "yyyy-MM") === "1997-02" &&
        col("l_orderkey") % 10 =!= 7L).count()
    assert(feb.filter(date_format(col("l_shipdate"), "yyyy-MM") === "1997-02").count() == expectedFeb)
  }

  test("equality deletes are sequence-scoped: a key re-appended after the delete survives") {
    import spark.implicits._
    val l = Files.createTempDirectory("graft_iceberg_seq_spec_").toString
    def rows(keys: Seq[Long]) = keys.toDF("l_orderkey")
      .select(col("l_orderkey"),
        lit("1997-01-15").cast("timestamp").as("l_shipdate"),
        lit(1.0).as("l_quantity"))
    IcebergTable.append(spark, rows(Seq(1L, 2L, 3L)), l)          // seq 1
    IcebergTable.appendEqualityDeletes(spark, Seq(2L).toDF("k"), l) // seq 2
    IcebergTable.append(spark, rows(Seq(2L)), l)                   // seq 3: re-append key 2
    val live = IcebergTable.readMorUnified(spark, l)._1
    val got = live.select("l_orderkey").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      "the seq-3 re-append of key 2 must survive the seq-2 delete")
    // and compaction preserves it (the ADVICE-flagged permanent-drop case)
    IcebergTable.rewriteCompact(spark, l)
    val afterCompact = IcebergTable.readMorUnified(spark, l)._1
    assert(afterCompact.select("l_orderkey").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("snapshot ids never collide with a staged snapshot (max+1 in every commit path)") {
    val l = Files.createTempDirectory("graft_iceberg_ids_spec_").toString
    val preCut = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    IcebergTable.append(spark, preCut, l)                       // id 1
    val staged = IcebergTable.appendStaged(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l) // id 2, main stays 1
    val delId = IcebergTable.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L)
        .select(col("l_orderkey")).distinct(), l)
    assert(delId != staged, "delete while staged must not reuse the staged id")
    val meta = IcebergTable.readMetadata(l)
    assert(meta.snapshots.map(_.id) == meta.snapshots.map(_.id).distinct,
      "no duplicate snapshot ids in the log")
    // main advanced past the stage's base (the delete commit): a
    // fast-forward publish would LOSE that commit — publishStaged must
    // refuse (round 16), and the cherry-pick path publishes the staged
    // data onto the advanced head with everything intact
    intercept[IllegalArgumentException] { IcebergTable.publishStaged(l, staged) }
    IcebergTable.cherryPick(l, staged)
    assert(IcebergTable.read(spark, l).count() == lineitem.count())
    // and the interim delete commit SURVIVED the publish (the manifest the
    // old fast-forward would have dropped)
    val headEntries = IcebergTable.readManifestList(IcebergTable.currentSnapshot(
        IcebergTable.readMetadata(l)).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    assert(headEntries.exists(_.content == 2), "delete commit lost by the publish")
  }

  test("weekly-spec month-bound planning: boundary-month week files are not silently pruned") {
    val l = Files.createTempDirectory("graft_iceberg_weekbound_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, weekly = true)
    // month bounds reaching into the weekly era: every March 1997 row must
    // surface even though weekly partition values ('1997-03-03', …) compare
    // above the '1997-03' bound lexicographically
    val plan = IcebergTable.planFiles(l, None, Some("1997-01"), Some("1997-03"))
    val got = spark.read.parquet(plan.files.map(_.path): _*)
      .filter(date_format(col("l_shipdate"), "yyyy-MM").between("1997-01", "1997-03"))
      .count()
    val expected = lineitem.filter(
      date_format(col("l_shipdate"), "yyyy-MM").between("1997-01", "1997-03")).count()
    assert(got == expected, "mixed-spec month scan must not drop live rows")
    // and the metadata tree defines every spec its manifests reference
    val metaTxt = new String(Files.readAllBytes(new File(
      s"$l/metadata/v${new String(Files.readAllBytes(new File(s"$l/metadata/version-hint.text").toPath)).trim}.metadata.json").toPath))
    assert(metaTxt.contains("\"spec-id\":1"), "partition-specs must define spec 1")
    assert(metaTxt.contains("\"default-spec-id\":1"), "default spec advances to the latest used")
  }

  test("multi-file partitions: targetRecordsPerFile splits a hot month across parallel tasks") {
    val l = Files.createTempDirectory("graft_iceberg_multifile_spec_").toString
    IcebergTable.append(spark, lineitem, l, targetRecordsPerFile = Some(20L))
    val files = IcebergTable.planFiles(l).files
    val perMonth = files.groupBy(_.partition).map { case (m, fs) => m -> fs.size }
    assert(perMonth.values.max > 1, "a month bigger than the target must split into multiple files")
    // manifests stay at file grain: per-file counts sum to the source
    assert(files.map(_.recordCount).sum == lineitem.count())
    assert(IcebergTable.read(spark, l).count() == lineitem.count())
    // month pruning still exact across the multi-file layout
    val feb = IcebergTable.planFiles(l, None, Some("1997-02"), Some("1997-02"))
    val expectedFeb = lineitem.filter(
      date_format(col("l_shipdate"), "yyyy-MM") === "1997-02").count()
    assert(feb.files.map(_.recordCount).sum == expectedFeb)
    assert(feb.files.forall(_.partition == "1997-02"))
  }

  test("OCC: racing writers over the real version-file CAS lose no commits and duplicate none") {
    import graft.lake.iceberg.IcebergOcc
    val l = Files.createTempDirectory("graft_iceberg_occ_spec_").toString
    IcebergTable.append(spark, lineitem.limit(50), l)
    val r = IcebergOcc.race(l, writers = 8, commitsPerWriter = 5)
    assert(r.commits == 40)
    assert(r.snapshotsAfter == r.snapshotsBefore + 40, "every commit lands exactly once")
    assert(r.newIdsDistinct == 40 && r.idsContiguous, "no lost updates, no duplicate ids")
    // conflicts occurred and were retried through (8 writers on one pointer)
    assert(r.conflicts >= 0)
    val meta = IcebergTable.readMetadata(l)
    assert(meta.currentSnapshotId == meta.snapshots.map(_.id).max)
    // the version chain is gap-free: v1..v41 all present
    (1 to 41).foreach(v => assert(
      new File(s"$l/metadata/v$v.metadata.json").exists(), s"missing metadata version $v"))
  }

  test("catalog: create/list/drop/rename with HadoopCatalog existence semantics") {
    import graft.lake.iceberg.IcebergCatalog
    val wh = Files.createTempDirectory("graft_iceberg_cat_spec_").toString
    IcebergCatalog.createNamespace(wh, "analytics")
    assert(IcebergCatalog.listNamespaces(wh) == Seq("analytics"))
    val locA = IcebergCatalog.createTable(wh, "analytics", "a")
    // a created-but-uncommitted table is NOT listable (existence = metadata)
    assert(IcebergCatalog.listTables(wh, "analytics").isEmpty)
    IcebergTable.append(spark, lineitem.limit(20), locA)
    assert(IcebergCatalog.listTables(wh, "analytics") == Seq("a"))
    assert(IcebergCatalog.tableExists(wh, "analytics", "a"))
    // a second committed table
    IcebergTable.append(spark, lineitem.limit(10),
      IcebergCatalog.createTable(wh, "analytics", "b"))
    assert(IcebergCatalog.listTables(wh, "analytics") == Seq("a", "b"))
    assert(IcebergTable.read(spark,
      IcebergCatalog.tableLocation(wh, "analytics", "b")).count() == 10)
    // rename is unsupported — HadoopCatalog semantics (absolute paths in
    // metadata would be orphaned by a directory move)
    intercept[UnsupportedOperationException] {
      IcebergCatalog.renameTable(wh, "analytics", "b", "c")
    }
    // drop removes the table and its metadata entirely
    assert(IcebergCatalog.dropTable(wh, "analytics", "b"))
    assert(IcebergCatalog.listTables(wh, "analytics") == Seq("a"))
    assert(!IcebergCatalog.dropTable(wh, "analytics", "b"), "double drop reports false")
  }

  test("Puffin roundtrip: spec byte layout (magics, footer, offsets) survives write→read") {
    import graft.lake.iceberg.Puffin
    val f = Files.createTempFile("graft_puffin_", ".puffin").toFile
    val b1 = Puffin.kmvPayload(Seq(3L, 7L, 11L))
    val b2 = Array.fill[Byte](5)(42)
    val (size, footerSize) = Puffin.write(f,
      Seq(("graft-kmv-v1", Seq(1), 2L, 2L, b1), ("other-blob", Seq(2, 3), 2L, 2L, b2)),
      Map("created-by" -> "graft"))
    assert(f.length() == size)
    val (fm, payloadOf) = Puffin.read(f)
    assert(fm.blobs.size == 2 && fm.properties == Map("created-by" -> "graft"))
    val m1 = fm.blobs.head
    assert(m1.blobType == "graft-kmv-v1" && m1.fields == Seq(1))
    assert(m1.offset == 4 && m1.length == b1.length, "first blob follows the head magic")
    assert(fm.blobs(1).offset == 4 + b1.length)
    assert(payloadOf(m1).toSeq == b1.toSeq && payloadOf(fm.blobs(1)).toSeq == b2.toSeq)
    assert(Puffin.kmvDecode(payloadOf(m1)) == Seq(3L, 7L, 11L))
    // the raw bytes really carry the spec structure: PFA1 at both ends,
    // and the little-endian footer-payload size 12 bytes from the tail
    val bytes = Files.readAllBytes(f.toPath)
    assert(bytes.take(4).toSeq == Puffin.Magic.toSeq)
    assert(bytes.takeRight(4).toSeq == Puffin.Magic.toSeq)
    val ps = java.nio.ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(ps == footerSize)
  }

  test("Puffin property: random blob sets roundtrip byte-exactly (seeded trials)") {
    import graft.lake.iceberg.Puffin
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val nBlobs = 1 + rnd.nextInt(5)
      val blobs = (0 until nBlobs).map { i =>
        val payload = Array.fill[Byte](rnd.nextInt(2000))(rnd.nextInt().toByte)
        (s"type-$i", Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(100)),
          rnd.nextLong().abs, rnd.nextLong().abs, payload)
      }
      val props = (0 until rnd.nextInt(3)).map(i => s"k$i" -> s"v${rnd.nextInt(99)}").toMap
      val f = Files.createTempFile(s"graft_puffin_prop_$trial", ".puffin").toFile
      val (size, _) = Puffin.write(f, blobs, props)
      assert(f.length() == size, s"trial $trial: reported size")
      val (fm, payloadOf) = Puffin.read(f)
      assert(fm.properties == props, s"trial $trial: properties")
      assert(fm.blobs.size == nBlobs, s"trial $trial: blob count")
      fm.blobs.zip(blobs).foreach { case (m, (t, fields, snap, seq, payload)) =>
        assert(m.blobType == t && m.fields == fields &&
          m.snapshotId == snap && m.sequenceNumber == seq, s"trial $trial: metadata")
        assert(payloadOf(m).toSeq == payload.toSeq, s"trial $trial: payload bytes")
      }
      // offsets tile the blob section contiguously from the head magic
      val expectOffsets = blobs.map(_._5.length.toLong)
        .scanLeft(4L)(_ + _).init
      assert(fm.blobs.map(_.offset) == expectOffsets, s"trial $trial: offsets")
      f.delete()
    }
  }

  test("KMV estimate: exact below k, within 15% on a saturated sketch of 10k keys") {
    import graft.lake.iceberg.Puffin
    assert(Puffin.kmvEstimate(Seq(5L, 9L), 64) == 2.0)
    val hashes = (1L to 10000L).map(v => (v * Puffin.KmvHashMult) % Puffin.KmvHashMod)
      .distinct.sorted.take(64)
    val est = Puffin.kmvEstimate(hashes, 64)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.15, s"estimate $est too far from 10000")
  }

  test("statistics entry: bound to its snapshot via metadata, GC'd with it on expiry") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_stats_").toString
    T.append(spark, lineitem.limit(100), l)
    T.append(spark, lineitem.limit(200), l)
    val p1 = new File(s"$l/metadata/s1.puffin")
    val p2 = new File(s"$l/metadata/s2.puffin")
    graft.lake.iceberg.Puffin.write(p1, Seq(("graft-kmv-v1", Seq(1), 1L, 1L, Array[Byte](1))))
    graft.lake.iceberg.Puffin.write(p2, Seq(("graft-kmv-v1", Seq(1), 2L, 2L, Array[Byte](2))))
    T.setStatistics(l, T.StatsFileInfo(1L, p1.getPath, p1.length(), 0L))
    T.setStatistics(l, T.StatsFileInfo(2L, p2.getPath, p2.length(), 0L))
    assert(T.readMetadata(l).statistics.map(_.snapshotId).sorted == Seq(1L, 2L))
    // statistics survive unrelated commits (an append re-reads and carries them)
    T.append(spark, lineitem.limit(50), l)
    assert(T.readMetadata(l).statistics.size == 2)
    // expiry drops snapshot 1 and 2's stats files... keepLast=1 keeps snap 3
    T.expireSnapshots(l, keepLast = 1)
    assert(T.readMetadata(l).statistics.isEmpty)
    assert(!p1.exists() && !p2.exists(), "orphaned Puffin files are GC'd")
  }

  test("snapshot tailer: successive deltas partition the table exactly-once, then report caught-up") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_tail_").toString
    val s1 = lineitem.filter(col("l_orderkey") % 3 === 0L)
    val s2 = lineitem.filter(col("l_orderkey") % 3 === 1L)
    val s3 = lineitem.filter(col("l_orderkey") % 3 === 2L)
    T.append(spark, s1, l)
    // first batch: everything up to the current head
    val (w1, b1) = T.tailDelta(spark, l, 0L)
    assert(w1 == 1L && b1.get.count() == s1.count())
    // two appends land before the consumer polls again — one batch drains both
    T.append(spark, s2, l)
    T.append(spark, s3, l)
    val (w2, b2) = T.tailDelta(spark, l, w1)
    assert(w2 == 3L && b2.get.count() == s2.count() + s3.count())
    // exactly-once: the drained batches partition the table
    assert(b1.get.count() + b2.get.count() == T.read(spark, l).count())
    // and no overlap: each batch carries only its slices' residue classes
    assert(b1.get.filter(col("l_orderkey") % 3 =!= 0L).count() == 0)
    assert(b2.get.filter(col("l_orderkey") % 3 === 0L).count() == 0)
    // caught up: no new snapshot, no batch
    val (w3, b3) = T.tailDelta(spark, l, w2)
    assert(w3 == w2 && b3.isEmpty)
  }

  test("concurrent appendOcc: six racing DATA commits all land — no lost updates, contiguous ids") {
    import graft.lake.iceberg.{IcebergTable => T}
    import scala.jdk.CollectionConverters._
    val l = Files.createTempDirectory("graft_iceberg_occ_append_").toString
    val base = lineitem.filter(col("l_orderkey") % 13 === 0L)
    T.append(spark, base, l)
    val slices = (1 to 6).map(i => lineitem.filter(col("l_orderkey") % 13 === i.toLong))
    val counts = slices.map(_.count())
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.map { s =>
      new Thread(() => {
        try results.add(T.appendOcc(spark, s, l))
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"racing append died: ${failures.asScala.headOption}")
    val meta = T.readMetadata(l)
    // all six commits landed as distinct, contiguous snapshots
    assert(meta.snapshots.map(_.id).sorted == (1L to 7L))
    assert(results.asScala.map(_._1).toSet.size == 6)
    // no lost update: the table holds every slice's rows exactly once
    assert(T.read(spark, l).count() == base.count() + counts.sum)
    // the head manifest list reaches all seven manifests
    val head = T.readManifestList(meta.snapshots.maxBy(_.id).manifestList)
    assert(head.size == 7)
    assert(head.map(_.addedRows).sum == base.count() + counts.sum)
  }

  test("clustered write: rank-block files tile each month and date scans skip; hashed files don't") {
    import graft.lake.iceberg.{IcebergTable => T}
    val data = lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM")
      .between("1997-01", "1997-03"))
    val ls = Files.createTempDirectory("graft_iceberg_cl_").toString
    val lh = Files.createTempDirectory("graft_iceberg_ha_").toString
    T.append(spark, data, ls, clusterFiles = Some((4, true)))
    T.append(spark, data, lh, clusterFiles = Some((4, false)))
    val fullS = T.planFiles(ls)
    val fullH = T.planFiles(lh)
    // identical file counts: 3 months × 4 files
    assert(fullS.filesTotal == fullH.filesTotal)
    assert(fullS.filesTotal == 12)
    // both layouts hold exactly the source rows
    assert(fullS.files.map(_.recordCount).sum == data.count())
    assert(fullH.files.map(_.recordCount).sum == data.count())
    // clustered file bounds within a month are (near-)disjoint rank blocks;
    // hashed bounds all span the month — a mid-month probe separates them
    val planS = T.planFiles(ls, None, None, None, Some("1997-02-08"), Some("1997-02-21"))
    val planH = T.planFiles(lh, None, None, None, Some("1997-02-08"), Some("1997-02-21"))
    assert(planH.filesSelected == 4, "every hashed Feb file overlaps the probe")
    assert(planS.filesSelected < planH.filesSelected,
      s"clustering must skip files: ${planS.filesSelected} vs ${planH.filesSelected}")
    // planning is sound: planned rows cover all matching rows
    val matching = data.filter(date_format(col("l_shipdate"), "yyyy-MM-dd")
      .between("1997-02-08", "1997-02-21")).count()
    assert(planS.files.map(_.recordCount).sum >= matching)
  }

  test("incremental scan (1,2]: exactly snapshot 2's files, snapshot 1's manifest skipped by lineage") {
    val inc = IcebergTable.planIncremental(loc, 1L, 2L)
    // lineage-keyed two-level skip: the pre-cut manifest is never opened
    assert(inc.manifestsTotal == 2 && inc.manifestsRead == 1)
    // planned rows = exactly the post-cut half
    val expect = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")).count()
    assert(inc.files.map(_.recordCount).sum == expect)
    assert(inc.files.forall(_.partition >= "1997-01"))
    // (0,1] is the complement, and (0,2] is the full table
    val first = IcebergTable.planIncremental(loc, 0L, 1L)
    assert(first.files.map(_.recordCount).sum == lineitem.count() - expect)
    val full = IcebergTable.planIncremental(loc, 0L, 2L)
    assert(full.files.map(_.recordCount).sum == lineitem.count())
    // incremental union reproduces the current snapshot's full plan
    assert((first.files ++ inc.files).map(_.path).toSet ==
      IcebergTable.planFiles(loc).files.map(_.path).toSet)
  }

  test("zorder rewrite: replace snapshot, data preserved, both dims bounded, old layout time-travels") {
    import graft.lake.iceberg.{IcebergOps, IcebergTable}
    val census = IcebergOps.zorderRewrite(spark, lineitem).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("files_total"), r.getAs[Long]("files_scanned"),
          r.getAs[Long]("rows_planned"), r.getAs[Long]("rows_matching"))).toMap
    val (hf, hs, hp, hm) = census("1_hashed")
    val (zf, zs, zp, zm) = census("2_zorder")
    assert(hm == zm, "matching rows are layout-independent")
    assert(zs < hs && zp < hp, "the 2-dim layout must prune strictly more for the conjunctive probe")
    assert(zp >= zm && hp >= hm, "planning can only overcount matching rows")
    // the rewrite is a replace snapshot that preserves every row, and the
    // hashed layout remains readable by time travel
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.zorder")(
      fail("fixture must exist"): String)
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    assert(snaps.length == 2 && snaps.last.operation == "replace")
    assert(IcebergTable.read(spark, loc).count() == lineitem.count())
    assert(IcebergTable.read(spark, loc, Some(snaps.head.id)).count() == lineitem.count())
    // bound honesty: every z file's manifest quantity bounds bracket a
    // true sub-scan, and the z layout's mean quantity span is strictly
    // tighter than the hashed layout's (the clustering dividend)
    def spans(sid: Long): Seq[Long] = {
      val ms = IcebergTable.readManifestList(meta.snapshots.find(_.id == sid).get.manifestList)
      IcebergTable.readManifestsParallel(ms.map(_.path)).flatten.filter(_.content == 0)
        .map(f => f.wideBounds("l_quantity")._2.toLong - f.wideBounds("l_quantity")._1.toLong)
    }
    val zSpans = spans(snaps.last.id); val hSpans = spans(snaps.head.id)
    assert(zSpans.sum.toDouble / zSpans.size < hSpans.sum.toDouble / hSpans.size,
      "z files must bound quantity tighter than hash files on average")
  }

  test("changelog: conservation per step, fold asserts the union but nets zero") {
    val rows = graft.lake.iceberg.IcebergOps.changelogScan(spark, lineitem).collect()
      .sortBy(_.getAs[String]("step"))
    assert(rows.length == 7, "2 append eras + 4 waves + fold")
    var cumIns = 0L; var cumNet = 0L
    rows.foreach { r =>
      cumIns += r.getAs[Long]("n_inserts"); cumNet += r.getAs[Long]("n_deletes_net")
      assert(r.getAs[Long]("live_rows") == cumIns - cumNet,
        s"conservation broken at ${r.getAs[String]("step")}")
      assert(r.getAs[Long]("n_deletes_net") <= r.getAs[Long]("n_deletes_asserted"),
        "net deletes can never exceed asserted")
    }
    assert(rows.take(2).forall(_.getAs[String]("step").endsWith("_append")))
    val waves = rows.slice(2, 6); val fold = rows.last
    waves.foreach(w => assert(w.getAs[Long]("n_deletes_net") == w.getAs[Long]("n_deletes_asserted"),
      "disjoint waves are all-new deletes"))
    assert(fold.getAs[Long]("n_deletes_asserted") == waves.map(_.getAs[Long]("n_deletes_asserted")).sum,
      "fold asserts exactly the union of the waves")
    assert(fold.getAs[Long]("n_deletes_net") == 0L, "re-asserted positions must dedupe to zero")
    assert(fold.getAs[Long]("live_rows") == waves.last.getAs[Long]("live_rows"))
    assert(rows.head.getAs[Long]("n_inserts") + rows(1).getAs[Long]("n_inserts") == lineitem.count())
  }

  test("files/manifests/history metadata tables: census from metadata alone") {
    import graft.lake.iceberg.IcebergOps
    val fm = IcebergOps.filesMeta(spark, lineitem).collect()
    assert(fm.map(_.getAs[Long]("n_rows")).sum == lineitem.count())
    assert(fm.forall(r =>
      r.getAs[Long]("added_snapshot_id") == r.getAs[Long]("sequence_number")))
    val mm = IcebergOps.manifestsMeta(spark, lineitem).collect()
    assert(mm.length == 2, "one manifest per commit era")
    assert(mm.map(_.getAs[Long]("n_added_rows")).sum == lineitem.count())
    val hm = IcebergOps.historyMeta(spark, lineitem).collect()
    assert(hm.length == 2)
    assert(hm.last.getAs[Boolean]("is_current") && !hm.head.getAs[Boolean]("is_current"))
    assert(hm.last.getAs[Long]("live_data_rows") == lineitem.count())
    assert(hm.last.getAs[Long]("n_manifests") == 2L)
  }

  test("changelog over mixed delete forms: eq + positional histories emit per-step truth") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.changelogMixed(spark, lineitem).collect()
      .sortBy(_.getAs[String]("step"))
    assert(rows.map(_.getAs[String]("step")).toSeq ==
      Seq("1_append", "2_append", "3_delete", "4_delete"))
    var cumIns = 0L; var cumNet = 0L
    rows.foreach { r =>
      cumIns += r.getAs[Long]("n_inserts"); cumNet += r.getAs[Long]("n_deletes_net")
      assert(r.getAs[Long]("live_rows") == cumIns - cumNet,
        s"conservation broken at ${r.getAs[String]("step")}")
    }
    val tot = lineitem.count()
    val r3 = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L).count()
    val r7 = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 7L).count()
    assert(rows(1).getAs[Long]("live_rows") == tot)
    // equality step: asserted = distinct keys, net = matching ROWS
    assert(rows(2).getAs[Long]("n_deletes_net") == r3)
    assert(rows(2).getAs[Long]("n_deletes_asserted") ==
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L)
        .select(col("l_orderkey")).distinct().count())
    // positional step: asserted = net = victim positions (disjoint residue)
    assert(rows(3).getAs[Long]("n_deletes_net") == r7)
    assert(rows(3).getAs[Long]("n_deletes_asserted") == r7)
    assert(rows(3).getAs[Long]("live_rows") == tot - r3 - r7)
  }

  test("bucket transform: point lookup opens one branch manifest and one file") {
    import graft.lake.iceberg.{IcebergOps, IcebergTable}
    val rows = IcebergOps.bucketPointLookup(spark, lineitem).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("manifests_read") == 1L,
        "bucket summaries must prune to one branch")
      assert(r.getAs[Long]("files_scanned") == 1L, "one file per bucket")
      assert(r.getAs[Long]("files_scanned") < r.getAs[Long]("files_total"))
      assert(r.getAs[Long]("manifests_read") < r.getAs[Long]("manifests_total"))
      assert(r.getAs[Long]("key_rows") > 0L, "the probe key's rows must be in the selected file")
      assert(r.getAs[Long]("bucket_rows") >= r.getAs[Long]("key_rows"))
      assert(r.getAs[String]("bucket") ==
        IcebergTable.bucketLabel(
          if (r.getAs[String]("probe") == "kmax")
            lineitem.agg(max(col("l_orderkey"))).head().getLong(0)
          else lineitem.agg(min(col("l_orderkey"))).head().getLong(0)))
    }
  }

  test("bucket evolution: cross-spec planning is complete and prunes per era") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.bucketEvolution(spark, lineitem).collect()
      .map(r => r.getAs[String]("step") -> r).toMap
    val p1 = rows("1_point_month_era")
    assert(p1.getAs[Long]("files_scanned") == p1.getAs[Long]("era_files"),
      "identity era cannot prune by key — every file stays a candidate")
    val p2 = rows("2_point_bucket_era")
    assert(p2.getAs[Long]("files_scanned") <= 1L)
    val r3 = rows("3_range_month_era")
    assert(r3.getAs[Long]("files_scanned") == 0L && r3.getAs[Long]("check_rows") == 0L,
      "post-cut range must skip the month era at manifest level")
    val r4 = rows("4_range_bucket_era")
    assert(r4.getAs[Long]("files_scanned") == r4.getAs[Long]("era_files"),
      "hash-scattered bucket files all overlap the range at their ship bounds")
    // completeness: the cross-spec point lookup finds every row of the key
    val kmax = lineitem.agg(max(col("l_orderkey"))).head().getLong(0)
    assert(p1.getAs[Long]("check_rows") + p2.getAs[Long]("check_rows") ==
      lineitem.filter(col("l_orderkey") === kmax).count())
  }

  test("bucket table metadata defines the bucket[16] partition spec (spec-follower readable)") {
    import graft.lake.iceberg.IcebergTable
    val slice = lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM") === "1997-03")
    val loc = java.nio.file.Files.createTempDirectory("graft_iceberg_bucketspec_").toString
    IcebergTable.appendBucket(spark, slice, loc)
    val mdir = new java.io.File(s"$loc/metadata")
    val latest = mdir.listFiles().filter(_.getName.endsWith(".metadata.json"))
      .maxBy(_.getName)
    val json = new String(java.nio.file.Files.readAllBytes(latest.toPath))
    assert(json.contains("\"transform\":\"bucket[" + IcebergTable.BucketN + "]\""),
      "partition-specs must DEFINE the bucket transform a spec-following reader needs")
    assert(json.contains("\"default-spec-id\":2"))
  }

  test("bucket MOR lookup: one-file scan, DV-deleted keys net zero, live keys intact") {
    import graft.lake.iceberg.IcebergOps
    val rows = IcebergOps.bucketMorLookup(spark, lineitem).collect()
    assert(rows.length == 2)
    val keys = Map(
      "kmin" -> lineitem.agg(min(col("l_orderkey"))).head().getLong(0),
      "kmax" -> lineitem.agg(max(col("l_orderkey"))).head().getLong(0))
    rows.foreach { r =>
      assert(r.getAs[Long]("files_scanned") == 1L, "bucket plan must stay one file under MOR")
      val key = keys(r.getAs[String]("probe"))
      val expect =
        if (key % IcebergOps.DeleteKeyMod == IcebergOps.BucketMorResidue) 0L
        else lineitem.filter(col("l_orderkey") === key).count()
      assert(r.getAs[Long]("live_key_rows") == expect,
        s"probe ${r.getAs[String]("probe")}: DV resolution wrong on the one-file scan")
      // manifest-stats cardinality equals the residue population of the
      // probe's bucket (possibly zero — TPC-H orderkeys are sparse mod 10)
      val inBucket = pmod(pmod(col("l_orderkey") * lit(graft.lake.iceberg.Puffin.KmvHashMult),
        lit(graft.lake.iceberg.Puffin.KmvHashMod)), lit(IcebergTable.BucketN.toLong))
      val expectDeleted = lineitem.filter(
        inBucket === (IcebergTable.bucketLabel(key).drop(1).toLong) &&
        pmod(col("l_orderkey"), lit(IcebergOps.DeleteKeyMod)) === IcebergOps.BucketMorResidue
      ).count()
      assert(r.getAs[Long]("deleted_in_file") == expectDeleted,
        s"probe ${r.getAs[String]("probe")}: DV cardinality != bucket residue population")
    }
  }

  test("row lineage: second lineage-preserving compaction keeps materialized ids") {
    import graft.lake.iceberg.IcebergTable
    val slice = lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM") === "1997-02")
    val loc = java.nio.file.Files.createTempDirectory("graft_iceberg_lineage2_").toString
    IcebergTable.append(spark, slice, loc, sorted = true)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 4L)
    IcebergTable.rewriteCompact(spark, loc, materializeLineage = true)
    def idsNow(): Set[(String, String, Long)] =
      IcebergTable.withLineage(IcebergTable.readMorUnified(spark, loc)._1)
        .select(col("l_orderkey"), col("l_linenumber"), col("_row_id"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString,
          r.getAs[Long]("_row_id"))).toSet
    val after1 = idsNow()
    // second DV wave + lineage-preserving compaction: every survivor must
    // keep its ORIGINAL id — a withRowIds read that re-derived
    // firstRowId + position over the already-compacted files would
    // relabel all of them (the files carry fresh firstRowIds)
    IcebergTable.appendDvPuffin(spark, loc, pmod(col("l_orderkey"), lit(10L)) === 5L)
    IcebergTable.rewriteCompact(spark, loc, materializeLineage = true)
    val after2 = idsNow()
    assert(after2.nonEmpty && after2.size < after1.size)
    assert(after2.subsetOf(after1),
      "second lineage-preserving compaction relabeled surviving rows")
  }

  test("partitions metadata table: per-month census from metadata alone matches the data") {
    val pm = graft.lake.iceberg.IcebergOps.partitionsMeta(spark, lineitem)
    val got = pm.select(sum(col("n_rows")), sum(col("n_files")), count(lit(1))).head()
    val months = lineitem.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    assert(got.getLong(0) == lineitem.count())
    assert(got.getLong(1) == months, "one file per month (cut is a month boundary)")
    assert(got.getLong(2) == months)
  }

  test("entries metadata table: all entry kinds with scoping coordinates, metadata-only") {
    val em = graft.lake.iceberg.IcebergOps.entriesMeta(spark, lineitem).collect()
    val byKind = em.groupBy(_.getAs[String]("content_type"))
    val months = lineitem.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    assert(byKind("data").length == months)
    assert(byKind("data").map(_.getAs[Long]("n_rows")).sum == lineitem.count())
    // delete entries surface with their real scoping coordinates
    val eq = byKind("equality_deletes")
    assert(eq.length == 1 && eq.head.getAs[Long]("sequence_number") == 3L)
    assert(eq.head.getAs[Long]("n_rows") ==
      lineitem.filter(col("l_orderkey") % 10 === 3L).select("l_orderkey").distinct().count())
    val pos = byKind("position_deletes")
    assert(pos.length == 1 && pos.head.getAs[Long]("sequence_number") == 4L)
    assert(pos.head.getAs[Long]("n_rows") ==
      lineitem.filter(col("l_orderkey") % 10 === 7L).count())
  }

  test("rewrite_position_deletes: one DV per file, preserved scoping, reads unchanged") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_rwdel_spec_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    // an equality delete must ride through the rewrite untouched
    T.appendEqualityDeletes(spark,
      lineitem.filter(col("l_orderkey") % 10 === 3L).select(col("l_orderkey")).distinct(), l)
    T.appendPositionDeletes(spark, l, pmod(col("l_orderkey"), lit(10L)) === 7L)
    T.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(10L)) === 6L)
    T.appendPositionDeletes(spark, l, pmod(col("l_orderkey"), lit(5L)) === 2L)
    // the synthetic lineitem is NOT unique on (orderkey, linenumber) —
    // 4599 distinct pairs over 6000 rows — so row identity must be a
    // MULTISET fingerprint, not a Set: count + order-insensitive sum of
    // full-row hashes
    def rowsNow(): (Long, java.math.BigDecimal) = {
      val r = T.readMorUnified(spark, l)._1
        .select(xxhash64(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
          .cast("decimal(38,0)").as("h")) // decimal sum: xxhash64 sums overflow int64 under ANSI
        .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val before = rowsNow()
    T.rewritePositionDeletes(spark, l)
    // the rewrite is a replace: identical visible rows before and after
    assert(rowsNow() == before, "rewrite changed the visible row set")
    val meta = T.readMetadata(l)
    assert(T.currentSnapshot(meta).operation == "replace")
    val entries = T.readManifestList(T.currentSnapshot(meta).manifestList)
      .flatMap(m => T.readManifest(m.path))
    val positional = entries.filter(_.content == 1)
    assert(positional.forall(_.referencedDataFile.isDefined),
      "pos-parquet delete files survived the rewrite")
    // the v3 invariant: at most one DV per referenced data file
    assert(positional.groupBy(_.referencedDataFile.get).forall(_._2.size == 1))
    // scoping PRESERVED: each entry carries the max sequence of the waves
    // that contributed positions to ITS file (delete commits are 4/5/6),
    // never the rewrite snapshot's (7); the overlapping mod-5 wave (6)
    // touches at least one file, so the max must be 6
    assert(positional.forall(e => e.sequence >= 4L && e.sequence <= 6L))
    assert(positional.map(_.sequence).max == 6L)
    // union cardinality: overlap between the mod-10=7 and mod-5=2 waves
    // is counted once
    val unionExpected = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) === 7L ||
      pmod(col("l_orderkey"), lit(10L)) === 6L ||
      pmod(col("l_orderkey"), lit(5L)) === 2L).count()
    assert(positional.map(_.recordCount).sum == unionExpected)
    // equality deletes and data manifests are untouched
    assert(entries.count(_.content == 2) == 1)
    val months = lineitem.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()
    assert(entries.count(_.content == 0) == months)
    // survivors = complement of the equality key AND the positional union
    val expectLive = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) =!= 3L &&
      pmod(col("l_orderkey"), lit(10L)) =!= 7L &&
      pmod(col("l_orderkey"), lit(10L)) =!= 6L &&
      pmod(col("l_orderkey"), lit(5L)) =!= 2L).count()
    assert(before._1 == expectLive)
    // idempotence: consolidating an already-consolidated table keeps the
    // same blob census and row set
    T.rewritePositionDeletes(spark, l)
    val again = T.readManifestList(
        T.currentSnapshot(T.readMetadata(l)).manifestList)
      .flatMap(m => T.readManifest(m.path)).filter(_.content == 1)
    assert(again.size == positional.size &&
      again.map(_.recordCount).sum == unionExpected)
    assert(rowsNow() == before)
  }

  test("rewrite_position_deletes on a DV-only history (no pos-parquet arm)") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_rwdel_dv_spec_").toString
    T.append(spark, lineitem, l)
    // two overlapping DV waves and nothing else — exercises the rewrite's
    // fromParquet=None path and pure DV-to-DV consolidation
    T.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(10L)) === 6L)   // seq 2
    T.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(5L)) === 1L)    // seq 3 (≡1,6 mod 10)
    def liveCount(): Long = T.readMorUnified(spark, l)._1.count()
    val before = liveCount()
    val expectLive = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) =!= 6L &&
      pmod(col("l_orderkey"), lit(5L)) =!= 1L).count()
    assert(before == expectLive)
    T.rewritePositionDeletes(spark, l)
    assert(liveCount() == before, "DV-only rewrite changed the visible row set")
    val positional = T.readManifestList(
        T.currentSnapshot(T.readMetadata(l)).manifestList)
      .flatMap(m => T.readManifest(m.path)).filter(_.content == 1)
    assert(positional.forall(_.referencedDataFile.isDefined))
    assert(positional.groupBy(_.referencedDataFile.get).forall(_._2.size == 1),
      "more than one DV per data file after consolidation")
    // union cardinality: the ≡6 wave is a subset-overlap of the ≡1 mod 5
    // wave only where residues coincide (6 ≡ 1 mod 5), so union = filter
    val unionExpected = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) === 6L ||
      pmod(col("l_orderkey"), lit(5L)) === 1L).count()
    assert(positional.map(_.recordCount).sum == unionExpected)
    // per-file scoping: every file touched by the second wave carries 3;
    // wave 1 (≡6) ⊂ wave 2's residue class mod 5, so ALL entries are 3
    assert(positional.forall(_.sequence == 3L))
  }

  test("rewrite_position_deletes on a pos-parquet-only history (no DV arm)") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_rwdel_pos_spec_").toString
    T.append(spark, lineitem, l)
    // two disjoint v2 pos-delete parquet waves and nothing else —
    // exercises the rewrite's fromDv=None path: pure v2 → v3 migration
    T.appendPositionDeletes(spark, l, pmod(col("l_orderkey"), lit(10L)) === 4L) // seq 2
    T.appendPositionDeletes(spark, l, pmod(col("l_orderkey"), lit(10L)) === 9L) // seq 3
    def liveCount(): Long = T.readMorUnified(spark, l)._1.count()
    val before = liveCount()
    T.rewritePositionDeletes(spark, l)
    assert(liveCount() == before, "pos-only rewrite changed the visible row set")
    val positional = T.readManifestList(
        T.currentSnapshot(T.readMetadata(l)).manifestList)
      .flatMap(m => T.readManifest(m.path)).filter(_.content == 1)
    // v3 invariant reached from pure v2 input: every surviving positional
    // entry is a DV, one per referenced file, disjoint-union cardinality
    assert(positional.nonEmpty && positional.forall(_.referencedDataFile.isDefined))
    assert(positional.groupBy(_.referencedDataFile.get).forall(_._2.size == 1))
    val unionExpected = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) === 4L ||
      pmod(col("l_orderkey"), lit(10L)) === 9L).count()
    assert(positional.map(_.recordCount).sum == unionExpected)
    // per-file scoping: disjoint waves → a file's sequence is 3 only if
    // the ≡9 wave touched it, 2 if only the ≡4 wave did; both appear at
    // this scale and nothing takes the rewrite snapshot's sequence (4)
    assert(positional.forall(e => e.sequence == 2L || e.sequence == 3L))
    assert(positional.map(_.sequence).max == 3L)
  }

  test("DSv2 SQL front door: select parity, pushdown census, time travel, MOR resolution") {
    import graft.lake.iceberg.{GraftCatalog, GraftSqlScanCensus, IcebergCatalog, IcebergTable => T}
    val w = Files.createTempDirectory("graft_iceberg_sql_spec_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val t1 = IcebergCatalog.createTable(w, "ns", "li")
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), t1)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), t1)
    spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.warehouse", w)
    // full-table parity with the source
    val got = spark.sql(
      "SELECT count(*) AS n, round(sum(l_quantity), 4) AS q FROM gtest.ns.li").head()
    val src = lineitem.agg(count(lit(1)), round(sum(col("l_quantity")), 4)).head()
    assert(got.getLong(0) == src.getLong(0) && got.getDouble(1) == src.getDouble(1))
    // pushdown: a one-quarter window must plan a strict subset of files
    val q1 = spark.sql(
      """SELECT count(*) AS n FROM gtest.ns.li
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin).head().getLong(0)
    val expectQ1 = lineitem.filter(
      col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-04-01").cast("timestamp")).count()
    assert(q1 == expectQ1, "pushed-filter SQL returned wrong rows")
    val census = GraftSqlScanCensus.forLocation(t1)
    assert(census.filesSelected < census.filesTotal,
      s"no file pruning: ${census.filesSelected} of ${census.filesTotal}")
    // column pruning reached the parquet projection
    assert(census.colsRead < census.colsTotal)
    // time travel
    val v1 = spark.sql("SELECT count(*) FROM gtest.ns.li VERSION AS OF 1").head().getLong(0)
    assert(v1 == lineitem.filter(
      col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count())
    // MOR: equality + DV waves resolved inside the DSv2 reader
    val t2 = IcebergCatalog.createTable(w, "ns", "li_mor")
    T.append(spark, lineitem, t2)
    T.appendEqualityDeletes(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 3L)
        .select(col("l_orderkey")).distinct(), t2)
    T.appendDvPuffin(spark, t2, pmod(col("l_orderkey"), lit(10L)) === 6L)
    val live = spark.sql("SELECT count(*) FROM gtest.ns.li_mor").head().getLong(0)
    val expectLive = lineitem.filter(
      pmod(col("l_orderkey"), lit(10L)) =!= 3L &&
      pmod(col("l_orderkey"), lit(10L)) =!= 6L).count()
    assert(live == expectLive, s"DSv2 MOR read: $live vs $expectLive")
    // SQL result equals the library MOR read row-for-row (checksum grain)
    val sqlSum = spark.sql(
      "SELECT round(sum(l_extendedprice), 2) FROM gtest.ns.li_mor").head().getDouble(0)
    val libSum = T.readMorUnified(spark, t2)._1
      .agg(round(sum(col("l_extendedprice")), 2)).head().getDouble(0)
    assert(math.abs(sqlSum - libSum) < 1e-6)
    // catalog surface: listing sees both committed tables
    assert(spark.sql("SHOW TABLES IN gtest.ns").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("li", "li_mor"))
    // the WRITE half: INSERT INTO routes through the committing append —
    // a second snapshot appears and SQL reads the union
    val preN = spark.sql("SELECT count(*) FROM gtest.ns.li").head().getLong(0)
    lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 2L)
      .createOrReplaceTempView("gtest_ins_src")
    spark.sql("INSERT INTO gtest.ns.li SELECT * FROM gtest_ins_src")
    val insN = lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 2L).count()
    assert(spark.sql("SELECT count(*) FROM gtest.ns.li").head().getLong(0) == preN + insN)
    val metaIns = T.readMetadata(t1)
    assert(metaIns.snapshots.size == 3 &&
      metaIns.snapshots.last.operation == "append")
    // the SQL-inserted era is a first-class incremental range
    assert(T.planIncremental(t1, fromId = 2L, toId = 3L)
      .files.map(_.recordCount).sum == insN)
    // time-travel writes refuse
    intercept[Exception] {
      spark.sql("INSERT INTO gtest.ns.li VERSION AS OF 1 SELECT * FROM gtest_ins_src")
    }
    // CREATE TABLE + INSERT, entirely in SQL: the created table's first
    // metadata version makes it scannable while empty, the first insert
    // commits snapshot 1
    spark.sql("""CREATE TABLE gtest.ns.li_new
      |(l_orderkey BIGINT, l_shipdate TIMESTAMP, l_quantity DOUBLE)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.li_new").head().getLong(0) == 0L)
    spark.sql("""INSERT INTO gtest.ns.li_new
      |SELECT l_orderkey, l_shipdate, l_quantity FROM gtest_ins_src""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.li_new").head().getLong(0) == insN)
    assert(T.readMetadata(IcebergCatalog.tableLocation(w, "ns", "li_new"))
      .snapshots.map(_.id) == Seq(1L))
    // SELECT the DDL-typed (LTZ) TIMESTAMP column back — the committer
    // pins int64 micros on write (spec physical form; Spark's session
    // default would be int96 for LTZ) and the vectorized reader decodes
    // any form, so the values round-trip exactly
    val tsBack = spark.sql(
      "SELECT CAST(min(l_shipdate) AS STRING), CAST(max(l_shipdate) AS STRING) " +
        "FROM gtest.ns.li_new").head()
    val tsSrc = spark.sql(
      "SELECT CAST(min(CAST(l_shipdate AS TIMESTAMP)) AS STRING), " +
        "CAST(max(CAST(l_shipdate AS TIMESTAMP)) AS STRING) FROM gtest_ins_src").head()
    assert(tsBack == tsSrc, s"timestamp round-trip: $tsBack vs $tsSrc")
    val liNewFile = T.planFiles(
      IcebergCatalog.tableLocation(w, "ns", "li_new")).files.head.path
    assert(graft.lake.iceberg.GraftVectorized.fileSchemaOf(liNewFile)
      .getType(Seq("l_shipdate"): _*).asPrimitiveType().getPrimitiveTypeName.toString == "INT64",
      "LTZ column must be written as the spec's int64 micros, not int96")
    // CTAS: the table is born committed with exactly the query's rows
    spark.sql("CREATE TABLE gtest.ns.li_ctas AS SELECT * FROM gtest_ins_src")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.li_ctas").head().getLong(0) == insN)
    assert(spark.sql("SHOW TABLES IN gtest.ns").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("li", "li_ctas", "li_mor", "li_new"))
    // TIMESTAMP AS OF: synthetic commit timestamps are id*1000 ms, so
    // second 1 of the epoch resolves snapshot 1 (the pre-cut era)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.ns.li TIMESTAMP AS OF '1970-01-01 00:00:01'")
      .head().getLong(0) ==
      lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count())
    // DELETE FROM commits one v3 DV snapshot; the SQL read resolves it
    // (modulo is not a pushable source filter — use a pushable range)
    val cutoff = spark.sql("SELECT percentile_approx(l_orderkey, 0.5) FROM gtest.ns.li_ctas")
      .head().get(0).toString
    val before = spark.sql("SELECT count(*) FROM gtest.ns.li_ctas").head().getLong(0)
    val victims = spark.sql(
      s"SELECT count(*) FROM gtest.ns.li_ctas WHERE l_orderkey <= $cutoff").head().getLong(0)
    spark.sql(s"DELETE FROM gtest.ns.li_ctas WHERE l_orderkey <= $cutoff")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.li_ctas").head().getLong(0) ==
      before - victims, "SQL DELETE did not remove exactly the matching rows")
    val ctasMeta = T.readMetadata(IcebergCatalog.tableLocation(w, "ns", "li_ctas"))
    assert(ctasMeta.snapshots.size == 2 &&
      ctasMeta.snapshots.last.operation == "delete")
    // a zero-match DELETE is a no-op — no empty commit
    spark.sql("DELETE FROM gtest.ns.li_ctas WHERE l_orderkey < 0")
    assert(T.readMetadata(IcebergCatalog.tableLocation(w, "ns", "li_ctas"))
      .snapshots.size == 2)
    // SHOW NAMESPACES sees the namespace; CREATE/DROP round-trips
    assert(spark.sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).contains("ns"))
    spark.sql("CREATE NAMESPACE gtest.scratchns")
    assert(spark.sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).contains("scratchns"))
    spark.sql("DROP NAMESPACE gtest.scratchns")
    assert(!spark.sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).contains("scratchns"))
  }

  test("DSv2 row-level SQL: UPDATE and MERGE commit DV+replacement snapshots; ALTER TABLE ADD COLUMN") {
    import graft.lake.iceberg.{GraftCatalog, IcebergCatalog, IcebergTable => T}
    val w = Files.createTempDirectory("graft_iceberg_rls_spec_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val t = IcebergCatalog.createTable(w, "ns", "li")
    T.append(spark, lineitem, t)
    spark.conf.set("spark.sql.catalog.grl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grl.warehouse", w)
    val baseN = lineitem.count()
    val baseQty = lineitem.agg(sum(col("l_quantity"))).head().getDouble(0)

    // UPDATE → one "overwrite" snapshot: DV over the victims' coordinates
    // + month-partitioned replacement files written by the executors
    val nVict = lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 7L).count()
    spark.sql("UPDATE grl.ns.li SET l_quantity = l_quantity + 100 WHERE l_orderkey % 100 = 7")
    val afterUpd = spark.sql(
      "SELECT count(*), round(sum(l_quantity), 4) FROM grl.ns.li").head()
    assert(afterUpd.getLong(0) == baseN, "UPDATE must not change row count")
    assert(math.abs(afterUpd.getDouble(1) -
      BigDecimal(baseQty + 100.0 * nVict).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
    val metaU = T.readMetadata(t)
    assert(metaU.snapshots.size == 2 && metaU.snapshots.last.operation == "overwrite")
    val entriesU = T.readManifestList(T.currentSnapshot(metaU).manifestList)
      .flatMap(m => T.readManifest(m.path))
    assert(entriesU.filter(_.content == 1).map(_.recordCount).sum == nVict,
      "DV cardinality must equal the victim count")
    assert(entriesU.exists(e => e.content == 0 && e.entrySnapshotId == 2L),
      "replacement data files must ride in the same snapshot")
    // SQL read ≡ library MOR read after the update
    val sqlQty = spark.sql("SELECT round(sum(l_quantity), 4) FROM grl.ns.li").head().getDouble(0)
    val libQty = T.readMorUnified(spark, t)._1
      .agg(round(sum(col("l_quantity")), 4)).head().getDouble(0)
    assert(math.abs(sqlQty - libQty) < 1e-6)

    // MERGE: matched rows update, unmatched source rows insert. The
    // synthetic lineitem does NOT have a unique (l_orderkey, l_linenumber)
    // pair, so the matched source keeps only pair-unique rows — a
    // duplicate match key is a real MERGE_CARDINALITY_VIOLATION.
    val wPair = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey", "l_linenumber")
    val matched = lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 11L)
      .withColumn("__c", count(lit(1)).over(wPair)).filter(col("__c") === 1L).drop("__c")
    val inserted = lineitem.filter(pmod(col("l_orderkey"), lit(1000L)) === 13L)
      .withColumn("l_orderkey", col("l_orderkey") + lit(900000000L))
    matched.unionByName(inserted).createOrReplaceTempView("grl_merge_src")
    val nMatch = matched.count(); val nIns = inserted.count()
    spark.sql(
      """MERGE INTO grl.ns.li t USING grl_merge_src s
        |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity + 1000
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMrg = spark.sql(
      "SELECT count(*), round(sum(l_quantity), 4) FROM grl.ns.li").head()
    assert(afterMrg.getLong(0) == baseN + nIns)
    val expectQty = baseQty + 100.0 * nVict + 1000.0 * nMatch +
      inserted.agg(sum(col("l_quantity"))).head().getDouble(0)
    assert(math.abs(afterMrg.getDouble(1) -
      BigDecimal(expectQty).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
    val metaM = T.readMetadata(t)
    assert(metaM.snapshots.size == 3 && metaM.snapshots.last.operation == "overwrite")

    // row-level DELETE with a non-pushable predicate rides the same delta
    // path (the pushable-filter DELETE keeps its metadata-only DV commit)
    val delN = spark.sql(
      "SELECT count(*) FROM grl.ns.li WHERE l_orderkey % 100 = 29").head().getLong(0)
    spark.sql("DELETE FROM grl.ns.li WHERE l_orderkey % 100 = 29")
    assert(spark.sql("SELECT count(*) FROM grl.ns.li").head().getLong(0) ==
      baseN + nIns - delN)

    // ALTER TABLE ADD COLUMN: metadata-only schema era; pre-alter rows
    // null-fill; the next INSERT writes the column for real
    val erasBefore = T.readMetadata(t).schemas.size
    spark.sql("ALTER TABLE grl.ns.li ADD COLUMN note STRING")
    assert(spark.sql("SELECT count(note) FROM grl.ns.li").head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM grl.ns.li").head().getLong(0) ==
      baseN + nIns - delN, "ALTER must not change data")
    assert(T.readMetadata(t).schemas.size == erasBefore + 1,
      "ALTER must commit a new schema era")
    lineitem.filter(pmod(col("l_orderkey"), lit(1000L)) === 17L)
      .withColumn("l_orderkey", col("l_orderkey") + lit(910000000L))
      .withColumn("note", lit("late"))
      .createOrReplaceTempView("grl_alter_src")
    spark.sql("INSERT INTO grl.ns.li SELECT * FROM grl_alter_src")
    val noteN = spark.sql("SELECT count(note) FROM grl.ns.li").head().getLong(0)
    assert(noteN == spark.table("grl_alter_src").count(),
      "post-alter inserts must carry the new column")
  }

  test("multi-level namespaces: nested CREATE/SHOW/USE/tables round-trip") {
    import graft.lake.iceberg.GraftCatalog
    val w = Files.createTempDirectory("graft_iceberg_ns_spec_").toString
    spark.conf.set("spark.sql.catalog.gmn", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmn.warehouse", w)
    spark.sql("CREATE NAMESPACE gmn.a")
    spark.sql("CREATE NAMESPACE gmn.a.b")
    assert(spark.sql("SHOW NAMESPACES IN gmn").collect()
      .map(_.getString(0)).contains("a"))
    val kids = spark.sql("SHOW NAMESPACES IN gmn.a").collect().map(_.getString(0))
    assert(kids.exists(_.endsWith("b")), s"child namespace missing: ${kids.mkString(",")}")
    // tables live at any depth; a table dir is NOT a namespace
    spark.sql("CREATE TABLE gmn.a.b.t (l_orderkey BIGINT, l_shipdate TIMESTAMP)")
    lineitem.limit(100).select(col("l_orderkey"), col("l_shipdate"))
      .createOrReplaceTempView("gmn_src")
    spark.sql("INSERT INTO gmn.a.b.t SELECT * FROM gmn_src")
    assert(spark.sql("SELECT count(*) FROM gmn.a.b.t").head().getLong(0) == 100L)
    assert(spark.sql("SHOW TABLES IN gmn.a.b").collect().map(_.getString(1)).toSeq == Seq("t"))
    assert(spark.sql("SHOW NAMESPACES IN gmn.a.b").collect().isEmpty,
      "a table directory must not list as a child namespace")
    // non-cascade drop of a non-empty namespace refuses; cascade removes all
    intercept[Exception] { spark.sql("DROP NAMESPACE gmn.a") }
    spark.sql("DROP NAMESPACE gmn.a CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gmn").collect().map(_.getString(0)).contains("a"))
  }

  test("manifest merge-on-commit: sawtooth-bounded list length, rows and lineage preserved") {
    import graft.lake.iceberg.{IcebergTable => T}
    val loc = Files.createTempDirectory("graft_iceberg_mm_spec_").toString
    val months = lineitem
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("pm")).distinct()
      .orderBy("pm").limit(10).collect().map(_.getString(0))
    val outcomes = months.map { m =>
      T.appendWithManifestMerge(spark,
        lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM") === m), loc,
        minCountToMerge = 4, groupMonths = 12)
    }
    // the flat count never survives past the threshold: every commit ends
    // ≤ max(threshold, groups+1), and at least one merge fired
    assert(outcomes.exists(_._3), "no merge fired in 10 commits at threshold 4")
    outcomes.filter(_._3).foreach { case (_, flat, _, after) =>
      assert(flat == 5 && after < flat, s"merge at flat=$flat left $after manifests")
    }
    // rows always intact; EXISTING entries keep their original snapshot ids
    val expect = lineitem.filter(
      date_format(col("l_shipdate"), "yyyy-MM").isin(months.toSeq: _*)).count()
    assert(T.read(spark, loc).count() == expect)
    val entries = T.readManifestList(T.currentSnapshot(T.readMetadata(loc)).manifestList)
      .flatMap(m => T.readManifest(m.path))
    assert(entries.map(_.entrySnapshotId).distinct.size == months.length,
      "every original adding snapshot id must survive the merges")
  }

  test("DSv2 INSERT OVERWRITE: dynamic partition-level replace and static truncate") {
    import graft.lake.iceberg.{GraftCatalog, IcebergCatalog, IcebergTable => T}
    val w = Files.createTempDirectory("graft_iceberg_ow_spec_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val t = IcebergCatalog.createTable(w, "ns", "li")
    T.append(spark, lineitem, t)
    spark.conf.set("spark.sql.catalog.gow", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gow.warehouse", w)
    val baseN = lineitem.count()
    val march = lineitem.filter(
      col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
    val marchN = march.count()
    val marchQty = march.agg(sum(col("l_quantity"))).head().getDouble(0)
    val baseQty = lineitem.agg(sum(col("l_quantity"))).head().getDouble(0)

    // DYNAMIC: only the month that receives data is replaced
    val owMode = "spark.sql.sources.partitionOverwriteMode"
    val oldMode = spark.conf.getOption(owMode)
    spark.conf.set(owMode, "dynamic")
    try {
      march.withColumn("l_quantity", col("l_quantity") * 2)
        .createOrReplaceTempView("gow_march_src")
      spark.sql("INSERT OVERWRITE gow.ns.li SELECT * FROM gow_march_src")
    } finally oldMode.fold(spark.conf.unset(owMode))(v => spark.conf.set(owMode, v))
    val afterDyn = spark.sql(
      "SELECT count(*), round(sum(l_quantity), 4) FROM gow.ns.li").head()
    assert(afterDyn.getLong(0) == baseN, "dynamic overwrite must only touch its months")
    assert(math.abs(afterDyn.getDouble(1) -
      BigDecimal(baseQty + marchQty).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
    val metaD = T.readMetadata(t)
    assert(metaD.snapshots.size == 2 && metaD.snapshots.last.operation == "replace")
    // file grain: 1997-03 files are new (sequence 2), other months untouched
    val plan = T.planFiles(t)
    assert(plan.files.filter(_.partition == "1997-03").forall(_.sequence == 2L))
    assert(plan.files.filter(_.partition != "1997-03").forall(_.sequence == 1L))

    // STATIC: whole-table truncate replace
    lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 1L)
      .createOrReplaceTempView("gow_static_src")
    spark.sql("INSERT OVERWRITE gow.ns.li SELECT * FROM gow_static_src")
    assert(spark.sql("SELECT count(*) FROM gow.ns.li").head().getLong(0) ==
      lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 1L).count())
    val metaS = T.readMetadata(t)
    assert(metaS.snapshots.size == 3 && metaS.snapshots.last.operation == "replace")
    // every prior snapshot stays time-travelable
    assert(spark.sql("SELECT count(*) FROM gow.ns.li VERSION AS OF 1")
      .head().getLong(0) == baseN)
  }

  test("DSv2 streaming read: readStream.table tails snapshots exactly-once across appends") {
    import graft.lake.iceberg.{GraftCatalog, IcebergCatalog, IcebergTable => T}
    val w = Files.createTempDirectory("graft_iceberg_stream_spec_").toString
    IcebergCatalog.createNamespace(w, "ns")
    val t1 = IcebergCatalog.createTable(w, "ns", "s1")
    val era1 = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val era2 = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
    T.append(spark, era1, t1)
    spark.conf.set("spark.sql.catalog.gstream", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream.warehouse", w)
    val ckpt = Files.createTempDirectory("graft_stream_ckpt_").toString
    val q = spark.readStream.table("gstream.ns.s1")
      .writeStream.format("memory").queryName("graft_tail_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_tail_sink").count() == era1.count())
      // a new append arrives mid-stream: the next micro-batch must deliver
      // exactly its rows (the (last, head] incremental scan) — no loss, no
      // re-emission of batch 1
      T.append(spark, era2, t1)
      q.processAllAvailable()
      assert(spark.table("graft_tail_sink").count() == era1.count() + era2.count(),
        "tailer must deliver exactly the new append's rows")
      // values survive the stream: quantity total matches the source
      val got = spark.table("graft_tail_sink")
        .agg(round(sum(col("l_quantity")), 4)).head().getDouble(0)
      val want = lineitem.agg(round(sum(col("l_quantity")), 4)).head().getDouble(0)
      assert(math.abs(got - want) < 1e-4)
    } finally q.stop()
  }

  test("MOR update: one overwrite snapshot, rows preserved, _row_id kept, last-updated tracks") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_update_spec_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    // id census BEFORE the update — the update must preserve this exact set
    val idsBefore = T.withLineage(T.readMorUnified(spark, l)._1)
      .agg(count(lit(1)), countDistinct(col("_row_id")),
        sum(col("_row_id"))).head()
    val sid = T.updateMorDv(spark, l,
      pmod(col("l_orderkey"), lit(10L)) === 5L,
      Seq("l_quantity" -> (col("l_quantity") + lit(100.0))))
    assert(sid == 3L)
    val meta = T.readMetadata(l)
    assert(meta.snapshots.find(_.id == 3L).get.operation == "overwrite")
    val (live0, _, _, _, dvs) = T.readMorUnified(spark, l)
    val live = T.withLineage(live0)
    val g = live.agg(count(lit(1)), countDistinct(col("_row_id")), sum(col("_row_id")),
      sum(when(col("_last_updated_sequence_number") === 3L, 1L).otherwise(0L)),
      round(sum(col("l_quantity")), 4)).head()
    val nUpd = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 5L).count()
    val total = lineitem.count()
    // row count unchanged; id SET preserved exactly (count, distinct, sum)
    assert(g.getLong(0) == total)
    assert(g.getLong(1) == idsBefore.getLong(1) && g.getLong(0) == idsBefore.getLong(0))
    assert(g.getLong(2) == idsBefore.getLong(2), "_row_id set changed across the update")
    // exactly the victims carry the update sequence
    assert(g.getLong(3) == nUpd)
    // values actually updated: sum gained exactly 100 per victim
    val srcQty = lineitem.agg(round(sum(col("l_quantity")), 4)).head().getDouble(0)
    assert(math.abs(g.getDouble(4) - (srcQty + 100.0 * nUpd)) < 1e-4)
    // the DV covers exactly the victims' old positions, one blob per file
    assert(dvs.map(_.recordCount).sum == nUpd)
    assert(dvs.groupBy(_.referencedDataFile.get).forall(_._2.size == 1))
    // a previously-deleted row is neither re-deleted nor resurrected: a
    // SECOND update touching an overlapping class must not see wave-1
    // victims' old rows (their positions are DV-covered)
    val sid2 = T.updateMorDv(spark, l,
      pmod(col("l_orderkey"), lit(5L)) === 0L, // ≡0,5 mod 10 ⊃ first wave
      Seq("l_quantity" -> (col("l_quantity") + lit(1.0))))
    assert(sid2 == 4L)
    val live2 = T.withLineage(T.readMorUnified(spark, l)._1)
    val g2 = live2.agg(count(lit(1)), countDistinct(col("_row_id"))).head()
    assert(g2.getLong(0) == total && g2.getLong(1) == total,
      "second update lost or duplicated rows")
  }

  test("rollback: metadata-only retarget, clean reads, bad head still time-travels") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_rollback_spec_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    T.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    T.append(spark, lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 0L), l)
    val total = lineitem.count()
    val dup = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 0L).count()
    def rowsAt(id: Option[Long]) =
      T.planFiles(l, id).files.map(_.recordCount).sum
    assert(rowsAt(None) == total + dup)
    T.rollback(l, 2L)
    val meta = T.readMetadata(l)
    assert(meta.currentSnapshotId == 2L && meta.refs("main").snapshotId == 2L)
    assert(meta.snapshots.size == 3, "rollback must not drop log entries")
    assert(rowsAt(None) == total)
    assert(rowsAt(Some(3L)) == total + dup, "rolled-past snapshot lost time travel")
    // the next commit builds on the rolled-back head and never reuses id 3
    val sid = T.append(spark,
      lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 1L), l)
    assert(sid == 4L)
    val add = lineitem.filter(pmod(col("l_orderkey"), lit(100L)) === 1L).count()
    assert(rowsAt(None) == total + add, "post-rollback append built on the wrong head")
  }

  test("cherry-pick: staged append replays at the new sequence; FF publish refuses") {
    import graft.lake.iceberg.{IcebergTable => T}
    val l = Files.createTempDirectory("graft_iceberg_cherry_spec_").toString
    T.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l)
    val staged = T.appendStaged(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l)
    T.append(spark, lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 0L), l)
    // main advanced past the stage's base: fast-forward publish must refuse
    intercept[IllegalArgumentException] { T.publishStaged(l, staged) }
    val newId = T.cherryPick(l, staged)
    assert(newId == 4L)
    val meta = T.readMetadata(l)
    assert(meta.currentSnapshotId == 4L)
    assert(!meta.refs.contains("staging"))
    val e1 = lineitem.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count()
    val e2 = lineitem.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")).count()
    val dup = lineitem.filter(pmod(col("l_orderkey"), lit(10L)) === 0L).count()
    def rowsAt(id: Option[Long]) = T.planFiles(l, id).files.map(_.recordCount).sum
    assert(rowsAt(None) == e1 + e2 + dup)
    assert(rowsAt(Some(3L)) == e1 + dup, "interim commit lost by the pick")
    // picked rows enter incremental scans at the PICK id, exactly once
    val inc = T.planIncremental(l, fromId = 3L, toId = 4L)
    assert(inc.files.map(_.recordCount).sum == e2)
    // and a full-history incremental never double-counts the staged rows
    val full = T.planIncremental(l, fromId = 0L, toId = 4L)
    assert(full.files.map(_.recordCount).sum == e1 + e2 + dup)
  }
}
