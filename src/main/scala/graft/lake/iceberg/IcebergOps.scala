package graft.lake.iceberg

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered queries over the REAL [[IcebergTable]] metadata layer.
  *
  * Both queries physically materialize an Iceberg table (two append
  * snapshots of lineitem split at 1997-01-01, month-partitioned) in a temp
  * directory, then answer FROM THE TABLE — the roundtrip proves the whole
  * write→metadata→plan→read protocol, and the oracle can still check it
  * because the layout is a deterministic function of lineitem:
  * files = distinct months per snapshot, manifests = one per snapshot,
  * row/stat content = the source rows themselves.
  *
  * The built table is memoized per corpus per JVM (`plans.Memo` — the
  * location string is the artifact) so the family shares one physical
  * table; temp dirs live until JVM exit like every other tmp artifact of
  * the bench/verify loop. */
object IcebergOps {

  /** Split point between the two snapshots (spliced into the oracles). */
  val SnapshotCut = "1997-01-01"

  /** Pushable equivalent of `date_format(l_shipdate,'yyyy-MM').between(lo,hi)`
    * for well-formed month strings under the UTC session: a half-open
    * timestamp range on the raw column. Unlike the formatted comparison it
    * reaches the parquet scan as a PushedFilters range (row groups skip on
    * min/max) and costs no per-row string formatting. */
  private def shipMonthRange(monthLo: String, monthHi: String): Column = {
    val hiX = java.time.YearMonth.parse(monthHi).plusMonths(1).atDay(1).toString
    col("l_shipdate") >= lit(s"$monthLo-01").cast("timestamp") &&
      col("l_shipdate") < lit(hiX).cast("timestamp")
  }

  /** Day-grain twin of [[shipMonthRange]] for
    * `date_format(l_shipdate,'yyyy-MM-dd').between(lo,hi)`. */
  private def shipDateRange(dateLo: String, dateHi: String): Column = {
    val hiX = java.time.LocalDate.parse(dateHi).plusDays(1).toString
    col("l_shipdate") >= lit(dateLo).cast("timestamp") &&
      col("l_shipdate") < lit(hiX).cast("timestamp")
  }

  private def tableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table") {
      val loc = Files.createTempDirectory("graft_iceberg_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      new String(loc)
    }

  /** Write → plan → read roundtrip with manifest- and file-level pruning:
    * aggregate the rows the PRUNED Iceberg scan returns for a one-quarter
    * month range, alongside the planning census (manifests/files total vs
    * read). The snapshot-1 manifest's partition summary ends before the
    * predicate range, so planning skips it without opening it — the
    * two-level skip is visible as manifests_read < manifests_total. */
  def roundtripScan(spark: SparkSession, lineitem: DataFrame,
                    monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val plan = IcebergTable.planFiles(loc, None, Some(monthLo), Some(monthHi))
    val full = IcebergTable.planFiles(loc)
    IcebergTable.read(spark, loc, None, Some(monthLo), Some(monthHi))
      // row-level re-filter: month files are exactly predicate-aligned here,
      // but a reader must never rely on file grain matching the predicate
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("files_total", lit(full.filesTotal))
      .withColumn("files_scanned", lit(plan.filesSelected.toLong))
      .withColumn("manifests_total", lit(plan.manifestsTotal.toLong))
      .withColumn("manifests_read", lit(plan.manifestsRead.toLong))
      .withColumn("n_snapshots", lit(IcebergTable.readMetadata(loc).snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** Delete-key predicate for the MOR table (spliced into the oracle):
    * orders with l_orderkey ≡ 3 (mod 10) are equality-deleted. */
  val DeleteKeyMod = 10L

  private def morTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.mor") {
      val loc = Files.createTempDirectory("graft_iceberg_mor_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.appendEqualityDeletes(spark,
        lineitem.filter(col("l_orderkey") % DeleteKeyMod === 3L)
          .select(col("l_orderkey")).distinct(), loc)
      new String(loc)
    }

  /** Merge-on-read over the real format: two data snapshots + one
    * equality-delete snapshot (spec content = 2); the scan applies the
    * delete file as an ANTI join at read time and reports the census —
    * live rows, data files scanned, delete files applied, deleted keys.
    * This is the lake_equality_deletes / lake_mor_cost semantics executed
    * against REAL manifests instead of a modeled file map. */
  def morRead(spark: SparkSession, lineitem: DataFrame,
              monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = morTableFor(spark, lineitem)
    val (live, plan, deletes, _, _) =
      IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("data_files_scanned", lit(plan.filesSelected.toLong))
      .withColumn("delete_files", lit(deletes.size.toLong))
      .withColumn("deleted_keys", lit(deletes.map(_.recordCount).sum))
      .withColumn("n_snapshots", lit(IcebergTable.readMetadata(loc).snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  private def compactTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.compact") {
      val loc = Files.createTempDirectory("graft_iceberg_compact_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.appendEqualityDeletes(spark,
        lineitem.filter(col("l_orderkey") % DeleteKeyMod === 3L)
          .select(col("l_orderkey")).distinct(), loc)
      IcebergTable.rewriteCompact(spark, loc)
      new String(loc)
    }

  /** Compaction before/after census, read from metadata alone: the delete
    * snapshot's live tree (data files + the delete file a reader must
    * merge) vs the rewritten head (clean files, zero delete cost). The
    * after-state live-row count comes from manifest statistics — proof the
    * replace snapshot carries the merged truth without any data read. */
  def compactionSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = compactTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val deleteHead = meta.snapshots.find(_.operation == "delete").get
    val before = IcebergTable.planFiles(loc, Some(deleteHead.id))
    val beforeDeletes = IcebergTable.readManifestList(deleteHead.manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path)).count(_.content == 2)
    val after = IcebergTable.planFiles(loc)
    val afterDeletes = IcebergTable.readManifestList(
        meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path)).count(_.content == 2)
    import spark.implicits._
    Seq((before.filesSelected.toLong, beforeDeletes.toLong,
        after.filesSelected.toLong, afterDeletes.toLong,
        after.files.map(_.recordCount).sum, meta.snapshots.size.toLong))
      .toDF("data_files_before", "delete_files_before", "data_files_after",
        "delete_files_after", "live_rows", "n_snapshots")
  }

  /** Expiry census: build append/append/delete/replace, then expire all
    * but the live head — snapshot GC with physical orphan deletion, the
    * executed counterpart of the modeled `lake_expiry_plan` +
    * `lake_orphan_files`. The surviving head must still plan the full
    * live-row count from its manifest stats after the old files are gone. */
  def expirySummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val (loc, rep) = graft.plans.Memo.memoize(lineitem, "iceberg.table.expire") {
      val l = Files.createTempDirectory("graft_iceberg_expire_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), l)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), l)
      IcebergTable.appendEqualityDeletes(spark,
        lineitem.filter(col("l_orderkey") % DeleteKeyMod === 3L)
          .select(col("l_orderkey")).distinct(), l)
      IcebergTable.rewriteCompact(spark, l)
      (l, IcebergTable.expireSnapshots(l, keepLast = 1))
    }
    import spark.implicits._
    Seq((rep.snapshotsRemoved.toLong, rep.manifestListsDeleted.toLong,
        rep.manifestsDeleted.toLong, rep.dataFilesDeleted.toLong,
        rep.deleteFilesDeleted.toLong,
        IcebergTable.planFiles(loc).files.map(_.recordCount).sum))
      .toDF("snapshots_removed", "manifest_lists_deleted", "manifests_deleted",
        "data_files_deleted", "delete_files_deleted", "live_rows_after")
  }

  /** Column-stats file skipping: a mid-month date predicate planned
    * against the l_shipdate bounds each manifest entry carries — the
    * manifest-stats analogue of parquet footer min/max skipping
    * (`lake_skip_rate`), executed against real metadata: only files whose
    * [min,max] date range overlaps the window are opened, and the census
    * proves it (files_scanned ≪ files_total for an 11-day window). */
  def statsPruneScan(spark: SparkSession, lineitem: DataFrame,
                     dateLo: String = "1997-02-05", dateHi: String = "1997-02-15"): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val plan = IcebergTable.planFiles(loc, None, None, None, Some(dateLo), Some(dateHi))
    val full = IcebergTable.planFiles(loc)
    require(plan.files.nonEmpty, "stats pruning removed every file")
    spark.read.parquet(plan.files.map(_.path): _*)
      .filter(shipDateRange(dateLo, dateHi))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("files_total", lit(full.filesTotal))
      .withColumn("files_scanned", lit(plan.filesSelected.toLong))
  }

  /** Partition evolution over the real format: snapshot 1 written under
    * spec 0 (identity month), snapshot 2 under spec 1 (identity ISO
    * week-start) — the manifest list records each manifest's spec id, and
    * scan planning stays correct across the boundary by pruning on the
    * spec-independent l_shipdate file bounds (exactly how readers survive
    * spec changes: partition values differ per spec, column stats do not).
    * Per era: its spec id, file census, files a mid-era 11-day window
    * opens, and the rows read — the weekly era opens ~2 week-files where
    * the monthly era opens a whole month. */
  def partitionEvolution(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.evo") {
      val l = Files.createTempDirectory("graft_iceberg_evo_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), l)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), l, weekly = true)
      new String(l)
    }
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
    def era(label: String, specId: Int, lo: String, hi: String) = {
      val filesTotal = manifests.filter(_.specId == specId).map(_.addedFiles.toLong).sum
      val planned = IcebergTable.planFiles(loc, None, None, None, Some(lo), Some(hi))
      val nRows = spark.read.parquet(planned.files.map(_.path): _*)
        .filter(shipDateRange(lo, hi))
        .count()
      (label, specId.toLong, filesTotal, planned.filesSelected.toLong, nRows)
    }
    import spark.implicits._
    Seq(era("monthly", 0, "1996-06-05", "1996-06-15"),
        era("weekly", 1, "1997-02-05", "1997-02-15"))
      .toDF("era", "spec_id", "files_total", "files_scanned", "n_rows")
      .orderBy("era")
  }

  /** Branches and tags over the real metadata (spec §Refs): `main`
    * advances with every commit; a release tag pins snapshot 1. Per ref:
    * its type, target snapshot and the row count a read through the ref
    * plans from manifest statistics — zero data IO, and the executed
    * counterpart of the modeled `lake_branch_tags`. */
  def refsSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.refs") {
      val l = Files.createTempDirectory("graft_iceberg_refs_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), l)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), l)
      IcebergTable.setRef(l, "v1", 1L, "tag")
      new String(l)
    }
    val meta = IcebergTable.readMetadata(loc)
    val rows = meta.refs.toSeq.sortBy(_._1).map { case (name, r) =>
      (name, r.refType, r.snapshotId,
        IcebergTable.planFiles(loc, Some(r.snapshotId)).files.map(_.recordCount).sum)
    }
    import spark.implicits._
    rows.toDF("ref", "ref_type", "snapshot_id", "n_rows").orderBy("ref")
  }

  /** Schema evolution executed for real (spec §Schema Evolution):
    * snapshot 1 commits a 3-column schema, snapshot 2 adds l_discount —
    * the metadata's schemas array grows and current-schema-id advances,
    * while old data files simply lack the new field. The table's own scan
    * ([[IcebergTable.readMorUnified]]) serves the current schema across
    * both eras and null-fills the pre-evolution rows, which is the spec's
    * add-column rule; the census proves it (rows_null_discount = the
    * pre-cut rows exactly). */
  def schemaEvolution(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.schema") {
      val l = Files.createTempDirectory("graft_iceberg_schema_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity")), l)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"), col("l_discount")), l)
      new String(l)
    }
    val meta = IcebergTable.readMetadata(loc)
    IcebergTable.readMorUnified(spark, loc)._1
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_discount").isNotNull, 1L).otherwise(0L)).as("rows_with_discount"),
        sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("rows_null_discount"),
        round(sum(coalesce(col("l_discount"), lit(0.0))), 4).as("sum_discount"))
      .withColumn("n_schemas", lit(meta.schemas.size.toLong))
      .withColumn("current_schema_id", lit(meta.currentSchemaId.toLong))
  }

  /** Write-audit-publish over real metadata: the post-cut append is STAGED
    * (a full snapshot main does not advance to), audited by reading it
    * through its id while default reads still see the old head, then
    * published as a metadata-only fast-forward of main. The census captures
    * all three states — the executed counterpart of the modeled
    * `lake_wap_audit`. */
  def wapSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val (loc, stagedId, mainBefore, stagedRows) =
      graft.plans.Memo.memoize(lineitem, "iceberg.table.wap") {
        val l = Files.createTempDirectory("graft_iceberg_wap_").toString
        IcebergTable.append(spark, lineitem
          .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), l)
        val staged = IcebergTable.appendStaged(spark, lineitem
          .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), l)
        // audit phase: default reads still plan the old head; the staged
        // snapshot is readable by id (and via the staging ref)
        val mb = IcebergTable.planFiles(l).files.map(_.recordCount).sum
        val sr = IcebergTable.planFiles(l, Some(staged)).files.map(_.recordCount).sum
        IcebergTable.publishStaged(l, staged)
        (new String(l), staged, mb, sr)
      }
    val mainAfter = IcebergTable.planFiles(loc).files.map(_.recordCount).sum
    import spark.implicits._
    Seq((stagedId, mainBefore, stagedRows, mainAfter))
      .toDF("staged_snapshot_id", "main_rows_before", "staged_rows", "main_rows_after")
  }

  /** Position-delete predicate (spliced into the oracle): rows with
    * l_orderkey ≡ 7 (mod [[DeleteKeyMod]]) are position-deleted. */
  val PosDeleteResidue = 7L

  private def posDvTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.posdv") {
      val loc = Files.createTempDirectory("graft_iceberg_posdv_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === PosDeleteResidue)
      new String(loc)
    }

  /** Merge-on-read with POSITION deletes (spec content = 1) over the real
    * format — the delete form the reference's DV corpus is built on
    * (`test_dv_resolution_strategies.py:139` benchmark_positional_join):
    * a content=1 file of real (file_path, row_index) pairs is committed
    * against the two data snapshots, and the scan skips its positions
    * while reading. The oracle can check every number because the
    * deleted POSITIONS were chosen by a predicate over the immutable
    * files — so the surviving rows are exactly the predicate's complement,
    * whatever physical positions they occupy. */
  def posDvRead(spark: SparkSession, lineitem: DataFrame,
                monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = posDvTableFor(spark, lineitem)
    val (live, plan, _, dvs, _) =
      IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("data_files_scanned", lit(plan.filesSelected.toLong))
      .withColumn("pos_delete_files", lit(dvs.size.toLong))
      .withColumn("deleted_positions", lit(dvs.map(_.recordCount).sum))
      .withColumn("n_snapshots", lit(IcebergTable.readMetadata(loc).snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  private def mixedTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.mixed") {
      val loc = Files.createTempDirectory("graft_iceberg_mixed_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.appendEqualityDeletes(spark,
        lineitem.filter(col("l_orderkey") % DeleteKeyMod === 3L)
          .select(col("l_orderkey")).distinct(), loc)
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === PosDeleteResidue)
      new String(loc)
    }

  /** The GENERAL merge-on-read case: one snapshot carrying BOTH delete
    * contents — an equality-delete file (content=2, keys ≡ 3 mod 10) and a
    * positional-delete file (content=1, real (file_path, row_index) pairs
    * for keys ≡ 7 mod 10) — resolved in a single scan by
    * [[IcebergTable.readMorUnified]], each delete type sequence-scoped per
    * the spec. Survivors are the complement of both predicates, so the
    * oracle checks every number. */
  def mixedDeletesRead(spark: SparkSession, lineitem: DataFrame,
                       monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = mixedTableFor(spark, lineitem)
    val (live, plan, eqs, poss, _) =
      IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("data_files_scanned", lit(plan.filesSelected.toLong))
      .withColumn("eq_delete_files", lit(eqs.size.toLong))
      .withColumn("pos_delete_files", lit(poss.size.toLong))
      .withColumn("deleted_keys", lit(eqs.map(_.recordCount).sum))
      .withColumn("deleted_positions", lit(poss.map(_.recordCount).sum))
      .withColumn("n_snapshots", lit(IcebergTable.readMetadata(loc).snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** Catalog census over a local HadoopCatalog-style warehouse
    * ([[IcebergCatalog]]): two tables committed under one namespace (the
    * pre/post-cut halves), a scratch table created and dropped, and the
    * per-table census — snapshots, files, rows — read from each table's
    * METADATA alone (#tables × three metadata files, no data IO). The
    * executed slice of the catalog-API north star: list/create/drop +
    * per-table atomic version swap. */
  def catalogSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val wh = graft.plans.Memo.memoize(lineitem, "iceberg.catalog") {
      val w = Files.createTempDirectory("graft_iceberg_cat_").toString
      IcebergCatalog.createNamespace(w, "analytics")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")),
        IcebergCatalog.createTable(w, "analytics", "li_pre"))
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")),
        IcebergCatalog.createTable(w, "analytics", "li_post"))
      // a created-then-dropped scratch table must leave no census trace
      IcebergTable.append(spark, lineitem.limit(10),
        IcebergCatalog.createTable(w, "analytics", "scratch"))
      IcebergCatalog.dropTable(w, "analytics", "scratch")
      new String(w)
    }
    val tables = IcebergCatalog.listTables(wh, "analytics")
    val rows = tables.map { t =>
      val loc = IcebergCatalog.tableLocation(wh, "analytics", t)
      val meta = IcebergTable.readMetadata(loc)
      val plan = IcebergTable.planFiles(loc)
      (t, meta.snapshots.size.toLong, plan.filesSelected.toLong,
        plan.files.map(_.recordCount).sum, tables.size.toLong)
    }
    import spark.implicits._
    rows.toDF("table_name", "n_snapshots", "n_files", "n_rows", "n_tables")
      .orderBy("table_name")
  }

  /** Incremental append scan over the real format (Iceberg's
    * incremental-read contract — the scan behind "what arrived since
    * snapshot X" CDC consumers, executed against real manifests instead of
    * the modeled `lake_cdc_changelog` file map): plan ONLY the files
    * snapshots (1, 2] added via [[IcebergTable.planIncremental]], read
    * them, and aggregate per month alongside the planning census. The
    * oracle checks every number because snapshot 2 is by construction the
    * post-[[SnapshotCut]] half of lineitem, and the manifest-level skip is
    * visible as manifests_read < manifests_total (snapshot 1's manifest is
    * skipped WITHOUT being opened — lineage-keyed, not partition-keyed). */
  def incrementalRead(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val plan = IcebergTable.planIncremental(loc, fromId = 1L, toId = 2L)
    spark.read.parquet(plan.files.map(_.path): _*)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("files_added", lit(plan.filesSelected.toLong))
      .withColumn("manifests_total", lit(plan.manifestsTotal.toLong))
      .withColumn("manifests_read", lit(plan.manifestsRead.toLong))
      .orderBy("ship_month")
  }

  /** The `partitions` metadata table (the inspection surface Iceberg
    * exposes as `SELECT * FROM tbl.partitions`, answered from the real
    * metadata tree with ZERO data IO): per partition, its live file and
    * row counts plus the l_shipdate bounds the manifests carry — exactly
    * what a user consults to judge layout health before a query. Census
    * columns prove the read grain: n_manifests/n_snapshots come from the
    * manifest list and snapshot log, and every per-partition number is
    * oracle-checkable because the layout is the deterministic
    * one-file-per-month-per-snapshot function of lineitem. */
  def partitionsMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      meta.snapshots.find(_.id == meta.currentSnapshotId).get.manifestList)
    val plan = IcebergTable.planFiles(loc)
    val rows = plan.files.groupBy(_.partition).toSeq.map { case (p, fs) =>
      (p, fs.size.toLong, fs.map(_.recordCount).sum,
        fs.map(_.loShip).min, fs.map(_.hiShip).max,
        manifests.size.toLong, meta.snapshots.size.toLong)
    }.sortBy(_._1)
    import spark.implicits._
    rows.toDF("p_month", "n_files", "n_rows", "lo_shipdate", "hi_shipdate",
      "n_manifests", "n_snapshots")
      .orderBy("p_month")
  }

  private def bucketTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.bucket") {
      val loc = Files.createTempDirectory("graft_iceberg_bucket_").toString
      IcebergTable.appendBucket(spark, lineitem, loc)
      new String(loc)
    }

  /** Point lookups planned against a REAL `bucket[16](l_orderkey)`
    * partition spec (spec §Partition Transforms — the one spec transform
    * family previously modeled only, `lake_bucket_pruning`): the table is
    * written with hash-scattered bucket partition values, branch manifests
    * grouped by bucket range, and each probe key plans through the actual
    * manifest-list partition summaries — manifests_read and files_scanned
    * census the two-level skip (1 of 4 branches opened, 1 of 16 files
    * selected), then ONLY the selected file is read to prove the key's
    * rows are all there. The bucket hash is the replayable multiplicative
    * form ([[IcebergTable.bucketLabel]]), so DuckDB re-derives every
    * bucket population and the probe rows exactly. */
  def bucketPointLookup(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = bucketTableFor(spark, lineitem)
    val arms = probeKeys(lineitem).map { case (label, key) =>
      val plan = IcebergTable.planBucketLookup(loc, key)
      spark.read.parquet(plan.files.map(_.path): _*)
        .filter(col("l_orderkey") === key)
        .agg(count(lit(1)).as("key_rows"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .select(lit(label).as("probe"),
          lit(IcebergTable.bucketLabel(key)).as("bucket"),
          lit(plan.manifestsTotal.toLong).as("manifests_total"),
          lit(plan.manifestsRead.toLong).as("manifests_read"),
          lit(plan.filesTotal).as("files_total"),
          lit(plan.filesSelected.toLong).as("files_scanned"),
          lit(plan.files.map(_.recordCount).sum).as("bucket_rows"),
          col("key_rows"), col("sum_qty"))
    }
    arms.reduce(_ unionByName _).orderBy("probe")
  }

  /** Delete predicate for the bucket-MOR fixture (spliced into the
    * oracle): rows with l_orderkey ≡ 6 (mod [[DeleteKeyMod]]) carry a v3
    * deletion vector. */
  val BucketMorResidue = 6L

  /** Shared probe keys for the bucket lookup queries: the corpus min and
    * max order keys (one full-table aggregation, labels sorted so every
    * query's output order is `kmax`, `kmin`). */
  private def probeKeys(lineitem: DataFrame): Seq[(String, Long)] = {
    val bounds = lineitem.agg(min(col("l_orderkey")).as("kmin"),
      max(col("l_orderkey")).as("kmax")).head()
    Seq("kmax" -> bounds.getAs[Long]("kmax"), "kmin" -> bounds.getAs[Long]("kmin"))
  }

  private def bucketMorTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.bucketmor") {
      val loc = Files.createTempDirectory("graft_iceberg_bucketmor_").toString
      IcebergTable.appendBucket(spark, lineitem, loc)
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === BucketMorResidue)
      new String(loc)
    }

  /** Point lookup UNDER MERGE-ON-READ on a bucket-partitioned table — the
    * two real-format features composed the way a real reader composes
    * them: the bucket transform plans the probe key down to ONE data file
    * (manifest-summary prune over the manifests the pin already read), and
    * the table's scan reads that file alone — the snapshot pinned with its
    * data entries narrowed to the probe's file — so the file's v3
    * deletion-vector blob (keys ≡ [[BucketMorResidue]]) applies inside the
    * columnar reader before the key filter: a deleted key correctly returns
    * zero rows while the scan still reads exactly one file. Census: blob
    * count and asserted cardinality for the selected file from manifest
    * stats, live key rows + quantity from the one-file MOR read. Every
    * number replays in DuckDB from the residue classes and the replayable
    * bucket hash. */
  def bucketMorLookup(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = bucketMorTableFor(spark, lineitem)
    val pin = GraftSnapshotPin.read(IcebergTable.readMetadata(loc))
    val dvEntries = pin.entries.flatten
      .filter(e => e.content == 1 && e.referencedDataFile.isDefined)
    val arms = probeKeys(lineitem).map { case (label, key) =>
      val plan = pin.planBucket(key)
      val file = plan.files.head
      val dvs = dvEntries.filter(_.referencedDataFile.get == file.path)
      val probe = pin.copy(entries =
        pin.entries.map(_.filter(e => e.content != 0 || e.path == file.path)))
      IcebergTable.scanPinned(spark, loc, probe)
        .filter(col("l_orderkey") === key)
        .agg(count(lit(1)).as("live_key_rows"),
          coalesce(round(sum(col("l_quantity")), 4), lit(0.0)).as("sum_qty"))
        .select(lit(label).as("probe"),
          lit(IcebergTable.bucketLabel(key)).as("bucket"),
          lit(plan.filesSelected.toLong).as("files_scanned"),
          lit(dvs.size.toLong).as("dv_blobs"),
          lit(dvs.map(_.recordCount).sum).as("deleted_in_file"),
          col("live_key_rows"), col("sum_qty"))
    }
    arms.reduce(_ unionByName _).orderBy("probe")
  }

  private def bucketEvoTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.bucketevo") {
      val loc = Files.createTempDirectory("graft_iceberg_bucketevo_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.appendBucket(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      new String(loc)
    }

  /** Partition evolution ACROSS transform families — the real migration
    * story (a month-partitioned table evolves TO `bucket[16](l_orderkey)`
    * for its post-[[SnapshotCut]] era) and the two-sided trade it buys,
    * censused per (probe, era) from the real planners:
    *  - a POINT LOOKUP on the max key prunes the bucket era to one file
    *    but must scan EVERY month-era file (identity specs cannot prune by
    *    key — the honest cost history keeps paying until rewritten);
    *  - a DATE-RANGE probe (1997-Q1) skips the month era at MANIFEST level
    *    without opening it, while the bucket era's hash-scattered files
    *    all overlap the range at their l_shipdate file bounds (bucket
    *    summaries carry no time info — the mirror-image cost).
    * check_rows reads ONLY the selected files and must equal the
    * predicate's true row count per era — completeness proof that
    * cross-spec planning loses nothing. */
  def bucketEvolution(spark: SparkSession, lineitem: DataFrame,
                      monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = bucketEvoTableFor(spark, lineitem)
    val kmax = probeKeys(lineitem).collectFirst { case ("kmax", k) => k }.get
    def isBucket(e: IcebergTable.DataFileEntry) = e.partition.startsWith("b")
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(IcebergTable.readMetadata(loc)).manifestList)
    val allFiles = manifests.flatMap(m =>
      IcebergTable.readManifest(m.path).map(e => (m.specId, e)))
      .filter(_._2.content == 0)
    val era0Files = allFiles.count(_._1 == 0).toLong
    val era2Files = allFiles.count(_._1 == 2).toLong
    val point = IcebergTable.planBucketLookup(loc, kmax)
    val (pB, pM) = point.files.partition(isBucket)
    val range = IcebergTable.planFiles(loc, monthLo = Some(monthLo), monthHi = Some(monthHi))
    val (rB, rM) = range.files.partition(isBucket)
    def readCount(fs: Seq[IcebergTable.DataFileEntry], pred: org.apache.spark.sql.Column): Long =
      if (fs.isEmpty) 0L
      else spark.read.parquet(fs.map(_.path): _*).filter(pred).count()
    val inRange = shipMonthRange(monthLo, monthHi)
    val rows = Seq(
      ("1_point_month_era", era0Files, pM.size.toLong,
        pM.map(_.recordCount).sum, readCount(pM, col("l_orderkey") === kmax)),
      ("2_point_bucket_era", era2Files, pB.size.toLong,
        pB.map(_.recordCount).sum, readCount(pB, col("l_orderkey") === kmax)),
      ("3_range_month_era", era0Files, rM.size.toLong,
        rM.map(_.recordCount).sum, readCount(rM, inRange)),
      ("4_range_bucket_era", era2Files, rB.size.toLong,
        rB.map(_.recordCount).sum, readCount(rB, inRange)))
    import spark.implicits._
    rows.toDF("step", "era_files", "files_scanned", "rows_in_scanned", "check_rows")
      .orderBy("step")
  }

  /** The `files` metadata table (`SELECT * FROM tbl.files`): one row per
    * live data file in the current snapshot, straight from the manifest
    * entries with ZERO data IO — partition value, row count, the
    * l_shipdate bounds, and the entry-grain provenance columns the spec
    * pins (the snapshot that ORIGINALLY added the file and its data
    * sequence number). File paths are temp-dir-relative and therefore
    * excluded; every emitted column is a deterministic function of
    * lineitem + the two-era commit layout, so the oracle replays it. */
  def filesMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val rows = IcebergTable.planFiles(loc).files.map(f =>
      (f.partition, f.recordCount, f.loShip, f.hiShip, f.entrySnapshotId, f.sequence))
      .sortBy(_._1)
    import spark.implicits._
    rows.toDF("p_month", "n_rows", "lo_shipdate", "hi_shipdate",
      "added_snapshot_id", "sequence_number")
      .orderBy("p_month")
  }

  /** The `manifests` metadata table (`SELECT * FROM tbl.manifests`): one
    * row per manifest in the current manifest LIST — added snapshot,
    * added file/row counts, and the partition-summary bounds planning
    * prunes on — read from the manifest list alone (not even the
    * manifests are opened; this is the exact input to the two-level
    * skip). */
  def manifestsMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val rows = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
      .map(m => (m.addedSnapshotId, m.addedFiles.toLong, m.addedRows,
        m.partLo, m.partHi))
      .sortBy(_._1)
    import spark.implicits._
    rows.toDF("added_snapshot_id", "n_added_files", "n_added_rows",
      "p_month_lo", "p_month_hi")
      .orderBy("added_snapshot_id")
  }

  /** The `history`/`snapshots` metadata table: one row per retained
    * snapshot — id, sequence number, operation, whether it is the current
    * head, and the state census at that snapshot (manifests in its list,
    * live data rows from manifest stats). Timestamps are wall-clock and
    * therefore excluded; everything else is the deterministic two-commit
    * layout. */
  def historyMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    // manifests are immutable and append histories share them across
    // snapshots — cache by path so the walk is O(distinct manifests), not
    // O(snapshots × manifests)
    val cache = scala.collection.mutable.Map.empty[String, Seq[IcebergTable.DataFileEntry]]
    val rows = meta.snapshots.sortBy(_.id).map { s =>
      val manifests = IcebergTable.readManifestList(s.manifestList)
      val entries = manifests.flatMap(m =>
        cache.getOrElseUpdate(m.path, IcebergTable.readManifest(m.path)))
      (s.id, s.sequenceNumber, s.operation, s.id == meta.currentSnapshotId,
        manifests.size.toLong, entries.filter(_.content == 0).map(_.recordCount).sum)
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "sequence_number", "operation", "is_current",
      "n_manifests", "live_data_rows")
      .orderBy("snapshot_id")
  }

  /** The `entries` metadata table (`SELECT * FROM tbl.entries`) — the
    * manifest-entry inspection surface `files` does NOT give: one row per
    * CURRENT-snapshot manifest entry including the DELETE files, with the
    * content type, partition, record count, and the sequence/snapshot
    * coordinates that scope delete application. Read from metadata alone
    * over the mixed-form fixture, whose head carries all three of its
    * entry kinds (data / equality_deletes / position_deletes; the
    * deletion_vector mapping serves DV tables, e.g. the rewrite fixture);
    * paths are projected out (tmp-dir nondeterminism), everything else is
    * the deterministic layout. */
  def entriesMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = mixedTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val ms = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val rows = IcebergTable.readManifestsParallel(ms.map(_.path)).flatten
      .map { e =>
        val kind = e.content match {
          case 0 => "data"
          case 1 => if (e.referencedDataFile.isDefined) "deletion_vector"
                    else "position_deletes"
          case _ => "equality_deletes"
        }
        (kind, e.partition, e.recordCount, e.sequence, e.entrySnapshotId)
      }
    import spark.implicits._
    rows.toDF("content_type", "p_month", "n_rows", "sequence_number",
      "added_snapshot_id")
      .orderBy("content_type", "p_month", "sequence_number")
  }

  /** KMV sketch size for the Puffin NDV blobs (spliced into the oracle). */
  val PuffinK = 64

  /** Columns sketched into the Puffin file, in blob order (field ids are
    * their 1-based positions here — spliced into the oracle's offset
    * arithmetic via blob order). */
  val PuffinColumns = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** NDV statistics via a REAL Puffin file (spec: iceberg.apache.org/
    * puffin-spec — the format the reference's stats tooling assumes and
    * the modeled `lake_puffin_ndv` prices): one `graft-kmv-v1` blob per
    * column is computed from the table (a distinct→take-ordered top-k per
    * column — distributed, k-bounded), written into a spec-layout Puffin
    * file (magic/blobs/JSON footer), bound to the current snapshot through
    * the metadata `statistics` field ([[IcebergTable.setStatistics]]), and
    * then READ BACK footer-first from the file to estimate each column's
    * NDV. Unlike the usual sketch queries this one IS oracle-checkable:
    * the KMV hash is plain integer SQL, so DuckDB recomputes the k-th
    * minimum and lands on the identical estimate — while the blob offsets
    * and lengths prove the byte layout. */
  def puffinNdv(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    graft.plans.Memo.memoize(lineitem, "iceberg.puffin") {
      val meta = IcebergTable.readMetadata(loc)
      val snapId = meta.currentSnapshotId
      val data = IcebergTable.read(spark, loc)
      val blobs = PuffinColumns.zipWithIndex.map { case (c, i) =>
        val mins = data.select(pmod(col(c).cast("long") * lit(Puffin.KmvHashMult),
            lit(Puffin.KmvHashMod)).as("h"))
          .distinct().orderBy("h").limit(PuffinK)
          .collect().map(_.getLong(0)).toSeq
        ("graft-kmv-v1", Seq(i + 1), snapId, snapId, Puffin.kmvPayload(mins))
      }
      val f = new java.io.File(s"$loc/metadata", f"$snapId%05d-stats.puffin")
      val (size, footerSize) = Puffin.write(f, blobs, Map("created-by" -> "graft"))
      IcebergTable.setStatistics(loc,
        IcebergTable.StatsFileInfo(snapId, f.getPath, size, footerSize))
      new String(f.getPath)
    }
    val sf = IcebergTable.readMetadata(loc).statistics.head
    val (fm, payloadOf) = Puffin.read(new java.io.File(sf.path))
    val data = IcebergTable.read(spark, loc)
    val exact = data.agg(
      countDistinct(col(PuffinColumns(0))).as("e0"),
      countDistinct(col(PuffinColumns(1))).as("e1"),
      countDistinct(col(PuffinColumns(2))).as("e2")).head()
    val rows = fm.blobs.zipWithIndex.map { case (b, i) =>
      val mins = Puffin.kmvDecode(payloadOf(b))
      (PuffinColumns(i), PuffinK.toLong, mins.size.toLong, b.length, b.offset,
        Puffin.kmvEstimate(mins, PuffinK), exact.getLong(i))
    }
    import spark.implicits._
    rows.toDF("column_name", "k", "n_mins", "blob_length", "blob_offset", "est", "ndv_exact")
      .withColumn("rel_err", round(abs(col("est") - col("ndv_exact")) / col("ndv_exact"), 6))
      .withColumn("ndv_est", round(col("est"), 4))
      .withColumn("n_blobs", lit(fm.blobs.size.toLong))
      .drop("est")
      .orderBy("column_name")
  }

  /** Files per month for the sort-order study (spliced into the oracle).
    * 8 makes the skip visible: a two-week probe needs ~half a month's rank
    * blocks but overlaps EVERY hash file of the month. */
  val ClusterFilesPerMonth = 8

  /** Date-range probe for the sort-order study (a two-week sub-month
    * window — the range where clustering pays). */
  val SkipDateLo = "1997-02-08"
  val SkipDateHi = "1997-02-21"

  /** Sort-order clustering vs hash layout on the real format (the
    * clustering/z-order trade the modeled `lake_zorder` /
    * `lake_sort_key_choice` price, executed against real manifests): two
    * tables with IDENTICAL file counts — one clustered by ship-date rank
    * blocks (file bounds tile each month), one split by orderkey hash
    * (every file spans its whole month) — are planned for the same
    * two-week date range using only the l_shipdate bounds the manifests
    * carry. The census shows the clustered layout scanning a fraction of
    * the hashed layout's files/rows for the same matching row count —
    * file-level stats skipping, the reason sorted writes exist. */
  def sortSkipping(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    def build(key: String, byRank: Boolean) =
      graft.plans.Memo.memoize(lineitem, key) {
        val loc = Files.createTempDirectory(s"graft_iceberg_${key.replace('.', '_')}_").toString
        IcebergTable.append(spark, lineitem, loc,
          clusterFiles = Some((ClusterFilesPerMonth, byRank)))
        new String(loc)
      }
    val locS = build("iceberg.table.sorted", byRank = true)
    val locH = build("iceberg.table.hashed", byRank = false)
    val matching = lineitem
      .filter(shipDateRange(SkipDateLo, SkipDateHi))
      .count()
    val rows = Seq(("clustered", locS), ("hashed", locH)).map { case (layout, loc) =>
      val full = IcebergTable.planFiles(loc)
      val plan = IcebergTable.planFiles(loc, None, None, None,
        Some(SkipDateLo), Some(SkipDateHi))
      (layout, full.filesTotal, plan.filesSelected.toLong,
        plan.files.map(_.recordCount).sum, matching)
    }
    import spark.implicits._
    rows.toDF("layout", "files_total", "files_scanned", "rows_planned", "rows_matching")
      .orderBy("layout")
  }

  /** Files per month for the Z-order study (spliced into the oracle). */
  val ZFilesPerMonth = 8
  /** Conjunctive 2-dim probe: the sort-skipping date window AND a
    * quantity ceiling (bottom quarter of the 1..50 domain). */
  val ZDateLo = "1997-02-08"
  val ZDateHi = "1997-02-21"
  val ZQtyHi = 12L

  /** Z-order rewrite census on the real format: a hashed-layout table
    * (every file spans its month's full date AND quantity ranges) is
    * rewritten by [[IcebergTable.rewriteZOrder]] into Morton-sliced files,
    * then BOTH snapshots are planned for the same conjunctive probe
    * (date window AND quantity ≤ [[ZQtyHi]]) using only the manifest
    * bound maps (l_shipdate lo/hi + the wide l_quantity lower bound — the
    * `iceberg_wide_prune` census surface, zero parquet footers). Identical
    * matching rows; the z layout scans a fraction of the files/rows
    * because each file bounds both dims. Pre-rewrite planning goes through
    * TIME TRAVEL to the hashed snapshot — the replace commit keeps it
    * reachable. */
  def zorderRewrite(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = graft.plans.Memo.memoize(lineitem, "iceberg.table.zorder") {
      val l = Files.createTempDirectory("graft_iceberg_zorder_").toString
      IcebergTable.append(spark, lineitem, l,
        clusterFiles = Some((ZFilesPerMonth, false)))
      IcebergTable.rewriteZOrder(spark, l, ZFilesPerMonth)
      new String(l)
    }
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    val matching = lineitem.filter(
      shipDateRange(ZDateLo, ZDateHi) &&
        round(col("l_quantity")) <= ZQtyHi).count()
    val rows = Seq(("1_hashed", snaps.head), ("2_zorder", snaps.last)).map {
      case (layout, snap) =>
        val manifests = IcebergTable.readManifestList(snap.manifestList)
        val entries = IcebergTable.readManifestsParallel(manifests.map(_.path))
          .flatten.filter(_.content == 0)
        val kept = entries.filter { f =>
          val qtyLo = f.wideBounds("l_quantity")._1.toLong
          f.hiShip >= ZDateLo && f.loShip <= ZDateHi && qtyLo <= ZQtyHi
        }
        (layout, entries.size.toLong, kept.size.toLong,
          kept.map(_.recordCount).sum, matching)
    }
    import spark.implicits._
    rows.toDF("layout", "files_total", "files_scanned", "rows_planned", "rows_matching")
      .orderBy("layout")
  }

  /** Snapshot log from the metadata tree alone (no data read): per
    * snapshot, its manifest-list census and added files/rows, plus the
    * cumulative row count a time-travel read at that snapshot would plan —
    * all from manifest statistics, which is the format's core promise
    * (counting 6M rows costs three metadata files, not a scan). */
  def snapshotLog(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val rows = meta.snapshots.sortBy(_.id).map { s =>
      val manifests = IcebergTable.readManifestList(s.manifestList)
      val own = manifests.filter(_.addedSnapshotId == s.id)
      val planned = IcebergTable.planFiles(loc, Some(s.id))
      (s.id, s.sequenceNumber, s.operation, manifests.size.toLong,
        own.map(_.addedFiles.toLong).sum, own.map(_.addedRows).sum,
        planned.files.map(_.recordCount).sum)
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "sequence_number", "operation", "n_manifests",
      "added_files", "added_rows", "total_rows")
      .orderBy("snapshot_id")
  }

  /** Deletion-vector predicate (spliced into the oracle): rows with
    * l_orderkey ≡ 6 (mod [[DeleteKeyMod]]) are DV-deleted. */
  val DvDeleteResidue = 6L

  /** The DV fixture table uses `sorted = true` appends: in-file row order
    * pinned to the (l_orderkey, l_linenumber) unique key, which makes every
    * row POSITION — and therefore every roaring container and byte — a
    * deterministic function of lineitem the DuckDB oracle recomputes. */
  private def dvTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.dvpuffin") {
      val loc = Files.createTempDirectory("graft_iceberg_dv_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === DvDeleteResidue)
      new String(loc)
    }

  /** Iceberg v3 DELETION VECTORS executed for real: the positional delete
    * set is committed as one Roaring bitmap per data file inside a single
    * Puffin file ([[IcebergTable.appendDvPuffin]] — spec `deletion-vector-v1`
    * blobs with CRC framing, v3 manifest fields `referenced_data_file` /
    * `content_offset` / `content_size_in_bytes`), then resolved by
    * [[IcebergTable.readMorUnified]] (each blob decoded in the scan task
    * that reads its data file, positions skipped while reading, exactly
    * as v2 position deletes are). One output row per data
    * file, every column independently recomputable by the oracle:
    * manifest-carried blob size/offset (real bytes on disk — the oracle
    * rebuilds them from the RoaringFormatSpec arithmetic over the
    * predicate-chosen positions), the decoded container census, the
    * footer-vs-manifest consistency bit, and the live census from the
    * actual DV-merged scan. */
  def dvPuffinRead(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = dvTableFor(spark, lineitem)
    val (live, plan, _, _, dvs) = IcebergTable.readMorUnified(spark, loc)
    val monthOf = plan.files.map(f => f.path -> f.partition).toMap
    val fileRows = plan.files.map(f => (f.partition, f.sequence, f.recordCount))
    val (fm, payloadOf) = Puffin.read(new java.io.File(dvs.head.path))
    val footer = fm.blobs.filter(_.blobType == "deletion-vector-v1")
      .map(b => b.properties("referenced-data-file") -> b).toMap
    val dvRows = dvs.map { e =>
      val ref = e.referencedDataFile.get
      val b = footer(ref)
      val ps = RoaringDv.deserializeDvBlob(payloadOf(b)) // CRC-verified decode
      val (nc, na, nb, nr) = RoaringDv.census(ps)
      val consistent = b.length == e.contentSize && b.offset == e.contentOffset &&
        b.properties("cardinality").toLong == e.recordCount && ps.length.toLong == e.recordCount
      (monthOf(ref), e.recordCount, nc.toLong, na.toLong, nb.toLong, nr.toLong,
        e.contentSize, e.contentOffset, consistent)
    }
    import spark.implicits._
    val dvDf = dvRows.toDF("p_month", "dv_cardinality", "n_containers", "n_array",
      "n_bitmap", "n_run", "dv_blob_bytes", "content_offset", "footer_consistent")
    val fileDf = fileRows.toDF("p_month", "era", "file_rows")
    val liveAgg = live
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("p_month"))
      .agg(count(lit(1)).as("live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty_live"))
    fileDf.join(dvDf, Seq("p_month"), "left")
      .join(liveAgg, Seq("p_month"), "left")
      .na.fill(0L, Seq("dv_cardinality", "n_containers", "n_array", "n_bitmap", "n_run",
        "dv_blob_bytes", "live_rows"))
      .na.fill(-1L, Seq("content_offset"))
      .na.fill(true, Seq("footer_consistent"))
      .withColumn("n_snapshots",
        lit(IcebergTable.readMetadata(loc).snapshots.size.toLong))
      .select(col("p_month"), col("era"), col("file_rows"), col("dv_cardinality"),
        col("live_rows"), col("sum_qty_live"), col("n_containers"), col("n_array"),
        col("n_bitmap"), col("n_run"), col("dv_blob_bytes"), col("content_offset"),
        col("footer_consistent"), col("n_snapshots"))
      .orderBy("p_month")
  }

  /** Target month of the manifest-tree planning study (spliced into the
    * oracle): one month ⇒ one data file ⇒ the grouped layout should open
    * exactly one branch manifest. */
  val TreeTargetMonth = "1997-03"

  /** Months per branch manifest in the grouped layout (12 = one manifest
    * per calendar year). */
  val TreeGroupMonths = 12

  /** Two REAL single-snapshot tables over the same rows: `flat` (the
    * default one-manifest append) and `grouped` ([[IcebergTable
    * .appendGrouped]] — one manifest per year). */
  private def treeTablesFor(spark: SparkSession, lineitem: DataFrame): (String, String) =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.tree") {
      val flat = Files.createTempDirectory("graft_iceberg_tree_flat_").toString
      IcebergTable.append(spark, lineitem, flat)
      val grouped = Files.createTempDirectory("graft_iceberg_tree_grp_").toString
      IcebergTable.appendGrouped(spark, lineitem, grouped, TreeGroupMonths)
      (new String(flat), new String(grouped))
    }

  /** The reference's adaptive-metadata-tree study
    * (`test_adaptive_metadata_tree.py:194/227/270` — flat vs multi-level
    * planning cost) executed against the REAL format: the same one-month
    * scan planned on a flat single-manifest table and on a 2-level
    * grouped-manifest table ([[IcebergTable.appendGrouped]]), reporting
    * what each layout actually paid — manifests opened and manifest
    * entries parsed (the planner's IO), files selected and rows planned
    * (identical across layouts, proving the tree changes COST, not
    * results). Every number is a deterministic function of lineitem's
    * month census, so the oracle replays both layouts in SQL. */
  def manifestTreePlan(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val (flat, grouped) = treeTablesFor(spark, lineitem)
    val rows = Seq("1_flat" -> flat, "2_grouped" -> grouped).map { case (layout, loc) =>
      val meta = IcebergTable.readMetadata(loc)
      val manifests = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      val plan = IcebergTable.planFiles(loc, None,
        Some(TreeTargetMonth), Some(TreeTargetMonth))
      // entries PARSED = the added_files of every manifest planning opened
      // (the manifest-list bounds decide which are opened; planFiles
      // applies the same overlap rule)
      val opened = manifests.filter(m =>
        m.partHi >= TreeTargetMonth && m.partLo <= TreeTargetMonth)
      (layout, manifests.size.toLong, plan.manifestsRead.toLong,
        plan.filesTotal, opened.map(_.addedFiles.toLong).sum,
        plan.filesSelected.toLong, plan.files.map(_.recordCount).sum)
    }
    import spark.implicits._
    rows.toDF("layout", "manifests_total", "manifests_read", "files_total",
      "entries_parsed", "files_selected", "rows_planned")
      .orderBy("layout")
  }

  /** Months per LEAF manifest in the 3-level tree (quarter grain, nesting
    * inside [[TreeGroupMonths]]-month branches). */
  val TreeLeafMonths = 3

  /** Quarter-leaf table + its 3-level index overlay
    * ([[IcebergTable.writeTreeIndex]]): (location, index path). */
  private def tree3TableFor(spark: SparkSession, lineitem: DataFrame): (String, String) =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.tree3") {
      val loc = Files.createTempDirectory("graft_iceberg_tree3_").toString
      IcebergTable.appendGrouped(spark, lineitem, loc, TreeLeafMonths)
      (new String(loc), IcebergTable.writeTreeIndex(loc, TreeGroupMonths))
    }

  /** The reference's FULL adaptive-tree ladder
    * (`test_adaptive_metadata_tree.py:271` `query_3level_tree`, `:369`
    * `create_3level_tree`) on the real format: the same one-month scan
    * planned on a flat table, a 2-level year-branch table, and a 3-level
    * tree (index list → year sub-lists → quarter leaf manifests, all real
    * Avro). `lists_read` counts list-grain files (the index and sub-lists
    * a 3-level planner opens), `entries_parsed` the manifest entries —
    * monotone DECREASING in tree depth at matched files_selected /
    * rows_planned: flat parses every entry, the year branch 12 months,
    * the quarter leaf 3, while the tree pays one extra KB-grain list
    * read. Every number is a function of lineitem's month census, so the
    * oracle replays all three layouts. */
  def tree3Plan(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val (flat, grouped) = treeTablesFor(spark, lineitem)
    val t = TreeTargetMonth
    val twoLevel = Seq("1_flat" -> flat, "2_grouped" -> grouped).map { case (layout, loc) =>
      val meta = IcebergTable.readMetadata(loc)
      val manifests = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      val plan = IcebergTable.planFiles(loc, None, Some(t), Some(t))
      val opened = manifests.filter(m => m.partHi >= t && m.partLo <= t)
      (layout, 1L, manifests.size.toLong, plan.manifestsRead.toLong,
        plan.filesTotal, opened.map(_.addedFiles.toLong).sum,
        plan.filesSelected.toLong, plan.files.map(_.recordCount).sum)
    }
    val (t3loc, idx) = tree3TableFor(spark, lineitem)
    val t3meta = IcebergTable.readMetadata(t3loc)
    val t3leaves = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(t3meta).manifestList)
    val tp = IcebergTable.planFilesTree3(idx, t, t)
    val t3row = ("3_tree3", tp.listsRead.toLong, t3leaves.size.toLong,
      tp.manifestsRead.toLong, t3leaves.map(_.addedFiles.toLong).sum,
      tp.entriesParsed, tp.files.size.toLong, tp.files.map(_.recordCount).sum)
    import spark.implicits._
    (twoLevel :+ t3row)
      .toDF("layout", "lists_read", "manifests_total", "manifests_read",
        "files_total", "entries_parsed", "files_selected", "rows_planned")
      .orderBy("layout")
  }

  /** Flat append, then the real `rewrite_manifests` maintenance commit. */
  private def rewriteTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rewrite") {
      val loc = Files.createTempDirectory("graft_iceberg_rw_").toString
      IcebergTable.append(spark, lineitem, loc)
      IcebergTable.rewriteManifests(loc, TreeGroupMonths)
      new String(loc)
    }

  /** Iceberg's `rewrite_manifests` action measured on the real format: the
    * head snapshot before (one flat manifest) vs after (year-grouped
    * branch manifests) the metadata-only rewrite, planning the same
    * one-month scan at both snapshots. `files_identical` is the
    * metadata-only proof — the two plans select the exact same data file
    * paths (entry sequence numbers survive, so delete scoping would too);
    * what changes is planner IO: manifests opened and entries parsed. */
  def rewriteManifestsSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = rewriteTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    val states = Seq("1_before" -> snaps.head, "2_after" -> snaps.last)
    val planned = states.map { case (state, s) =>
      val manifests = IcebergTable.readManifestList(s.manifestList)
      val plan = IcebergTable.planFiles(loc, Some(s.id),
        Some(TreeTargetMonth), Some(TreeTargetMonth))
      val opened = manifests.filter(m =>
        m.partHi >= TreeTargetMonth && m.partLo <= TreeTargetMonth)
      (state, manifests.size.toLong, plan.manifestsRead.toLong, plan.filesTotal,
        opened.map(_.addedFiles.toLong).sum, plan.filesSelected.toLong,
        plan.files.map(_.recordCount).sum)
    }
    val identical =
      IcebergTable.planFiles(loc, Some(snaps.head.id)).files.map(_.path).toSet ==
        IcebergTable.planFiles(loc, Some(snaps.last.id)).files.map(_.path).toSet
    import spark.implicits._
    planned.toDF("state", "manifests_total", "manifests_read", "files_total",
      "entries_parsed", "files_selected", "rows_planned")
      .withColumn("files_identical", lit(identical))
      .orderBy("state")
  }

  /** Wide-table pruning predicate constants (spliced into the oracle):
    * ship month window, price ceiling in integer cents, quantity floor
    * window — three conjuncts over three different manifest statistics. */
  val WideShipLo = "1997-01-01"
  val WideShipHi = "1997-06-30"
  val WidePriceHiCents = 100000L // l_extendedprice <= $1000
  val WideQtyHi = 2L // l_quantity <= 2

  /** The reference's wide-table pruning study (`test_wide_table_pruning
    * .py:193,236` — aggregated column stats in the root manifest answer a
    * multi-column predicate with ZERO data-footer reads) executed on the
    * REAL format: [[IcebergTable]] manifests carry lower/upper bound maps
    * for l_shipdate PLUS the wide-stats set (l_orderkey,
    * l_extendedprice_cents, l_quantity — `IcebergTable.WideBoundCols`'
    * integer-canonical encodings of each written file's footer min/max,
    * taken once at commit), and this census evaluates a 3-conjunct
    * predicate per data file from those real Avro bounds alone:
    * per-conjunct overlap bits and the conjunctive keep verdict, one row
    * per (month, snapshot) file. Every bound is a deterministic aggregate
    * of lineitem's (month × snapshot-half) grain, so DuckDB recomputes bits
    * and verdicts exactly — and the proof that no parquet footer is read
    * at query time is structural: the census reads manifests only. */
  def widePruneReal(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = tableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val entries = IcebergTable.readManifestsParallel(manifests.map(_.path))
      .flatten.filter(_.content == 0)
    val rows = entries.map { f =>
      val (priceLo, _) = f.wideBounds("l_extendedprice_cents") match {
        case (a, b) => (a.toLong, b.toLong) }
      val (qtyLo, _) = f.wideBounds("l_quantity") match { case (a, b) => (a.toLong, b.toLong) }
      val ship = f.hiShip >= WideShipLo && f.loShip <= WideShipHi
      val price = priceLo <= WidePriceHiCents
      val qty = qtyLo <= WideQtyHi
      (f.partition, f.sequence, f.recordCount, ship, price, qty, ship && price && qty)
    }.sortBy(r => (r._1, r._2))
    import spark.implicits._
    rows.toDF("p_month", "seq", "record_count",
      "ship_overlap", "price_overlap", "qty_overlap", "keep")
      .orderBy("p_month", "seq")
  }

  /** Number of single-month commits in the commit-series study. */
  val SeriesMonths = 24
  /** Months per branch manifest in the series' fold commit. */
  val SeriesGroupMonths = 12

  /** [[SeriesMonths]] tiny real commits (one month → one data file each),
    * then the real `rewrite_manifests` fold. Memoized per corpus. */
  private def commitSeriesTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.series") {
      val loc = Files.createTempDirectory("graft_iceberg_series_").toString
      val months = lineitem
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("pm")).distinct()
        .orderBy("pm").limit(SeriesMonths).collect().map(_.getString(0))
      months.foreach { m =>
        IcebergTable.append(spark,
          lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM") === m), loc)
      }
      IcebergTable.rewriteManifests(loc, SeriesGroupMonths)
      new String(loc)
    }

  /** The reference's single-file-commits study (`test_single_file_commits
    * .py:68,111,153` — commit-by-commit metadata growth, then compaction
    * payoff) executed on the REAL format: [[SeriesMonths]] appends of one
    * month each (the pathological small-commit cadence: every commit adds
    * ONE data file and ONE manifest, so the manifest list grows linearly
    * with commit count), each historical snapshot re-planned for the
    * table's first month from its own real metadata — manifest-list
    * length, manifests the range-pruned planner opens, entries parsed,
    * files/rows planned — followed by the real `rewrite_manifests` fold
    * ([[IcebergTable.rewriteManifests]]) that re-bins the accumulated
    * entries into year branches: manifest count collapses 24 → 2 while
    * the probe's planner IO trades 1-manifest/1-entry for
    * 1-manifest/12-entries (the adaptive-tree trade, measured, not
    * asserted). Every number is a deterministic function of lineitem's
    * month census, so DuckDB replays the whole trajectory. */
  def commitSeries(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = commitSeriesTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    val appends = snaps.filter(_.operation == "append")
    // probe = the table's first month, read from the FIRST commit's real
    // manifest bounds (zero data IO — the census never scans parquet)
    val probe = IcebergTable.readManifestList(appends.head.manifestList).map(_.partLo).min
    val states = appends.zipWithIndex.map { case (s, i) => (f"c${i + 1}%02d", s) } :+
      ("fold", snaps.last)
    val rows = states.map { case (state, s) =>
      val manifests = IcebergTable.readManifestList(s.manifestList)
      val plan = IcebergTable.planFiles(loc, Some(s.id), Some(probe), Some(probe))
      val opened = manifests.filter(m => m.partHi >= probe && m.partLo <= probe)
      (state, manifests.size.toLong, plan.manifestsRead.toLong, plan.filesTotal,
        opened.map(_.addedFiles.toLong).sum, plan.filesSelected.toLong,
        plan.files.map(_.recordCount).sum)
    }
    import spark.implicits._
    rows.toDF("state", "manifests_total", "manifests_read", "files_total",
      "entries_parsed", "files_selected", "rows_planned")
      .orderBy("state")
  }

  /** The delete-storm wave predicates (spliced into the oracle): wave i
    * DV-deletes l_orderkey ≡ residue (mod [[DeleteKeyMod]]); residues are
    * distinct so waves are disjoint and the fold is their exact union. */
  val StormResidues: Seq[Long] = Seq(1L, 3L, 5L, 7L)

  /** Inline-DV policy cliff (the reference's `test_delete_storm.py` /
    * `test_gc_performance_cliff.py:56` 4 KB threshold): a DV blob at or
    * under this rides inline with metadata; above it, external. */
  val StormInlineBytes = 4096L

  /** The FULL storage-ladder thresholds of the reference's GC cliff study
    * (`test_gc_performance_cliff.py:56`): ≤4 KB rides inline with
    * metadata, ≤64 KB is a page-sized external object, ≤10 MB a normal
    * external object; beyond that the humongous-object GC regime. */
  val CliffLadder: Seq[(String, Long)] = Seq(
    ("inline_4kb", 4096L), ("page_64kb", 65536L), ("external_10mb", 10L * 1024 * 1024))

  /** Knuth multiplicative hash for the cliff waves: hash-SCATTERED victim
    * positions defeat Roaring's run compression, so blob bytes grow with
    * cardinality for real (order-clustered victims would collapse into
    * run containers and never cross a cliff at test scale). */
  val CliffHashMul = 2654435761L
  val CliffSparseMod = 997L;  val CliffSparseRes = 13L
  val CliffPageMod   = 30L;   val CliffPageRes   = 7L
  val CliffDenseMod  = 10L;   val CliffDenseLt   = 5L

  /** Low-31-bit key mask for the Knuth hash: raw keys stay < 2³¹ at every
    * test SF so the mask is IDENTITY there (blob bytes and the DuckDB
    * oracle are unchanged), but the bench's replica-scaled rungs shift
    * keys by i·2⁴⁰ and the unmasked multiply overflows int64 under ANSI
    * (2⁴⁰·2654435761 ≈ 2.9·10²¹) — masking first keeps the multiply in
    * range at ANY key magnitude, and 2⁴⁰ ≡ 0 (mod 2³¹) means every
    * replica scatters exactly like the base rows. */
  val CliffKeyMask = 0x7FFFFFFFL

  private def cliffPred(i: Int): org.apache.spark.sql.Column = {
    val k = col("l_orderkey").bitwiseAND(lit(CliffKeyMask))
    i match {
      case 0 => pmod(col("l_orderkey"), lit(CliffSparseMod)) === CliffSparseRes
      case 1 => pmod(k * CliffHashMul, lit(CliffPageMod)) === CliffPageRes
      case _ => pmod(k * CliffHashMul, lit(CliffDenseMod)) < CliffDenseLt
    }
  }

  /** GC-cliff fixture: one sorted append (positions pinned by
    * (l_orderkey, l_linenumber) rank within each month file — the DV
    * oracle convention), then one [[IcebergTable.appendDvPuffin]] commit
    * per ladder wave: sparse (sub-4 KB blobs), page-scale (~3% hashed),
    * dense (50% hashed — blobs cross the 4 KB inline cliff and the wave
    * payload crosses 64 KB for real at sf0.1). */
  private def cliffTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.cliff") {
      val loc = Files.createTempDirectory("graft_iceberg_cliff_").toString
      IcebergTable.append(spark, lineitem, loc, sorted = true)
      (0 until 3).foreach(i => IcebergTable.appendDvPuffin(spark, loc, cliffPred(i)))
      new String(loc)
    }

  /** Orphan-scan fixture: a 2-era table plus a CRASHED writer — data files
    * written to a writer-unique directory whose commit never happened (the
    * exact debris an append leaves if the process dies between the data
    * write and the metadata CAS; its month slice is spliced into the
    * oracle). */
  private def orphanTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.orphan") {
      val loc = Files.createTempDirectory("graft_iceberg_orphan_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp"))
        .withColumn("p_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(col("p_month"))
        .write.partitionBy("p_month").mode("overwrite")
        .parquet(s"$loc/data/app-crashed")
      new String(loc)
    }

  /** The `remove_orphan_files` maintenance surface on the real format: walk
    * the table location (the S3 LIST the real action pays) and subtract
    * every file REACHABLE from the retained metadata tree — all metadata
    * versions (the commit log is protocol state, never orphan), every
    * snapshot's manifest list, every manifest, every data/delete file path
    * those manifests carry, and every Puffin statistics file. What remains
    * is debris: here the crashed writer's uncommitted month files — on
    * disk, invisible to every scan, reclaimable only by this walk (no
    * snapshot ever referenced them, so expiry can't see them either; the
    * census proves the rest of the tree is 100% referenced). Counts only —
    * parquet byte sizes are writer-dependent and belong to no oracle. */
  def orphanScan(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = orphanTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val mdir = new java.io.File(s"$loc/metadata")
    // manifest file_path values carry the input_file_name "///x" form —
    // compare the disk walk against their clean form
    def norm(p: String) = GraftVectorized.cleanPath(p)
    val manifestLists = meta.snapshots.map(_.manifestList).toSet
    val manifests = manifestLists.flatMap(IcebergTable.readManifestList(_).map(_.path))
    val dataPaths = manifests.flatMap(m => IcebergTable.readManifest(m).map(e => norm(e.path)))
    val statsPaths = meta.statistics.map(_.path).toSet
    def walk(dir: java.io.File, ext: String): Seq[String] = {
      val fs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      fs.filter(_.isFile).map(_.getPath).filter(_.endsWith(ext)) ++
        fs.filter(_.isDirectory).flatMap(walk(_, ext))
    }
    val onDiskData = walk(new java.io.File(s"$loc/data"), ".parquet")
    val onDiskAvro = walk(mdir, ".avro")
    val onDiskJson = walk(mdir, ".metadata.json")
    // avro files classify by the layout's NAMING convention (manifest
    // lists are metadata/snap-*.avro, manifests metadata/manifest-*),
    // not by reachable-set membership — membership-based classing would
    // misfile an UNREFERENCED manifest list (expired snapshot, crashed
    // commit attempt) as a '2_manifest' orphan and make '3_manifest_list'
    // structurally orphan-free; orphan-ness within each class is then the
    // membership test. (Puffin stats files are .puffin, not .avro, so
    // they never enter this walk.)
    val (listAvro, manifestClassAvro) = onDiskAvro.partition(p =>
      new java.io.File(p).getName.startsWith("snap-"))
    require(statsPaths.forall(p => !p.endsWith(".avro")),
      "orphanScan: statistics files are expected to be .puffin, not .avro")
    val rows = Seq(
      ("1_data_file", onDiskData.size.toLong,
        onDiskData.count(dataPaths.contains).toLong,
        onDiskData.count(p => !dataPaths.contains(p)).toLong),
      ("2_manifest", manifestClassAvro.size.toLong,
        manifestClassAvro.count(manifests.contains).toLong,
        manifestClassAvro.count(p => !manifests.contains(p)).toLong),
      ("3_manifest_list", listAvro.size.toLong,
        listAvro.count(manifestLists.contains).toLong,
        listAvro.count(p => !manifestLists.contains(p)).toLong),
      ("4_metadata_json", onDiskJson.size.toLong, onDiskJson.size.toLong, 0L))
    import spark.implicits._
    rows.toDF("category", "n_on_disk", "n_referenced", "n_orphans")
      .orderBy("category")
  }

  /** Row-lineage delete predicate (spliced into the oracle). */
  val LineageDeleteResidue = 4L

  /** Row-lineage fixture: two sorted append eras (ids assigned per file in
    * partition order), one DV wave, then the LINEAGE-PRESERVING compaction
    * (`rewriteCompact(materializeLineage = true)`) — survivors carry their
    * original `_row_id` as a materialized column in the rewritten files. */
  private def rowLineageTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rowlineage") {
      val loc = Files.createTempDirectory("graft_iceberg_rowlineage_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === LineageDeleteResidue)
      IcebergTable.rewriteCompact(spark, loc, materializeLineage = true)
      new String(loc)
    }

  /** Iceberg v3 ROW LINEAGE on the real format: every data commit assigns
    * each file a `first_row_id` from the table's monotone `next-row-id`
    * counter (metadata.json), a row's implicit `_row_id` is
    * firstRowId + position, and a rewrite must PRESERVE ids by
    * materializing `_row_id` into the rewritten files (re-positioning
    * would silently relabel every surviving row — the lineage a
    * trains-on-this-table consumer keys dedup/provenance on). Census per
    * month file: the ORIGINAL file's assigned id range (pre-compaction
    * metadata, time-traveled) against the SURVIVORS' preserved ids read
    * from the real rewritten parquet — count, min, max and SUM (the sum
    * pins the exact id set, not just its envelope), plus the committed
    * `next_row_id` after the whole history (appends consume tot ids, the
    * compaction's fresh files consume live more; expired/deleted ids are
    * never reused). Sorted writes pin every position, so the DuckDB
    * oracle re-derives each id as base(month) + rank and replays the
    * survivor arithmetic exactly. */
  def rowLineage(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = rowLineageTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    val orig = snaps.take(2).flatMap { s =>
      IcebergTable.readManifestList(s.manifestList)
        .filter(_.addedSnapshotId == s.id)
        .flatMap(m => IcebergTable.readManifest(m.path))
        .filter(_.content == 0)
        .map(f => (f.partition, (s.sequenceNumber, f.firstRowId, f.recordCount)))
    }.toMap
    import spark.implicits._
    val origDf = orig.toSeq
      .map { case (m, (era, fid, n)) => (m, era, fid, n) }
      .toDF("p_month", "era", "first_row_id", "n_rows")
    // the one data read: survivors' materialized _row_id from the real
    // rewritten files (the compacted head has no delete files to merge)
    val survivors = IcebergTable.read(spark, loc)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("p_month"))
      .agg(count(lit(1)).as("survivor_rows"),
        min(col("_row_id")).as("survivor_id_min"),
        max(col("_row_id")).as("survivor_id_max"),
        sum(col("_row_id")).as("survivor_id_sum"))
    origDf.join(survivors, Seq("p_month"))
      .withColumn("next_row_id", lit(meta.nextRowId))
      .select(col("p_month"), col("era"), col("first_row_id"), col("n_rows"),
        col("survivor_rows"), col("survivor_id_min"), col("survivor_id_max"),
        col("survivor_id_sum"), col("next_row_id"))
      .orderBy("p_month")
  }

  /** The reference's GC performance cliff (`test_gc_performance_cliff.py:56`)
    * measured on REAL Puffin DV bytes — the full threshold ladder, not
    * just the storm's 4 KB rung: per wave, every blob is verdicted
    * against 4 KB / 64 KB / 10 MB (`n_le_*` cumulative ladder counts) and
    * the wave's whole Puffin payload is classed into the storage regime
    * its size buys (`payload_class`: inline_4kb / page_64kb /
    * external_10mb / humongous). The dense wave's hash-scattered victims
    * produce blobs that cross the 4 KB inline cliff for real and a
    * payload that crosses 64 KB for real at sf0.1 — the modeled
    * `lake_inline_budget` and this census tell one consistent story. The
    * `4_all` row is the table's total DV footprint: union cardinality
    * (waves overlap; positions dedup) from the ONE data read, everything
    * else manifest arithmetic the DuckDB oracle replays
    * position-for-position. */
  def gcCliff(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = cliffTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val entries = manifests.flatMap(m =>
      IcebergTable.readManifest(m.path).map(e => (m.addedSnapshotId, e)))
    val dataRows = entries.collect { case (_, e) if e.content == 0 => e.recordCount }.sum
    val dv = entries.filter(_._2.content == 1)
    def ladder(es: Seq[IcebergTable.DataFileEntry]): Seq[Long] =
      CliffLadder.map { case (_, t) => es.count(_.contentSize <= t).toLong }
    def classOf(bytes: Long): String =
      CliffLadder.find(bytes <= _._2).map(_._1).getOrElse("humongous")
    val waveNames = Seq("sparse", "page", "dense")
    // wave snapshot ids from the fixture's own metadata (the ordered
    // delete-operation snapshots), not assumed literals — an extra setup
    // commit in cliffTableFor would silently empty every wave otherwise
    val waveIds = meta.snapshots.filter(_.operation == "delete").map(_.id).sorted
    require(waveIds.size == waveNames.size,
      s"gcCliff expects ${waveNames.size} delete waves, found ${waveIds.size}")
    val waves = (0 until 3).map { i =>
      val es = dv.filter(_._1 == waveIds(i)).map(_._2)
      require(es.nonEmpty, s"gcCliff wave ${waveNames(i)} resolved zero DV entries")
      val payload = es.map(_.contentSize).sum
      val lc = ladder(es)
      (s"${i + 1}_${waveNames(i)}", es.size.toLong, es.map(_.recordCount).sum,
        es.map(_.contentSize).max, payload, lc(0), lc(1), lc(2),
        classOf(payload), None: Option[Long])
    }
    val all = dv.map(_._2)
    // the one data read: waves overlap, so union cardinality needs the
    // real DV-merged scan (everything else is manifest arithmetic)
    val live = IcebergTable.readMorUnified(spark, loc)._1.count()
    val payloadAll = all.map(_.contentSize).sum
    val lcAll = ladder(all)
    val allRow = ("4_all", all.size.toLong, dataRows - live,
      all.map(_.contentSize).max, payloadAll, lcAll(0), lcAll(1), lcAll(2),
      classOf(payloadAll), Some(live))
    import spark.implicits._
    (waves :+ allRow)
      .toDF("step", "n_dv_blobs", "dv_cardinality", "max_blob_bytes",
        "payload_bytes", "n_le_4kb", "n_le_64kb", "n_le_10mb",
        "payload_class", "live_rows")
      .orderBy("step")
  }

  /** REAL delete-storm fixture: a sorted 2-era table, then one tiny
    * [[IcebergTable.appendDvPuffin]] commit per wave residue, then one
    * FOLD commit whose per-file blobs cover the union of every wave —
    * the maintenance pass the storm study says must eventually run. */
  private def stormTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.storm") {
      val loc = Files.createTempDirectory("graft_iceberg_storm_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      StormResidues.foreach { r =>
        IcebergTable.appendDvPuffin(spark, loc,
          pmod(col("l_orderkey"), lit(DeleteKeyMod)) === r)
      }
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)).isin(StormResidues: _*))
      new String(loc)
    }

  /** DV-compaction fixture: the storm recipe minus the fold (2 sorted
    * eras + one DV wave per residue), then the compaction rewrite — a
    * SEPARATE table from `iceberg.table.storm` because compaction mutates
    * the head and the storm/changelog censuses read the uncompacted
    * history. */
  private def dvCompactTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.dvcompact") {
      val loc = Files.createTempDirectory("graft_iceberg_dvcompact_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc, sorted = true)
      StormResidues.foreach { r =>
        IcebergTable.appendDvPuffin(spark, loc,
          pmod(col("l_orderkey"), lit(DeleteKeyMod)) === r)
      }
      IcebergTable.rewriteCompact(spark, loc)
      new String(loc)
    }

  /** Compaction of a DELETION-VECTOR table, censused before/after from
    * metadata alone — the oracle-pinned regression for the resurrection
    * bug the DV-lifecycle spec caught (a compaction that materializes
    * through a partial reader re-lives every DV-deleted row): the
    * pre-compaction head's data files and DV blob entries vs the clean
    * rewritten head, whose manifest-stats live-row total must equal the
    * wave-complement count — the proof the replace snapshot carries the
    * DV-merged truth without a delete file left to pay for. */
  def dvCompactSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = dvCompactTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val deleteHead = meta.snapshots.filter(_.operation == "delete").maxBy(_.id)
    val beforeEntries = IcebergTable.readManifestList(deleteHead.manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    val after = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    import spark.implicits._
    Seq((
      beforeEntries.count(_.content == 0).toLong,
      beforeEntries.count(_.content == 1).toLong,
      beforeEntries.filter(_.content == 1).map(_.recordCount).sum,
      after.count(_.content == 0).toLong,
      after.count(_.content == 1).toLong,
      after.filter(_.content == 0).map(_.recordCount).sum,
      meta.snapshots.size.toLong))
      .toDF("data_files_before", "dv_blobs_before", "dv_positions",
        "data_files_after", "dv_blobs_after", "live_rows", "n_snapshots")
  }

  /** Second positional-delete wave for the rewrite fixture: modulus 5, so
    * it OVERLAPS wave 1 (keys ≡ 2 mod 5 include keys ≡ 7 mod 10) — the
    * overlap is what makes the rewrite's union-dedup observable. */
  val PosDeleteMod2 = 5L
  val PosDeleteResidue2 = 2L

  private def rewriteDelTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rewritedel") {
      val loc = Files.createTempDirectory("graft_iceberg_rwdel_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      // three positional waves in three FORMS: a v2 pos-delete parquet
      // file, a v3 DV Puffin wave, and a second pos-parquet wave that
      // overlaps the first (mod-5 residue ⊇ half the mod-10 residue)
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === PosDeleteResidue)
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === DvDeleteResidue)
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(PosDeleteMod2)) === PosDeleteResidue2)
      IcebergTable.rewritePositionDeletes(spark, loc)
      new String(loc)
    }

  /** `rewrite_position_deletes` — the v3 migration maintenance action
    * ([[IcebergTable.rewritePositionDeletes]]), censused from metadata at
    * both heads plus a post-rewrite MOR read: three positional waves in
    * two formats (two v2 pos-delete parquet files — the second overlapping
    * the first — and one DV Puffin wave) consolidate into exactly ONE
    * deletion vector per referenced data file (the spec's v3 invariant),
    * carrying the UNION of positions: `positions_pre_sum` (the waves'
    * recorded cardinalities, overlap double-counted) shrinks to
    * `positions_post` (the exact union), pos-parquet entries drop to
    * zero, and the survivor aggregate over the rewritten head matches the
    * three-residue complement — every number wave arithmetic DuckDB
    * replays. */
  def rewriteDeletesSummary(spark: SparkSession, lineitem: DataFrame,
                            monthLo: String = "1996-11", monthHi: String = "1997-02"): DataFrame = {
    val loc = rewriteDelTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val preHead = meta.snapshots.filter(_.operation == "delete").maxBy(_.id)
    def posEntries(manifestList: String) = {
      val ms = IcebergTable.readManifestList(manifestList)
      IcebergTable.readManifestsParallel(ms.map(_.path)).flatten.filter(_.content == 1)
    }
    val before = posEntries(preHead.manifestList)
    val after = posEntries(IcebergTable.currentSnapshot(meta).manifestList)
    val (live, _, _, posAfter, dvAfter) =
      IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))
    require(posAfter.isEmpty, "rewrite left pos-parquet delete files behind")
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("pos_files_replaced",
        lit(before.count(_.referencedDataFile.isEmpty).toLong))
      .withColumn("dv_blobs_replaced",
        lit(before.count(_.referencedDataFile.isDefined).toLong))
      .withColumn("dv_blobs_post", lit(dvAfter.size.toLong))
      .withColumn("positions_pre_sum", lit(before.map(_.recordCount).sum))
      .withColumn("positions_post", lit(after.map(_.recordCount).sum))
      .withColumn("n_snapshots", lit(meta.snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** CDC changelog over the REAL table history — the
    * `create_changelog_view` surface an Iceberg consumer reads instead of
    * re-diffing table states: one row per snapshot with the inserts its
    * data manifests added (stats only, no data read), the deletes its DV
    * entries ASSERT (blob cardinalities from the manifests), and the NET
    * deletes a correct changelog must emit after deduping re-asserted
    * positions. The storm table makes the dedup requirement concrete:
    * its fold commit re-covers every wave, so it asserts the full union
    * yet must emit ZERO net deletes. All counts are disjoint-residue wave
    * arithmetic over lineitem, so the DuckDB oracle replays them exactly. */
  def changelogScan(spark: SparkSession, lineitem: DataFrame): DataFrame =
    changelogOf(spark, stormTableFor(spark, lineitem))

  /** Changelog core over any real table location (see [[changelogScan]]).
    * "replace" snapshots (compaction / rewrite_manifests / z-order) emit
    * NOTHING: their manifest lists re-add the rewritten file set, but
    * those are layout moves, not logical inserts — a changelog consumer
    * that counted them would double-emit the whole table at every
    * maintenance pass (the same hole the incremental scan closes by
    * append-snapshot scoping; spec-pinned on the DV-compaction fixture).
    *
    * A changelog is a METADATA query; this one resolves ALL THREE delete
    * forms (v3 Puffin DVs, v2 positional parquet, equality keys — the r14
    * verdict gap: a CDC consumer on a Flink-style equality-delete history
    * previously hit a `require`) without ever rescanning history: per-step
    * live counts are manifest row stats minus the per-step cardinality of
    * the union of live delete assertions — computed in ONE linear Spark
    * job per source, not a per-snapshot rescan (the r13 plan was
    * O(history × table scan); at 100 TB with a months-long snapshot log
    * that is a scale-killer). Positional parquet deletes contribute their
    * own (file_path, pos) rows gated by the broadcast target-file map
    * (live ∧ data_seq ≤ delete_seq — the spec's position-delete rule,
    * matching the scan's resolution, [[GraftScan]]); equality deletes —
    * strictly-older per the spec — resolve
    * keys to positions with ONE bounded scan of the strictly-older
    * candidate data files semi-joined against the broadcast key table.
    * Mechanics for DVs: each distinct Puffin blob is
    * decoded ONCE executor-side (driver ships only the KB-grain
    * compressed bytes, as [[GraftScan]] ships them) tagged
    * with the step interval(s) during which it rides in a head manifest
    * list; per (file, position) the covering intervals merge — that is
    * the union dedup — and emit ±1 boundary events; per-step deleted
    * cardinality is then a prefix sum over the bounded history. Work is
    * O(total DV positions), independent of history length, and the fold
    * blob that re-covers every wave costs its own positions once instead
    * of a full rescan per snapshot it survives in.
    *
    * RESUME CONTRACT: `(fromId, toId]` scopes the EMITTED rows to the
    * snapshots a consumer has not yet processed (the same half-open-range
    * convention as [[IcebergTable.planIncremental]]), while step labels,
    * live counts and net deltas stay those of the full history — so for
    * any split point m, changelog(0, m) ++ changelog(m, head) row-for-row
    * equals changelog(0, head) (spec-pinned): a CDC tailer can checkpoint
    * a snapshot id and resume mid-history without re-emitting or losing a
    * step. Metadata and blob work still walk the full retained history
    * (that is what anchors the resumed rows' running live count), which
    * is the bounded metadata cost every history query pays. */
  def changelogOf(spark: SparkSession, loc: String,
                  fromId: Long = 0L, toId: Long = Long.MaxValue): DataFrame = {
    import IcebergTable.{DataFileEntry, readManifest, readManifestList}
    val meta = IcebergTable.readMetadata(loc)
    val snaps = meta.snapshots.sortBy(_.id)
    require(fromId == 0L || snaps.exists(_.id == fromId),
      s"changelogOf: fromId $fromId is not a retained snapshot")
    require(toId == Long.MaxValue || snaps.exists(_.id == toId),
      s"changelogOf: toId $toId is not a retained snapshot")
    val nSteps = snaps.size
    // one pass over the metadata tree; manifests are immutable, so cache
    // by path — the history walk reads each manifest file exactly once
    val manifestCache = scala.collection.mutable.Map.empty[String, Seq[DataFileEntry]]
    val heads: Seq[Seq[DataFileEntry]] = snaps.map(s =>
      readManifestList(s.manifestList)
        .flatMap(m => manifestCache.getOrElseUpdate(m.path, readManifest(m.path))))
    val dataRows = heads.map(_.filter(_.content == 0).map(_.recordCount).sum)
    // compress a live-step set to [start, end) intervals
    def toIvs(steps: Iterable[Int]): Seq[(Int, Int)] =
      steps.toSeq.foldLeft(List.empty[(Int, Int)]) {
        case ((a, b) :: t, s) if s == b => (a, s + 1) :: t
        case (acc0, s) => (s, s + 1) :: acc0
      }.reverse
    // intersection of two sorted interval lists (both metadata-sized);
    // a serializable val (not a def) so executor closures don't drag the
    // enclosing object in
    val andIvs: (Seq[(Int, Int)], Seq[(Int, Int)]) => Seq[(Int, Int)] =
      (a, b) => a.flatMap { case (s1, e1) =>
        b.flatMap { case (s2, e2) =>
          val (s, e) = (math.max(s1, s2), math.min(e1, e2))
          if (s < e) Some((s, e)) else None
        }
      }
    // manifest data paths carry input_file_name()'s "///" form while
    // delete-file entries record File.getPath: compare one clean form
    val normPath: String => String = GraftVectorized.cleanPath
    // per data file (manifest-normalized path): scan index, write sequence,
    // live-step intervals — the gate every delete form shares (a delete
    // applies only while its target file is live and strictly older)
    val fileSteps = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, scala.collection.mutable.SortedSet[Int])]
    heads.zipWithIndex.foreach { case (es, i) =>
      es.foreach(e => if (e.content == 0)
        fileSteps.getOrElseUpdate(normPath(e.path),
          (e.sequence, scala.collection.mutable.SortedSet.empty[Int]))._2 += i)
    }
    val fileGate: Map[String, (Int, Long, Seq[(Int, Int)])] =
      fileSteps.zipWithIndex.map { case ((p, (seq, steps)), idx) =>
        p -> (idx, seq, toIvs(steps))
      }.toMap
    // distinct DV blobs and the step set each is live in (in a head list
    // AND its referenced data file still live — both drop at a replace)
    val blobSteps = scala.collection.mutable.LinkedHashMap
      .empty[(String, Long), (DataFileEntry, scala.collection.mutable.SortedSet[Int])]
    // v2 positional-parquet and equality delete entries, with live steps
    val posEntries = scala.collection.mutable.LinkedHashMap
      .empty[String, (DataFileEntry, scala.collection.mutable.SortedSet[Int])]
    val eqEntries = scala.collection.mutable.LinkedHashMap
      .empty[String, (DataFileEntry, scala.collection.mutable.SortedSet[Int])]
    heads.zipWithIndex.foreach { case (es, i) =>
      val dataPaths = es.collect { case e if e.content == 0 => e.path }.toSet
      es.foreach { e =>
        if (e.content == 1 && e.referencedDataFile.isDefined) {
          if (dataPaths(e.referencedDataFile.get))
            blobSteps.getOrElseUpdate((e.path, e.contentOffset),
              (e, scala.collection.mutable.SortedSet.empty[Int]))._2 += i
        } else if (e.content == 1)
          posEntries.getOrElseUpdate(e.path,
            (e, scala.collection.mutable.SortedSet.empty[Int]))._2 += i
        else if (e.content == 2)
          eqEntries.getOrElseUpdate(e.path,
            (e, scala.collection.mutable.SortedSet.empty[Int]))._2 += i
      }
    }
    // deleted-position cardinality per step, ONE distributed job over the
    // union of all three delete forms resolved to (file, position, live
    // intervals) rows:
    //  - v3 Puffin DVs: driver ships KB-grain compressed blob bytes,
    //    positions explode executor-side;
    //  - v2 positional parquet: the delete files' own (file_path, pos)
    //    rows, each gated through the broadcast file map (target live ∧
    //    data_seq ≤ delete_seq — the spec's position-delete rule, shared
    //    with the readers);
    //  - equality deletes: key-predicate cardinalities resolved by ONE
    //    bounded scan of the candidate (strictly older) data files
    //    semi-joined with the broadcast key table — never a per-snapshot
    //    history rescan. The three sources union into the same
    //    interval-merge dedup, so a position asserted by several forms
    //    still counts once per step.
    val dvCard: Array[Long] = {
      val acc = Array.fill(nSteps)(0L)
      import spark.implicits._
      type PosRow = (Int, Long, Seq[(Int, Int)])
      val dvDs: Option[org.apache.spark.sql.Dataset[PosRow]] =
        if (blobSteps.isEmpty) None
        else {
          val blobBytes = IcebergTable.dvBlobs()
          val blobRows = blobSteps.values.toSeq.map { case (e, steps) =>
            (fileGate(normPath(e.referencedDataFile.get))._1, blobBytes(e), toIvs(steps))
          }
          Some(spark.createDataset(blobRows)
            .flatMap { case (f, bytes, ivs) =>
              RoaringDv.deserializeDvBlob(bytes).iterator.map(p => (f, p, ivs))
            })
        }
      val bGate = spark.sparkContext.broadcast(fileGate)
      val posDs: Option[org.apache.spark.sql.Dataset[PosRow]] =
        if (posEntries.isEmpty) None
        else {
          val srcGate: Map[String, (Long, Seq[(Int, Int)])] =
            posEntries.map { case (p, (e, steps)) =>
              normPath(p) -> (e.sequence, toIvs(steps)) }.toMap
          val bSrc = spark.sparkContext.broadcast(srcGate)
          Some(spark.read.parquet(posEntries.keys.toSeq: _*)
            .select(col("file_path").cast("string"), col("pos").cast("long"),
              input_file_name().as("src"))
            .as[(String, Long, String)]
            .flatMap { case (f0, p, src) =>
              for {
                (sd, ie) <- bSrc.value.get(normPath(src))
                (idx, qf, lf) <- bGate.value.get(normPath(f0))
                // spec gate for POSITION deletes: data_seq <= delete_seq —
                // matches the scan's (GraftScan);
                // the old strict < silently dropped a delete committed at
                // the same sequence as its target data file (ADVICE r15)
                if qf <= sd
                ivs = andIvs(lf, ie)
                if ivs.nonEmpty
              } yield (idx, p, ivs)
            })
        }
      val eqDs: Option[org.apache.spark.sql.Dataset[PosRow]] =
        if (eqEntries.isEmpty) None
        else {
          val srcGate: Map[String, (Long, Seq[(Int, Int)])] =
            eqEntries.map { case (p, (e, steps)) =>
              normPath(p) -> (e.sequence, toIvs(steps)) }.toMap
          val bSrc = spark.sparkContext.broadcast(srcGate)
          val maxEqSeq = eqEntries.values.map(_._1.sequence).max
          val cand = fileGate.collect { case (p, (_, q, _)) if q < maxEqSeq => p }.toSeq
          val keys = spark.read.parquet(eqEntries.keys.toSeq: _*)
            .select(col("key").cast("long").as("k"), input_file_name().as("src"))
          if (cand.isEmpty) None
          else Some(spark.read.parquet(cand: _*)
            .select(col("l_orderkey").cast("long").as("k"),
              input_file_name().as("f"),
              col("_metadata.row_index").cast("long").as("p"))
            .join(broadcast(keys), "k")
            .select(col("f"), col("p"), col("src"))
            .as[(String, Long, String)]
            .flatMap { case (f, p, src) =>
              for {
                (sd, ie) <- bSrc.value.get(normPath(src))
                (idx, qf, lf) <- bGate.value.get(normPath(f))
                if qf < sd
                ivs = andIvs(lf, ie)
                if ivs.nonEmpty
              } yield (idx, p, ivs)
            })
        }
      val sources = Seq(dvDs, posDs, eqDs).flatten
      if (sources.nonEmpty) {
        sources.reduce(_ union _)
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (_, it) =>
            // union dedup: merge every covering blob's intervals, then the
            // position contributes +1/-1 at each merged boundary
            val sorted = it.flatMap(_._3).toSeq.sorted
            val merged = sorted.foldLeft(List.empty[(Int, Int)]) {
              case ((a, b) :: t, (s, e)) if s <= b => (a, math.max(b, e)) :: t
              case (acc0, iv) => iv :: acc0
            }
            merged.iterator.flatMap { case (a, b) =>
              Iterator((a, 1L)) ++ (if (b < nSteps) Iterator((b, -1L)) else Iterator.empty)
            }
          }
          .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .collect()
          .foreach { case (step, d) => acc(step) += d }
        var run = 0L
        (0 until nSteps).foreach { i => run += acc(i); acc(i) = run }
      }
      acc
    }
    var prevLive = 0L
    val rows = snaps.zipWithIndex.map { case (s, i) =>
      val added =
        if (s.operation == "replace") Seq.empty
        else readManifestList(s.manifestList)
          .filter(_.addedSnapshotId == s.id)
          .flatMap(m => manifestCache.getOrElseUpdate(m.path, readManifest(m.path)))
      val ins = added.filter(_.content == 0).map(_.recordCount).sum
      val asserted = added.filter(_.content != 0).map(_.recordCount).sum
      val live = dataRows(i) - dvCard(i)
      val net = prevLive + ins - live
      prevLive = live
      (s.id, (s"${i + 1}_${s.operation}", ins, asserted, net, live))
    }
    import spark.implicits._
    rows.collect { case (id, row) if id > fromId && id <= toId => row }
      .toDF("step", "n_inserts", "n_deletes_asserted", "n_deletes_net", "live_rows")
      .orderBy("step")
  }

  /** [[changelogOf]] over the MIXED-delete-form history (the
    * `iceberg_mixed_deletes` fixture: two appends, an equality-delete
    * commit on keys ≡ 3 mod [[DeleteKeyMod]], a positional-parquet delete
    * commit on keys ≡ 7) — the delete-form generality the r14 verdict
    * asked for: the same changelog a DV-only history gets, emitted from a
    * history written with the Flink-writer norm (equality) and the v2
    * norm (positional parquet), reference corpus
    * test_dv_resolution_strategies.py:100,230. Asserted counts are the
    * delete files' record counts (distinct keys / victim positions); net
    * counts and running live rows come from the position-grain union
    * dedup, so the oracle can replay every number from the residue
    * classes. */
  def changelogMixed(spark: SparkSession, lineitem: DataFrame): DataFrame =
    changelogOf(spark, mixedTableFor(spark, lineitem))

  /** A CDC tailer RESUMING mid-history — [[changelogOf]]'s range form on
    * the storm table: the consumer has checkpointed through the second
    * append era and reads only the delete-storm steps `(era2, head]`. The
    * emitted rows are exactly the tail of the full changelog (same step
    * labels, same running live counts), which the spec pins as the
    * partition property changelog(0,m) ++ changelog(m,head) ≡ full. */
  def changelogResume(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = stormTableFor(spark, lineitem)
    val snaps = IcebergTable.readMetadata(loc).snapshots.sortBy(_.id)
    changelogOf(spark, loc, fromId = snaps(1).id, toId = snaps.last.id)
  }

  /** DV-only rewrite fixture residues: wave 1 deletes keys ≡
    * [[DvDeleteResidue]] (mod [[DeleteKeyMod]]), wave 2 keys ≡
    * [[DvOnlyRes2]] (mod [[DvOnlyMod2]]) — wave 1's class is a SUBSET of
    * wave 2's (6 ≡ 1 mod 5), so the consolidation's union dedup and the
    * all-seq-3 per-file scoping are both observable. */
  val DvOnlyMod2 = 5L
  val DvOnlyRes2 = 1L

  private def rwDvOnlyTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rwdvonly") {
      val loc = Files.createTempDirectory("graft_iceberg_rwdvonly_").toString
      IcebergTable.append(spark, lineitem, loc)
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === DvDeleteResidue)   // seq 2
      IcebergTable.appendDvPuffin(spark, loc,
        pmod(col("l_orderkey"), lit(DvOnlyMod2)) === DvOnlyRes2)          // seq 3 ⊇ seq 2
      IcebergTable.rewritePositionDeletes(spark, loc)
      new String(loc)
    }

  /** `rewrite_position_deletes` on a DV-ONLY history — the consolidation
    * path with no pos-parquet arm (fromParquet=None in
    * [[IcebergTable.rewritePositionDeletes]]): two OVERLAPPING DV waves
    * (keys ≡ 6 mod 10 ⊂ keys ≡ 1 mod 5) collapse to ONE vector per data
    * file carrying the exact union (`positions_pre_sum` double-counts the
    * overlap; `positions_post` is the mod-5 class alone), every rewritten
    * entry carries per-file max preserved sequence 3 (wave 2's class
    * covers wave 1's, so every touched file was touched by wave 2), and
    * the visible row set is unchanged — all residue arithmetic DuckDB
    * replays. */
  def rewriteDvOnlySummary(spark: SparkSession, lineitem: DataFrame,
                           monthLo: String = "1996-11", monthHi: String = "1997-02"): DataFrame = {
    val loc = rwDvOnlyTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val preHead = meta.snapshots.filter(_.operation == "delete").maxBy(_.id)
    def posEntries(manifestList: String) = {
      val ms = IcebergTable.readManifestList(manifestList)
      IcebergTable.readManifestsParallel(ms.map(_.path)).flatten.filter(_.content == 1)
    }
    val before = posEntries(preHead.manifestList)
    val after = posEntries(IcebergTable.currentSnapshot(meta).manifestList)
    val live = IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))._1
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("dv_blobs_pre", lit(before.size.toLong))
      .withColumn("dv_blobs_post", lit(after.size.toLong))
      .withColumn("positions_pre_sum", lit(before.map(_.recordCount).sum))
      .withColumn("positions_post", lit(after.map(_.recordCount).sum))
      .withColumn("seq_post_lo", lit(after.map(_.sequence).min))
      .withColumn("seq_post_hi", lit(after.map(_.sequence).max))
      .withColumn("n_snapshots", lit(meta.snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** Pos-parquet-only rewrite fixture residues: two DISJOINT v2 waves
    * (keys ≡ 4 and ≡ 9, mod [[DeleteKeyMod]]) — the pure v2 → v3
    * migration, where per-file preserved sequences SPLIT by which wave
    * last touched the file. */
  val PosOnlyRes1 = 4L
  val PosOnlyRes2 = 9L

  private def rwPosOnlyTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rwposonly") {
      val loc = Files.createTempDirectory("graft_iceberg_rwposonly_").toString
      IcebergTable.append(spark, lineitem, loc)
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === PosOnlyRes1)       // seq 2
      IcebergTable.appendPositionDeletes(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === PosOnlyRes2)       // seq 3
      IcebergTable.rewritePositionDeletes(spark, loc)
      new String(loc)
    }

  /** `rewrite_position_deletes` on a POS-PARQUET-ONLY history — the pure
    * v2 → v3 migration path (fromDv=None): two disjoint parquet delete
    * waves become one DV per referenced file with exact disjoint-union
    * cardinality, zero pos-parquet entries survive, and per-file preserved
    * sequences split 2/3 by which wave touched the file (months with a ≡9
    * victim carry 3; months with only a ≡4 victim carry 2) — pinning the
    * per-file (not global-max) scoping rule in the oracle. */
  def rewritePosOnlySummary(spark: SparkSession, lineitem: DataFrame,
                            monthLo: String = "1996-11", monthHi: String = "1997-02"): DataFrame = {
    val loc = rwPosOnlyTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val preHead = meta.snapshots.filter(_.operation == "delete").maxBy(_.id)
    def posEntries(manifestList: String) = {
      val ms = IcebergTable.readManifestList(manifestList)
      IcebergTable.readManifestsParallel(ms.map(_.path)).flatten.filter(_.content == 1)
    }
    val before = posEntries(preHead.manifestList)
    val after = posEntries(IcebergTable.currentSnapshot(meta).manifestList)
    require(after.forall(_.referencedDataFile.isDefined),
      "pos-only rewrite left non-DV positional entries behind")
    val live = IcebergTable.readMorUnified(spark, loc, Some(monthLo), Some(monthHi))._1
    live
      .filter(shipMonthRange(monthLo, monthHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_live_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .withColumn("pos_files_replaced",
        lit(before.count(_.referencedDataFile.isEmpty).toLong))
      .withColumn("dv_blobs_post", lit(after.size.toLong))
      .withColumn("positions_pre_sum", lit(before.map(_.recordCount).sum))
      .withColumn("positions_post", lit(after.map(_.recordCount).sum))
      .withColumn("files_seq2", lit(after.count(_.sequence == 2L).toLong))
      .withColumn("files_seq3", lit(after.count(_.sequence == 3L).toLong))
      .withColumn("n_snapshots", lit(meta.snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** Update predicate/assignment (spliced into the oracle): rows with
    * l_orderkey ≡ [[UpdateResidue]] (mod [[DeleteKeyMod]]) get
    * l_quantity += [[UpdateQtyDelta]]. */
  val UpdateResidue = 5L
  val UpdateQtyDelta = 100.0

  private def updateTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.update") {
      val loc = Files.createTempDirectory("graft_iceberg_update_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.updateMorDv(spark, loc,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === UpdateResidue,
        Seq("l_quantity" -> (col("l_quantity") + lit(UpdateQtyDelta))))
      new String(loc)
    }

  /** Real-format row-level MOR UPDATE ([[IcebergTable.updateMorDv]] — the
    * r15 verdict's #2 missing capability): ONE "overwrite" snapshot pairs
    * a DV on the updated rows' old positions with replacement files
    * carrying l_quantity + 100 for keys ≡ 5 (mod 10). The
    * lineage-attached read proves the v3 update rules: survivors keep
    * their `_row_id` (n_rowids_distinct == n_rows_total — ids preserved,
    * none duplicated, none lost), updated rows carry
    * `_last_updated_sequence_number` = the update's sequence (3) while
    * untouched rows keep their append era's (1/2), the visible row COUNT
    * is unchanged, and the window aggregate reflects the new values —
    * every number replayable residue/era arithmetic. */
  def updateMorSummary(spark: SparkSession, lineitem: DataFrame,
                       monthLo: String = "1997-01", monthHi: String = "1997-03"): DataFrame = {
    val loc = updateTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val dvs = IcebergTable.readManifestsParallel(manifests.map(_.path)).flatten
      .filter(_.content == 1)
    val live = IcebergTable.withLineage(IcebergTable.readMorUnified(spark, loc)._1)
    // ONE pass over the MOR read (it used to run twice — a global lineage
    // census then the windowed aggregate, each re-paying the DV-merged
    // scan): grouping sets ((flag), ()) compute both grains in a single
    // table pass. The () grand-total row carries the global census
    // including the EXACT countDistinct(_row_id) uniqueness proof; the
    // (flag) rows carry the in-window per-returnflag aggregate (flag is
    // NULL out of window, so those rows fall into the dropped null group;
    // l_returnflag itself is never null in lineitem). The aggregated table
    // is ≤ #flags + 2 rows — checkpointed so the census branch and the
    // flag branch read it once.
    val flag = when(shipMonthRange(monthLo, monthHi), col("l_returnflag"))
    import graft.plans.Checkpoints._
    val agged = live
      .select(flag.as("flag"), col("_row_id"),
        col("_last_updated_sequence_number").as("seq"), col("l_quantity"))
      .groupingSets(Seq(Seq(col("flag")), Seq.empty), col("flag"))
      .agg(grouping(col("flag")).as("gflag"),
        count(lit(1)).as("n"),
        countDistinct(col("_row_id")).as("ids"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        sum(when(col("seq") === 3L, 1L).otherwise(0L)).as("upd"),
        sum(when(col("seq") === 1L, 1L).otherwise(0L)).as("e1"),
        sum(when(col("seq") === 2L, 1L).otherwise(0L)).as("e2"))
      .stableCheckpoint()
    val census = agged.filter(col("gflag") === 1)
      .select(col("n").as("n_rows_total"), col("ids").as("n_rowids_distinct"),
        col("upd").as("n_updated"), col("e1").as("n_last_seq1"),
        col("e2").as("n_last_seq2"))
    agged.filter(col("gflag") === 0 && col("flag").isNotNull)
      .select(col("flag").as("l_returnflag"), col("n").as("n_live_rows"),
        col("sum_qty"), col("upd").as("n_updated_in_window"))
      .crossJoin(broadcast(census))
      .withColumn("dv_blobs", lit(dvs.size.toLong))
      .withColumn("deleted_positions", lit(dvs.map(_.recordCount).sum))
      .withColumn("n_snapshots", lit(meta.snapshots.size.toLong))
      .orderBy("l_returnflag")
  }

  /** The column-file update study EXECUTED on real bytes (the modeled
    * `lake_column_update_cost`'s counterpart — the last modeled-only
    * reference study with a natural real-format execution,
    * `poc/results/column_file_dv_updates_results.json`): the same update
    * (l_quantity += 100 on keys ≡ 5 mod 10) is paid three real ways and
    * the ACTUAL on-disk bytes compared —
    *  - copy-on-write: the full updated table rewritten (month-partitioned
    *    parquet, one file per month — what a CoW UPDATE writes);
    *  - MOR replacement (what [[IcebergTable.updateMorDv]] committed): the
    *    DV Puffin blobs + full-row replacement files, sizes from the real
    *    manifests;
    *  - column file: ONE sidecar parquet of (_row_id, new value) — the
    *    reference's column-file strategy, addressing rows by their v3
    *    lineage id instead of rewriting them.
    * Row/file counts are residue-and-month arithmetic the oracle replays;
    * the BYTE totals ride as extra columns (dropped from the oracle-hashed
    * registry projection — parquet byte sizes are writer-version facts, not
    * SQL-replayable) with the model's predicted ORDERING pinned as
    * oracle-checked booleans: sidecar < replacement < full rewrite. */
  def columnUpdateExec(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = updateTableFor(spark, lineitem)
    val (cowBytes, colBytes, cowFiles, colFiles) =
      graft.plans.Memo.memoize(lineitem, "iceberg.table.update.exec") {
        val dir = Files.createTempDirectory("graft_colupd_exec_").toString
        val live = IcebergTable.withLineage(IcebergTable.readMorUnified(spark, loc)._1)
        live.drop("_row_id", "_last_updated_sequence_number")
          .withColumn("p_month", date_format(col("l_shipdate"), "yyyy-MM"))
          .repartition(col("p_month"))
          .write.partitionBy("p_month").mode("overwrite").parquet(s"$dir/cow")
        live.filter(col("_last_updated_sequence_number") === 3L)
          .select(col("_row_id"), col("l_quantity"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/colfile")
        def census(p: String): (Long, Long) = {
          import scala.jdk.CollectionConverters._
          val fs = org.apache.commons.io.FileUtils
            .listFiles(new java.io.File(p), Array("parquet"), true)
          (fs.asScala.map(_.length()).sum, fs.size.toLong)
        }
        val (cb, cf) = census(s"$dir/cow")
        val (kb, kf) = census(s"$dir/colfile")
        (cb, kb, cf, kf)
      }
    val meta = IcebergTable.readMetadata(loc)
    val entries = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    val dvBytes = entries.filter(_.content == 1).map(_.contentSize).sum
    val repl = entries.filter(e => e.content == 0 && e.entrySnapshotId == 3L)
    val replBytes = repl.map(_.fileSizeBytes).sum + dvBytes
    val dvs = entries.filter(_.content == 1)
    import spark.implicits._
    Seq((dvs.map(_.recordCount).sum, dvs.size.toLong,
      // the updated table's logical row count = the append eras' stats
      // (the replacement rows REPLACE their DV-covered originals)
      entries.filter(e => e.content == 0 && e.entrySnapshotId != 3L)
        .map(_.recordCount).sum,
      repl.map(_.recordCount).sum, cowFiles, colFiles,
      colBytes < replBytes, replBytes < cowBytes,
      cowBytes, replBytes, colBytes))
      .toDF("updated_rows", "files_touched", "cow_rows", "repl_rows",
        "cow_files", "col_files", "col_lt_repl", "repl_lt_cow",
        "cow_bytes", "repl_bytes", "col_bytes")
  }

  /** Rollback fixture: the "oops" third commit duplicate-appends keys ≡
    * [[RollbackDupResidue]] (mod [[DeleteKeyMod]]), then main rolls back
    * to snapshot 2. */
  val RollbackDupResidue = 0L

  private def rollbackTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.rollback") {
      val loc = Files.createTempDirectory("graft_iceberg_rollback_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      IcebergTable.append(spark, lineitem
        .filter(pmod(col("l_orderkey"), lit(DeleteKeyMod)) === RollbackDupResidue), loc)
      IcebergTable.rollback(loc, 2L)
      new String(loc)
    }

  /** `rollback_to_snapshot` over the real metadata ([[IcebergTable.rollback]]
    * — the r15 verdict's #3 missing capability): an accidental
    * duplicate-append (snapshot 3) is undone by a METADATA-ONLY retarget of
    * main/current to snapshot 2 — default reads immediately plan the clean
    * row set from manifest stats, the bad snapshot stays fully
    * time-travelable by id until expiry (rows_bad_head still readable),
    * the snapshot log keeps all three entries, and the version counter
    * advanced by exactly one JSON write. Zero data IO anywhere. */
  def rollbackSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = rollbackTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    def rowsAt(id: Long): Long =
      IcebergTable.planFiles(loc, Some(id)).files.map(_.recordCount).sum
    import spark.implicits._
    Seq((meta.currentSnapshotId, meta.refs("main").snapshotId,
      meta.snapshots.size.toLong, rowsAt(meta.currentSnapshotId), rowsAt(3L),
      meta.snapshots.map(_.id).max))
      .toDF("current_snapshot_id", "main_snapshot_id", "n_snapshots",
        "rows_after_rollback", "rows_bad_head", "max_snapshot_id")
  }

  private def cherryPickTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.cherrypick") {
      val loc = Files.createTempDirectory("graft_iceberg_cherrypick_").toString
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), loc)
      val staged = IcebergTable.appendStaged(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), loc)
      // main advances PAST the stage's base — fast-forward publish is now
      // impossible (publishStaged refuses); cherry-pick is the only path
      IcebergTable.append(spark, lineitem
        .filter(pmod(col("l_orderkey"), lit(DeleteKeyMod)) === RollbackDupResidue), loc)
      IcebergTable.cherryPick(loc, staged)
      new String(loc)
    }

  /** Cherry-pick over the real metadata ([[IcebergTable.cherryPick]] — the
    * non-fast-forward WAP publish): a staged post-cut append whose base
    * main has moved past (an unrelated append landed meanwhile) is
    * replayed as a NEW head snapshot — the staged entries ride in a
    * rewritten manifest at the NEW commit's sequence, so an incremental
    * consumer over `(3, 4]` sees exactly the picked rows (exactly-once at
    * the pick id, never at the stage id), main's interim commit survives,
    * the staging ref is dropped, and no data file moved. */
  def cherryPickSummary(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = cherryPickTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    def rowsAt(id: Long): Long =
      IcebergTable.planFiles(loc, Some(id)).files.map(_.recordCount).sum
    val picked = IcebergTable.planIncremental(loc, fromId = 3L, toId = 4L)
    // the staged snapshot's own ADDED rows (its manifest list also carries
    // its base's manifests — a full-plan count would include them)
    val stagedRows = IcebergTable.readManifestList(
        meta.snapshots.find(_.id == 2L).get.manifestList)
      .filter(_.addedSnapshotId == 2L).map(_.addedRows).sum
    import spark.implicits._
    Seq((meta.currentSnapshotId, meta.snapshots.size.toLong,
      rowsAt(3L), stagedRows, rowsAt(meta.currentSnapshotId),
      picked.files.map(_.recordCount).sum,
      meta.refs.size.toLong))
      .toDF("current_snapshot_id", "n_snapshots", "rows_before_pick",
        "staged_rows", "rows_after_pick", "picked_incremental_rows", "n_refs")
  }

  /** SQL front-door fixture: a catalog warehouse with `lake.lineitem`
    * (two appends split at [[SnapshotCut]]) and `lake.lineitem_mor` (same
    * two appends + an equality-delete wave on keys ≡ 3 mod 10 + a DV wave
    * on keys ≡ 6 mod 10). */
  private def sqlWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlcat") {
      val w = Files.createTempDirectory("graft_iceberg_sqlwh_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val t1 = IcebergCatalog.createTable(w, "lake", "lineitem")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t1)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), t1)
      val t2 = IcebergCatalog.createTable(w, "lake", "lineitem_mor")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t2)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), t2)
      IcebergTable.appendEqualityDeletes(spark,
        lineitem.filter(col("l_orderkey") % DeleteKeyMod === 3L)
          .select(col("l_orderkey")).distinct(), t2)
      IcebergTable.appendDvPuffin(spark, t2,
        pmod(col("l_orderkey"), lit(DeleteKeyMod)) === DvDeleteResidue)
      // `lake.lineitem_ins`: era 1 committed via the library, era 2 via
      // SQL `INSERT INTO` — the write half of the front door; both commits
      // must be indistinguishable in the table history
      val t3 = IcebergCatalog.createTable(w, "lake", "lineitem_ins")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t3)
      val cat = sqlCatalogFor(spark, w)
      lineitem.filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp"))
        .createOrReplaceTempView("graft_sql_ins_src")
      spark.sql(s"INSERT INTO $cat.lake.lineitem_ins SELECT * FROM graft_sql_ins_src")
      // `lake.lineitem_ctas`: born entirely in SQL — CREATE TABLE AS SELECT
      // commits the table's first metadata version (the query's schema, no
      // snapshot), and the CTAS write commits snapshot 1 through the same
      // appending path
      spark.sql(s"CREATE TABLE $cat.lake.lineitem_ctas AS SELECT * FROM graft_sql_ins_src")
      // `lake.lineitem_del`: the retention DELETE — everything before
      // [[SqlRetentionCut]] removed by SQL, committed as a v3 DV snapshot
      val t4 = IcebergCatalog.createTable(w, "lake", "lineitem_del")
      IcebergTable.append(spark, lineitem, t4)
      spark.sql(s"DELETE FROM $cat.lake.lineitem_del " +
        s"WHERE l_shipdate < TIMESTAMP '$SqlRetentionCut 00:00:00'")
      new String(w)
    }

  /** Retention boundary for the SQL DELETE fixture (spliced into the
    * oracle): rows shipped before this date are deleted. */
  val SqlRetentionCut = "1996-06-01"

  /** Register (idempotently) a [[GraftCatalog]] for this warehouse on the
    * session and return its catalog name. The name is derived from the
    * warehouse path because Spark's CatalogManager CACHES catalog
    * instances by name — a fixed name would pin the first warehouse a JVM
    * ever registered. */
  private def sqlCatalogFor(spark: SparkSession, warehouse: String): String = {
    val cat = "graft_" + (warehouse.hashCode.toLong & 0x7FFFFFFFL)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    cat
  }

  /** The SQL front door itself ([[GraftCatalog]] — the r15 verdict's #1
    * missing capability, "Spark DataFrame read/write + Iceberg Catalog
    * APIs" as literal SQL): `SELECT … FROM <cat>.lake.lineitem WHERE
    * l_shipdate ∈ [Q1-1997]` planned by Spark's DSv2 against the real
    * metadata tree. The census columns prove BOTH pushdowns reached the
    * scan: `files_scanned` ≪ `files_total` (the pushed date bounds hit
    * [[IcebergTable.planFiles]]' manifest stats — replayed by DuckDB from
    * per-month min/max), and `cols_read` = 3 (the required schema became
    * the parquet projection each task read). */
  def sqlSelect(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    import spark.implicits._
    val census = GraftSqlScanCensus.forLocation(
      IcebergCatalog.tableLocation(w, "lake", "lineitem"))
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      census.filesTotal, census.filesSelected, census.colsRead))
      .toDF("l_returnflag", "n_rows", "sum_qty",
        "files_total", "files_scanned", "cols_read")
      .orderBy("l_returnflag")
  }

  /** SQL time travel through the catalog: `VERSION AS OF 1` resolves the
    * pre-cut head (DSv2 `loadTable(ident, version)` → a snapshot-pinned
    * [[IcebergTable.planFiles]] scan) while the default read sees both
    * eras — the catalog-level counterpart of `iceberg_snapshots`'
    * library-call time travel. */
  def sqlTimeTravel(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    def count(sql: String): Long = spark.sql(sql).head().getLong(0)
    val v1 = count(s"SELECT count(*) FROM $cat.lake.lineitem VERSION AS OF 1")
    val head = count(s"SELECT count(*) FROM $cat.lake.lineitem")
    val tables = IcebergCatalog.listTables(w, "lake")
    val meta = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "lineitem"))
    import spark.implicits._
    Seq((v1, head, meta.snapshots.size.toLong, tables.size.toLong,
      tables.mkString(",")))
      .toDF("rows_v1", "rows_head", "n_snapshots", "n_tables", "tables")
  }

  /** SQL over a MOR table: the DSv2 READER resolves the snapshot's delete
    * files — equality keys (≡ 3 mod 10, scoped to strictly-older data
    * files) filtered by value, the DV wave (≡ 6 mod 10) skipped by row
    * ordinal against the compressed Roaring blob shipped in the input
    * partition — so plain `SELECT … GROUP BY` returns the merged truth
    * with no library call in sight. Census columns are the delete files'
    * manifest stats; survivors are the two-residue complement DuckDB
    * replays. */
  def sqlMorSelect(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_live_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_mor
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_mor")
    val meta = IcebergTable.readMetadata(loc)
    val entries = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    val eqs = entries.filter(_.content == 2)
    val dvs = entries.filter(_.content == 1)
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      eqs.map(_.recordCount).sum, dvs.map(_.recordCount).sum,
      meta.snapshots.size.toLong))
      .toDF("l_returnflag", "n_live_rows", "sum_qty",
        "eq_keys", "dv_positions", "n_snapshots")
      .orderBy("l_returnflag")
  }

  /** Full SQL DDL+DML lifecycle: `lake.lineitem_ctas` was born entirely in
    * SQL — `CREATE TABLE … AS SELECT` committed the table's first
    * metadata version with the query's schema and the CTAS write committed
    * snapshot 1
    * through [[IcebergTable.append]]; the census proves a one-snapshot
    * committed table whose rows are exactly the source query's, listed by
    * the catalog beside the library-built tables. */
  def sqlCreate(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_ctas
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val meta = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "lineitem_ctas"))
    val tables = IcebergCatalog.listTables(w, "lake")
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      meta.snapshots.size.toLong, tables.size.toLong))
      .toDF("l_returnflag", "n_rows", "sum_qty", "n_snapshots", "n_tables")
      .orderBy("l_returnflag")
  }

  /** SQL row-level DELETE: `DELETE FROM <cat>.lake.lineitem_del WHERE
    * l_shipdate < <cut>` — the retention pass every lake runs — pushed
    * through [[GraftSqlTable.deleteWhere]] into ONE committing
    * [[IcebergTable.appendDvPuffin]] v3 deletion-vector snapshot. The SQL
    * read afterwards resolves the DV inside the DSv2 reader; census: one
    * DV blob per pre-cut month file, positions = the pre-cut row count,
    * two snapshots. */
  def sqlDelete(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_live_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_del
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_del")
    val meta = IcebergTable.readMetadata(loc)
    val dvs = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path)).filter(_.content == 1)
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      dvs.size.toLong, dvs.map(_.recordCount).sum, meta.snapshots.size.toLong))
      .toDF("l_returnflag", "n_live_rows", "sum_qty",
        "dv_blobs", "deleted_positions", "n_snapshots")
      .orderBy("l_returnflag")
  }

  /** The WRITE half of the SQL front door: era 2 of `lake.lineitem_ins`
    * arrived via `INSERT INTO <cat>.lake.lineitem_ins SELECT …` — a DSv2
    * batch write committed as [[IcebergTable.append]] commits, so the SQL
    * insert's snapshot is indistinguishable from the library append's
    * (snapshot 2, one manifest, month files, row ids). The census reads the
    * table back through SQL and proves the history: 2 snapshots,
    * full row set, the inserted era planned incrementally at (1, 2]. */
  def sqlInsert(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_ins
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_ins")
    val meta = IcebergTable.readMetadata(loc)
    val inserted = IcebergTable.planIncremental(loc, fromId = 1L, toId = 2L)
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      meta.snapshots.size.toLong,
      inserted.files.map(_.recordCount).sum))
      .toDF("l_returnflag", "n_rows", "sum_qty", "n_snapshots", "inserted_rows")
      .orderBy("l_returnflag")
  }

  /** The reference's delete storm (`test_delete_storm.py:51`) executed on
    * REAL v3 deletion vectors: N tiny DV commits accumulate one fragment
    * per (wave, data file) — per step, the census reads fragment growth,
    * the wave's REAL Puffin blob bytes and their cumulative total, and the
    * 4 KB inline-cliff verdict per blob, all from the manifests the
    * commits actually wrote. The final `5_fold` step is the maintenance
    * fold: one blob per file covering the union of every wave — its bytes
    * against the fragments' cumulative bytes is the storm's byte
    * amplification, and its live-row count comes from the REAL DV-merged
    * scan (the one data read in the query). Waves are disjoint residues,
    * so every byte count is RoaringFormatSpec arithmetic DuckDB replays
    * position-for-position (sorted appends pin positions). */
  def dvDeleteStorm(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = stormTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val entries = manifests.flatMap(m =>
      IcebergTable.readManifest(m.path).map(e => (m.addedSnapshotId, e)))
    val dataRows = entries.collect { case (_, e) if e.content == 0 => e.recordCount }.sum
    val dv = entries.filter(_._2.content == 1)
    val firstWave = 3L // snapshots 1..2 are the data eras
    val n = StormResidues.size
    val steps = (0 until n).map { i =>
      val sid = firstWave + i
      val wave = dv.filter(_._1 == sid).map(_._2)
      val cumWaves = dv.filter(e => e._1 >= firstWave && e._1 <= sid).map(_._2)
      val maxFrag = cumWaves.groupBy(_.referencedDataFile.get).values.map(_.size).max.toLong
      (f"${i + 1}_wave", wave.size.toLong, wave.map(_.recordCount).sum,
        maxFrag, wave.map(_.contentSize).sum, cumWaves.map(_.contentSize).sum,
        wave.count(_.contentSize <= StormInlineBytes).toLong,
        dataRows - cumWaves.map(_.recordCount).sum)
    }
    val foldSid = firstWave + n
    val fold = dv.filter(_._1 == foldSid).map(_._2)
    val waveCum = dv.filter(e => e._1 >= firstWave && e._1 < foldSid).map(_._2)
      .map(_.contentSize).sum
    // the one data read: live rows from the real DV-merged scan (every DV
    // applies; fold ⊇ waves, so the union of skipped positions is the
    // fold set)
    val liveReal = IcebergTable.readMorUnified(spark, loc)._1.count()
    val foldRow = (f"${n + 1}_fold", fold.size.toLong, fold.map(_.recordCount).sum,
      fold.groupBy(_.referencedDataFile.get).values.map(_.size).max.toLong,
      fold.map(_.contentSize).sum, waveCum,
      fold.count(_.contentSize <= StormInlineBytes).toLong, liveReal)
    import spark.implicits._
    (steps :+ foldRow)
      .toDF("step", "n_dv_blobs", "dv_cardinality", "max_frag_per_file",
        "blob_bytes", "cum_wave_bytes", "n_inline_4kb", "live_rows")
      .withColumn("amplification_x",
        when(col("step") === f"${n + 1}_fold",
          round(col("cum_wave_bytes") * 1.0 / col("blob_bytes"), 4)))
      .orderBy("step")
  }

  // ---- Manifest merge-on-commit (the adaptive flush/split policy)

  /** Manifest-merge policy parameters (spliced into the oracle): the
    * fixture runs [[MergeSeriesMonths]] single-month appends through
    * [[IcebergTable.appendWithManifestMerge]]; a commit whose flat list
    * would exceed [[MergeMinCount]] manifests folds history into
    * [[MergeGroupMonths]]-month branches in the same commit. */
  val MergeSeriesMonths = 24
  val MergeMinCount = 6
  val MergeGroupMonths = 12

  private def manifestMergeTableFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.table.mergepolicy") {
      val loc = Files.createTempDirectory("graft_iceberg_mergepolicy_").toString
      val months = lineitem
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("pm")).distinct()
        .orderBy("pm").limit(MergeSeriesMonths).collect().map(_.getString(0))
      months.foreach { m =>
        IcebergTable.appendWithManifestMerge(spark,
          lineitem.filter(date_format(col("l_shipdate"), "yyyy-MM") === m), loc,
          minCountToMerge = MergeMinCount, groupMonths = MergeGroupMonths)
      }
      new String(loc)
    }

  /** The adaptive flush/split POLICY executed on the real format
    * ([[IcebergTable.appendWithManifestMerge]] — Iceberg's
    * merge-on-commit, the reference's `RootManifest.add_entry →
    * flush_to_leaf` behavior): 24 single-month appends under a
    * min-count-to-merge of [[MergeMinCount]]; whenever the flat manifest
    * list would exceed it, THE SAME COMMIT folds history into year
    * branches — so the list length follows a sawtooth bounded by the
    * threshold instead of growing linearly, and the probe month's planner
    * IO stays 1 opened manifest at every state. Census per commit from
    * each snapshot's own real metadata: list length, merged flag, opened
    * manifests and entries parsed for the first-month probe, files
    * planned. The DuckDB oracle replays the sawtooth recurrence
    * (recursive CTE over the month rank / year-bin arithmetic). */
  def manifestMergeSeries(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val loc = manifestMergeTableFor(spark, lineitem)
    val meta = IcebergTable.readMetadata(loc)
    val appends = meta.snapshots.filter(_.operation == "append").sortBy(_.id)
    val probe = IcebergTable.readManifestList(appends.head.manifestList).map(_.partLo).min
    var prevTotal = 0L
    val rows = appends.zipWithIndex.map { case (s, i) =>
      val manifests = IcebergTable.readManifestList(s.manifestList)
      val plan = IcebergTable.planFiles(loc, Some(s.id), Some(probe), Some(probe))
      val opened = manifests.filter(m => m.partHi >= probe && m.partLo <= probe)
      val merged = i > 0 && manifests.size.toLong != prevTotal + 1L
      prevTotal = manifests.size.toLong
      (f"c${i + 1}%02d", manifests.size.toLong, merged,
        plan.manifestsRead.toLong, opened.map(_.addedFiles.toLong).sum,
        plan.filesTotal, plan.filesSelected.toLong)
    }
    import spark.implicits._
    rows.toDF("state", "manifests_total", "merged", "manifests_read",
      "entries_parsed", "files_total", "files_selected")
      .orderBy("state")
  }

  // ---- Row-level SQL verbs (UPDATE / MERGE / ALTER / INSERT OVERWRITE)

  /** Key residue updated by the SQL UPDATE fixture (mod 100). */
  val SqlUpdResidue = 7L
  /** MERGE fixture: matched residue (mod 100, pair-unique rows only),
    * insert-source residue (mod 1000) and the re-key offset that makes
    * the insert rows unmatched. */
  val SqlMergeMatchResidue = 11L
  val SqlMergeInsResidue = 13L
  val SqlMergeKeyOffset = 900000000L
  /** Month replaced by the dynamic INSERT OVERWRITE fixture. */
  val SqlOverwriteMonthLo = "1997-03-01"
  val SqlOverwriteMonthHi = "1997-04-01"

  /** Row-level-SQL fixture: a second warehouse whose four tables each
    * exercise one write verb end-to-end —
    *  - `lake.lineitem_upd`: full append, then `UPDATE … SET l_quantity =
    *    l_quantity + 100 WHERE l_orderkey % 100 = 7` through
    *    SupportsRowLevelOperations/SupportsDelta → ONE overwrite snapshot
    *    (DV on the victims + executor-written replacement files);
    *  - `lake.lineitem_mrg`: full append, then `MERGE INTO` — pair-unique
    *    keys ≡ 11 (mod 100) update (+1000 qty), keys ≡ 13 (mod 1000)
    *    re-keyed +9·10⁸ insert (the synthetic corpus does NOT have a
    *    unique (l_orderkey, l_linenumber), so the matched source keeps
    *    pair-unique rows — a duplicate key is a real
    *    MERGE_CARDINALITY_VIOLATION);
    *  - `lake.lineitem_alt`: pre-cut append, `ALTER TABLE ADD COLUMN note
    *    STRING` (metadata-only schema era), post-cut INSERT carrying the
    *    column;
    *  - `lake.lineitem_ow`: full append, then dynamic-mode `INSERT
    *    OVERWRITE` doubling March-1997 quantities — replacing EXACTLY that
    *    month's files. */
  private def sqlRlWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlrl") {
      val w = Files.createTempDirectory("graft_iceberg_sqlrl_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      IcebergTable.append(spark, lineitem,
        IcebergCatalog.createTable(w, "lake", "lineitem_upd"))
      spark.sql(s"UPDATE $cat.lake.lineitem_upd SET l_quantity = l_quantity + 100 " +
        s"WHERE l_orderkey % 100 = $SqlUpdResidue")
      IcebergTable.append(spark, lineitem,
        IcebergCatalog.createTable(w, "lake", "lineitem_mrg"))
      val wPair = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey", "l_linenumber")
      val matched = lineitem
        .filter(pmod(col("l_orderkey"), lit(100L)) === SqlMergeMatchResidue)
        .withColumn("__c", count(lit(1)).over(wPair))
        .filter(col("__c") === 1L).drop("__c")
      val insertedSrc = lineitem
        .filter(pmod(col("l_orderkey"), lit(1000L)) === SqlMergeInsResidue)
        .withColumn("l_orderkey", col("l_orderkey") + lit(SqlMergeKeyOffset))
      matched.unionByName(insertedSrc).createOrReplaceTempView("graft_sql_mrg_src")
      spark.sql(
        s"""MERGE INTO $cat.lake.lineitem_mrg t USING graft_sql_mrg_src s
           |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
           |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity + 1000
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val tAlt = IcebergCatalog.createTable(w, "lake", "lineitem_alt")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), tAlt)
      spark.sql(s"ALTER TABLE $cat.lake.lineitem_alt ADD COLUMN note STRING")
      lineitem.filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp"))
        .withColumn("note", lit("era2"))
        .createOrReplaceTempView("graft_sql_alt_src")
      spark.sql(s"INSERT INTO $cat.lake.lineitem_alt SELECT * FROM graft_sql_alt_src")
      IcebergTable.append(spark, lineitem,
        IcebergCatalog.createTable(w, "lake", "lineitem_ow"))
      lineitem.filter(
          col("l_shipdate") >= lit(SqlOverwriteMonthLo).cast("timestamp") &&
          col("l_shipdate") < lit(SqlOverwriteMonthHi).cast("timestamp"))
        .withColumn("l_quantity", col("l_quantity") * 2)
        .createOrReplaceTempView("graft_sql_ow_src")
      val owKey = "spark.sql.sources.partitionOverwriteMode"
      val oldMode = spark.conf.getOption(owKey)
      spark.conf.set(owKey, "dynamic")
      try spark.sql(s"INSERT OVERWRITE $cat.lake.lineitem_ow SELECT * FROM graft_sql_ow_src")
      finally oldMode.fold(spark.conf.unset(owKey))(v => spark.conf.set(owKey, v))
      new String(w)
    }

  private def rlTableCensus(w: String, table: String)
      : (IcebergTable.TableMetadata, Seq[IcebergTable.DataFileEntry]) = {
    val loc = IcebergCatalog.tableLocation(w, "lake", table)
    val meta = IcebergTable.readMetadata(loc)
    val entries = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path))
    (meta, entries)
  }

  /** Bench hook: the SAME full-scan aggregate through the SQL front door
    * (DSv2 vectorized/columnar reader) and the library read path
    * ([[IcebergTable.read]] → Spark's own FileScan) on the same fixture
    * table — the r16 verdict's "SQL read within ~1.2× of the library
    * read" datapoint. The MOR pair repeats it on the delete-carrying
    * table (SQL vs [[IcebergTable.readMorUnified]], which read through
    * the same scan).
    * Returns (sqlSec, libSec, morSqlSec, morLibSec) medians of `reps`. */
  def sqlReadBench(spark: SparkSession, lineitem: DataFrame,
                   reps: Int = 3): (Double, Double, Double, Double) = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem")
    val morLoc = IcebergCatalog.tableLocation(w, "lake", "lineitem_mor")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    def agg(df: DataFrame): Unit =
      df.agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .collect()
    val sqlT = med((1 to reps).map(_ => time { agg(
      spark.sql(s"SELECT l_quantity, l_extendedprice FROM $cat.lake.lineitem")) }))
    val libT = med((1 to reps).map(_ => time { agg(
      IcebergTable.read(spark, loc)) }))
    val morSqlT = med((1 to reps).map(_ => time { agg(
      spark.sql(s"SELECT l_quantity, l_extendedprice FROM $cat.lake.lineitem_mor")) }))
    val morLibT = med((1 to reps).map(_ => time { agg(
      IcebergTable.readMorUnified(spark, morLoc)._1) }))
    (sqlT, libT, morSqlT, morLibT)
  }

  /** The `_file`/`_pos` METADATA COLUMNS through plain SQL
    * (SupportsMetadataColumns — the row coordinates the vectorized reader
    * synthesizes, and the rowId the row-level operations key on): per
    * month, the file census falls straight out of a SELECT — one data
    * file per month (count distinct _file), positions dense 0..n-1 within
    * the file (max _pos = rows−1, sum _pos = n(n−1)/2 — the density
    * proof), replayable by DuckDB from month arithmetic alone. */
  def sqlMetaColumns(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    spark.sql(
      s"""SELECT date_format(l_shipdate, 'yyyy-MM') AS month,
         | count(*) AS n_rows,
         | count(DISTINCT _file) AS n_files,
         | max(_pos) AS max_pos,
         | sum(_pos) AS sum_pos
         |FROM $cat.lake.lineitem
         |GROUP BY 1
         |ORDER BY 1""".stripMargin)
  }

  /** SQL `UPDATE` through the catalog (SupportsRowLevelOperations →
    * SupportsDelta): the matched rows' old positions land in ONE v3 DV
    * wave and their updated images in executor-written month-partitioned
    * replacement files — one "overwrite" snapshot, the same history
    * [[IcebergTable.updateMorDv]] commits. The census proves it: DV
    * cardinality = victim count, 2 snapshots, head operation overwrite,
    * and the read-back aggregate reflects +100 on every victim. */
  def sqlUpdate(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlRlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_upd
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val (meta, entries) = rlTableCensus(w, "lineitem_upd")
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      entries.filter(_.content == 1).map(_.recordCount).sum,
      meta.snapshots.size.toLong))
      .toDF("l_returnflag", "n_rows", "sum_qty", "updated_rows", "n_snapshots")
      .orderBy("l_returnflag")
  }

  /** SQL `MERGE INTO` through the catalog — the upsert verb every lake
    * ingest runs: matched rows update (delete+insert under the delta
    * encoding), unmatched source rows insert, ONE overwrite snapshot.
    * Census: DV cardinality = matched count, snapshot-2 data rows =
    * matched replacements + inserts. */
  def sqlMerge(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlRlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_mrg
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val (meta, entries) = rlTableCensus(w, "lineitem_mrg")
    val dvCard = entries.filter(_.content == 1).map(_.recordCount).sum
    val snap2Rows = entries
      .filter(e => e.content == 0 && e.entrySnapshotId == 2L)
      .map(_.recordCount).sum
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      dvCard, snap2Rows - dvCard, meta.snapshots.size.toLong))
      .toDF("l_returnflag", "n_rows", "sum_qty",
        "updated_rows", "inserted_rows", "n_snapshots")
      .orderBy("l_returnflag")
  }

  /** SQL `ALTER TABLE ADD COLUMN` — a METADATA-ONLY schema-era commit
    * (spec §Schema Evolution): pre-alter rows null-fill the new column
    * (the reader's null-vector path), the post-alter INSERT writes it for
    * real, and the schemas array records both eras. */
  def sqlAlter(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlRlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val r = spark.sql(
      s"""SELECT count(*) AS n_rows, count(note) AS rows_with_note,
         | count(*) - count(note) AS rows_null_note
         |FROM $cat.lake.lineitem_alt""".stripMargin).head()
    val (meta, _) = rlTableCensus(w, "lineitem_alt")
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2),
      meta.schemas.size.toLong, meta.snapshots.size.toLong,
      meta.currentSchema.field("note").isDefined))
      .toDF("n_rows", "rows_with_note", "rows_null_note",
        "n_schema_eras", "n_snapshots", "note_in_schema")
  }

  /** Dynamic `INSERT OVERWRITE` — partition-level replace: only the month
    * that received data was replaced (its files carry sequence 2, every
    * other month's files still sequence 1), quantities in that month
    * doubled, and snapshot 1 stays fully time-travelable. */
  def sqlOverwrite(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlRlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         | round(sum(l_quantity), 4) AS sum_qty
         |FROM $cat.lake.lineitem_ow
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin).collect()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_ow")
    val meta = IcebergTable.readMetadata(loc)
    val plan = IcebergTable.planFiles(loc)
    val monthsReplaced = plan.files.filter(_.sequence == 2L)
      .map(_.partition).distinct.size.toLong
    val monthsKept = plan.files.filter(_.sequence == 1L)
      .map(_.partition).distinct.size.toLong
    val rowsV1 = IcebergTable.planFiles(loc, Some(1L)).files.map(_.recordCount).sum
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      monthsReplaced, monthsKept, rowsV1, meta.snapshots.size.toLong))
      .toDF("l_returnflag", "n_rows", "sum_qty",
        "months_replaced", "months_kept", "rows_v1", "n_snapshots")
      .orderBy("l_returnflag")
  }

  // ---- round-18 SQL surface: DROP/RENAME COLUMN, clause-general MERGE,
  // streaming ingest, metadata tables ----

  /** MERGE-2 fixture residues (spliced into the oracle): matched-update
    * keys ≡ SqlM2UpdResidue (mod 100), matched-delete keys ≡
    * SqlM2DelResidue (mod 100), insert source keys ≡ SqlM2InsResidue
    * (mod 1000) shifted by SqlM2KeyOffset, and NOT-MATCHED-BY-SOURCE
    * updates hit target keys ≡ SqlM2NmbsResidue (mod 1000) — residue
    * classes chosen pairwise disjoint so the four arms partition the
    * table. */
  val SqlM2UpdResidue = 17L
  val SqlM2DelResidue = 29L
  val SqlM2InsResidue = 3L
  val SqlM2NmbsResidue = 500L
  val SqlM2KeyOffset = 910000000L
  /** Dropped / renamed columns of the evolution fixture. */
  val SqlDropCol = "l_extendedprice"
  val SqlRenameFrom = "l_quantity"
  val SqlRenameTo = "qty"

  private val LineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** Round-18 SQL fixture warehouse:
    *  - `lake.lineitem_drop`: two appends, then `ALTER TABLE … DROP COLUMN
    *    l_extendedprice` (a metadata-only schema version — current reads
    *    hide it, time travel at the pre-drop snapshot still serves it);
    *  - `lake.lineitem_ren`: era-1 append, `RENAME COLUMN l_quantity TO
    *    qty`, then a SQL INSERT of era 2 under the NEW name — reads must
    *    stitch both eras through the field id's name history;
    *  - `lake.lineitem_mrg2`: the clause-general MERGE — conditional
    *    WHEN MATCHED UPDATE and DELETE arms, WHEN NOT MATCHED INSERT, and
    *    WHEN NOT MATCHED BY SOURCE UPDATE, all through ONE delta write;
    *  - `lake.lineitem_stream`: three `writeStream.toTable` epochs through
    *    [[GraftStreamingWrite]] (one append snapshot per epoch, summary-
    *    recorded (query, epoch) — the exactly-once dedup the ops probe).
    * The MERGE source is PAIR-UNIQUE per arm ((l_orderkey, l_linenumber)
    * windows — the synthetic lineitem is NOT pair-unique) and arm residues
    * are disjoint, so no target row matches two source rows. */
  private def sqlR18WarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlr18") {
      val w = Files.createTempDirectory("graft_iceberg_sqlr18_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      // -- drop fixture
      val tDrop = IcebergCatalog.createTable(w, "lake", "lineitem_drop")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), tDrop)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), tDrop)
      spark.sql(s"ALTER TABLE $cat.lake.lineitem_drop DROP COLUMN $SqlDropCol")
      // -- rename fixture
      val tRen = IcebergCatalog.createTable(w, "lake", "lineitem_ren")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), tRen)
      spark.sql(s"ALTER TABLE $cat.lake.lineitem_ren " +
        s"RENAME COLUMN $SqlRenameFrom TO $SqlRenameTo")
      lineitem.filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp"))
        .withColumnRenamed(SqlRenameFrom, SqlRenameTo)
        .createOrReplaceTempView("graft_sql_ren_src")
      spark.sql(s"INSERT INTO $cat.lake.lineitem_ren " +
        s"SELECT ${LineitemCols.map(c => if (c == SqlRenameFrom) SqlRenameTo else c).mkString(", ")} " +
        "FROM graft_sql_ren_src")
      // -- clause-general MERGE fixture
      IcebergTable.append(spark, lineitem,
        IcebergCatalog.createTable(w, "lake", "lineitem_mrg2"))
      val wPair = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey", "l_linenumber")
      def pairUnique(df: DataFrame): DataFrame =
        df.withColumn("__c", count(lit(1)).over(wPair)).filter(col("__c") === 1L).drop("__c")
      val srcUpd = pairUnique(lineitem
        .filter(pmod(col("l_orderkey"), lit(100L)) === SqlM2UpdResidue))
        .withColumn("action", lit("upd"))
      val srcDel = pairUnique(lineitem
        .filter(pmod(col("l_orderkey"), lit(100L)) === SqlM2DelResidue))
        .withColumn("action", lit("del"))
      val srcIns = lineitem
        .filter(pmod(col("l_orderkey"), lit(1000L)) === SqlM2InsResidue)
        .withColumn("l_orderkey", col("l_orderkey") + lit(SqlM2KeyOffset))
        .withColumn("action", lit("ins"))
      srcUpd.unionByName(srcDel).unionByName(srcIns)
        .createOrReplaceTempView("graft_sql_mrg2_src")
      val insertCols = LineitemCols.mkString(", ")
      val insertVals = LineitemCols.map("s." + _).mkString(", ")
      spark.sql(
        s"""MERGE INTO $cat.lake.lineitem_mrg2 t USING graft_sql_mrg2_src s
           |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
           |WHEN MATCHED AND s.action = 'upd'
           |  THEN UPDATE SET l_quantity = t.l_quantity + 10000
           |WHEN MATCHED AND s.action = 'del' THEN DELETE
           |WHEN NOT MATCHED AND s.action = 'ins'
           |  THEN INSERT ($insertCols) VALUES ($insertVals)
           |WHEN NOT MATCHED BY SOURCE AND t.l_orderkey % 1000 = $SqlM2NmbsResidue
           |  THEN UPDATE SET l_quantity = t.l_quantity + 50000""".stripMargin)
      // -- cardinality-violation probe table (a merge whose source carries
      // the same (okey, lnum) pair twice MUST be rejected; tiny table)
      IcebergTable.append(spark,
        lineitem.filter(col("l_shipdate") < lit("1996-02-01").cast("timestamp")),
        IcebergCatalog.createTable(w, "lake", "lineitem_mrg2bad"))
      // -- ref-read fixture: tag at era 1, branch at era 2, main at era 3
      val tRef = IcebergCatalog.createTable(w, "lake", "lineitem_ref")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), tRef)
      IcebergTable.setRef(tRef, "audit", 1L, "tag")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp") &&
                col("l_shipdate") < lit(SqlCallEra3Cut).cast("timestamp")), tRef)
      IcebergTable.setRef(tRef, "dev", 2L, "branch")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SqlCallEra3Cut).cast("timestamp")), tRef)
      // -- streaming-ingest fixture: 3 epochs via writeStream.toTable
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val markers = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val li3 = lineitem.withColumn("__b", pmod(col("l_orderkey"), lit(3L)).cast("int"))
      val streamDf = markers.toDF().toDF("__m")
        .join(li3, col("__m") === col("__b"))
        .drop("__m", "__b")
      // Pre-create the sink table (with Iceberg's write.distribution-mode=
      // hash property, which graft's writes follow anyway): each streaming
      // epoch is hash-clustered by months(l_shipdate) before the writers,
      // so an epoch writes ≈ months-touched files instead of
      // tasks × months, as every graft write does.
      spark.sql(s"""CREATE TABLE $cat.lake.lineitem_stream
        | (${lineitem.schema.toDDL})
        | TBLPROPERTIES ('write.distribution-mode'='hash')""".stripMargin)
      val ckpt = new java.io.File(w, "_stream_ckpt").getPath
      val q = streamDf.writeStream
        .option("checkpointLocation", ckpt)
        .toTable(s"$cat.lake.lineitem_stream")
      try {
        (0 to 2).foreach { i => markers.addData(i); q.processAllAvailable() }
      } finally q.stop()
      new String(w)
    }

  /** `ALTER TABLE DROP COLUMN` + `RENAME COLUMN` through the SQL front
    * door — both metadata-only era commits (spec §Schema Evolution):
    * the dropped column vanishes from current reads but stays readable
    * via `VERSION AS OF` time travel (the pre-drop snapshot keeps its
    * schema), and the renamed column serves BOTH eras' data — files
    * written under the old name resolve through the field id's name
    * history, files written after the rename carry the new name natively. */
  def sqlAlterDropRename(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlR18WarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val nRows = spark.sql(s"SELECT count(*) FROM $cat.lake.lineitem_drop")
      .head().getLong(0)
    val schemaNow = spark.table(s"$cat.lake.lineitem_drop").schema
    val hasDroppedNow = schemaNow.fieldNames.contains(SqlDropCol)
    // time travel to the pre-drop head (snapshot 2): the dropped column is
    // back in the schema and every row carries its value
    val ttWithPrice = spark.sql(
      s"SELECT count($SqlDropCol) FROM $cat.lake.lineitem_drop VERSION AS OF 2")
      .head().getLong(0)
    val ren = spark.sql(
      s"""SELECT count(*), round(sum($SqlRenameTo), 4),
         | round(sum(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCut 00:00:00'
         |   THEN $SqlRenameTo END), 4)
         |FROM $cat.lake.lineitem_ren""".stripMargin).head()
    import spark.implicits._
    Seq((nRows, hasDroppedNow, schemaNow.size.toLong, ttWithPrice,
      ren.getLong(0), ren.getDouble(1), ren.getDouble(2)))
      .toDF("n_rows", "dropped_visible_now", "n_cols_now", "tt_rows_with_price",
        "ren_rows", "ren_sum_qty", "ren_sum_qty_era1")
  }

  /** Clause-general `MERGE INTO` (the full SQL-standard arm set through
    * ONE delta write): conditional WHEN MATCHED UPDATE and DELETE,
    * WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE — plus
    * the cardinality-violation guard: a source carrying the same
    * (l_orderkey, l_linenumber) pair twice must be REJECTED (SQL-standard
    * nondeterministic-update protection), leaving the probe table
    * untouched. Census columns are range-keyed (the +10000/+50000
    * quantity shifts put each arm's rows in a disjoint band). */
  def sqlMerge2(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlR18WarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val r = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4),
         | count(CASE WHEN l_quantity > 10000 AND l_quantity < 50000 THEN 1 END),
         | count(CASE WHEN l_quantity > 50000 THEN 1 END),
         | count(CASE WHEN l_orderkey >= $SqlM2KeyOffset THEN 1 END)
         |FROM $cat.lake.lineitem_mrg2""".stripMargin).head()
    val (meta, entries) = rlTableCensus(w, "lineitem_mrg2")
    val dvCard = entries.filter(_.content == 1).map(_.recordCount).sum
    // cardinality probe: duplicate-pair source must throw and leave the
    // table unchanged (idempotent across re-runs — the merge never lands)
    // deterministic probe row FROM the probe table's range, duplicated
    // with conflicting assignments — the textbook violation
    val one = lineitem
      .filter(col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .orderBy("l_orderkey", "l_linenumber").limit(1)
    val bad = one.withColumn("l_quantity", lit(1.0))
      .unionByName(one.withColumn("l_quantity", lit(2.0)))
    bad.createOrReplaceTempView("graft_sql_mrg2_bad_src")
    val before = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "lineitem_mrg2bad")).snapshots.size
    val rejected =
      try {
        spark.sql(
          s"""MERGE INTO $cat.lake.lineitem_mrg2bad t USING graft_sql_mrg2_bad_src s
             |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
             |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity""".stripMargin)
        false
      } catch {
        case e: Throwable
            if Option(e.getMessage).exists(_.toLowerCase.contains("cardinality")) => true
      }
    val after = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "lineitem_mrg2bad")).snapshots.size
    import spark.implicits._
    Seq((r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4),
      dvCard, meta.snapshots.size.toLong, rejected, before == after))
      .toDF("n_rows", "sum_qty", "upd_rows", "nmbs_rows", "ins_rows",
        "dv_rows", "n_snapshots", "dup_source_rejected", "bad_table_unchanged")
  }

  /** Metadata tables through plain SQL (`SELECT … FROM <cat>.<ns>.<t>
    * .files` — the inspection surface every Iceberg user leans on): the
    * files census per month joined with the snapshots/manifests counts,
    * all served by [[GraftMetaTables]] as driver-local scans over the
    * metadata tree (zero data IO). */
  def sqlFilesMeta(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    spark.sql(
      s"""SELECT f.p_month, count(*) AS n_files, sum(f.record_count) AS n_rows,
         | min(f.lo_shipdate) AS lo_shipdate, max(f.hi_shipdate) AS hi_shipdate,
         | max(f.sequence_number) AS sequence_number,
         | (SELECT count(*) FROM $cat.lake.lineitem.snapshots) AS n_snapshots,
         | (SELECT count(*) FROM $cat.lake.lineitem.manifests) AS n_manifests
         |FROM $cat.lake.lineitem.files f
         |GROUP BY f.p_month ORDER BY f.p_month""".stripMargin)
  }

  /** Streaming ingest through the DSv2 sink ([[GraftStreamingWrite]]):
    * three `writeStream.toTable` epochs committed as three append
    * snapshots with (streaming-query, epoch-id) summaries, then the
    * EXACTLY-ONCE probe — re-committing the last epoch (what a restarted
    * query's replay does) with freshly staged files must be a no-op:
    * snapshot count unchanged, staged files dropped. */
  def streamIngest(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlR18WarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val r = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4)
         |FROM $cat.lake.lineitem_stream""".stripMargin).head()
    val loc = IcebergCatalog.tableLocation(w, "lake", "lineitem_stream")
    val meta = IcebergTable.readMetadata(loc)
    val streamSnaps = meta.snapshots
      .filter(_.summary.contains("streaming-query"))
    val qid = streamSnaps.last.summary("streaming-query")
    val lastEp = streamSnaps.flatMap(_.summary.get("epoch-id")).map(_.toLong).max
    // the replay probe: stage real files for the already-committed epoch
    val stage = Files.createTempDirectory("graft_stream_replay_").toString
    lineitem.limit(200)
      .withColumn("p_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.partitionBy("p_month").mode("overwrite").parquet(stage)
    val staged = new java.io.File(stage).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
    IcebergTable.commitStreamAppend(spark, loc, stage, staged, qid, lastEp)
    val after = IcebergTable.readMetadata(loc)
    import spark.implicits._
    Seq((r.getLong(0), r.getDouble(1), meta.snapshots.size.toLong,
      streamSnaps.size.toLong, lastEp,
      after.snapshots.size == meta.snapshots.size))
      .toDF("n_rows", "sum_qty", "n_snapshots", "n_stream_commits",
        "last_epoch", "replay_noop")
  }

  /** CALL-procedure fixture boundary: era 3 starts here (eras: < SnapshotCut,
    * [SnapshotCut, SqlCallEra3Cut), ≥ SqlCallEra3Cut). */
  val SqlCallEra3Cut = "1998-01-01"

  /** `CALL <cat>.system.<proc>` fixture: `lake.lineitem_call` gets three
    * era appends, then the maintenance sequence every lake operator runs —
    * `rollback_to_snapshot(2)` (head back one era),
    * `expire_snapshots(retain_last => 2)` (snapshot 1 expired; its manifest
    * survives via snapshot 2's reuse — zero files deleted),
    * `rewrite_manifests(group_months => 12)` (the head's 2 era manifests
    * regrouped into year branches as snapshot 4). The procedures' own
    * report rows are persisted as a sidecar so the op returns the ACTUAL
    * CALL outputs, not a recomputation. */
  private def sqlCallWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlcall") {
      val w = Files.createTempDirectory("graft_iceberg_sqlcall_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      val t = IcebergCatalog.createTable(w, "lake", "lineitem_call")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp") &&
                col("l_shipdate") < lit(SqlCallEra3Cut).cast("timestamp")), t)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SqlCallEra3Cut).cast("timestamp")), t)
      val rb = spark.sql(
        s"CALL $cat.system.rollback_to_snapshot(table => 'lake.lineitem_call', snapshot_id => 2)").head()
      val ex = spark.sql(
        s"CALL $cat.system.expire_snapshots(table => 'lake.lineitem_call', retain_last => 2)").head()
      val rw = spark.sql(
        s"CALL $cat.system.rewrite_manifests(table => 'lake.lineitem_call')").head()
      val report = Seq(rb.getLong(0), rb.getLong(1), ex.getLong(0), ex.getLong(1),
        ex.getLong(2), ex.getLong(3), rw.getLong(0), rw.getLong(1), rw.getLong(2))
      java.nio.file.Files.write(new java.io.File(w, "call_reports.json").toPath,
        report.mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new String(w)
    }

  /** SQL stored procedures (`CALL <cat>.system.<proc>(…)`) — rollback /
    * expire / rewrite-manifests through Spark's connector procedure API
    * ([[GraftProcedures]]); census = the procedures' own report rows plus
    * the final table state (head rows = eras 1+2, snapshot log
    * [2, 3, 4]). */
  def sqlCall(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlCallWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rep = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(w, "call_reports.json").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)
    val r = spark.sql(
      s"SELECT count(*) FROM $cat.lake.lineitem_call").head()
    val meta = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "lineitem_call"))
    import spark.implicits._
    Seq((rep(0), rep(1), rep(2), rep(3), rep(4), rep(5), rep(6), rep(7), rep(8),
      r.getLong(0), meta.snapshots.size.toLong))
      .toDF("prev_snapshot_id", "rolled_to", "snapshots_removed",
        "manifest_lists_deleted", "manifests_deleted", "data_files_deleted",
        "rewrite_snapshot_id", "manifests_before", "manifests_after",
        "n_rows", "n_snapshots")
  }

  /** Ref-name time travel through SQL (`VERSION AS OF 'audit'` — spec
    * §Refs resolved by the catalog the way Iceberg's Spark runtime does):
    * the tag pins era 1, the branch pins eras 1–2, main reads all three
    * eras, and the `refs` metadata table censuses all three refs via
    * plain SQL. */
  def sqlRefRead(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlR18WarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    def cnt(sql: String): Long = spark.sql(sql).head().getLong(0)
    val tagRows = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_ref VERSION AS OF 'audit'")
    val brRows = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_ref VERSION AS OF 'dev'")
    val headRows = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_ref")
    val refs = spark.sql(
      s"""SELECT name, type, snapshot_id FROM $cat.lake.lineitem_ref.refs
         |ORDER BY name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    import spark.implicits._
    Seq((tagRows, brRows, headRows, refs.size.toLong,
      refs.map(r => s"${r._1}:${r._2}:${r._3}").mkString(",")))
      .toDF("rows_tag", "rows_branch", "rows_head", "n_refs", "refs")
  }

  /** Maintenance-procedure fixture (round 2 of the CALL surface):
    * `lake.lineitem_call2` gets THREE residue appends (l_orderkey % 3 —
    * every append covers every month, so the table holds 3 files per
    * month: the small-file state compaction exists for), one pushable SQL
    * DELETE (v3 DV snapshot 4), and two PLANTED orphan files (a stray
    * parquet under data/, a stray Avro under metadata/ — what a crashed
    * writer leaves). Then the maintenance sequence:
    * `remove_orphan_files` (deletes exactly the two plants),
    * `rewrite_data_files` (compaction snapshot 5: 3 files/month → 1,
    * deletes applied), `compute_table_stats` (real Puffin KMV stats bound
    * to snapshot 5), `set_current_snapshot(3)` (head re-points BACK, rows
    * pre-delete), `rollback_to_timestamp(5000)` (head re-points FORWARD
    * by time to snapshot 5). Reports persist as a sidecar so the census
    * returns the CALLs' own outputs. */
  val SqlCall2DeleteBound = 1000L

  private def sqlCall2WarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlcall2") {
      val w = Files.createTempDirectory("graft_iceberg_sqlcall2_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      val t = IcebergCatalog.createTable(w, "lake", "lineitem_call2")
      (0L to 2L).foreach { r =>
        IcebergTable.append(spark,
          lineitem.filter(pmod(col("l_orderkey"), lit(3L)) === r), t)
      }
      spark.sql(s"DELETE FROM $cat.lake.lineitem_call2 " +
        s"WHERE l_orderkey < $SqlCall2DeleteBound")
      // plant the orphans a crashed writer leaves
      java.nio.file.Files.write(new java.io.File(s"$t/data", "plant-orphan.parquet").toPath,
        Array[Byte](80, 65, 82, 49))
      java.nio.file.Files.write(new java.io.File(s"$t/metadata", "plant-orphan.avro").toPath,
        Array[Byte](79, 98, 106, 1))
      def call(sql: String) = spark.sql(sql).head()
      val orph = call(s"CALL $cat.system.remove_orphan_files(table => 'lake.lineitem_call2')")
      val rw = call(s"CALL $cat.system.rewrite_data_files(table => 'lake.lineitem_call2')")
      val st = call(s"CALL $cat.system.compute_table_stats(table => 'lake.lineitem_call2')")
      val sc = call(s"CALL $cat.system.set_current_snapshot(table => 'lake.lineitem_call2', snapshot_id => 3)")
      val rowsAtSet = spark.sql(s"SELECT count(*) FROM $cat.lake.lineitem_call2")
        .head().getLong(0)
      val ts = call(s"CALL $cat.system.rollback_to_timestamp(table => 'lake.lineitem_call2', timestamp_ms => 5000)")
      val statsBound = IcebergTable.readMetadata(t).statistics.head.snapshotId
      val report = Seq(orph.getLong(0), orph.getLong(1),
        rw.getLong(0), rw.getLong(1), rw.getLong(2),
        st.getLong(2), statsBound,
        sc.getLong(0), sc.getLong(1), rowsAtSet,
        ts.getLong(0), ts.getLong(1))
      java.nio.file.Files.write(new java.io.File(w, "call2_reports.json").toPath,
        report.mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new String(w)
    }

  /** Maintenance procedures round 2 (`CALL <cat>.system.<proc>` — the
    * rest of Iceberg's upkeep surface): orphan GC, data-file compaction,
    * statistics computation, and both head re-points (by id, by time).
    * Census = the procedures' own report rows plus the final state. */
  def sqlCall2(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlCall2WarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rep = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(w, "call2_reports.json").toPath))
      .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)
    val fin = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4)
         |FROM $cat.lake.lineitem_call2""".stripMargin).head()
    import spark.implicits._
    Seq((rep(0), rep(1), rep(2), rep(3), rep(4), rep(5), rep(6), rep(7), rep(8),
      rep(9), rep(10), rep(11), fin.getLong(0), fin.getDouble(1)))
      .toDF("orphan_data_deleted", "orphan_meta_deleted",
        "compact_snapshot_id", "files_before", "files_after",
        "stats_blobs", "stats_snapshot",
        "set_prev_head", "set_new_head", "rows_at_snapshot3",
        "ts_prev_head", "ts_new_head", "rows_final", "sum_qty_final")
  }

  /** Branch-write fixture: `lake.lineitem_bw` has eras 1+2 on main, a
    * `dev` branch cut at the era-2 head, and era 3 INSERTed INTO
    * `lineitem_bw.branch_dev` — the branch ref moves to snapshot 3 while
    * main and the table head stay at 2 (WAP write half). Pre-publish
    * counts persist to a sidecar; then `CALL fast_forward(main, dev)`
    * publishes (main → 3). */
  private def sqlBranchWriteWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlbw") {
      val w = Files.createTempDirectory("graft_iceberg_sqlbw_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      val t = IcebergCatalog.createTable(w, "lake", "lineitem_bw")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp") &&
                col("l_shipdate") < lit(SqlCallEra3Cut).cast("timestamp")), t)
      IcebergTable.setRef(t, "dev", 2L, "branch")
      lineitem.filter(col("l_shipdate") >= lit(SqlCallEra3Cut).cast("timestamp"))
        .createOrReplaceTempView("graft_sql_bw_src")
      spark.sql(s"INSERT INTO $cat.lake.lineitem_bw.branch_dev " +
        s"SELECT ${LineitemCols.mkString(", ")} FROM graft_sql_bw_src")
      def cnt(sql: String): Long = spark.sql(sql).head().getLong(0)
      val mainPre = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_bw")
      val devRows = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_bw VERSION AS OF 'dev'")
      val branchIdentRows = cnt(s"SELECT count(*) FROM $cat.lake.lineitem_bw.branch_dev")
      val meta = IcebergTable.readMetadata(t)
      val ff = spark.sql(s"CALL $cat.system.fast_forward(" +
        "table => 'lake.lineitem_bw', branch => 'main', to => 'dev')").head()
      val report = Seq(mainPre, devRows, branchIdentRows,
        meta.currentSnapshotId, meta.refs("dev").snapshotId,
        ff.getLong(1), ff.getLong(2))
      java.nio.file.Files.write(new java.io.File(w, "bw_reports.json").toPath,
        report.mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new String(w)
    }

  /** Branch WRITE through SQL (`INSERT INTO <t>.branch_dev` +
    * `CALL fast_forward` — Iceberg's branch addressing and publish, the
    * modern WAP): the branch append moves ONLY the dev ref (main readers
    * see eras 1+2 until the publish), `VERSION AS OF 'dev'` and the
    * branch identifier both read all three eras, and the fast-forward
    * re-points main 2 → 3 making the rows visible to everyone. */
  def sqlBranchWrite(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlBranchWriteWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val rep = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(w, "bw_reports.json").toPath))
      .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)
    val fin = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4)
         |FROM $cat.lake.lineitem_bw""".stripMargin).head()
    import spark.implicits._
    Seq((rep(0), rep(1), rep(2), rep(3), rep(4), rep(5), rep(6),
      fin.getLong(0), fin.getDouble(1)))
      .toDF("rows_main_prepublish", "rows_dev", "rows_branch_ident",
        "head_prepublish", "dev_snapshot",
        "ff_previous_ref", "ff_updated_ref", "rows_final", "sum_qty_final")
  }

  /** `CALL ancestors_of` + the spec's `parent-snapshot-id` lineage
    * (walked newest-first from the head): on the branch-write fixture the
    * chain proves the BRANCH append's parent is the branch head it
    * extended (3←2 via dev, 2←1, 1←root) — the lineage a reader uses to
    * reason about history — and the `.snapshots` metadata table now
    * serves `parent_id` for every snapshot. Row counts at each ancestor
    * ride as the data-derived check. */
  def sqlAncestors(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlBranchWriteWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val anc = spark.sql(
      s"CALL $cat.system.ancestors_of(table => 'lake.lineitem_bw')").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val snaps = spark.sql(
      s"""SELECT snapshot_id, parent_id FROM $cat.lake.lineitem_bw.snapshots
         |ORDER BY snapshot_id""".stripMargin).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
    def rowsAt(id: Long): Long = spark.sql(
      s"SELECT count(*) FROM $cat.lake.lineitem_bw VERSION AS OF $id").head().getLong(0)
    import spark.implicits._
    Seq((anc.map { case (id, p) => s"$id<-$p" }.mkString(","), anc.length.toLong,
      snaps, rowsAt(anc(0)._1), rowsAt(anc(1)._1), rowsAt(anc(2)._1)))
      .toDF("ancestors", "n_ancestors", "snapshot_parents",
        "rows_head", "rows_parent", "rows_root")
  }

  /** TRUNCATE/PURGE fixture: `lake.trunc` gets two era inserts then SQL
    * `TRUNCATE TABLE` (empty replace snapshot 3, history preserved);
    * `lake.scratch` is created, filled and `DROP TABLE … PURGE`d (gone
    * from catalog AND disk). */
  private def sqlTruncWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqltrunc") {
      val w = Files.createTempDirectory("graft_iceberg_sqltrunc_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      val t = IcebergCatalog.createTable(w, "lake", "trunc")
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") < lit(SnapshotCut).cast("timestamp")), t)
      IcebergTable.append(spark, lineitem
        .filter(col("l_shipdate") >= lit(SnapshotCut).cast("timestamp")), t)
      spark.sql(s"TRUNCATE TABLE $cat.lake.trunc")
      val s = IcebergCatalog.createTable(w, "lake", "scratch")
      IcebergTable.append(spark, lineitem.limit(100), s)
      spark.sql(s"DROP TABLE $cat.lake.scratch PURGE")
      val purgedGone = !new java.io.File(s).exists() &&
        !spark.catalog.tableExists(s"$cat.lake.scratch")
      java.nio.file.Files.write(new java.io.File(w, "trunc_report.json").toPath,
        (if (purgedGone) "1" else "0").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new String(w)
    }

  /** SQL `TRUNCATE TABLE` + `DROP TABLE … PURGE`: truncate is ONE empty
    * "replace" snapshot — zero rows at head, history intact (`VERSION AS
    * OF 2` serves every pre-truncate row) — and purge removes the
    * registration AND the physical tree. */
  def sqlTruncate(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlTruncWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val nowRows = spark.sql(s"SELECT count(*) FROM $cat.lake.trunc").head().getLong(0)
    val tt = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4)
         |FROM $cat.lake.trunc VERSION AS OF 2""".stripMargin).head()
    val meta = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "trunc"))
    val purged = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(w, "trunc_report.json").toPath)) == "1"
    import spark.implicits._
    Seq((nowRows, tt.getLong(0), tt.getDouble(1), meta.snapshots.size.toLong,
      IcebergTable.currentSnapshot(meta).operation, purged))
      .toDF("rows_now", "tt_rows", "tt_sum_qty", "n_snapshots", "head_op",
        "scratch_purged")
  }

  /** CREATE OR REPLACE fixture: `lake.repl` gets two era inserts and a
    * generation-one property, then an atomic RTAS replaces it with a NEW
    * schema (qty2 = 2×quantity, evens only) and generation-two
    * properties. Snapshot history SURVIVES the replace: `VERSION AS OF 2`
    * still serves the old schema's rows. */
  private def sqlReplaceWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlreplace") {
      val w = Files.createTempDirectory("graft_iceberg_sqlreplace_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      spark.sql(
        s"""CREATE TABLE $cat.lake.repl
           | (l_orderkey BIGINT, l_quantity DOUBLE, l_shipdate TIMESTAMP)
           |TBLPROPERTIES ('graft.gen' = 'one')""".stripMargin)
      lineitem.createOrReplaceTempView("graft_sql_repl_src")
      spark.sql(
        s"""INSERT INTO $cat.lake.repl
           |SELECT l_orderkey, l_quantity, l_shipdate FROM graft_sql_repl_src
           |WHERE l_shipdate < TIMESTAMP '$SnapshotCut'""".stripMargin)
      spark.sql(
        s"""INSERT INTO $cat.lake.repl
           |SELECT l_orderkey, l_quantity, l_shipdate FROM graft_sql_repl_src
           |WHERE l_shipdate >= TIMESTAMP '$SnapshotCut'""".stripMargin)
      spark.sql(
        s"""CREATE OR REPLACE TABLE $cat.lake.repl
           |TBLPROPERTIES ('graft.gen' = 'two')
           |AS SELECT l_orderkey, l_quantity * 2 AS qty2, l_shipdate
           |FROM graft_sql_repl_src WHERE l_orderkey % 2 = 0""".stripMargin)
      new String(w)
    }

  /** `CREATE OR REPLACE TABLE … AS SELECT` (atomic RTAS through
    * [[GraftStagedTable]]): the replace lands as ONE "replace" snapshot —
    * table identity and history SURVIVE (time travel to the pre-replace
    * snapshot serves the OLD schema's full row set), the new schema and
    * the clause's properties supersede the old configuration. */
  def sqlReplace(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlReplaceWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val sch = spark.table(s"$cat.lake.repl").schema
    val now = spark.sql(
      s"""SELECT count(*), round(sum(qty2), 4) FROM $cat.lake.repl""").head()
    val tt = spark.sql(
      s"""SELECT count(*), round(sum(l_quantity), 4)
         |FROM $cat.lake.repl VERSION AS OF 2""".stripMargin).head()
    val gen = spark.sql(s"SHOW TBLPROPERTIES $cat.lake.repl").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").sorted.mkString(",")
    val meta = IcebergTable.readMetadata(
      IcebergCatalog.tableLocation(w, "lake", "repl"))
    import spark.implicits._
    Seq((now.getLong(0), now.getDouble(1),
      sch.fieldNames.contains("qty2"), sch.fieldNames.contains("l_quantity"),
      tt.getLong(0), tt.getDouble(1), gen,
      meta.snapshots.size.toLong,
      IcebergTable.currentSnapshot(meta).operation))
      .toDF("n_rows", "sum_qty2", "has_qty2", "has_old_col",
        "tt_rows", "tt_sum_qty", "props", "n_snapshots", "head_op")
  }

  /** Type-promotion fixture (`ALTER TABLE … ALTER COLUMN … TYPE`, spec
    * §Schema Evolution): `lake.widen` is CREATE'd with NARROW column types
    * (INT / FLOAT / DECIMAL(9,2)), gets an era-1 insert, then all three
    * legal promotions (int→bigint, float→double, decimal(9,2)→(18,2)) as
    * metadata-only commits, then an era-2 insert whose values NEED the
    * wide types (a qty past Int.MaxValue, an amt past precision 9). Every
    * value derives deterministically from lineitem in engine-exact
    * arithmetic (ints, float-exact quarters/eighths, integral-cent
    * decimals) so DuckDB replays the census bit-for-bit. */
  private def sqlWidenWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlwiden") {
      val w = Files.createTempDirectory("graft_iceberg_sqlwiden_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      spark.sql(s"""CREATE TABLE $cat.lake.widen
        | (id INT, qty INT, price FLOAT, amt DECIMAL(9,2),
        |  l_shipdate TIMESTAMP)""".stripMargin)
      lineitem.createOrReplaceTempView("graft_sql_widen_src")
      spark.sql(
        s"""INSERT INTO $cat.lake.widen
           |SELECT CAST(l_orderkey % 1000000 AS INT),
           |  CAST(l_quantity AS INT),
           |  CAST(l_quantity / 4 AS FLOAT),
           |  CAST(l_orderkey % 10000 AS DECIMAL(9,2)) + l_linenumber * 0.01,
           |  l_shipdate
           |FROM graft_sql_widen_src
           |WHERE l_shipdate < TIMESTAMP '$SnapshotCut'""".stripMargin)
      spark.sql(s"ALTER TABLE $cat.lake.widen ALTER COLUMN qty TYPE BIGINT")
      spark.sql(s"ALTER TABLE $cat.lake.widen ALTER COLUMN price TYPE DOUBLE")
      spark.sql(s"ALTER TABLE $cat.lake.widen ALTER COLUMN amt TYPE DECIMAL(18,2)")
      spark.sql(
        s"""INSERT INTO $cat.lake.widen
           |SELECT CAST(l_orderkey % 1000000 AS INT),
           |  l_orderkey + ${SqlWidenQtyBase}L,
           |  CAST(l_orderkey AS DOUBLE) / 8,
           |  CAST(l_orderkey + $SqlWidenAmtBase AS DECIMAL(18,2)) + l_linenumber * 0.01,
           |  l_shipdate
           |FROM graft_sql_widen_src
           |WHERE l_shipdate >= TIMESTAMP '$SnapshotCut'""".stripMargin)
      new String(w)
    }

  /** Era-2 qty offset: past Int.MaxValue, so the read PROVES the int→long
    * promotion (an un-promoted read would overflow/refuse). */
  val SqlWidenQtyBase = 3000000000L

  /** The properties fixture's records-per-file target: small enough that
    * sf0.01+ months split into multiple files (the property PROVABLY
    * drives the writer), large enough that the per-month bucket count
    * stays replayable integer arithmetic. */
  val SqlPropsTarget = 200L

  /** Table-properties fixture: `lake.props` is CREATE'd with a
    * TBLPROPERTIES clause (in its first metadata version), gets
    * `write.target-records-per-file` SET before the era-1 insert (whose
    * months split into ceil(rows/target) files bucketed by
    * l_orderkey % k — replayable), then the target UNSET and a marker
    * property re-SET before the era-2 insert (back to one file per
    * month). Property eras are thus visible in the files census, not just
    * in SHOW TBLPROPERTIES. */
  private def sqlPropsWarehouseFor(spark: SparkSession, lineitem: DataFrame): String =
    graft.plans.Memo.memoize(lineitem, "iceberg.sqlprops") {
      val w = Files.createTempDirectory("graft_iceberg_sqlprops_").toString
      IcebergCatalog.createNamespace(w, "lake")
      val cat = sqlCatalogFor(spark, w)
      spark.sql(
        s"""CREATE TABLE $cat.lake.props
           | (l_orderkey BIGINT, l_quantity DOUBLE, l_shipdate TIMESTAMP)
           |TBLPROPERTIES ('graft.note' = 'created')""".stripMargin)
      spark.sql(s"ALTER TABLE $cat.lake.props SET TBLPROPERTIES " +
        s"('write.target-records-per-file' = '$SqlPropsTarget', 'graft.era' = 'one')")
      lineitem.createOrReplaceTempView("graft_sql_props_src")
      spark.sql(
        s"""INSERT INTO $cat.lake.props
           |SELECT l_orderkey, l_quantity, l_shipdate FROM graft_sql_props_src
           |WHERE l_shipdate < TIMESTAMP '$SnapshotCut'""".stripMargin)
      spark.sql(s"ALTER TABLE $cat.lake.props UNSET TBLPROPERTIES " +
        "('write.target-records-per-file')")
      spark.sql(s"ALTER TABLE $cat.lake.props SET TBLPROPERTIES ('graft.era' = 'two')")
      spark.sql(
        s"""INSERT INTO $cat.lake.props
           |SELECT l_orderkey, l_quantity, l_shipdate FROM graft_sql_props_src
           |WHERE l_shipdate >= TIMESTAMP '$SnapshotCut'""".stripMargin)
      new String(w)
    }

  /** `SET/UNSET TBLPROPERTIES` through the SQL front door — properties as
    * METADATA-ONLY commits that real writes OBEY: each insert reads
    * `write.target-records-per-file` from the metadata its statement
    * loaded, so the era-1 files census shows ceil(rows/target) bucketed
    * files per month while the era-2 insert (after UNSET) is back to one
    * file per month; SHOW TBLPROPERTIES serves the final map (the CREATE-clause
    * property, the era marker's LAST value, no trace of the unset key). */
  def sqlProperties(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlPropsWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.lake.props").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val f = spark.sql(
      s"""SELECT
         | CAST(count(CASE WHEN sequence_number = 1 THEN 1 END) AS BIGINT),
         | CAST(count(CASE WHEN sequence_number = 2 THEN 1 END) AS BIGINT)
         |FROM $cat.lake.props.files""".stripMargin).head()
    val n = spark.sql(s"SELECT count(*) FROM $cat.lake.props").head().getLong(0)
    import spark.implicits._
    Seq((props.map { case (k, v) => s"$k=$v" }.mkString(","), props.length.toLong,
      f.getLong(0), f.getLong(1), n))
      .toDF("props", "n_props", "files_era1", "files_era2", "n_rows")
  }

  /** Era-2 amt offset: past DECIMAL(9,2)'s capacity, proving the precision
    * widening. */
  val SqlWidenAmtBase = 10000000000L

  /** `ALTER TABLE … ALTER COLUMN … TYPE` through the SQL front door — the
    * spec's three legal type promotions as METADATA-ONLY commits: era-1
    * files keep their narrow physical types (INT32/FLOAT/DECIMAL(9,2))
    * and upcast per file inside the vectorized reader
    * ([[GraftUpcastVector]] on the columnar path), era-2 files carry the
    * wide types natively, and ONE scan serves both eras under the widened
    * schema. The census pins the visible schema AND cross-era aggregates
    * whose values require the wide types. */
  def sqlAlterWiden(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val w = sqlWidenWarehouseFor(spark, lineitem)
    val cat = sqlCatalogFor(spark, w)
    val sch = spark.table(s"$cat.lake.widen").schema
    def typeOf(n: String): String = sch(n).dataType.sql
    val r = spark.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         | CAST(sum(qty) AS BIGINT) AS sum_qty,
         | CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCut'
         |   THEN qty END) AS BIGINT) AS sum_qty_e1,
         | CAST(max(qty) AS BIGINT) AS max_qty,
         | round(sum(price), 4) AS sum_price,
         | CAST(CAST(sum(amt) AS DECIMAL(38,2)) AS STRING) AS sum_amt,
         | CAST(CAST(max(amt) AS DECIMAL(18,2)) AS STRING) AS max_amt
         |FROM $cat.lake.widen""".stripMargin).head()
    import spark.implicits._
    Seq((typeOf("qty"), typeOf("price"), typeOf("amt"),
      r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getString(5), r.getString(6)))
      .toDF("qty_type", "price_type", "amt_type",
        "n_rows", "sum_qty", "sum_qty_e1", "max_qty",
        "sum_price", "sum_amt", "max_amt")
  }
}
