package graft.lake.iceberg

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 SQL front door over the real [[IcebergTable]] metadata
  * layer — the BASELINE "Spark DataFrame read/write + Iceberg Catalog
  * APIs" north star as actual SQL: register once
  * (`spark.sql.catalog.<name> = graft.lake.iceberg.GraftCatalog`,
  * `spark.sql.catalog.<name>.warehouse = <dir>`) and every committed
  * [[IcebergCatalog]] table answers `SELECT … FROM <name>.<ns>.<table>`
  * — including `VERSION AS OF <snapshot-id>` time travel — through
  * Spark's own DSv2 planner. No Iceberg jars: planning IS
  * [[IcebergTable.planFiles]]' pruning ([[IcebergTable.pruneFiles]]:
  * manifest-list pruning + file-level stats skip on the pushed l_shipdate
  * bounds) over manifests read once per scan; pushed comparisons with
  * literals the readers evaluate themselves ([[GraftRowFilter]]), so Spark
  * keeps only the other filters above the scan; and the readers resolve
  * the snapshot's delete files per the spec — v3 deletion vectors skipped
  * positionally WHILE reading (the real reader shape: the DV rides to the
  * task as KB-grain compressed Roaring bytes and positions never
  * materialize off the executor) and equality-delete keys scoped to
  * strictly-older data files, both applied to the decoded columnar
  * batches through a row-id map ([[GraftColumnarReader]]). Column pruning is
  * real: the pushed required schema becomes the parquet projection each
  * task reads ([[GraftSqlScanCensus]] records cols_read beside the
  * file-prune census so a query can PROVE both reached the scan).
  *
  * Scale shape: the planned data files pack into size-balanced
  * InputPartitions by Spark's own FileScan rule ([[GraftScanPacking]]:
  * about one per core's share of the bytes, each file whole), so a table
  * of many small files does not pay one task per file; per-file reader
  * state is one file's DV positions (bounded by rows-per-file) plus the
  * broadcast-size equality key set; the DV blobs ship in the partition,
  * the keys once per executor. Writes are DSv2 batch writes: executors
  * write month-partitioned files and the driver commits them as the
  * library does — `INSERT INTO` as [[IcebergTable.append]]'s snapshot,
  * `INSERT OVERWRITE` and RTAS as one "replace" snapshot
  * ([[GraftWriteBuilder]]); `UPDATE`, `MERGE INTO` and row-level `DELETE`
  * commit one deletion vector plus replacement files
  * ([[GraftRowLevelOperation]]).
  * Library reads ([[IcebergTable.readMorUnified]]) run through the same
  * scan, pinned to the snapshot they read ([[GraftSnapshotPin]]); v2
  * positional-parquet delete files load on the driver like DV blobs.
  *
  * A table's schema is metadata.json's: the current schema, or a
  * time-travel snapshot's own. Loading a table reads that one file and no
  * manifest or data file; a data file written under an older schema is
  * resolved per file through its fields' id history
  * ([[IcebergTable.columnHistory]]), with timestamps in whatever physical
  * form the file carries — int96, millis or micros — via Spark's own
  * vectorized conversion. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** V2 transform functions ([[GraftMonthsFunction]]) — what lets a write's
    * required CLUSTERED distribution reference `months(<part col>)` and be
    * resolved by Spark's DistributionAndOrderingUtils (the same mechanism
    * Iceberg's own FunctionCatalog serves its transforms through). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, GraftMonthsFunction.name()))
    else Array.empty
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == GraftMonthsFunction.name()) GraftMonthsFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must point at an IcebergCatalog warehouse dir")
  }

  override def name(): String = catalogName

  /** `CALL <cat>.system.<proc>(…)` — the Iceberg maintenance procedures
    * (expire/rollback/rewrite/cherry-pick/publish) over the library's
    * committers; see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  /** Namespaces are MULTI-LEVEL: `a.b.c` maps to nested directories
    * `warehouse/a/b/c` (the HadoopCatalog layout); a directory with a
    * `metadata/` subdir is a table, anything else is a child namespace. */
  private def ns1(namespace: Array[String]): String =
    IcebergCatalog.nsPath(namespace.toIndexedSeq)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    IcebergCatalog.listTables(warehouse, ns1(namespace))
      .map(Identifier.of(namespace, _)).toArray

  private def location(ident: Identifier): String =
    IcebergCatalog.tableLocation(warehouse, ns1(ident.namespace()), ident.name())

  private def qualified(ident: Identifier): String =
    s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}"

  private def load(ident: Identifier, snapshotId: Option[Long]): Table = {
    if (!IcebergCatalog.tableExists(warehouse, ns1(ident.namespace()), ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ns1(ident.namespace()), ident.name()))
    new GraftSqlTable(qualified(ident), location(ident), snapshotId)
  }

  override def loadTable(ident: Identifier): Table = {
    // `<cat>.<ns>.<t>.files` — the extra segment after a real table name
    // resolves to a metadata table (files/manifests/snapshots/…). A REAL
    // table named e.g. `files` wins: metadata-table resolution only fires
    // when the identifier itself is not a table.
    def asMetaTable: Option[Table] = {
      val ns = ident.namespace()
      if (ns.isEmpty || !GraftMetaTables.kinds.contains(ident.name())) None
      else {
        val parent = Identifier.of(ns.dropRight(1), ns.last)
        val loc = location(parent)
        if (new File(loc, "metadata/version-hint.text").exists())
          Some(new GraftMetaSqlTable(
            s"$catalogName.${ns.mkString(".")}.${ident.name()}", loc, ident.name()))
        else None
      }
    }
    // `<cat>.<ns>.<t>.branch_<name>` — Iceberg's branch addressing: reads
    // pin to the branch head, INSERTs append to the branch (moving only
    // its ref — the WAP write half). Resolution fires only when the
    // identifier itself is not a table, like the metadata tables.
    def asBranchTable: Option[Table] = {
      val ns = ident.namespace()
      if (ns.isEmpty || !ident.name().startsWith("branch_")) None
      else {
        val branch = ident.name().stripPrefix("branch_")
        val parent = Identifier.of(ns.dropRight(1), ns.last)
        val loc = location(parent)
        if (!new File(loc, "metadata/version-hint.text").exists()) None
        else IcebergTable.readMetadata(loc).refs.get(branch)
          .filter(_.refType == "branch").map { ref =>
            new GraftBranchSqlTable(s"$catalogName.${ns.mkString(".")}.${ident.name()}",
              loc, branch, ref.snapshotId)
          }
      }
    }
    try load(ident, None)
    catch {
      case e: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
        asMetaTable.orElse(asBranchTable).getOrElse(throw e)
    }
  }

  /** `DROP TABLE … PURGE`: drop the registration AND physically delete
    * the table tree (data + metadata) — the irreversible form. */
  override def purgeTable(ident: Identifier): Boolean = {
    val loc = location(ident)
    val dropped = dropTable(ident)
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      f.delete()
    }
    rm(new File(loc))
    dropped
  }

  /** `VERSION AS OF <snapshot-id | 'ref'>` — DSv2 time travel, resolved
    * to a snapshot-pinned scan exactly like the library's `planFiles(id)`.
    * A non-numeric version is a REF NAME (branch or tag, spec §Refs):
    * `SELECT … FROM t VERSION AS OF 'audit'` reads the tagged snapshot —
    * the same resolution Iceberg's Spark runtime performs. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val numeric = version.nonEmpty && version.forall(_.isDigit)
    if (numeric) load(ident, Some(version.toLong))
    else {
      val meta = IcebergTable.readMetadata(location(ident))
      val ref = meta.refs.getOrElse(version, throw new IllegalArgumentException(
        s"no branch or tag '$version' on ${ident.name()} " +
          s"(refs: ${meta.refs.keys.toSeq.sorted.mkString(", ")})"))
      load(ident, Some(ref.snapshotId))
    }
  }

  /** `TIMESTAMP AS OF <instant>` — the latest snapshot committed at or
    * before the instant (the spec's snapshot-log resolution rule). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val meta = IcebergTable.readMetadata(location(ident))
    val tsMs = timestampMicros / 1000L
    val eligible = meta.snapshots.filter(_.timestampMs <= tsMs)
    require(eligible.nonEmpty,
      s"no snapshot of ${ident.name()} committed at or before $tsMs ms")
    load(ident, Some(eligible.maxBy(_.timestampMs).id))
  }

  /** `CREATE TABLE <cat>.<ns>.<t> …` (incl. CTAS): registers the location
    * and commits the table's first metadata version — the declared schema
    * and the clause's properties, no snapshot ([[IcebergTable.create]]) —
    * so the table exists, empty, for SQL and the library alike; the first
    * INSERT/CTAS write commits snapshot 1. Partition transforms are
    * refused: graft tables partition by month(l_shipdate) implicitly (the
    * stated single-spec simplification). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    checkDeclared(schema, partitions)
    val loc = IcebergCatalog.createTable(warehouse, ns1(ident.namespace()), ident.name())
    IcebergTable.create(loc, schema, userProperties(properties))
    new GraftSqlTable(qualified(ident), loc, None)
  }

  private def checkDeclared(schema: StructType, partitions: Array[Transform]): Unit = {
    require(partitions.isEmpty,
      "graft tables partition by month(l_shipdate) implicitly; omit PARTITIONED BY")
    require(schema.fieldNames.contains("l_shipdate"),
      "graft tables require an l_shipdate column (the month partition key)")
  }

  /** A CREATE/REPLACE clause's table properties: Spark's reserved
    * bookkeeping keys are not table properties. */
  private def userProperties(properties: java.util.Map[String, String]): Map[String, String] = {
    val reserved = Set("provider", "owner", "location", "comment", "external")
    properties.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith("option.") }
  }

  /** `CREATE OR REPLACE TABLE … AS SELECT` / atomic CTAS
    * (StagingTableCatalog — what keeps Spark's RTAS from falling back to
    * the non-atomic drop+create, which would DESTROY the snapshot
    * history): stageCreate creates the table exactly like CREATE;
    * stageReplace hands back a staged table whose write lands as ONE
    * "replace" (truncate) snapshot committed together with the clause's
    * schema and properties ([[IcebergTable.replaceSchema]]) — table
    * identity and snapshot history SURVIVE the replace (Iceberg's REPLACE
    * semantics: time travel to pre-replace snapshots keeps serving their
    * own schema). */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    val t = createTable(ident, schema, partitions, properties)
    new GraftStagedTable(t.name(), location(ident), schema, userProperties(properties),
      replace = None)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    require(tableExists(ident), s"cannot replace missing table ${ident.name()}")
    stagedReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable =
    if (tableExists(ident)) stagedReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  private def stagedReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    checkDeclared(schema, partitions)
    val props = userProperties(properties)
    new GraftStagedTable(qualified(ident), location(ident), schema, props,
      replace = Some(IcebergTable.replaceSchema(schema, props)))
  }

  /** `ALTER TABLE <cat>.<ns>.<t> …`: each change is one METADATA-ONLY
    * commit of [[IcebergTable]] (spec §Schema Evolution) — ADD, DROP and
    * RENAME COLUMN and ALTER COLUMN … TYPE commit a new schema version,
    * SET/UNSET TBLPROPERTIES a new property map. No data file is touched.
    * Other change kinds are refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val loc = location(ident)
    def column(names: Array[String]): String = {
      require(names.length == 1, s"nested columns are not supported: ${names.mkString(".")}")
      names.head
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        IcebergTable.addSchemaColumn(loc, column(add.fieldNames()), add.dataType())
      case del: TableChange.DeleteColumn =>
        IcebergTable.dropSchemaColumn(loc, column(del.fieldNames()))
      case ren: TableChange.RenameColumn =>
        IcebergTable.renameSchemaColumn(loc, column(ren.fieldNames()), ren.newName())
      case upd: TableChange.UpdateColumnType =>
        IcebergTable.widenSchemaColumn(loc, column(upd.fieldNames()), upd.newDataType())
      case set: TableChange.SetProperty =>
        IcebergTable.setTableProperties(loc, Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        IcebergTable.setTableProperties(loc, Map.empty, Set(rm.property()))
      case other => throw new UnsupportedOperationException(
        "graft catalog supports ALTER TABLE ADD/DROP/RENAME COLUMN, " +
          "ALTER COLUMN … TYPE, and SET/UNSET TBLPROPERTIES only, " +
          s"got $other")
    }
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    IcebergCatalog.dropTable(warehouse, ns1(ident.namespace()), ident.name())

  override def renameTable(from: Identifier, to: Identifier): Unit =
    IcebergCatalog.renameTable(warehouse, ns1(from.namespace()), from.name(), to.name())

  // ---- SupportsNamespaces: SHOW/CREATE/DROP NAMESPACE over the
  // warehouse's directory-grain namespace layout ([[IcebergCatalog]]).
  override def listNamespaces(): Array[Array[String]] =
    IcebergCatalog.listNamespaces(warehouse).map(n => Array(n)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace))
      IcebergCatalog.listChildNamespaces(warehouse, namespace.toIndexedSeq)
        .map(c => namespace :+ c).toArray
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && {
      val d = new File(new File(warehouse), ns1(namespace))
      d.isDirectory && !IcebergCatalog.isTableDir(d)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    java.util.Collections.singletonMap("location",
      new File(new File(warehouse), ns1(namespace)).getPath)
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    IcebergCatalog.createNamespace(warehouse, namespace.toIndexedSeq)

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = new File(new File(warehouse), ns1(namespace))
    if (!d.isDirectory) false
    else if (!cascade && Option(d.listFiles()).exists(_.nonEmpty))
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        (catalogName +: namespace.toSeq).toArray)
    else { org.apache.commons.io.FileUtils.deleteDirectory(d); true }
  }
}

/** Planning census of [[GraftScan]]s — how the SQL front door PROVES
  * pushdown reached `planFiles` (files_scanned ≪ files_total) and column
  * pruning reached the parquet projection (cols_read ≪ cols_total).
  * Driver-side, recorded at planInputPartitions time KEYED BY TABLE
  * LOCATION, so concurrent or AQE-re-planned scans of different tables
  * never clobber each other's census (re-plans of the same scan overwrite
  * with identical values — planning is deterministic). Consumers read
  * [[forLocation]] for the table they just queried. */
object GraftSqlScanCensus {
  final case class Census(filesTotal: Long, filesSelected: Long,
                          manifestsTotal: Long, manifestsRead: Long,
                          colsRead: Long, colsTotal: Long)
  private val byLocation =
    new java.util.concurrent.ConcurrentHashMap[String, Census]()
  def record(location: String, c: Census): Unit = byLocation.put(location, c)
  def forLocation(location: String): Census =
    Option(byLocation.get(location)).getOrElse(Census(-1, -1, -1, -1, -1, -1))
}

/** The staged table RTAS/atomic-CTAS writes through: the write itself is
  * the DSv2 batch write of [[GraftWriteBuilder]] — a CTAS appends the
  * table's first snapshot; a REPLACE writes in truncate mode, as ONE
  * "replace" snapshot committed together with `replace`, the clause's
  * schema and properties, which is the atomic point. A REPLACE without AS
  * SELECT builds no write: commitStagedChanges commits `replace` with an
  * empty "replace" snapshot, leaving the table empty as Iceberg's REPLACE
  * TABLE does (the old files, read under the new schema, could serve a
  * new column the values of an old one of its name). Abort of a staged
  * CREATE drops the just-created empty table; abort of a staged REPLACE
  * leaves the table as it was (nothing was committed). `properties` are
  * the clause's, which the write's file split follows. */
private[iceberg] class GraftStagedTable(ident: String, location: String,
                                        declared: StructType,
                                        properties: Map[String, String],
                                        replace: Option[IcebergTable.TableMetadata =>
                                          IcebergTable.TableMetadata])
    extends StagedTable with SupportsWrite {

  private var written = false

  override def name(): String = ident
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] =
    Array(GraftPartitioning.monthTransform)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    written = true
    val b = new GraftWriteBuilder(location, info.schema(), info.queryId(), partitioning(),
      replace.getOrElse(identity), properties)
    if (replace.isDefined) b.truncate() // a replace supersedes ALL prior data
    b
  }

  override def commitStagedChanges(): Unit =
    if (!written) replace.foreach(IcebergTable.truncateTable(location, _))

  override def abortStagedChanges(): Unit =
    if (replace.isEmpty) org.apache.commons.io.FileUtils.deleteDirectory(new File(location))
}

/** A branch-addressed table (`<t>.branch_<name>`): reads pin to the
  * branch head snapshot; INSERT appends to the BRANCH with the commit
  * [[IcebergTable.appendToBranch]] makes — only the branch ref moves, main
  * and the table head stay put until a `fast_forward` publishes. Overwrites
  * are refused ([[GraftWriteBuilder]]), and row-level mutations by the
  * snapshot pin ([[GraftSqlTable]]'s time-travel guard). */
private[iceberg] class GraftBranchSqlTable(ident: String, location: String,
                                           branch: String, at: Long)
    extends GraftSqlTable(ident, location, Some(at)) {

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(location, info.schema(), info.queryId(), partitioning(),
      properties = properties().asScala.toMap, branch = Some(branch))
}

/** A library read's snapshot, read once when the read is built
  * ([[IcebergTable.readMorUnified]]): the table metadata, the snapshot
  * (none for a table created but never written), its manifest list and
  * every manifest's entries in list order, plus the date bounds the read's
  * month range maps to. A table carrying a pin serves every scan from it,
  * so the DataFrame keeps returning that snapshot's rows whatever commits
  * later, and no manifest is read twice. Its position deletes decode on
  * the first plan that needs them and serve every later plan, so a pinned
  * DataFrame reads each delete file once. */
private[iceberg] final case class GraftSnapshotPin(meta: IcebergTable.TableMetadata,
                                                   snapshot: Option[IcebergTable.SnapshotInfo],
                                                   manifests: Seq[IcebergTable.ManifestInfo],
                                                   entries: Seq[Seq[IcebergTable.DataFileEntry]],
                                                   dateLo: Option[String], dateHi: Option[String]) {
  private lazy val byPath = manifests.map(_.path).zip(entries).toMap

  /** [[IcebergTable.pruneFiles]] over the pinned manifests. */
  def plan(monthLo: Option[String], monthHi: Option[String],
           dateLo: Option[String], dateHi: Option[String]): IcebergTable.ScanPlan =
    IcebergTable.pruneFiles(manifests, monthLo, monthHi, dateLo, dateHi)(_.map(m => byPath(m.path)))

  /** [[IcebergTable.pruneBucket]] over the pinned manifests. */
  def planBucket(key: Long): IcebergTable.ScanPlan =
    IcebergTable.pruneBucket(manifests, key)(_.map(m => byPath(m.path)))

  // Position deletes by the clean path of the data file they delete from,
  // each with its sequence. A DV names its file in the manifest; a v2
  // position-delete file holds (file_path, pos) rows, all of them loaded
  // on the first plan, as one blob per (delete file, data file).
  private lazy val dvsByFile = entries.flatten
    .filter(e => e.content == 1 && e.referencedDataFile.isDefined)
    .groupBy(e => GraftVectorized.cleanPath(e.referencedDataFile.get))
  private lazy val posByFile: Map[String, Seq[(Long, Array[Byte])]] = entries.flatten
    .filter(e => e.content == 1 && e.referencedDataFile.isEmpty)
    .flatMap(e => GraftParquetRows.readPositions(e.path).map { case (f, ps) =>
      (f, (e.sequence, RoaringDv.serializeDvBlob(ps.distinct.sorted))) })
    .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  // a DV's blob bytes, read from its Puffin file when a planned file first
  // needs them
  private lazy val puffinBlob = IcebergTable.dvBlobs()
  private val dvBlobs =
    scala.collection.concurrent.TrieMap.empty[IcebergTable.DataFileEntry, Array[Byte]]

  /** The position-delete blobs the reader of data file `f` applies: its
    * DVs and v2 position deletes at a sequence no older than `f`'s (the
    * spec scopes positional forms at data_seq <= delete_seq; a DV may share
    * its sequence with the replacement file it ships with). */
  def deleteBlobs(f: IcebergTable.DataFileEntry): Array[Array[Byte]] = {
    val file = GraftVectorized.cleanPath(f.path)
    val dvs = dvsByFile.getOrElse(file, Seq.empty).filter(_.sequence >= f.sequence)
      .map(e => dvBlobs.getOrElseUpdate(e, puffinBlob.synchronized(puffinBlob(e))))
    val pos = posByFile.getOrElse(file, Seq.empty).collect { case (seq, b) if seq >= f.sequence => b }
    (dvs ++ pos).toArray
  }
}

private[iceberg] object GraftSnapshotPin {
  /** Snapshot `snapshotId` of `meta` (default: its current one, if any),
    * with every manifest read once, in parallel. */
  def read(meta: IcebergTable.TableMetadata, snapshotId: Option[Long] = None,
           dateLo: Option[String] = None, dateHi: Option[String] = None): GraftSnapshotPin = {
    val snap =
      if (snapshotId.isEmpty && meta.currentSnapshotId < 0) None
      else Some(IcebergTable.snapshotAt(meta, snapshotId))
    val manifests = snap.toSeq.flatMap(s => IcebergTable.readManifestList(s.manifestList))
    GraftSnapshotPin(meta, snap, manifests,
      IcebergTable.readManifestsParallel(manifests.map(_.path)), dateLo, dateHi)
  }
}

/** A graft table as Spark sees it. `snapshotId` is SQL time travel (the
  * snapshot's schema era, read-only); `pinned` is a library read of the
  * current schema over the snapshot the pin holds. */
private[iceberg] class GraftSqlTable(ident: String, location: String,
                                     snapshotId: Option[Long],
                                     pinned: Option[GraftSnapshotPin] = None)
    extends Table with SupportsRead
    with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE`: one empty "replace" snapshot — zero live
    * files, history preserved. */
  override def truncateTable(): Boolean = {
    require(snapshotId.isEmpty, s"cannot truncate a time-travel snapshot of $ident")
    IcebergTable.truncateTable(location)
    true
  }

  override def name(): String = ident

  /** `_file`/`_pos` — the row coordinates the reader synthesizes, usable
    * from plain SQL (`SELECT _file, _pos, * FROM t`) and the rowId the
    * delta row-level operations key their deletes on — and the v3 row
    * lineage pair `_row_id`/`_last_updated_sequence_number`. */
  override def metadataColumns(): Array[MetadataColumn] = GraftMetaColumns.columns

  /** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` — see
    * [[GraftRowLevelOperation]]: a delta (MOR) operation committing one
    * DV + replacement-files snapshot through [[IcebergTable.commitDelta]].
    * The operation scans through this table, whose schema and metadata
    * the statement has already read. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshotId.isEmpty, s"cannot mutate a time-travel snapshot of $ident")
    new GraftRowLevelOperationBuilder(this, location, info)
  }

  // metadata.json, parsed once per table instance
  private lazy val meta: IcebergTable.TableMetadata =
    pinned.map(_.meta).getOrElse(IcebergTable.readMetadata(location))

  /** The schema the table serves: a time-travel read's is its snapshot's
    * own, every other read's the current one — metadata.json alone. */
  private lazy val tableSchema: IcebergTable.TableSchema =
    IcebergTable.schemaAt(meta, snapshotId)

  override def schema(): StructType = tableSchema.struct

  /** Table properties for `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED: the
    * metadata's map (spec §Table Metadata `properties`). */
  override def properties(): java.util.Map[String, String] = meta.properties.asJava

  /** The implicit month(l_shipdate) partitioning, DECLARED — what makes
    * Spark route `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`
    * to [[org.apache.spark.sql.connector.write.SupportsDynamicOverwrite]]
    * (the partition-level replace) instead of a whole-table truncate. */
  override def partitioning(): Array[Transform] =
    Array(GraftPartitioning.monthTransform)

  /** Writes are DSv2 batch and streaming writes ([[GraftWriteBuilder]]).
    * No `V1_BATCH_WRITE`: Spark asks a table that declares it for a
    * `V1Write`. */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(location, snapshotId, tableSchema, pinned)

  /** A pushed source filter as the Column it means, if it has one. */
  private def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) => for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a && b
      case Or(l, r) => for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a || b
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    snapshotId.isEmpty && filters.forall(f => filterToColumn(f).isDefined)

  /** `DELETE FROM <cat>.<ns>.<t> WHERE …` — a METADATA-SHAPED row-level
    * delete: the pushed condition (attribute-vs-literal compares, IN,
    * AND/OR/NOT — [[canDeleteWhere]] refuses anything it cannot translate
    * exactly) becomes the victim predicate of ONE committing
    * [[IcebergTable.appendDvPuffin]] call — a v3 deletion-vector snapshot,
    * exactly what the library's delete path writes, so SQL deletes and
    * library deletes produce the same table history. A DELETE matching
    * zero live rows is a no-op (no empty commit). Re-asserting positions
    * already covered by earlier DVs is union-semantics-safe. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapshotId.isEmpty, s"cannot delete from a time-travel snapshot of $ident")
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.lit
    val pred = filters.flatMap(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
    // the zero-match guard runs over the MOR-RESOLVED read (existing DVs
    // and equality deletes applied), so a DELETE matching only
    // already-deleted rows really is a no-op — no empty commit. The guard
    // is one limit-1 read through the table's own scan, pinned to the
    // current snapshot, beside appendDvPuffin's victim scan; the
    // spec-shaped alternative (a committer that reports zero victims)
    // would save it, but re-asserting already-covered positions keeps
    // union semantics either way.
    if (meta.currentSnapshotId < 0) return
    val live = IcebergTable.readMorUnified(spark, location)._1
    if (live.filter(pred).limit(1).count() > 0)
      IcebergTable.appendDvPuffin(spark, location, pred)
  }

  /** `INSERT INTO <cat>.<ns>.<t> …` / `df.writeTo(…).append()` — the WRITE
    * half of the north star: a DSv2 batch write whose tasks write the
    * month files and whose commit is [[IcebergTable.append]]'s (snapshot +
    * manifests + row-id assignment + version-hint flip), so SQL inserts and
    * library appends produce indistinguishable table history
    * ([[GraftWriteBuilder]]). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(snapshotId.isEmpty, s"cannot write to a time-travel snapshot of $ident")
    new GraftWriteBuilder(location, info.schema(), info.queryId(), partitioning(),
      properties = meta.properties)
  }
}

/** Write modes of the SQL front door. Each is a DSv2 batch write
  * ([[GraftFilesBatchWrite]]): Spark clusters the rows by
  * months(<spec column>) and sorts them by that column within a task, the
  * tasks ([[GraftDeltaWriter]]) write one file at a time per month into
  * the statement's staging dir (a new file every
  * `write.target-records-per-file` rows when the table sets it), and the
  * driver commits the files the tasks report as the library would:
  *  - append (`INSERT INTO`, CTAS, a branch insert): the
  *    [[IcebergTable.append]] commit ([[IcebergTable.commitAppendFiles]]);
  *    no rows commit nothing;
  *  - truncate (static `INSERT OVERWRITE`, RTAS, or a whole-table
  *    `df.writeTo(t).overwrite(lit(true))`): ONE "replace" snapshot whose
  *    manifest list carries only the new data
  *    ([[IcebergTable.commitReplaceFiles]]), with `configure` (a replace's
  *    schema and properties) in the same commit;
  *  - dynamic partition overwrite (`INSERT OVERWRITE` under
  *    `partitionOverwriteMode=dynamic`): the commit replaces EXACTLY the
  *    months that received data ([[IcebergTable.commitOverwriteMonths]]).
  * A `branch` table takes appends only, onto that branch. Appends also
  * serve streaming writes, one snapshot per epoch
  * ([[GraftStreamingWrite]]). */
private[iceberg] class GraftWriteBuilder(location: String, writeSchema: StructType,
                                         queryId: String = "",
                                         partitioning: Array[Transform] =
                                           Array(GraftPartitioning.monthTransform),
                                         configure: IcebergTable.TableMetadata =>
                                           IcebergTable.TableMetadata = identity,
                                         properties: Map[String, String] = Map.empty,
                                         branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
  import org.apache.spark.sql.connector.write.{BatchWrite, Write}

  /** The spec's source column, when the written rows carry it (never a
    * hardcoded column name). */
  private val partCol: Option[String] =
    GraftPartitioning.sourceColumnOf(partitioning).filter(writeSchema.fieldNames.contains)

  private val targetRecords = IcebergTable.targetRecordsProp(properties)

  private var mode: String = "append"

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = "truncate"; this
  }

  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(filters.isEmpty || filters.forall(_ == AlwaysTrue()),
      "filter-scoped overwrite supports the full table only; use " +
        "spark.sql.sources.partitionOverwriteMode=dynamic for partition-level replace")
    mode = "truncate"; this
  }

  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = "dynamic"; this
  }

  override def build(): Write = {
    require(branch.isEmpty || mode == "append",
      "branch writes are append-only; overwrite main and fast-forward instead")
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      // one task per month, its rows in month order: the writer holds one
      // file open, and a month gets one file (or one per target rows).
      // Hash clustering needs no sampling job, as a range distribution would.
      override def requiredDistribution(): Distribution = partCol match {
        case Some(c) => Distributions.clustered(Array(Expressions.months(c)))
        case None => Distributions.unspecified()
      }
      override def requiredOrdering(): Array[SortOrder] =
        partCol.toArray.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

      override def description(): String = s"graft-$mode $location"

      // a statement-unique staging dir — the committed snapshot id is
      // derived inside the commit transaction
      override def toBatch: BatchWrite = {
        val dataDir = IcebergTable.newDataDir(location)
        new GraftFilesBatchWrite(writeSchema, dataDir, partCol, targetRecords, files => {
          val spark = org.apache.spark.sql.SparkSession.active
          mode match {
            case "append" => IcebergTable.commitAppendFiles(spark, location, dataDir, files,
              writeSchema, branch)
            case "truncate" => IcebergTable.commitReplaceFiles(spark, location, dataDir, files,
              writeSchema, configure)
            case _ => IcebergTable.commitOverwriteMonths(spark, location, dataDir, files)
          }
        })
      }

      /** `df.writeStream.toTable(…)` — the streaming-ingest sink: one
        * append snapshot per epoch, exactly-once on restart replay
        * ([[IcebergTable.commitStreamAppend]]'s summary-recorded
        * (query, epoch) dedup — the Iceberg streaming contract). */
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(mode == "append" && branch.isEmpty,
          "streaming writes append to the main branch; complete-mode (truncate) is not supported")
        new GraftStreamingWrite(location, writeSchema, queryId, partCol, targetRecords)
      }
    }
  }
}

private[iceberg] class GraftScanBuilder(location: String, snapshotId: Option[Long],
                                        tableSchema: IcebergTable.TableSchema,
                                        pinned: Option[GraftSnapshotPin] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema.struct
  private var pushed: Array[Filter] = Array.empty
  // a pinned read starts from its own bounds; pushed filters narrow them
  private var dateLo: Option[String] = pinned.flatMap(_.dateLo)
  private var dateHi: Option[String] = pinned.flatMap(_.dateHi)

  // the catalyst-pushed value's calendar date, for the manifests' ISO
  // string bounds (file pruning is [lo,hi]-inclusive at DAY grain, so an
  // off-by-timezone day cannot lose rows — and every filter ALSO
  // evaluates on the rows, in the reader or in Spark, so pruning only ever
  // affects IO, not results).
  // java.sql.Timestamp converts via its instant in UTC — the calendar the
  // manifest bounds were written in — NOT toLocalDateTime (JVM zone): on a
  // non-UTC JVM an LTZ lower bound rounded up a day would prune a boundary
  // file whose rows match.
  private def dayOf(v: Any): Option[String] = v match {
    case null => None
    case t: java.sql.Timestamp =>
      Some(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
    case d: java.sql.Date => Some(d.toString)
    case i: java.time.Instant =>
      Some(java.time.LocalDate.ofInstant(i, java.time.ZoneOffset.UTC).toString)
    case d: java.time.LocalDate => Some(d.toString)
    case dt: java.time.LocalDateTime => Some(dt.toLocalDate.toString)
    case s: String => Some(s.take(10))
    case u: UTF8String => Some(u.toString.take(10))
    case _ => None
  }

  /** `l_shipdate` bounds prune files; every filter the reader can
    * evaluate ([[GraftRowFilter]]) it applies to the decoded rows, and
    * only the others go back to Spark as post-scan filters. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def lo(s: String): Unit = dateLo = Some(dateLo.fold(s)(o => if (s > o) s else o))
    def hi(s: String): Unit = dateHi = Some(dateHi.fold(s)(o => if (s < o) s else o))
    val pruning = filters.filter {
      case GreaterThanOrEqual("l_shipdate", v) => dayOf(v).exists { s => lo(s); true }
      case GreaterThan("l_shipdate", v) => dayOf(v).exists { s => lo(s); true }
      case LessThanOrEqual("l_shipdate", v) => dayOf(v).exists { s => hi(s); true }
      case LessThan("l_shipdate", v) => dayOf(v).exists { s => hi(s); true }
      case EqualTo("l_shipdate", v) => dayOf(v).exists { s => lo(s); hi(s); true }
      case _ => false
    }
    val (evaluated, post) =
      filters.partition(GraftRowFilter.translate(_, tableSchema.struct).isDefined)
    pushed = (pruning ++ evaluated).distinct
    post
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    new GraftScan(location, snapshotId, dateLo, dateHi, required, tableSchema, pinned, pushed)
}

/** One planned data file + the delete state its reader must apply: the
  * file's data sequence, the compressed position blobs that delete from
  * it (its DVs, and its v2 position deletes as one blob), and the id of
  * its first row (row lineage; -1 when the file has none). */
private[iceberg] case class GraftFileTask(path: String, sequence: Long,
                                          dvBlobs: Array[Array[Byte]],
                                          firstRowId: Long = -1L)

/** One scan task: planned data files read one after another, in plan
  * order. Files are never split, and each keeps its own delete state. */
private[iceberg] case class GraftInputPartition(files: Array[GraftFileTask])
    extends InputPartition

/** Packs a scan's planned files into size-balanced tasks by the rule of
  * Spark's own file sources (`FilePartition.maxSplitBytes`): every file
  * costs its bytes plus `spark.sql.files.openCostInBytes`, a task holds at
  * most `min(maxPartitionBytes, max(openCost, Σcost / minPartitions))`,
  * where `minPartitions` is `spark.sql.files.minPartitionNum` or the
  * default parallelism. Tasks fill next-fit in plan order, so the scan's
  * row order does not change. A file larger than the cap gets a task of
  * its own; no file is split. */
private[iceberg] object GraftScanPacking {
  def maxSplitBytes(sizes: Seq[Long], maxPartitionBytes: Long, openCost: Long,
                    minPartitions: Int): Long = {
    val total = sizes.map(_ + openCost).sum
    math.min(maxPartitionBytes, math.max(openCost, total / minPartitions))
  }

  def pack[T](files: Seq[T], size: T => Long, maxSplit: Long, openCost: Long): Seq[Seq[T]] = {
    val out = Seq.newBuilder[Seq[T]]
    var cur = Vector.empty[T]
    var bytes = 0L
    files.foreach { f =>
      if (cur.nonEmpty && bytes + size(f) > maxSplit) { out += cur; cur = Vector.empty; bytes = 0L }
      cur :+= f
      bytes += size(f) + openCost
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  /** [[pack]] by file size under the active session's file-source
    * settings. */
  def packForSession(files: Seq[IcebergTable.DataFileEntry])
      : Seq[Seq[IcebergTable.DataFileEntry]] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val minPartitions = conf.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    pack[IcebergTable.DataFileEntry](files, _.fileSizeBytes,
      maxSplitBytes(files.map(_.fileSizeBytes), conf.filesMaxPartitionBytes, openCost,
        minPartitions),
      openCost)
  }
}

/** The one read path of graft tables, for SQL and library reads alike:
  * the planned data files packed into size-balanced
  * [[GraftInputPartition]]s ([[GraftScanPacking]]), every file read
  * COLUMNAR by [[GraftColumnarReader]] — clean files, files under
  * deletion vectors, v2 position deletes and equality deletes, and the
  * `_file`/`_pos` scans under row-level `DELETE`/`UPDATE`/`MERGE` alike.
  * Deletes apply by position and key inside the reader, never as a join,
  * and then the `pushed` filters the reader evaluates ([[GraftRowFilter]]);
  * Spark keeps only the others above the scan. `pushed` lists every
  * pushed filter the scan uses, to prune files or to filter rows.
  * The table metadata is parsed once per scan and serves both planning
  * and the reader factory; every manifest is read once per scan, or not
  * at all when the table carries a [[GraftSnapshotPin]], whose delete
  * files are read once for all its scans. */
private[iceberg] class GraftScan(location: String, snapshotId: Option[Long],
                                 dateLo: Option[String], dateHi: Option[String],
                                 required: StructType, tableSchema: IcebergTable.TableSchema,
                                 pinned: Option[GraftSnapshotPin],
                                 val pushed: Array[Filter])
    extends Scan with Batch {

  private val rowFilter: Option[GraftRowFilter] =
    pushed.flatMap(GraftRowFilter.translate(_, tableSchema.struct)).reduceOption(GraftRowFilter.And)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // every partition reads columnar, so the planner need not plan the
  // partitions to choose the scan's shape
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def description(): String =
    s"graft-iceberg $location${snapshotId.orElse(pinned.flatMap(_.snapshot.map(_.id)))
      .map(id => s" @$id").getOrElse("")}" +
      s" shipdate=[${dateLo.getOrElse("-inf")},${dateHi.getOrElse("+inf")}]" +
      (if (pushed.isEmpty) "" else pushed.mkString(" pushed=[", ", ", "]"))

  /** `spark.readStream.table(<cat>.<ns>.<t>)` — the snapshot TAILER as a
    * Structured Streaming source (the consumption pattern behind Iceberg's
    * own streaming read, and the DSv2 twin of the library-level
    * [[IcebergTable.tailDelta]]): offsets are snapshot ids, each
    * micro-batch plans the `(start, end]` incremental APPEND scan
    * ([[IcebergTable.planIncremental]] — append snapshots only; replaces
    * contribute nothing, deletes add no data files, staged snapshots stay
    * invisible until published), so successive batches PARTITION the
    * table's append history exactly-once — the same contract the
    * checkpointed offset makes durable across restarts. The batches'
    * rows pass the same row filter as the batch scan's. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(location, required, rowFilter)

  private lazy val meta: IcebergTable.TableMetadata =
    pinned.map(_.meta).getOrElse(IcebergTable.readMetadata(location))

  // the columns the readers read: the required ones and those the row
  // filter tests, which Spark no longer needs above the scan
  private val readColumns: Seq[String] =
    (required.fieldNames.toSeq ++ rowFilter.toSeq.flatMap(_.columns.map(_._1))).distinct

  // the equality-delete waves this scan resolved
  private var eqs: Seq[IcebergTable.DataFileEntry] = Seq.empty

  override def planInputPartitions(): Array[InputPartition] = {
    // a table with no snapshot, or a snapshot with zero live data files,
    // falls out of the ONE pruned planning pass below as an empty scan
    val tree = pinned.getOrElse(GraftSnapshotPin.read(meta, snapshotId))
    eqs = tree.entries.flatten.filter(_.content == 2)
    // planFiles' pruning over the manifests read once (ScanPlan.filesTotal
    // is computed from the full manifest list, so the pruned plan carries
    // the census denominator)
    val plan = tree.plan(None, None, dateLo, dateHi)
    GraftSqlScanCensus.record(location, GraftSqlScanCensus.Census(
      plan.filesTotal, plan.filesSelected.toLong, plan.manifestsTotal.toLong,
      plan.manifestsRead.toLong, readColumns.size.toLong, tableSchema.fields.size.toLong))
    GraftScanPacking.packForSession(plan.files)
      .map { fs =>
        GraftInputPartition(fs.map { f =>
          GraftFileTask(f.path, f.sequence, tree.deleteBlobs(f), f.firstRowId)
        }.toArray): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fields = required.fields.map(f => (f.name, f.dataType))
    // equality-delete keys ride as a BROADCAST variable, not factory-closure
    // payload: the factory serializes into every task, so a large equality
    // wave in the closure would ship per-task; a broadcast ships per-executor
    // once (torrent), which is the scale-correct vehicle. CACHED per
    // (session, table, equality-wave set): a fresh broadcast per scan
    // invocation accumulated driver+executor blocks for the life of the
    // session on repeatedly-read delete-carrying tables. The keys load
    // ONCE on the driver (KB–MB grain, like the real library's delete
    // loader), and only when the wave set is not cached yet; the
    // fingerprint (file paths + sequences) changes exactly when the keys a
    // reader must apply change.
    val bc = GraftEqBroadcastCache.get(location,
      eqs.map(e => s"${e.path}@${e.sequence}").sorted.mkString(";"),
      eqs.map(e => (e.sequence, GraftParquetRows.readLongColumn(e.path, "key"))).toArray)
    // the older names and types of the fields the reader reads ride to the
    // tasks, so files written under an earlier schema keep serving data
    // (resolveFileSchema; KB-grain maps)
    val history = IcebergTable.columnHistory(meta, tableSchema)
      .filter { case (n, _) => readColumns.contains(n) }
    val renames = history.collect { case (n, (names, _)) if names.nonEmpty => n -> names }
    val widened = history.collect { case (n, (_, retyped)) if retyped => n }.toSet
    new GraftReaderFactory(fields, bc, renames, widened, rowFilter)
  }
}

/** Session-scoped cache of equality-delete-key broadcasts, keyed by
  * (application, table location, equality-wave fingerprint). The wave set
  * is immutable content (delete files never change in place), so a cached
  * broadcast can never serve stale keys — a NEW delete commit produces a
  * new fingerprint and its own entry. Superseded entries (older wave sets
  * of the same table) are unpersisted on replacement, which bounds the
  * cache at one live broadcast per table plus whatever scans still hold
  * references; a new SparkContext invalidates everything. */
private[iceberg] object GraftEqBroadcastCache {
  private val cache = scala.collection.mutable.Map.empty[
    (String, String), (String, org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long])]])]

  def get(location: String, fingerprint: String, eq: => Array[(Long, Array[Long])])
      : org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long])]] = synchronized {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val key = (sc.applicationId, location)
    cache.get(key) match {
      case Some((fp, bc)) if fp == fingerprint => bc
      case old =>
        // best-effort release of the superseded wave set's blocks; a scan
        // mid-flight on the old broadcast still reads it (unpersist is
        // non-blocking and re-broadcastable on demand by Spark)
        old.foreach { case (_, bc) => try bc.unpersist() catch { case _: Exception => () } }
        val bc = sc.broadcast(eq)
        cache(key) = (fingerprint, bc)
        bc
    }
  }
}

/** Serves every partition with a [[GraftPackedReader]] that reads the
  * partition's files through one [[GraftColumnarReader]] each: a file's
  * DV blobs decode to sorted positions, the equality waves newer than
  * the file merge into one sorted key array, and every file's rows pass
  * `rowFilter`. The files of a task open one after another over one Hadoop
  * configuration, as Spark's own file sources share one across a task's
  * files. There is no row reader. */
private[iceberg] class GraftReaderFactory(fields: Array[(String, DataType)],
                                          eqBc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long])]],
                                          renames: Map[String, Seq[String]] = Map.empty,
                                          widened: Set[String] = Set.empty,
                                          rowFilter: Option[GraftRowFilter] = None)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft scans read columnar batches only")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    // files of one sequence see the same equality waves: merge them once
    val keysBySequence = scala.collection.mutable.Map.empty[Long, Array[Long]]
    def eqKeys(sequence: Long): Array[Long] = keysBySequence.getOrElseUpdate(sequence, {
      // spec scoping: equality deletes apply to STRICTLY older data files
      val keys = eqBc.value.collect { case (seq, ks) if seq > sequence => ks }
      if (keys.isEmpty) Array.empty[Long]
      else { val a = keys.flatten; java.util.Arrays.sort(a); a }
    })
    val conf = GraftVectorized.hadoopConf()
    new GraftPackedReader(partition.asInstanceOf[GraftInputPartition].files, { f =>
      val deleted =
        if (f.dvBlobs.isEmpty) Array.empty[Long]
        else {
          val a = f.dvBlobs.flatMap(RoaringDv.deserializeDvBlob)
          java.util.Arrays.sort(a); a
        }
      new GraftColumnarReader(f.path, fields, deleted, eqKeys(f.sequence), renames, widened,
        f.firstRowId, f.sequence, rowFilter, conf)
    })
  }
}

/** A scan task's reader: the partition's files in order, each through its
  * own reader from `open`. A file's reader opens when the previous one is
  * exhausted and closes before the next opens, so `_file`/`_pos` and the
  * delete state stay per file and one file's decoder is live at a time. */
private[iceberg] class GraftPackedReader(files: Array[GraftFileTask],
                                         open: GraftFileTask => PartitionReader[ColumnarBatch])
    extends PartitionReader[ColumnarBatch] {
  private var opened = 0 // files opened so far
  private var current: PartitionReader[ColumnarBatch] = _

  override def next(): Boolean = {
    while (current != null || opened < files.length) {
      if (current == null) { current = open(files(opened)); opened += 1 }
      if (current.next()) return true
      current.close()
      current = null
    }
    false
  }

  override def get(): ColumnarBatch = current.get()

  override def close(): Unit =
    if (current != null) { current.close(); current = null }
}

/** Shared executor-side opener for Spark's VECTORIZED parquet reader —
  * the same columnar decoder every built-in FileScan task runs (the
  * row-at-a-time `Group` example reader it replaces paid a ~5–20×
  * constant factor per task for no correctness gain). Handles int96/
  * int64-millis/micros timestamps natively via Spark's own conversion. */
object GraftVectorized {
  /** Rows per decoded batch. */
  val BatchRows = 4096

  /** Metadata columns the reader synthesizes instead of reading. */
  def isMetaCol(name: String): Boolean = name == "_file" || name == "_pos"

  /** The v3 row-lineage columns: metadata columns, not table columns
    * (spec §Row Lineage). Read where a rewrite materialized them in a file,
    * derived from the file's first row id and sequence where not. */
  def isLineageCol(name: String): Boolean =
    name == "_row_id" || name == "_last_updated_sequence_number"

  def cleanPath(path: String): String =
    path.stripPrefix("file:").replaceFirst("^/{2,}", "/")

  /** The reader's Hadoop configuration, parsed ONCE per JVM: `new
    * Configuration()` merges the XML default resources on first use (a
    * few ms), and a scan opens one reader per data file. It carries the
    * converter flags at their SQLConf defaults under a UTC session; every
    * caller that sets a key works on a copy ([[hadoopConf]]), so the
    * shared instance is only ever read (footer reads use it as-is,
    * [[ParquetFooters]]). */
  private[iceberg] lazy val sharedConf: Configuration = {
    val conf = new org.apache.hadoop.mapred.JobConf()
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf
  }

  /** A private copy of the shared configuration, free to modify. A
    * `JobConf`, so the task context built over it uses it as-is instead of
    * copying it again. */
  def hadoopConf(): org.apache.hadoop.mapred.JobConf =
    new org.apache.hadoop.mapred.JobConf(sharedConf)

  def fileSchemaOf(path: String): MessageType =
    ParquetFooters.withFooter(path)(_.getFileMetaData.getSchema)

  /** Resolve the required schema against ONE file's physical schema:
    * a RENAMED column (`renames`: the other names its field id held,
    * newest first) re-requests the newest of them the file carries — data
    * files carry no field ids — and a RETYPED column (`ALTER COLUMN …
    * TYPE`) re-requests the file's NARROW physical type when the file
    * predates the promotion — the decoded values upcast after the
    * vectorized read (int→long, float→double, decimal precision). Costs
    * AT MOST one footer read per file and only runs for columns whose id
    * held another name or type; the
    * batch's vectors stay positional, so callers keep labeling columns
    * with the CURRENT names and handle the (required, resolved) type pair
    * per column. */
  def resolveFileSchema(path: String, required: StructType,
                        renames: Map[String, Seq[String]],
                        widened: Set[String]): StructType = {
    val needRename = renames.nonEmpty && required.fieldNames.exists(renames.contains)
    val needWiden = widened.nonEmpty && required.fieldNames.exists(widened)
    if (!needRename && !needWiden) required
    else {
      val msg = fileSchemaOf(path)
      val phys = msg.getFields.asScala.map(_.getName).toSet
      StructType(required.fields.map { f0 =>
        val f =
          if (phys.contains(f0.name)) f0
          else renames.get(f0.name)
            .flatMap(_.find(phys.contains))
            .map(old => f0.copy(name = old))
            .getOrElse(f0) // absent everywhere: stays a null-filled vector
        if (!widened.contains(f0.name) || !phys.contains(f.name)) f
        else {
          // a file written before the promotion holds the narrow type
          val fileType = new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter()
            .convert(new MessageType(msg.getName, msg.getType(msg.getFieldIndex(f.name)))).head.dataType
          if (IcebergTable.promotes(fileType, f.dataType)) f.copy(dataType = fileType) else f
        }
      })
    }
  }

  /** Open a vectorized reader for the CATALYST `required` schema over one
    * whole file — the same task-side initialization Spark's own
    * `ParquetFileFormat.buildReaderWithPartitionValues` performs (a
    * FileSplit + TaskAttemptContext whose conf carries the requested
    * schema). The batch's columns come back in `required` order, and a
    * column the file lacks (older schema era, internal lineage column)
    * rides as an all-null vector — Spark's own missing-column handling.
    * `conf` ([[hadoopConf]]) takes the requested schema: readers that open
    * one after another may share one. */
  def open(path: String, required: StructType,
           conf: org.apache.hadoop.mapred.JobConf = hadoopConf())
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    val clean = cleanPath(path)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", required.json)
    val reader = new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /*useOffHeap=*/ false, BatchRows)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path("file:" + clean), 0, new File(clean).length(), Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, ctx)
    reader.resultBatch() // allocates the batch vectors (required before nextBatch)
    reader
  }
}

/** The scan's per-file reader ([[GraftPackedReader]] runs one per file of
  * a task): Spark's vectorized decode of one data file, with the file's
  * delete state applied to each batch. The reader tracks every decoded
  * row's ordinal within the file; a batch that loses rows to DV positions
  * or equality keys is served through a row-id map — each column a
  * [[GraftFilteredVector]] over the decoder's vector, so no value is
  * copied — and a batch that loses none is served as decoded. `_file` is
  * a constant vector and `_pos` a long vector of the surviving ordinals
  * (the row-level operations' rowId). A column a pre-evolution file lacks
  * comes back as an all-null vector, and one a pre-promotion file holds
  * at a narrower type through a [[GraftUpcastVector]] beneath the filter.
  * `_row_id` is the file's materialized value where a rewrite wrote one,
  * else `firstRowId` + the row's ordinal (null when the file has no first
  * row id); `_last_updated_sequence_number` is the materialized value,
  * else the file's `sequence` (spec §Row Lineage).
  * A row that survives the deletes must also pass `rowFilter`, evaluated
  * on the decoded values, so a filter narrows the same row-id map.
  * A batch whose every row is dropped is skipped, never taken for the end
  * of the file. */
private[iceberg] class GraftColumnarReader(path: String,
                                           fields: Array[(String, DataType)],
                                           deletedPos: Array[Long],
                                           eqKeys: Array[Long],
                                           renames: Map[String, Seq[String]] = Map.empty,
                                           widened: Set[String] = Set.empty,
                                           firstRowId: Long = -1L,
                                           sequence: Long = 0L,
                                           rowFilter: Option[GraftRowFilter] = None,
                                           conf: org.apache.hadoop.mapred.JobConf =
                                             GraftVectorized.hadoopConf())
    extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val eqCol = "l_orderkey"
  // the physical read schema: required fields minus the synthesized
  // metadata columns, plus the equality-key column when keys must filter
  // and the columns the row filter reads
  private val physical: StructType = {
    val out = fields.filterNot(f => GraftVectorized.isMetaCol(f._1))
    val extra = (if (eqKeys.nonEmpty) Seq[(String, DataType)](eqCol -> LongType) else Nil) ++
      rowFilter.toSeq.flatMap(_.columns)
    StructType((out ++ extra).distinctBy(_._1).map { case (n, t) => StructField(n, t) })
  }
  // the per-FILE resolved schema: renamed columns under their in-file
  // ancestor name, widened columns at the file's narrow physical type
  private val resolved =
    GraftVectorized.resolveFileSchema(path, physical, renames, widened)
  private val reader = GraftVectorized.open(path, resolved, conf)

  // the decoder reuses ONE batch object and its vectors across nextBatch
  // calls, so every wrapper below binds once
  private val decoded: Array[ColumnVector] = {
    val b = reader.resultBatch()
    Array.tabulate(physical.length) { j =>
      val (from, to) = (resolved.fields(j).dataType, physical.fields(j).dataType)
      if (from == to) b.column(j) else new GraftUpcastVector(b.column(j), from, to)
    }
  }
  // liveRows(k) = the decoded-batch row of the k-th surviving row
  private val liveRows = new Array[Int](GraftVectorized.BatchRows)
  private val filtered: Array[ColumnVector] =
    decoded.map(v => new GraftFilteredVector(v, liveRows))
  private val fileVector: ConstantColumnVector =
    if (!fields.exists(_._1 == "_file")) null
    else {
      val v = new ConstantColumnVector(GraftVectorized.BatchRows, StringType)
      v.setUtf8String(UTF8String.fromString(path))
      v
    }
  private def longVector(name: String): OnHeapColumnVector =
    if (fields.exists(_._1 == name)) new OnHeapColumnVector(GraftVectorized.BatchRows, LongType)
    else null
  private val posVector = longVector("_pos")
  private val rowIdVector = longVector("_row_id")
  private val seqVector = longVector("_last_updated_sequence_number")

  private def batchOver(cols: Array[ColumnVector]): ColumnarBatch =
    new ColumnarBatch(fields.map[ColumnVector] {
      case ("_file", _) => fileVector
      case ("_pos", _) => posVector
      case ("_row_id", _) => rowIdVector
      case ("_last_updated_sequence_number", _) => seqVector
      case (name, _) => cols(physical.fieldIndex(name))
    })
  private val whole = batchOver(decoded)
  private val live = batchOver(filtered)
  private val eqVector: ColumnVector =
    if (eqKeys.isEmpty) null else decoded(physical.fieldIndex(eqCol))
  private val filterEval: GraftRowFilter.Eval =
    rowFilter.map(_.bind(name => decoded(physical.fieldIndex(name)))).orNull

  private var current: ColumnarBatch = _
  private var ordinal = 0L // file ordinal of the next decoded row
  private var dvIdx = 0

  override def next(): Boolean = {
    while (reader.nextBatch()) {
      val n = reader.resultBatch().numRows()
      val first = ordinal
      ordinal += n
      val kept = keep(first, n)
      if (kept > 0) {
        current = if (kept == n) whole else live
        current.setNumRows(kept)
        if (posVector != null || rowIdVector != null || seqVector != null) {
          var k = 0
          while (k < kept) {
            val row = if (kept == n) k else liveRows(k)
            if (posVector != null) posVector.putLong(k, first + row)
            if (rowIdVector != null)
              lineage(rowIdVector, rowIdDecoded, k, row,
                if (firstRowId >= 0) firstRowId + first + row else -1L)
            if (seqVector != null) lineage(seqVector, seqDecoded, k, row, sequence)
            k += 1
          }
        }
        return true
      }
    }
    false
  }

  // the materialized lineage columns as decoded (all null in a file
  // written without them)
  private def decodedOf(out: OnHeapColumnVector, name: String): ColumnVector =
    if (out == null) null else decoded(physical.fieldIndex(name))
  private val rowIdDecoded = decodedOf(rowIdVector, "_row_id")
  private val seqDecoded = decodedOf(seqVector, "_last_updated_sequence_number")

  /** Row `k` of a lineage column: the value `m` materialized at decoded
    * row `row`, else `derived` (null when negative). */
  private def lineage(out: OnHeapColumnVector, m: ColumnVector, k: Int, row: Int,
                      derived: Long): Unit =
    if (!m.isNullAt(row)) { out.putNotNull(k); out.putLong(k, m.getLong(row)) }
    else if (derived >= 0) { out.putNotNull(k); out.putLong(k, derived) }
    else out.putNull(k)

  /** The number of rows of the decoded batch (file ordinals `first` until
    * `first + n`) that survive the deletes and pass the row filter; fills
    * `liveRows` with them unless neither can reach the batch. */
  private def keep(first: Long, n: Int): Int = {
    while (dvIdx < deletedPos.length && deletedPos(dvIdx) < first) dvIdx += 1
    if (eqVector == null && filterEval == null &&
        (dvIdx == deletedPos.length || deletedPos(dvIdx) >= first + n))
      return n
    var kept = 0
    var i = 0
    while (i < n) {
      // DV positions and the decode both walk in ordinal order
      while (dvIdx < deletedPos.length && deletedPos(dvIdx) < first + i) dvIdx += 1
      val dead = (dvIdx < deletedPos.length && deletedPos(dvIdx) == first + i) ||
        (eqVector != null && !eqVector.isNullAt(i) &&
          java.util.Arrays.binarySearch(eqKeys, eqVector.getLong(i)) >= 0)
      if (!dead && (filterEval == null || filterEval(i) == GraftRowFilter.True)) {
        liveRows(kept) = i; kept += 1
      }
      i += 1
    }
    kept
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    reader.close()
    Seq(fileVector, posVector, rowIdVector, seqVector).filter(_ != null).foreach(_.close())
  }
}

/** A view of a batch column through a row-id map (the shape of Iceberg's
  * `ColumnVectorWithFilter`): row `i` of the view is row `rows(i)` of the
  * child. The map array is owned by the reader, which rewrites it for
  * every batch; the child's buffers are never copied. */
private[iceberg] class GraftFilteredVector(child: org.apache.spark.sql.vectorized.ColumnVector,
                                           rows: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(child.dataType()) {
  override def close(): Unit = child.close()
  // ownership stays with the decoder, whose vectors are reused across
  // batches — see GraftUpcastVector.closeIfFreeable
  override def closeIfFreeable(): Unit = child.closeIfFreeable()
  // counting the view's nulls would walk the map; the child's count over
  // the whole decoded batch is an upper bound, as in Iceberg
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(i: Int): Boolean = child.isNullAt(rows(i))
  override def getBoolean(i: Int): Boolean = child.getBoolean(rows(i))
  override def getByte(i: Int): Byte = child.getByte(rows(i))
  override def getShort(i: Int): Short = child.getShort(rows(i))
  override def getInt(i: Int): Int = child.getInt(rows(i))
  override def getLong(i: Int): Long = child.getLong(rows(i))
  override def getFloat(i: Int): Float = child.getFloat(rows(i))
  override def getDouble(i: Int): Double = child.getDouble(rows(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = child.getDecimal(rows(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = child.getUTF8String(rows(i))
  override def getBinary(i: Int): Array[Byte] = child.getBinary(rows(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    child.getArray(rows(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    child.getMap(rows(i))
  // row-aligned children (struct fields) read through the same map
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector =
    new GraftFilteredVector(child.getChild(i), rows)
}

/** Columnar type-promotion shim (spec §Schema Evolution read-side upcast):
  * serves a batch column decoded at a pre-promotion file's NARROW type
  * under the table's widened type — getLong over an int vector, getDouble
  * over a float vector, getDecimal re-scoped to the widened precision.
  * Everything else delegates; the underlying buffers are untouched (no
  * copy, the scan stays whole-stage-columnar). */
private[iceberg] class GraftUpcastVector(child: org.apache.spark.sql.vectorized.ColumnVector,
                                         from: DataType, to: DataType)
    extends org.apache.spark.sql.vectorized.ColumnVector(to) {
  private val intToLong = from == IntegerType && to == LongType
  private val floatToDouble = from == FloatType && to == DoubleType
  private val fromDec: Option[DecimalType] = from match {
    case d: DecimalType => Some(d); case _ => None
  }
  override def close(): Unit = child.close()
  // ColumnarToRowExec calls closeIfFreeable() after EVERY consumed batch;
  // the decoder's WritableColumnVectors override it to a no-op because the
  // reader owns and REUSES them across batches — this view must delegate
  // that ownership signal, not inherit ColumnVector's close-by-default
  // (which freed the reader's vectors after the first batch and NPE'd the
  // second batch's decode on multi-batch files).
  override def closeIfFreeable(): Unit = child.closeIfFreeable()
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(i: Int): Boolean = child.isNullAt(i)
  override def getBoolean(i: Int): Boolean = child.getBoolean(i)
  override def getByte(i: Int): Byte = child.getByte(i)
  override def getShort(i: Int): Short = child.getShort(i)
  override def getInt(i: Int): Int = child.getInt(i)
  override def getLong(i: Int): Long =
    if (intToLong) child.getInt(i).toLong else child.getLong(i)
  override def getFloat(i: Int): Float = child.getFloat(i)
  override def getDouble(i: Int): Double =
    if (floatToDouble) child.getFloat(i).toDouble else child.getDouble(i)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = fromDec match {
    case Some(n) if n.precision != precision || n.scale != scale =>
      org.apache.spark.sql.types.Decimal(
        child.getDecimal(i, n.precision, n.scale).toJavaBigDecimal, precision, scale)
    case _ => child.getDecimal(i, precision, scale)
  }
  override def getUTF8String(i: Int): UTF8String = child.getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = child.getBinary(i)
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    child.getArray(i)
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    child.getMap(i)
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector =
    child.getChild(i)
}

/** Streaming offset = the last snapshot id the consumer has processed
  * (the watermark [[IcebergTable.tailDelta]] advances); JSON form is the
  * bare id, so a checkpoint is human-readable. */
private[iceberg] case class GraftStreamOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = snapshotId.toString
}

/** MicroBatchStream over the real snapshot log — see
  * [[GraftScan.toMicroBatchStream]]. Planning is metadata-only per batch;
  * files pack into partitions as the batch scan's do and reuse its reader,
  * with the scan's `rowFilter` (no delete state: an incremental
  * APPEND scan's files carry no DVs by construction — deletes target
  * already-consumed history). */
private[iceberg] class GraftMicroBatchStream(location: String, required: StructType,
                                             rowFilter: Option[GraftRowFilter] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  override def latestOffset(): Offset =
    GraftStreamOffset(IcebergTable.readMetadataOpt(location)
      .fold(0L)(m => math.max(0L, m.currentSnapshotId)))

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftStreamOffset].snapshotId
    val to = end.asInstanceOf[GraftStreamOffset].snapshotId
    if (to <= from) return Array.empty
    GraftScanPacking.packForSession(IcebergTable.planIncremental(location, from, to).files)
      .map(fs => GraftInputPartition(
        fs.map(f => GraftFileTask(f.path, f.sequence, Array.empty)).toArray): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.fields.map(f => (f.name, f.dataType)),
      org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(Array.empty[(Long, Array[Long])]), rowFilter = rowFilter)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Driver-side helpers that read small delete files through the scan's
  * vectorized decoder, so planning loads delete state without spinning a
  * Spark job inside the planner. */
private[iceberg] object GraftParquetRows {
  /** The non-null values of one INT64 column: an equality-delete file's
    * keys. */
  def readLongColumn(path: String, column: String): Array[Long] = {
    require(GraftVectorized.fileSchemaOf(path).containsField(column), s"$path has no column $column")
    val out = Array.newBuilder[Long]
    foreachBatch(path, StructType(Seq(StructField(column, LongType)))) { (b, i) =>
      if (!b.column(0).isNullAt(i)) out += b.column(0).getLong(i)
    }
    out.result()
  }

  /** A v2 position-delete file's `(file_path, pos)` rows, grouped by the
    * clean path of the data file they delete from. */
  def readPositions(path: String): Map[String, Array[Long]] = {
    val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuilder[Long]]
    // rows come sorted by file_path: resolve a path once per run of rows
    var lastPath: UTF8String = null
    var positions: scala.collection.mutable.ArrayBuilder[Long] = null
    foreachBatch(path, StructType(Seq(StructField("file_path", StringType),
        StructField("pos", LongType)))) { (b, i) =>
      val p = b.column(0).getUTF8String(i)
      if (p != lastPath) {
        lastPath = p.clone()
        positions = out.getOrElseUpdate(GraftVectorized.cleanPath(p.toString), Array.newBuilder[Long])
      }
      positions += b.column(1).getLong(i)
    }
    out.view.mapValues(_.result()).toMap
  }

  private def foreachBatch(path: String, schema: StructType)(row: (ColumnarBatch, Int) => Unit): Unit = {
    val r = GraftVectorized.open(path, schema)
    try while (r.nextBatch()) {
      val b = r.resultBatch()
      (0 until b.numRows).foreach(i => row(b, i))
    } finally r.close()
  }
}

/** SQL-addressable METADATA TABLES (`SELECT * FROM <cat>.<ns>.<t>.files`
  * — the inspection surface every Iceberg user leans on): the extra path
  * segment after a table name resolves to one of the spec's metadata
  * tables, computed from the table's metadata tree alone and served as a
  * [[LocalScan]] — metadata-grain rows (KB) belong on the driver, not in
  * a task fan-out. The `files`/`entries` kinds are bounded by the same
  * driver-side planning ceiling as [[IcebergTable.planFiles]] (one row per
  * live file — the count every query's planner already materializes); a
  * deployment whose file count outgrows that would distribute the
  * manifest reads, as the real library's metadata tables do. Wall-clock timestamps are excluded; snapshot
  * "timestamps" in this layer are the deterministic id-derived ms values
  * the committers write. */
private[iceberg] object GraftMetaTables {
  val kinds: Set[String] =
    Set("files", "manifests", "snapshots", "history", "entries", "refs", "partitions")

  def df(spark: org.apache.spark.sql.SparkSession, location: String,
         kind: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val meta = IcebergTable.readMetadata(location)
    kind match {
      case "files" =>
        IcebergTable.planFiles(location).files
          .map(f => (f.path, f.partition, f.recordCount, f.loShip, f.hiShip,
            f.entrySnapshotId, f.sequence))
          .sortBy(f => (f._2, f._1))
          .toDF("file_path", "p_month", "record_count", "lo_shipdate",
            "hi_shipdate", "added_snapshot_id", "sequence_number")
      case "partitions" =>
        IcebergTable.planFiles(location).files
          .groupBy(_.partition).toSeq
          .map { case (p, fs) => (p, fs.size.toLong, fs.map(_.recordCount).sum) }
          .sortBy(_._1)
          .toDF("p_month", "n_files", "n_rows")
      case "manifests" =>
        IcebergTable.readManifestList(IcebergTable.currentSnapshot(meta).manifestList)
          .map(m => (m.path, m.addedSnapshotId, m.addedFiles.toLong, m.addedRows,
            m.partLo, m.partHi))
          .sortBy(m => (m._2, m._1))
          .toDF("manifest_path", "added_snapshot_id", "n_added_files",
            "n_added_rows", "p_month_lo", "p_month_hi")
      case "snapshots" | "history" =>
        meta.snapshots.sortBy(_.id)
          .map(s => (s.id, s.sequenceNumber, s.timestampMs, s.parentId,
            s.operation, s.id == meta.currentSnapshotId))
          .toDF("snapshot_id", "sequence_number", "timestamp_ms", "parent_id",
            "operation", "is_current")
      case "refs" =>
        meta.refs.toSeq.sortBy(_._1)
          .map { case (n, r) => (n, r.refType, r.snapshotId) }
          .toDF("name", "type", "snapshot_id")
      case "entries" =>
        val ms = IcebergTable.readManifestList(
          IcebergTable.currentSnapshot(meta).manifestList)
        IcebergTable.readManifestsParallel(ms.map(_.path)).flatten
          .map { e =>
            val k = e.content match {
              case 0 => "data"
              case 1 => if (e.referencedDataFile.isDefined) "deletion_vector"
                        else "position_deletes"
              case _ => "equality_deletes"
            }
            (k, e.path, e.partition, e.recordCount, e.sequence, e.entrySnapshotId)
          }.sortBy(e => (e._1, e._3, e._5, e._2))
          .toDF("content_type", "file_path", "p_month", "record_count",
            "sequence_number", "added_snapshot_id")
      case other => throw new IllegalArgumentException(s"no metadata table $other")
    }
  }
}

private[iceberg] class GraftMetaSqlTable(ident: String, location: String, kind: String)
    extends Table with SupportsRead {
  private lazy val df0 =
    GraftMetaTables.df(org.apache.spark.sql.SparkSession.active, location, kind)
  override def name(): String = ident
  override def schema(): StructType = df0.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          df0.queryExecution.executedPlan.executeCollect()
        override def readSchema(): StructType = df0.schema
      }
    }
}
