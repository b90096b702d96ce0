package graft.lake.iceberg

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` for the graft catalog —
  * Spark's connector row-level-operation API (`SupportsRowLevelOperations`
  * → `SupportsDelta`) backed by the SAME committers the library exposes:
  * matched rows become one v3 deletion-vector wave on their old positions
  * plus month-partitioned replacement data files, committed as ONE
  * "overwrite" snapshot — exactly the history [[IcebergTable.updateMorDv]]
  * writes, so a SQL MERGE and a library update are indistinguishable to
  * any reader (the reference's update study,
  * `poc/results/column_file_dv_updates_results.json`, costs precisely this
  * DV+replacement shape).
  *
  * DELTA (merge-on-read), not group-based copy-on-write: the operation
  * declares `rowId = (_file, _pos)` — the metadata columns the vectorized
  * scan synthesizes per row — and Spark's WriteDelta plan feeds back only
  * the CHANGED rows (deletes as row coordinates, updates split into
  * delete+insert). Untouched rows in touched files are never rewritten,
  * the defining MOR property.
  *
  * Scale shape: executors write the replacement/insert rows DIRECTLY as
  * month-partitioned parquet (Spark's own `ParquetWriteSupport`, one open
  * file per task: the input arrives clustered and sorted by month); delete
  * coordinates are Roaring-SERIALIZED on the
  * executors (one blob per (task, file) — [[RoaringDv.serializeDvBlob]],
  * the same compression the library's `appendDvPuffin` path ships) so the
  * commit messages carry KB-grain compressed blobs, never raw position
  * arrays: an UPDATE touching 10⁹ rows must not ship ~8 GB of longs into
  * driver heap. The driver or-merges blobs per file (cheap union of
  * compressed bitmaps; single-task files pass through untouched) and the
  * commit is OPTIMISTIC — [[IcebergTable.commitDelta]] runs as one
  * [[IcebergTable.commit]] transaction, which re-derives the snapshot id
  * against the version it read and retries on a lost version CAS. Each
  * statement stages its files in its own directory
  * ([[IcebergTable.newDataDir]]), so two concurrent SQL writers serialize
  * instead of silently last-writer-winning or deleting each other's
  * files. Task retries are safe: only files named in COMMIT
  * messages enter the manifest, stray files from aborted attempts are
  * deleted at commit by directory listing (never opened — a truncated
  * kill-leftover cannot fail the commit). */
private[iceberg] class GraftRowLevelOperationBuilder(table: GraftSqlTable, location: String,
                                                     info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(table, location, info.command)
}

private[iceberg] class GraftRowLevelOperation(table: GraftSqlTable, location: String,
                                              cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-delta $cmd $location"

  /** The operation's scan is the statement's table's own scan (same
    * schema, same pruning, same delete-state resolution) — `_file`/`_pos`
    * arrive via pruneColumns like any metadata column. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(location, info.schema(),
      GraftPartitioning.sourceColumnOf(table.partitioning()),
      IcebergTable.targetRecordsProp(table.properties().asScala.toMap))

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** Updates arrive split as delete+insert — the natural encoding for a
    * DV + replacement-file commit. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true
}

private[iceberg] class GraftDeltaWriteBuilder(location: String, schema: StructType,
                                              partCol: Option[String],
                                              targetRecords: Option[Long])
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new GraftDeltaWrite(location, schema, partCol, targetRecords)
}

private[iceberg] class GraftDeltaWrite(location: String, schema: StructType,
                                       partCol: Option[String],
                                       targetRecords: Option[Long] = None)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  /** Writer fan-out control: without a required distribution the
    * changed-row stream arrives partitioned by the MERGE/UPDATE join key,
    * so every write task sees every month and writes its own tiny file per
    * month — tasks × months files per commit (measured at sf0.1: the 4-arm
    * MERGE fixture wrote 3,850 delta files in 23.5 s, and the commit then
    * read one footer per file). Hash-clustering the (small) delta stream by
    * (_file, months(<spec column>)) sends every delete of one source file to
    * one task — one Roaring blob per file, so the driver's or-merge passes
    * blobs through — and every inserted row of one month to one task, so
    * data files out ≈ months touched. Clustering, unlike a range
    * distribution, needs no sampling job: a range partitioner re-runs the
    * whole filtered scan to pick its bounds before the shuffle scans it
    * again; the price is that one task writes all of a month's inserted
    * rows (Iceberg's `hash` distribution mode). Within a task the rows sort
    * by (_file, <spec column>), so the writer holds one month's file open at
    * a time ([[GraftDeltaWriter]]).
    * Deletes carry a NULL spec column and inserts a NULL _file (ASC = NULLS
    * FIRST), so the two row kinds never interleave. The spec column is the
    * table's PARTITION-SPEC source column ([[GraftPartitioning.sourceColumnOf]]
    * via the operation builder), never a hardcoded name. */
  private val dataCol: Option[String] = partCol.filter(schema.fieldNames.contains)

  private def sortCols: Array[String] = dataCol match {
    case Some(c) => Array("_file", c)
    case None => Array("_file", "_pos")
  }

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Expressions.column("_file") +: dataCol.toArray.map(c =>
      Expressions.months(c): org.apache.spark.sql.connector.expressions.Expression))

  override def requiredOrdering(): Array[SortOrder] =
    sortCols.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

  // a statement-unique staging dir: manifests record full file paths, so
  // the dir name never has to match the committed snapshot id, which is
  // derived inside commitDelta's commit transaction
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(location, schema, IcebergTable.newDataDir(location), partCol,
      targetRecords)
}

/** One task's outcome: per-file Roaring-serialized DV blobs with their
  * stats — (path, blob, cardinality, minPos, maxPos) — and the data files
  * it wrote. Compressed-blob grain is the scale contract: the driver heap
  * holds bitmap bytes, never 8·positions of raw longs. */
private[iceberg] case class GraftDeltaCommitMessage(
    deletes: Array[(String, Array[Byte], Long, Long, Long)],
    files: Array[String]) extends WriterCommitMessage

private[iceberg] object GraftDeltaCommitMessage {
  /** The data files the committed tasks of a write named. */
  def files(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }.flatMap(_.files)

  /** Delete what the tasks of an aborted write wrote. */
  def discard(messages: Array[WriterCommitMessage]): Unit =
    files(messages).foreach(f => new File(f).delete())
}

private[iceberg] class GraftDeltaBatchWrite(location: String, schema: StructType,
                                            dataDir: String, partCol: Option[String],
                                            targetRecords: Option[Long] = None)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(dataDir, schema, partCol, targetRecords)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val dvRows = GraftDeltaBatchWrite.mergeBlobs(msgs.flatMap(_.deletes).toSeq)
    val files = GraftDeltaCommitMessage.files(messages)
    // a statement that matched no live row changes nothing and commits
    // nothing (no task wrote a file or recorded a delete)
    if (dvRows.nonEmpty || files.nonEmpty)
      IcebergTable.commitDelta(spark, location, dvRows, dataDir, files)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftDeltaCommitMessage.discard(messages)
}

private[iceberg] object GraftDeltaBatchWrite {
  /** Or-merge per-(task, file) DV blobs into one blob per file. The
    * single-task case (the common one: row coordinates partition by file
    * under the scan's layout) passes the executor's blob through
    * untouched; only files split across tasks pay a decode–union–encode,
    * and that on compressed bitmaps, not raw arrays. */
  def mergeBlobs(chunks: Seq[(String, Array[Byte], Long, Long, Long)])
      : Seq[(String, Array[Byte], Long, Long, Long)] =
    chunks.groupBy(_._1).toSeq.map { case (f, cs) =>
      if (cs.lengthCompare(1) == 0) cs.head
      else {
        val ps = cs.toArray.flatMap(c => RoaringDv.deserializeDvBlob(c._2)).distinct.sorted
        (f, RoaringDv.serializeDvBlob(ps), ps.length.toLong, ps.head, ps.last)
      }
    }.sortBy(_._1)
}

private[iceberg] class GraftDeltaWriterFactory(dataDir: String, schema: StructType,
                                               partCol: Option[String],
                                               targetRecords: Option[Long] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(dataDir, schema, partitionId, taskId, partCol, targetRecords)
}

/** V2 batch write of plain rows: SQL appends (`INSERT INTO`, CTAS, branch
  * inserts), whole-table replaces (static `INSERT OVERWRITE`, RTAS) and
  * dynamic partition overwrites. The delta writer doubles as a plain
  * DataWriter (its default `write` is `insert`), so executors stream
  * month-partitioned files into the statement's staging dir `dataDir`, and
  * `commitFiles` hands the files the committed tasks named to the
  * statement's commit ([[GraftWriteBuilder]]). */
private[iceberg] class GraftFilesBatchWrite(schema: StructType, dataDir: String,
                                            partCol: Option[String],
                                            targetRecords: Option[Long],
                                            commitFiles: Seq[String] => Unit)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDeltaWriterFactory(dataDir, schema, partCol, targetRecords)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitFiles(GraftDeltaCommitMessage.files(messages))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftDeltaCommitMessage.discard(messages)
}

/** Streaming-ingest sink (`df.writeStream.toTable(<cat>.<ns>.<t>)`): one
  * APPEND snapshot per epoch through the same month-partitioned executor
  * writer every other graft write uses, committed by
  * [[IcebergTable.commitStreamAppend]] — whose snapshot summary records
  * (streaming-query, epoch-id), making a restart's replayed epoch commit a
  * NO-OP (exactly-once, the Iceberg streaming-ingest contract; the real
  * Spark sink stores its batch id in the same place). Each epoch stages
  * into its own `stream-<query>-ep<epoch>` dir, so a replay's re-written
  * files never collide with the committed ones and are dropped by the
  * dedup path. */
private[iceberg] class GraftStreamingWrite(location: String, schema: StructType,
                                           queryId: String,
                                           partCol: Option[String],
                                           targetRecords: Option[Long])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def dataDir(epochId: Long) = s"$location/data/stream-$queryId-ep$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(location, queryId, schema, partCol, targetRecords)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    IcebergTable.commitStreamAppend(org.apache.spark.sql.SparkSession.active,
      location, dataDir(epochId), GraftDeltaCommitMessage.files(messages), queryId, epochId)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftDeltaCommitMessage.discard(messages)
}

private[iceberg] class GraftStreamingWriterFactory(location: String, queryId: String,
                                                   schema: StructType,
                                                   partCol: Option[String],
                                                   targetRecords: Option[Long])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDeltaWriter(s"$location/data/stream-$queryId-ep$epochId",
      schema, partitionId, taskId, partCol, targetRecords)
}

/** Executor-side delta writer: deletes/updates record (file, pos) row
  * coordinates; inserted rows stream into parquet files under a `p_month=`
  * directory per UTC month of `partCol`, the partition spec's source column
  * (the Iceberg month transform, [[GraftMonthsFunction]]), so the
  * committer's stats read sees the layout every graft writer produces. A
  * spec without a source column (`partCol` None) writes unpartitioned,
  * directly under the data dir.
  *
  * One file is open at a time, as in Iceberg's clustered writer: every
  * write asks for its rows sorted by the spec column within a task, so a
  * month's file closes when the input moves past the month, and a task
  * never buffers more than one row group. A month that comes back (input
  * not sorted) gets a file of its own. With `targetRecords` set
  * (`write.target-records-per-file`), a file closes after that many rows
  * and the month continues in a new one — Spark's `maxRecordsPerFile`
  * rule, so a month written by one task gets ceil(rows / target) files. */
private[iceberg] class GraftDeltaWriter(dataDir: String, schema: StructType,
                                        partitionId: Int, taskId: Long,
                                        partCol: Option[String],
                                        targetRecords: Option[Long] = None)
    extends DeltaWriter[InternalRow] {

  private val deletes = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private val closed = mutable.ArrayBuffer.empty[String]
  // the open file: its month, path and writer, and the rows written to it
  private var open: Option[(String, String, ParquetWriter[InternalRow])] = None
  private var openRows = 0L
  // lazy: a delta DELETE's write schema carries no data columns and
  // never calls insert()
  private lazy val partIdx: Option[Int] = partCol.map(schema.fieldIndex)

  /** Files this task holds open (0 or 1). */
  private[iceberg] def openFiles: Int = open.size

  private def monthOf(row: InternalRow, idx: Int): String = schema(idx).dataType match {
    case DateType =>
      java.time.LocalDate.ofEpochDay(row.getInt(idx).toLong).toString.take(7)
    case _ => // TimestampType / TimestampNTZType: micros since epoch, UTC
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(row.getLong(idx), 1000000L), 0,
        java.time.ZoneOffset.UTC).toLocalDate.toString.take(7)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(id.getUTF8String(0).toString,
      mutable.ArrayBuffer.empty[Long]) += id.getLong(1)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // unused under representUpdateAsDeleteAndInsert, kept total
    delete(metadata, id); insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    val month = partIdx.map(monthOf(row, _)).getOrElse("")
    if (!open.exists(_._1 == month) || targetRecords.exists(openRows >= _)) roll(month)
    open.get._3.write(row)
    openRows += 1
  }

  private def closeOpen(): Unit = {
    open.foreach { case (_, path, w) => w.close(); closed += path }
    open = None
  }

  /** Close the open file and open the next one, in `month`'s directory
    * (the month rides in the directory, hive layout; the source column
    * itself stays IN the file like every graft data file). */
  private def roll(month: String): Unit = {
    closeOpen()
    val dir = if (partIdx.isEmpty) new File(dataDir) else new File(s"$dataDir/p_month=$month")
    dir.mkdirs()
    val path = new File(dir, f"delta-$partitionId%05d-$taskId-${closed.size}.parquet").getPath
    open = Some((month, path, GraftRowParquet.writer(path, schema)))
    openRows = 0L
  }

  override def commit(): WriterCommitMessage = {
    closeOpen()
    // Roaring-serialize HERE, on the executor: the commit message carries
    // one compressed blob per file this task deleted from, never the raw
    // position longs (driver-heap scale contract — see class scaladoc).
    GraftDeltaCommitMessage(
      deletes.map { case (f, ps0) =>
        val ps = ps0.toArray.sorted
        (f, RoaringDv.serializeDvBlob(ps), ps.length.toLong, ps.head, ps.last)
      }.toArray,
      closed.toArray)
  }

  override def abort(): Unit = {
    open.foreach { case (_, _, w) => try w.close() catch { case _: Exception => () } }
    (closed ++ open.map(_._2)).foreach(p => new File(p).delete())
    open = None
  }

  override def close(): Unit = ()
}

/** Executor-side parquet writing of InternalRows through Spark's own
  * `ParquetWriteSupport` — the identical record shredder every Spark
  * parquet write uses, configured the way `ParquetFileFormat.prepareWrite`
  * configures it (int64-micros timestamps — the Iceberg spec form — and
  * standard (non-legacy) logical types). */
private[iceberg] object GraftRowParquet {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  /** One fully-configured Configuration PER SCHEMA, built once per JVM and
    * shared by every writer (ParquetWriter and ParquetWriteSupport only
    * READ it): `new Configuration()` costs ~6 ms (XML resource merge) —
    * a third of a small file's entire open/write/close cost — and a
    * month-partitioned delta write opens one writer per (task, month),
    * so the per-writer conf dominated wide commits before the cache.
    *
    * INVARIANT (pinned to parquet-mr 1.x as shipped with Spark 4.1):
    * neither `ParquetWriter.Builder.build()` nor `ParquetWriteSupport.init`
    * ever calls `conf.set`/`setIfUnset` — they only read. A parquet-mr
    * upgrade that starts WRITING through the handed-in conf would turn
    * this shared instance into a cross-writer race; if that ever lands,
    * switch to `new Configuration(cached)` per writer (~1 ms copy-on-write
    * view vs 6 ms from scratch). */
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[StructType, Configuration]()

  private def confFor(schema: StructType): Configuration =
    confCache.computeIfAbsent(schema, s => {
      val conf = new Configuration()
      ParquetWriteSupport.setSchema(s, conf)
      // the keys prepareWrite sets before handing the support to a task —
      // `init` reads them with .toBoolean (no defaults), so all must be set
      conf.set("spark.sql.parquet.writeLegacyFormat", "false")
      conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
      conf
    })

  def writer(path: String, schema: StructType): ParquetWriter[InternalRow] = {
    val conf = confFor(schema)
    class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport()
    }
    new B(new Path("file:" + path)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
}

/** The metadata columns ([[SupportsMetadataColumns]]): `_file`/`_pos`,
  * the row coordinates the vectorized reader synthesizes and the rowId the
  * delta operation keys its deletes on, and the v3 row-lineage pair
  * `_row_id`/`_last_updated_sequence_number` (Iceberg's own Spark
  * integration exposes all four this way). */
private[iceberg] object GraftMetaColumns {
  private def column(n: String, t: DataType, nullable: Boolean, doc: String): MetadataColumn =
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = t
      override def isNullable: Boolean = nullable
      override def comment(): String = doc
    }

  val columns: Array[MetadataColumn] = Array(
    column("_file", StringType, nullable = false, "data file path of the row"),
    column("_pos", LongType, nullable = false, "row position in its data file"),
    column("_row_id", LongType, nullable = true, "v3 row lineage: the row's stable id"),
    column("_last_updated_sequence_number", LongType, nullable = true,
      "v3 row lineage: sequence number of the commit that last wrote the row"))
}

/** Single source of truth for the catalog's declared partition transform —
  * every write path derives its distribution/sort keys and its writer's
  * partition-value column FROM this spec instead of sniffing a hardcoded
  * column name (a table whose partition source were renamed, or an
  * unrelated column that happened to be called `l_shipdate`, would
  * otherwise silently get the wrong write shape). */
private[iceberg] object GraftPartitioning {
  import org.apache.spark.sql.connector.expressions.Transform

  /** The catalog's partition spec: month(l_shipdate), matching the
    * metadata files' p_month spec. */
  def monthTransform: Transform = Expressions.months("l_shipdate")

  /** The source column of the first partition transform, if any — the
    * column write distributions cluster/sort on and the delta writer
    * derives partition values from. */
  def sourceColumnOf(partitioning: Array[Transform]): Option[String] =
    partitioning.headOption.flatMap(_.references.headOption)
      .map(_.fieldNames.mkString("."))
}

/** The Iceberg `month` transform as a Spark V2 scalar function — what the
  * catalog's FunctionCatalog serves so that a write's required CLUSTERED
  * distribution can say `months(<part col>)` and Spark's
  * DistributionAndOrderingUtils can resolve and evaluate it when inserting
  * the pre-write shuffle (Iceberg's own Spark integration ships the same
  * function for the same reason). Value = months since 1970-01 of the UTC
  * calendar date: (year − 1970) · 12 + (month − 1). */
private[iceberg] object GraftMonthsFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = "months"
  override def description(): String =
    "months(ts): months since 1970-01 (the Iceberg month partition transform)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1, s"months takes one argument, got $inputType")
    inputType.fields(0).dataType match {
      case dt @ (TimestampType | TimestampNTZType | DateType) => MonthsBound(dt)
      case t => throw new UnsupportedOperationException(s"months: unsupported input type $t")
    }
  }

  private case class MonthsBound(dt: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(dt)
    override def resultType(): DataType = IntegerType
    override def name(): String = "months"
    override def canonicalName(): String = "graft.months"
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(0)) null
      else {
        val d = dt match {
          case DateType => java.time.LocalDate.ofEpochDay(input.getInt(0).toLong)
          case _ => // timestamp micros since epoch, UTC calendar
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(input.getLong(0), 1000000L), 0,
              java.time.ZoneOffset.UTC).toLocalDate
        }
        Integer.valueOf((d.getYear - 1970) * 12 + (d.getMonthValue - 1))
      }
  }
}
