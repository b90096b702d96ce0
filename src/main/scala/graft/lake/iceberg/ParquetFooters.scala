package graft.lake.iceberg

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** What a parquet file holds — rows, schema, column bounds — read from its
  * footer on the driver, never by a Spark job (as Iceberg's
  * `ParquetUtil.fileMetrics` does for imported files). Footers open in
  * parallel over the vectorized reader's shared Hadoop configuration; the
  * schema is Spark's own footer conversion, made nullable, so it equals
  * what `spark.read.parquet(file).schema` infers. */
private[iceberg] object ParquetFooters {

  /** One file: its path as Spark's file sources report it (`input_file_name()`
    * without `file:` — qualified, so a local `/d/f` reads `///d/f`), length,
    * rows, schema, and the min/max of each top-level column whose every row
    * group holding values carries statistics (a column with no values has no
    * bound). Bounds are Spark values: days for DATE, micros for timestamps,
    * `java.math.BigDecimal` for DECIMAL, the boxed primitive otherwise.
    * Data-file manifest entries hold this form; readers compare it clean. */
  final case class Footer(path: String, length: Long, rowCount: Long, schema: StructType,
                          bounds: Map[String, (Any, Any)])

  /** Open `path`'s footer and apply `f` to it. */
  def withFooter[T](path: String)(f: ParquetMetadata => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path("file:" + GraftVectorized.cleanPath(path)), GraftVectorized.sharedConf))
    try f(r.getFooter) finally r.close()
  }

  /** The files under `dir`, skipping what Spark's file listing skips. */
  def list(dir: String): Seq[String] = {
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filterNot(c => hidden(c.getName)).flatMap(walk)
      else if (f.isFile) Seq(f.getPath) else Nil
    walk(new File(dir))
  }

  /** Footers of `paths`, in input order; `conf` (read on the caller's
    * thread) sets the schema converter's flags. */
  def read(paths: Seq[String], conf: SQLConf = SQLConf.get): Seq[Footer] = {
    val converter = new ParquetToSparkSchemaConverter(conf)
    IcebergTable.inParallel(paths) { path =>
      val meta = withFooter(path)(identity)
      val schema = GraftSqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(new Path(path), meta), converter))
      val blocks = meta.getBlocks.asScala.toSeq
      val bounds = schema.fields.flatMap { field =>
        val chunks = blocks.flatMap(_.getColumns.asScala.find(c =>
          c.getPath.size == 1 && c.getPath.toArray.head == field.name))
        // a row group of nulls only holds no value to bound
        val valued = chunks.filterNot(c => Option(c.getStatistics).exists(s => !s.hasNonNullValue &&
          s.isNumNullsSet && s.getNumNulls == c.getValueCount)).map(_.getStatistics)
        if (chunks.size < blocks.size || valued.isEmpty ||
            valued.exists(s => s == null || !s.hasNonNullValue)) None
        else {
          val prim = chunks.head.getPrimitiveType
          val ord = Ordering.comparatorToOrdering(prim.comparator().asInstanceOf[java.util.Comparator[Any]])
          val (lo, hi) = (valued.map(_.genericGetMin: Any).min(ord), valued.map(_.genericGetMax: Any).max(ord))
          for (l <- value(lo, field.dataType, prim); h <- value(hi, field.dataType, prim))
            yield field.name -> ((l, h))
        }
      }.toMap
      val p = new Path(path)
      Footer(p.getFileSystem(GraftVectorized.sharedConf).makeQualified(p).toUri.toString
        .stripPrefix("file:"), new File(GraftVectorized.cleanPath(path)).length(),
        blocks.map(_.getRowCount).sum, schema, bounds)
    }
  }

  /** A column-chunk statistic as the column's Spark value, or None for a
    * type bounds are not kept for (timestamps other than micros among them). */
  private def value(raw: Any, dt: DataType, prim: PrimitiveType): Option[Any] = (raw, dt) match {
    case (v: java.lang.Long, TimestampType | TimestampNTZType) => prim.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MICROS => Some(v.longValue)
      case _ => None
    }
    case (v: java.lang.Number, d: DecimalType) => Some(java.math.BigDecimal.valueOf(v.longValue, d.scale))
    case (v: Binary, d: DecimalType) => Some(new java.math.BigDecimal(new java.math.BigInteger(v.getBytes), d.scale))
    case (v: java.lang.Integer, DateType | IntegerType) => Some(v.intValue)
    case (v: java.lang.Long, LongType) => Some(v.longValue)
    case (v: java.lang.Double, DoubleType) => Some(v.doubleValue)
    case _ => None
  }
}
