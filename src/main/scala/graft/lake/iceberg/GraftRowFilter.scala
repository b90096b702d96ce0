package graft.lake.iceberg

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** A pushed filter that the scan evaluates on its decoded batches
  * ([[GraftColumnarReader]]), so Spark plans no filter above the scan and
  * a read that differs only in a literal generates the same code: a
  * comparison of a top-level column with a non-null literal, `IS [NOT]
  * NULL`, and `AND`/`OR`/`NOT` over them, on long, int, date, timestamp
  * (NTZ and LTZ), double and UTF8_BINARY string columns. Evaluation follows
  * SQL's three-valued logic, Spark's ordering of doubles (NaN equals NaN
  * and sorts above every other value; -0.0 equals 0.0) and the bytewise
  * order of strings; a row survives when the filter is TRUE. */
private[iceberg] sealed trait GraftRowFilter extends Serializable {
  /** The columns the filter reads, at their table types (a column may
    * appear more than once). */
  def columns: Seq[(String, DataType)]

  /** The filter over a batch whose columns `column` returns. The decoder
    * reuses its vectors across batches, so a reader binds once. */
  def bind(column: String => ColumnVector): GraftRowFilter.Eval
}

private[iceberg] object GraftRowFilter {
  // SQL truth values
  final val False = 0
  final val True = 1
  final val Unknown = 2

  /** A bound filter: the truth value of one row of the current batch. */
  trait Eval { def apply(row: Int): Int }

  /** A comparison operator, as a test of `compare(column, literal)`. */
  sealed trait Op extends Serializable { def holds(cmp: Int): Boolean }
  case object Eq extends Op { def holds(cmp: Int): Boolean = cmp == 0 }
  case object Lt extends Op { def holds(cmp: Int): Boolean = cmp < 0 }
  case object Le extends Op { def holds(cmp: Int): Boolean = cmp <= 0 }
  case object Gt extends Op { def holds(cmp: Int): Boolean = cmp > 0 }
  case object Ge extends Op { def holds(cmp: Int): Boolean = cmp >= 0 }

  /** `column op value`, with `value` in the form the column's vector
    * returns: an Int for int and date, a Long for long and timestamps, a
    * Double, a UTF8String. */
  final case class Compare(column: String, dataType: DataType, op: Op, value: Any)
      extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = Seq(column -> dataType)
    def bind(vector: String => ColumnVector): Eval = {
      val v = vector(column)
      def truth(cmp: Int): Int = if (op.holds(cmp)) True else False
      dataType match {
        case IntegerType | DateType =>
          val x = value.asInstanceOf[Int]
          row => if (v.isNullAt(row)) Unknown else truth(Integer.compare(v.getInt(row), x))
        case DoubleType =>
          val x = value.asInstanceOf[Double]
          row => if (v.isNullAt(row)) Unknown
            else truth(SQLOrderingUtil.compareDoubles(v.getDouble(row), x))
        case _: StringType =>
          val x = value.asInstanceOf[UTF8String]
          row => if (v.isNullAt(row)) Unknown else truth(v.getUTF8String(row).binaryCompare(x))
        case _ =>
          val x = value.asInstanceOf[Long]
          row => if (v.isNullAt(row)) Unknown else truth(java.lang.Long.compare(v.getLong(row), x))
      }
    }
  }

  final case class IsNull(column: String, dataType: DataType) extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = Seq(column -> dataType)
    def bind(vector: String => ColumnVector): Eval = {
      val v = vector(column)
      row => if (v.isNullAt(row)) True else False
    }
  }

  final case class IsNotNull(column: String, dataType: DataType) extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = Seq(column -> dataType)
    def bind(vector: String => ColumnVector): Eval = {
      val v = vector(column)
      row => if (v.isNullAt(row)) False else True
    }
  }

  final case class And(left: GraftRowFilter, right: GraftRowFilter) extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = left.columns ++ right.columns
    def bind(vector: String => ColumnVector): Eval = {
      val (l, r) = (left.bind(vector), right.bind(vector))
      row => {
        val a = l(row)
        if (a == False) False
        else {
          val b = r(row)
          if (b == False) False else if (a == Unknown || b == Unknown) Unknown else True
        }
      }
    }
  }

  final case class Or(left: GraftRowFilter, right: GraftRowFilter) extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = left.columns ++ right.columns
    def bind(vector: String => ColumnVector): Eval = {
      val (l, r) = (left.bind(vector), right.bind(vector))
      row => {
        val a = l(row)
        if (a == True) True
        else {
          val b = r(row)
          if (b == True) True else if (a == Unknown || b == Unknown) Unknown else False
        }
      }
    }
  }

  final case class Not(child: GraftRowFilter) extends GraftRowFilter {
    def columns: Seq[(String, DataType)] = child.columns
    def bind(vector: String => ColumnVector): Eval = {
      val c = child.bind(vector)
      row => { val a = c(row); if (a == Unknown) Unknown else True - a }
    }
  }

  /** `f` as a filter the scan evaluates over the columns of `schema`; None
    * when any part of `f` has another shape, names another column or
    * type, or compares with a null or a value not of the column's type. */
  def translate(f: sources.Filter, schema: StructType): Option[GraftRowFilter] = {
    def column(a: String): Option[DataType] =
      schema.fields.find(_.name == a).map(_.dataType).filter(supported)
    def compare(a: String, op: Op, v: Any): Option[GraftRowFilter] =
      for { t <- column(a); x <- literal(t, v) } yield Compare(a, t, op, x)
    f match {
      case sources.EqualTo(a, v) => compare(a, Eq, v)
      case sources.LessThan(a, v) => compare(a, Lt, v)
      case sources.LessThanOrEqual(a, v) => compare(a, Le, v)
      case sources.GreaterThan(a, v) => compare(a, Gt, v)
      case sources.GreaterThanOrEqual(a, v) => compare(a, Ge, v)
      case sources.IsNull(a) => column(a).map(IsNull(a, _))
      case sources.IsNotNull(a) => column(a).map(IsNotNull(a, _))
      case sources.And(l, r) =>
        for { x <- translate(l, schema); y <- translate(r, schema) } yield And(x, y)
      case sources.Or(l, r) =>
        for { x <- translate(l, schema); y <- translate(r, schema) } yield Or(x, y)
      case sources.Not(c) => translate(c, schema).map(Not)
      case _ => None
    }
  }

  private def supported(t: DataType): Boolean = t match {
    case LongType | IntegerType | DateType | TimestampType | TimestampNTZType | DoubleType => true
    case s: StringType => s == StringType // UTF8_BINARY
    case _ => false
  }

  /** A pushed literal — the Scala value Spark converted the catalyst value
    * to — back in catalyst form, when it is a value of type `t`. */
  private def literal(t: DataType, v: Any): Option[Any] = (t, v) match {
    case (LongType, x: java.lang.Long) => Some(x.longValue)
    case (IntegerType, x: java.lang.Integer) => Some(x.intValue)
    case (DoubleType, x: java.lang.Double) => Some(x.doubleValue)
    case (_: StringType, x: String) => Some(UTF8String.fromString(x))
    case (DateType, _: java.sql.Date | _: java.time.LocalDate) |
         (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) |
         (TimestampNTZType, _: java.time.LocalDateTime) =>
      Some(CatalystTypeConverters.convertToCatalyst(v))
    case _ => None
  }
}
