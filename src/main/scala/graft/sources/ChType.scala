package graft.sources

import org.apache.spark.sql.types._

/** Target-engine type algebra mirroring the reference's ClickHouse type
  * surface (reference main.py:39-54, 118-136). Spark carries:
  *   - UInt32 as LongType (value range enforced by wraparound masking),
  *   - UInt64 as LongType bit-pattern (two's-complement reinterpret),
  *   - DateTime as TimestampType (UTC), Date as DateType,
  *   - Binary (a ClickHouse `String` of raw bytes) as BinaryType.
  */
sealed abstract class ChType(val sql: String) {
  def spark: DataType = this match {
    case ChType.Int32     => IntegerType
    case ChType.Int64     => LongType
    case ChType.UInt32    => LongType
    case ChType.UInt64    => LongType
    case ChType.Float32   => FloatType
    case ChType.Float64   => DoubleType
    case ChType.Str       => StringType
    case ChType.Binary    => BinaryType
    case ChType.DateTime  => TimestampType
    case ChType.Date      => DateType
    case ChType.Bool      => BooleanType
    case ChType.Arr(elem) => ArrayType(elem.spark)
  }
}

object ChType {
  case object Int32    extends ChType("Int32")
  case object Int64    extends ChType("Int64")
  case object UInt32   extends ChType("UInt32")
  case object UInt64   extends ChType("UInt64")
  case object Float32  extends ChType("Float32")
  case object Float64  extends ChType("Float64")
  case object Str      extends ChType("String")
  /** A BLOB's bytes, kept as they are: ClickHouse `String` is a byte
    * string, so the bytes need no text decoding on either side.
    */
  case object Binary   extends ChType("String")
  case object DateTime extends ChType("DateTime")
  case object Date     extends ChType("Date")
  case object Bool     extends ChType("Boolean")
  case class Arr(elem: ChType) extends ChType(s"Array(${elem.sql})")
}

/** Schema inference: the reference's two mapping paths re-expressed.
  *
  * `fromSqliteDecl` is the declared-type path (reference main.py:118-136,
  * exact upper-cased name match, unknown -> String). `fromValue` is the
  * value-based path (reference main.py:39-54: bool first, negative int ->
  * Int32, <= 2^32-1 -> UInt32, else UInt64). `fromSpark` extends the same
  * mapping to parquet-native schemas so any Spark-readable source can be
  * migrated, not just SQLite.
  */
object SchemaMapper {
  def fromSqliteDecl(decl: String): ChType = decl.trim.toUpperCase match {
    case "INTEGER" | "INT" => ChType.Int64
    case "REAL" | "FLOAT"  => ChType.Float64
    case "VARCHAR" | "TEXT" => ChType.Str
    case "DATETIME"        => ChType.DateTime
    case "DATE"            => ChType.Date
    case _                 => ChType.Str
  }

  def fromValue(v: Any): ChType = v match {
    case _: Boolean                       => ChType.Bool
    case i: Int if i < 0                  => ChType.Int32
    case i: Int                           => ChType.UInt32
    case l: Long if l < 0                 => ChType.Int32
    case l: Long if l <= 4294967295L      => ChType.UInt32
    case _: Long                          => ChType.UInt64
    case _: Float | _: Double             => ChType.Float64
    case _: String                        => ChType.Str
    case _                                => ChType.Str
  }

  def fromSpark(dt: DataType): ChType = dt match {
    case ByteType | ShortType | IntegerType => ChType.Int32
    case LongType                           => ChType.Int64
    case FloatType                          => ChType.Float32
    case DoubleType                         => ChType.Float64
    case _: DecimalType                     => ChType.Float64
    case TimestampType | TimestampNTZType   => ChType.DateTime
    case DateType                           => ChType.Date
    case BooleanType                        => ChType.Bool
    case ArrayType(e, _)                    => ChType.Arr(fromSpark(e))
    case _                                  => ChType.Str
  }

  /** Whole-schema mapping: (column name, target type) pairs. */
  def mapSchema(schema: StructType): Seq[(String, ChType)] =
    schema.fields.toSeq.map(f => f.name -> fromSpark(f.dataType))
}
