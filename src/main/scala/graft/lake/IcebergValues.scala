package graft.lake

import java.nio.{ByteBuffer, ByteOrder}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg binary single-value serialization (spec appendix D;
  * reference writes the same bytes in
  * pg_lake_iceberg/src/iceberg/write_manifest.c): the encoding of
  * per-file lower/upper bounds inside manifest `data_file` entries.
  * Bridges our stat strings (Spark `cast(col AS string)` output, see
  * [[graft.lake.LakeWriteStats]]) to and from the spec bytes —
  * both directions go through Spark's own Cast so the round trip is
  * exactly the one pruning already trusts.
  */
object IcebergValues {

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Internal Catalyst value of `dt` parsed from a stat string. */
  def parse(s: String, dt: DataType): Any =
    Cast(Literal(UTF8String.fromString(s), StringType), dt,
      Some("UTC")).eval(null)

  /** Stat string → Iceberg single-value bytes; None for types whose
    * bounds the spec (or our stats) don't carry.
    */
  def toBytes(s: String, dt: DataType): Option[Array[Byte]] = {
    val v = parse(s, dt)
    if (v == null) return None
    dt match {
      case BooleanType => Some(Array(
        if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte))
      case ByteType => Some(le(4).putInt(v.asInstanceOf[Byte].toInt).array())
      case ShortType => Some(le(4).putInt(v.asInstanceOf[Short].toInt).array())
      case IntegerType | DateType =>
        Some(le(4).putInt(v.asInstanceOf[Int]).array())
      case LongType | TimestampType | TimestampNTZType =>
        Some(le(8).putLong(v.asInstanceOf[Long]).array())
      case FloatType => Some(le(4).putFloat(v.asInstanceOf[Float]).array())
      case DoubleType => Some(le(8).putDouble(v.asInstanceOf[Double]).array())
      case StringType => Some(s.getBytes("UTF-8"))
      case d: DecimalType => Some(v.asInstanceOf[Decimal].toJavaBigDecimal
        .setScale(d.scale).unscaledValue().toByteArray)
      case _ => None
    }
  }

  /** Iceberg single-value bytes → stat string (Cast-parseable, matching
    * what a lake write reports for the same value).
    */
  def fromBytes(bytes: Array[Byte], dt: DataType): Option[String] = dt match {
    case BooleanType => Some((bytes(0) != 0).toString)
    case ByteType | ShortType | IntegerType =>
      Some(le(4).put(bytes).flip().asInstanceOf[ByteBuffer].getInt.toString)
    case LongType =>
      Some(le(8).put(bytes).flip().asInstanceOf[ByteBuffer].getLong.toString)
    case FloatType =>
      Some(le(4).put(bytes).flip().asInstanceOf[ByteBuffer].getFloat.toString)
    case DoubleType =>
      Some(le(8).put(bytes).flip().asInstanceOf[ByteBuffer].getDouble.toString)
    case StringType => Some(new String(bytes, "UTF-8"))
    case DateType =>
      val days = le(4).put(bytes).flip().asInstanceOf[ByteBuffer].getInt
      Some(LocalDate.ofEpochDay(days.toLong).toString)
    case TimestampType | TimestampNTZType =>
      val micros = le(8).put(bytes).flip().asInstanceOf[ByteBuffer].getLong
      val ldt = LocalDateTime.ofInstant(
        Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L), ZoneOffset.UTC)
      Some(ldt.format(TsFmt))
    case d: DecimalType =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale)
        .toPlainString)
    case _ => None
  }
}
