package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hidden-partitioning transforms (SURVEY.md §1.3; reference parser
  * pg_lake_table/src/fdw/partitioning/partition_by_parser.c, evaluation
  * partition_transform.c:414-660).
  *
  * A transform maps a source column to a partition value. Data files
  * store only source columns (hidden partitioning — the partition tuple
  * lives in table metadata, as in Iceberg); the write path clusters rows
  * by transform value and the scan prunes files whose recorded
  * transform-value range can't satisfy the predicate.
  */
sealed trait PartitionTransform {
  def column: String

  /** Name of the derived partition value, used in metadata stats. */
  def valueName: String

  /** Catalyst expression computing the partition value. Building at
    * the Catalyst level (not the Column DSL) means the same tree serves
    * two masters: spliced into write/stat plans via the bridge (the
    * analyzer resolves it there), and DIRECTLY evaluable on resolved
    * literals for pruning's literal→transform-domain mapping — an
    * unresolved Column-DSL tree cannot be eval'd driver-side.
    */
  def catalyst(child: Expression, dt: DataType): Expression

  /** Column form for write-path plans. */
  def expr(c: Column, dt: DataType): Column =
    org.apache.spark.sql.GraftBridge.column(catalyst(
      org.apache.spark.sql.GraftBridge.expression(c), dt))

  /** Map a literal comparison on the source column into the transform
    * domain, or None when the transform can't serve that operator
    * (e.g. bucket supports only equality — partition_transform.c
    * bucket constraints are equality-only, data_file_pruning.c:134-176).
    * Monotonic transforms (identity/temporal/truncate) preserve range
    * operators.
    */
  def mapsRanges: Boolean = true
}

private object TransformExprs {
  import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Hour => CHour,
    DayOfMonth, Literal => CLit, Month => CMonth, Multiply, Year => CYear}

  val UTC: Option[String] = Some("UTC")

  def toDate(child: Expression, dt: DataType): Expression = dt match {
    case DateType => child
    case _ => Cast(child, DateType, UTC)
  }

  def longOf(e: Expression): Expression = Cast(e, LongType, UTC)

  def yearE(c: Expression, dt: DataType): Expression = CYear(toDate(c, dt))
  def monthE(c: Expression, dt: DataType): Expression =
    Add(Multiply(CYear(toDate(c, dt)), CLit(100)), CMonth(toDate(c, dt)))
  def dayE(c: Expression, dt: DataType): Expression =
    Add(Multiply(CYear(toDate(c, dt)), CLit(10000)),
      Add(Multiply(CMonth(toDate(c, dt)), CLit(100)), DayOfMonth(toDate(c, dt))))
  def hourE(c: Expression, dt: DataType): Expression =
    Add(Multiply(dayE(c, dt), CLit(100)), CHour(c, UTC))
}

final case class IdentityT(column: String) extends PartitionTransform {
  def valueName = s"${column}__identity"
  def catalyst(c: Expression, dt: DataType): Expression = c
}

/** Temporal truncations encoded as order-preserving integers
  * (year 1997, month 199707, day 19970714, hour 1997071409) so range
  * predicates map directly onto partition-value ranges.
  */
final case class YearT(column: String) extends PartitionTransform {
  import TransformExprs._
  def valueName = s"${column}__year"
  def catalyst(c: Expression, dt: DataType): Expression = longOf(yearE(c, dt))
}
final case class MonthT(column: String) extends PartitionTransform {
  import TransformExprs._
  def valueName = s"${column}__month"
  def catalyst(c: Expression, dt: DataType): Expression = longOf(monthE(c, dt))
}
final case class DayT(column: String) extends PartitionTransform {
  import TransformExprs._
  def valueName = s"${column}__day"
  def catalyst(c: Expression, dt: DataType): Expression = longOf(dayE(c, dt))
}
final case class HourT(column: String) extends PartitionTransform {
  import TransformExprs._
  def valueName = s"${column}__hour"
  def catalyst(c: Expression, dt: DataType): Expression = longOf(hourE(c, dt))
}

/** `bucket(N, col)` — Iceberg-spec bucketing: murmur3_x86_32 of the
  * value's canonical bytes, masked non-negative, mod N
  * (partition_transform.c:769-830; ints/dates/timestamps hash as their
  * little-endian LONG bytes for schema-evolution compatibility).
  */
final case class BucketT(n: Int, column: String) extends PartitionTransform {
  import TransformExprs._
  def valueName = s"${column}__bucket_$n"
  def catalyst(c: Expression, dt: DataType): Expression =
    longOf(IcebergBucketHash(c, n))
  override def mapsRanges: Boolean = false
}

/** `truncate(W, col)` — ints floor to a multiple of W (PG-mod
  * semantics for negatives), strings keep a W-prefix
  * (partition_transform.c:492-552).
  */
final case class TruncateT(w: Int, column: String) extends PartitionTransform {
  import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Pmod,
    Subtract, Substring}
  import TransformExprs._
  def valueName = s"${column}__trunc_$w"
  def catalyst(c: Expression, dt: DataType): Expression = dt match {
    case _: StringType => Substring(c, CLit(1), CLit(w))
    case _ => Subtract(longOf(c), Pmod(longOf(c), CLit(w.toLong)))
  }
}

object PartitionTransform {
  /** One 64-bit id per partition tuple, from its transform values and
    * their types: `xxhash64` over each value and its null flag (the
    * hash skips nulls, so without the flag (NULL, x) and (x, NULL)
    * would share an id), after the NaN and -0.0 normalization GROUP BY
    * applies, so values a grouping counts as one tuple share one id.
    */
  def tupleId(values: Seq[(Column, DataType)]): Column =
    xxhash64(values.flatMap { case (c, dt) =>
      val v = dt match {
        case FloatType | DoubleType =>
          org.apache.spark.sql.GraftBridge.column(
            org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(
              org.apache.spark.sql.GraftBridge.expression(c)))
        case _ => c
      }
      Seq(c.isNull, v)
    }: _*)

  /** Parse `"identity(col)" | "year(col)" | ... | "bucket(16, col)" |
    * "truncate(4, col)"` — the reference's PARTITION BY grammar.
    */
  def parse(s: String): PartitionTransform = {
    val call = "(\\w+)\\s*\\(([^)]*)\\)".r
    s.trim match {
      case call("identity", c) => IdentityT(c.trim)
      case call("year", c) => YearT(c.trim)
      case call("month", c) => MonthT(c.trim)
      case call("day", c) => DayT(c.trim)
      case call("hour", c) => HourT(c.trim)
      case call("bucket", args) =>
        val Array(n, c) = args.split(","); BucketT(n.trim.toInt, c.trim)
      case call("truncate", args) =>
        val Array(w, c) = args.split(","); TruncateT(w.trim.toInt, c.trim)
      case other => IdentityT(other) // bare column = identity
    }
  }
}

/** Iceberg-spec bucket hash: `(murmur3_x86_32(bytes(v)) & MaxInt) % n`.
  * Integral/date/timestamp values hash as little-endian int64 bytes;
  * strings as UTF-8 bytes; the seed is 0. Matches
  * org.apache.iceberg bucket transforms and the reference
  * (partition_transform.c:769-830), so tables bucketed here co-locate
  * with Iceberg-written data. Interpreted eval with codegen fallback —
  * the hash is not on the per-query hot path (write + pruning only).
  */
final case class IcebergBucketHash(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override protected def withNewChildInternal(c: Expression): IcebergBucketHash =
    copy(child = c)

  override def nullSafeEval(v: Any): Any = {
    val bytes: Array[Byte] = (child.dataType, v) match {
      case (_: IntegerType | _: LongType | _: ShortType | _: ByteType |
            _: DateType | _: TimestampType | _: TimestampNTZType, _) =>
        val l = v match {
          case i: Int => i.toLong
          case l: Long => l
          case s: Short => s.toLong
          case b: Byte => b.toLong
        }
        littleEndian(l)
      case (_: StringType, s: UTF8String) => s.getBytes
      case (_: BinaryType, b: Array[Byte]) => b
      case (dt, _) =>
        throw new UnsupportedOperationException(s"bucket over $dt")
    }
    val h = Murmur3X86_32.hash(bytes, 0)
    ((h & Int.MaxValue) % n)
  }

  private def littleEndian(l: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0; var v = l
    while (i < 8) { out(i) = (v & 0xff).toByte; v >>>= 8; i += 1 }
    out
  }
}

/** Public-domain murmur3 x86 32-bit (Austin Appleby's algorithm). */
object Murmur3X86_32 {
  def hash(data: Array[Byte], seed: Int): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    val len = data.length
    var h1 = seed
    val nblocks = len / 4
    var i = 0
    while (i < nblocks) {
      val base = i * 4
      var k1 = (data(base) & 0xff) | ((data(base + 1) & 0xff) << 8) |
        ((data(base + 2) & 0xff) << 16) | ((data(base + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    (len & 3) match {
      case 3 =>
        k1 ^= (data(tail + 2) & 0xff) << 16
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
      case 2 =>
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
      case 1 =>
        k1 ^= data(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
      case _ =>
    }
    h1 ^= len
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b; h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35; h1 ^= h1 >>> 16
    h1
  }
}
