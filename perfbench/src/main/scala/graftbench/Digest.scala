package graftbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: the row count and the sum
  * (mod 2^64) of a per-row hash. The row hash is MD5 over a canonical byte
  * encoding of the row's values, columns taken in name order, so it can be
  * computed the same way from DuckDB's rows (`tools/expected.py` mirrors
  * `encode` byte for byte).
  *
  * The digest is computed inside the query's one execution: each partition
  * hashes its rows as they stream out of `queryExecution.toRdd`, which is the
  * same plan `graft.Bench` times, with no second execution and no rows
  * collected to the driver. */
object Digest {

  final case class Result(columns: Seq[String], rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  def of(df: DataFrame): Result = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = order.map(i => fields(i).dataType)
    types.foreach(checkSupported)
    val parts = df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(partition(it, order, types)))
      .collect()
    Result(order.map(i => fields(i).name).toSeq, parts.map(_._1).sum,
      parts.map(_._2).sum)
  }

  private def checkSupported(t: DataType): Unit = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | _: DecimalType | _: StringType | BinaryType |
        DateType | TimestampType | TimestampNTZType | NullType =>
    case other =>
      throw new IllegalArgumentException(s"digest: unsupported column type $other")
  }

  private def partition(it: Iterator[InternalRow], order: Array[Int],
      types: Array[DataType]): (Long, Long) = {
    val md = MessageDigest.getInstance("MD5")
    val long8 = new Array[Byte](8)
    var rows = 0L
    var sum = 0L
    while (it.hasNext) {
      val row = it.next()
      var k = 0
      while (k < order.length) {
        encode(md, long8, row, order(k), types(k))
        md.update(0x1f.toByte)
        k += 1
      }
      val h = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      sum += v
      rows += 1
    }
    (rows, sum)
  }

  private def ascii(md: MessageDigest, tag: Char, s: String): Unit = {
    md.update(tag.toByte)
    md.update(s.getBytes(US_ASCII))
  }

  /** Canonical bytes of one value: a type-class tag, then the payload.
    * Integers and decimals as plain decimal text (decimals without trailing
    * zeros), floating point as the IEEE-754 double bits (NaN canonical),
    * dates as epoch days, timestamps as epoch microseconds. */
  private def encode(md: MessageDigest, long8: Array[Byte], row: InternalRow,
      i: Int, t: DataType): Unit =
    if (row.isNullAt(i)) md.update('N'.toByte)
    else t match {
      case BooleanType => ascii(md, 'B', if (row.getBoolean(i)) "1" else "0")
      case ByteType => ascii(md, 'I', row.getByte(i).toString)
      case ShortType => ascii(md, 'I', row.getShort(i).toString)
      case IntegerType => ascii(md, 'I', row.getInt(i).toString)
      case LongType => ascii(md, 'I', row.getLong(i).toString)
      case FloatType => double(md, long8, row.getFloat(i).toDouble)
      case DoubleType => double(md, long8, row.getDouble(i))
      case d: DecimalType =>
        val bd = row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        ascii(md, 'D', bd.stripTrailingZeros.toPlainString)
      case _: StringType =>
        md.update('S'.toByte)
        md.update(row.getUTF8String(i).getBytes)
      case BinaryType =>
        md.update('X'.toByte)
        md.update(row.getBinary(i))
      case DateType => ascii(md, 'd', row.getInt(i).toString)
      case TimestampType | TimestampNTZType => ascii(md, 't', row.getLong(i).toString)
      case other => throw new IllegalArgumentException(s"digest: $other")
    }

  private def double(md: MessageDigest, long8: Array[Byte], v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var b = 0
    while (b < 8) { long8(b) = (bits >>> (56 - 8 * b)).toByte; b += 1 }
    md.update('F'.toByte)
    md.update(long8)
  }
}
