package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Row count and order-insensitive content hash of a query result,
  * computed inside the ONE execution that is timed: the physical plan as
  * written (`queryExecution.toRdd`, like `graft.Bench`) is consumed by a
  * per-partition hasher and only (count, hash-sum) pairs come back.
  *
  * The table hash is the wrapping sum of per-row 64-bit hashes, so it is
  * independent of row order and partitioning. Doubles are hashed after
  * rounding to 10 significant digits and floats to 6, so a result whose
  * only difference is summation order (another core count, another
  * shuffle layout) still hashes the same. */
object Digest {

  final case class Result(rows: Long, hash: Long, schema: String) {
    def hex: String = f"$hash%016x"
  }

  def of(df: DataFrame): Result = {
    val qe = df.queryExecution
    val schema = qe.analyzed.schema
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += row(it.next(), schema); n += 1 }
      Iterator.single((n, h))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, schema.catalogString)
  }

  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bytes(b: Array[Byte]): Long = {
    val m = scala.util.hashing.MurmurHash3
    (m.bytesHash(b, 0x3c074a61).toLong << 32) ^ (m.bytesHash(b, 0x1b873593) & 0xffffffffL)
  }

  private def rounded(d: Double, digits: Int): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits)).doubleValue)

  def row(r: InternalRow, s: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < s.length) { h = mix(h * 31 + value(r, i, s(i).dataType)); i += 1 }
    h
  }

  private def value(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) 0x5bd1e995L
    else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        g.getLong(i)
      case FloatType => rounded(g.getFloat(i).toDouble, 6)
      case DoubleType => rounded(g.getDouble(i), 10)
      case _: StringType => bytes(g.getUTF8String(i).getBytes)
      case BinaryType => bytes(g.getBinary(i))
      case d: DecimalType =>
        bytes(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var h = 7L
        var j = 0
        while (j < a.numElements()) { h = mix(h * 31 + value(a, j, et)); j += 1 }
        h
      case MapType(kt, vt, _) => // entry order is not part of a map's value
        val m = g.getMap(i)
        var h = 11L
        var j = 0
        while (j < m.numElements()) {
          h += mix(value(m.keyArray(), j, kt) * 31 + value(m.valueArray(), j, vt))
          j += 1
        }
        h
      case st: StructType => row(g.getStruct(i, st.length), st)
      case other => bytes(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }
}
