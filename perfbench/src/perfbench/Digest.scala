package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent result digest, computed on the executors while a
  * query drains.
  *
  * Each row renders to a canonical string (columns in name order,
  * numbers rounded to 9 significant digits, integral values without a
  * fraction, dates as ISO days, timestamps as epoch micros), hashes to
  * 64 bits, and the digest is the row count plus the wrapping sum of
  * the row hashes. Summing makes it a multiset digest: partitioning and
  * row order do not matter, duplicates do. `perfbench/oracle.py`
  * renders DuckDB rows by the same rules, so the two digests agree
  * exactly when the results agree the way `dev/check_oracle.py` checks
  * them (sorted rows, rounded doubles). */
final case class Digester(schema: StructType) {
  private val order: Array[Int] =
    schema.fields.indices.sortBy(i => schema.fields(i).name).toArray

  /** (rows, sum of row hashes) of one partition. */
  def partition(it: Iterator[InternalRow]): Iterator[(Long, Long)] = {
    var rows = 0L
    var sum = 0L
    val sb = new java.lang.StringBuilder(256)
    while (it.hasNext) {
      val r = it.next()
      sb.setLength(0)
      var k = 0
      while (k < order.length) {
        if (k > 0) sb.append('|')
        val i = order(k)
        val dt = schema.fields(i).dataType
        Digest.value(sb, if (r.isNullAt(i)) null else r.get(i, dt), dt)
        k += 1
      }
      sum += Digest.rowHash(sb.toString)
      rows += 1
    }
    Iterator.single((rows, sum))
  }
}

object Digest {
  /** Column names in digest order, as the oracle side must list them. */
  def columns(schema: StructType): String = schema.fieldNames.sorted.mkString(",")

  def rowHash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    var h = 0xcbf29ce484222325L // FNV-1a 64
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    // splitmix64 finalizer: spreads FNV's weak high bits before summing
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  private val Sig = new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN)
  private val IntegralLimit = 1e15

  def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < IntegralLimit) sb.append(d.toLong)
    else decimal(sb, new java.math.BigDecimal(d))

  def decimal(sb: java.lang.StringBuilder, b: java.math.BigDecimal): Unit = {
    val s = b.stripTrailingZeros()
    if (s.scale <= 0 && s.abs.compareTo(java.math.BigDecimal.valueOf(IntegralLimit)) < 0)
      sb.append(s.toBigInteger.toString)
    else {
      val r = b.round(Sig).stripTrailingZeros()
      sb.append(if (r.signum == 0) "0" else r.toPlainString)
    }
  }

  def string(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\') sb.append('\\')
      sb.append(c)
      i += 1
    }
    sb.append('"')
  }

  def value(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    if (v == null) sb.append("~")
    else dt match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "t" else "f")
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case FloatType => double(sb, v.asInstanceOf[Float].toDouble)
      case DoubleType => double(sb, v.asInstanceOf[Double])
      case _: DecimalType =>
        decimal(sb, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
      case _: StringType => string(sb, v.toString)
      case DateType => sb.append(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType => sb.append(v.asInstanceOf[Long])
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          value(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.sortBy(i => st.fields(i).name).zipWithIndex.foreach { case (i, k) =>
          if (k > 0) sb.append(',')
          val ft = st.fields(i).dataType
          value(sb, if (r.isNullAt(i)) null else r.get(i, ft), ft)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder()
          value(e, m.keyArray().get(i, kt), kt)
          e.append(':')
          value(e, if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt)
          e.toString
        }.sorted
        sb.append("M{").append(entries.mkString(",")).append('}')
      case _ => string(sb, v.toString)
    }
}
