package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a result: its row count and two sums of
  * per-row hashes, so the same multiset of rows gives the same digest
  * whatever the partitioning or the order rows arrive in.
  *
  * Doubles are hashed after rounding away their 16 lowest mantissa
  * bits: a floating-point aggregate may differ in its last bits from
  * one execution to the next, as partial results merge in a different
  * order, and that is not a different answer.
  */
final case class Digest(rows: Long, sum: Long, mixSum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, mixSum + o.mixSum)
  override def toString: String = f"rows=$rows%d digest=$sum%016x$mixSum%016x"
}

object Digest {
  val Empty: Digest = Digest(0, 0, 0)

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def ofRow(row: InternalRow, schema: StructType): Digest = {
    val h = rowHash(row, schema)
    Digest(1, h, mix(h ^ 0x2545f4914f6cdd1dL))
  }

  def ofRows(rows: Iterator[InternalRow], schema: StructType): Digest =
    rows.foldLeft(Empty)((d, r) => d + ofRow(r, schema))

  /** Materializes every row of `rdd` on the executors and digests it. */
  def of(rdd: RDD[InternalRow], schema: StructType): Digest =
    rdd.mapPartitions(it => Iterator(ofRows(it, schema)))
      .collect().foldLeft(Empty)(_ + _)

  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 0x6a09e667f3bcc909L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      val v = if (row.isNullAt(i)) null else row.get(i, dt)
      h = mix(h * 31 + valueHash(v, dt))
      i += 1
    }
    h
  }

  private def arrayHash(a: ArrayData, et: DataType): Long = {
    var h = 0x3c6ef372fe94f82bL + a.numElements()
    var i = 0
    while (i < a.numElements()) {
      val v = if (a.isNullAt(i)) null else a.get(i, et)
      h = mix(h * 31 + valueHash(v, et))
      i += 1
    }
    h
  }

  private def valueHash(v: Any, dt: DataType): Long =
    if (v == null) 0x510e527fade682d1L
    else dt match {
      case DoubleType => doubleHash(v.asInstanceOf[Double])
      case FloatType => doubleHash(v.asInstanceOf[Float].toDouble)
      case st: StructType => rowHash(v.asInstanceOf[InternalRow], st)
      case ArrayType(et, _) => arrayHash(v.asInstanceOf[ArrayData], et)
      case MapType(kt, vt, _) =>
        // entry order inside a map is not part of its value
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        (0 until m.numElements()).foldLeft(0x9b05688c2b3e6c1fL) { (acc, i) =>
          val value = if (vs.isNullAt(i)) null else vs.get(i, vt)
          acc + mix(valueHash(ks.get(i, kt), kt) * 31 + valueHash(value, vt))
        }
      case _: StringType => mix(v.asInstanceOf[UTF8String].hashCode().toLong)
      case BinaryType => mix(java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong)
      case _: DecimalType =>
        mix(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros().hashCode().toLong)
      case _ => mix(v.hashCode().toLong)
    }

  private def doubleHash(d: Double): Long =
    if (d.isNaN) 0x1f83d9abfb41bd6bL
    else if (d == 0.0) 0L // +0.0 and -0.0 are one value
    else {
      val bits = java.lang.Double.doubleToLongBits(d)
      mix((bits + (1L << 15)) & ~0xffffL)
    }
}
