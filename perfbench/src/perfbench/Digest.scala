package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-free result digest, computed while the result is materialised.
  *
  * Runs the plan's own InternalRow RDD — `graft.Bench.materialize`'s rule:
  * every output row and column is produced, nothing but one (rows, hash)
  * pair per partition reaches the driver — and sums a 64-bit hash per row,
  * so the digest does not depend on row order or partitioning. Doubles
  * are rounded to 12 significant digits (floats to 6) before hashing, so
  * a last-ulp difference in a partition-order-dependent sum does not read
  * as a wrong answer. */
object Digest {

  final case class Result(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def of(df: DataFrame): Result = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n, h = 0L
      it.foreach { r => n += 1; h += fmix(row(r, schema)) }
      Iterator.single((n, h))
    }.collect().foldLeft(Result(0L, 0L)) { case (a, (n, h)) => Result(a.rows + n, a.hash + h) }
  }

  private def mix(h: Long, v: Long): Long =
    java.lang.Long.rotateLeft(h ^ (v * 0x9E3779B97F4A7C15L), 29) * 0xBF58476D1CE4E5B9L

  private def fmix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }

  private def round(d: Double, digits: Int): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d + 0.0
    else {
      val scale = math.pow(10, digits - 1 - math.floor(math.log10(math.abs(d))))
      math.rint(d * scale) / scale
    }

  private def str(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  private def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = mix(h, if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, schema(i).dataType), schema(i).dataType))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0x5bd1e995L
    case (d: Double, _) => java.lang.Double.doubleToLongBits(round(d, 12))
    case (f: Float, _) => java.lang.Double.doubleToLongBits(round(f.toDouble, 6))
    case (s: UTF8String, _) => str(s)
    case (a: ArrayData, ArrayType(et, _)) =>
      var h = 31L
      var i = 0
      while (i < a.numElements()) {
        h = mix(h, if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et)); i += 1
      }
      h
    case (m: MapData, MapType(kt, vt, _)) =>
      // map entry order is not part of the value
      var h = 0L
      var i = 0
      val (ks, vs) = (m.keyArray(), m.valueArray())
      while (i < m.numElements()) {
        h += fmix(mix(value(ks.get(i, kt), kt),
          if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, vt), vt)))
        i += 1
      }
      h
    case (s: InternalRow, st: StructType) => row(s, st)
    case (b: Array[Byte], _) => java.util.Arrays.hashCode(b).toLong
    case (n: java.lang.Number, _) => n.longValue()
    case (b: Boolean, _) => if (b) 1L else 2L
    case (o, _) => o.toString.hashCode.toLong
  }
}
