package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent checksum over every column of an output table.
  * Each row hashes its columns in name order (so a partition column read
  * back last hashes the same as anywhere else), walking arrays, structs
  * and maps; doubles are rounded to 6 decimals first. The table's
  * checksum is the row count and the wrapping sum of the row hashes. */
object Check {

  private def mix(h: Long, v: Long): Long = {
    var z = h ^ (v + 0x9e3779b97f4a7c15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rounded(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite) (if (d > 0) Long.MaxValue else Long.MinValue)
    else math.round(d * 1e6)

  private def value(h: Long, v: Any, t: DataType): Long =
    if (v == null) mix(h, 0x5bd1e995L)
    else t match {
      case DoubleType => mix(h, rounded(v.asInstanceOf[Double]))
      case FloatType => mix(h, rounded(v.asInstanceOf[Float].toDouble))
      case BooleanType => mix(h, if (v.asInstanceOf[Boolean]) 1L else 2L)
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType | TimestampNTZType =>
        mix(h, v.asInstanceOf[Number].longValue)
      case StringType => v.asInstanceOf[UTF8String].getBytes.foldLeft(mix(h, 3L))((a, b) => mix(a, b))
      case BinaryType => v.asInstanceOf[Array[Byte]].foldLeft(mix(h, 4L))((a, b) => mix(a, b))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        (0 until a.numElements).foldLeft(mix(h, a.numElements))((acc, k) =>
          value(acc, if (a.isNullAt(k)) null else a.get(k, et), et))
      case st: StructType => fields(h, v.asInstanceOf[InternalRow], st)
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        value(value(h, m.keyArray(), ArrayType(kt)), m.valueArray(), ArrayType(vt))
      case _ => mix(h, v.toString.hashCode.toLong)
    }

  private def fields(h: Long, row: InternalRow, st: StructType): Long =
    st.fields.indices.sortBy(st.fields(_).name).foldLeft(h) { (acc, k) =>
      value(acc, if (row.isNullAt(k)) null else row.get(k, st.fields(k).dataType), st.fields(k).dataType)
    }

  /** Per table: (row count, "rows:checksum"), all tables in one job. */
  def checksums(spark: SparkSession, paths: Seq[String]): Map[String, (Long, String)] = {
    val rdds = paths.zipWithIndex.map { case (p, idx) =>
      val df = spark.read.parquet(p)
      val schema = df.schema
      df.queryExecution.toRdd.mapPartitions { rows =>
        var n = 0L
        var sum = 0L
        rows.foreach { r => n += 1; sum += fields(17L, r, schema) }
        Iterator((idx, n, sum))
      }
    }
    val parts = spark.sparkContext.union(rdds).collect()
    paths.indices.map { idx =>
      val mine = parts.filter(_._1 == idx)
      val n = mine.map(_._2).sum
      paths(idx) -> (n, s"$n:${java.lang.Long.toHexString(mine.map(_._3).sum)}")
    }.toMap
  }
}
