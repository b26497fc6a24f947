package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Exact per-column checksums of a frame, computed by one job over its
  * rows: numerics and dates sum as integers, strings sum their CRC-32,
  * `n` counts rows and `_nonint` counts non-integral doubles (the
  * generators write none). Applied to a generating frame it gives the
  * expected values; applied to a scan it checks every decoded cell. */
object Checksum {
  def of(df: DataFrame): Map[String, Any] = {
    val names = df.schema.fieldNames
    val kinds: Array[Int] = df.schema.fields.map(_.dataType match {
      case DoubleType | FloatType => 0
      case IntegerType | DateType => 1
      case LongType => 2
      case ShortType => 4
      case ByteType => 5
      case StringType => 3
      case t => throw new IllegalArgumentException(s"no checksum for $t")
    })
    val n = kinds.length
    val sums = df.queryExecution.toRdd.mapPartitions { it =>
      val acc = new Array[Long](n + 2)
      val crc = new java.util.zip.CRC32
      while (it.hasNext) {
        val r = it.next()
        acc(n) += 1
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i)) kinds(i) match {
            case 0 =>
              val d = r.getDouble(i)
              if (d != math.rint(d)) acc(n + 1) += 1
              acc(i) += d.toLong
            case 1 => acc(i) += r.getInt(i)
            case 2 => acc(i) += r.getLong(i)
            case 4 => acc(i) += r.getShort(i)
            case 5 => acc(i) += r.getByte(i)
            case _ =>
              crc.reset()
              crc.update(r.getUTF8String(i).getBytes)
              acc(i) += crc.getValue
          }
          i += 1
        }
      }
      Iterator(acc)
    }.reduce((a, b) => a.indices.map(i => a(i) + b(i)).toArray)
    (names.indices.map(i => names(i) -> sums(i)) ++
      Seq("n" -> sums(n), "_nonint" -> sums(n + 1))).toMap
  }
}
