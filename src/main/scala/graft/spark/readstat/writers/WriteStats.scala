package graft.spark.readstat.writers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** What a batch stat-file writer must know before it lays out a record:
  * the exact row count, each string column's max octet width and max
  * char count (the windows-1252 dta 114/117 layouts store one byte per
  * char), and each byte/short/int/date column's min/max (dates as days
  * since 1970). All-null strings report width 0 (writers floor at 1);
  * all-null integer columns have no `ranges` entry.
  */
final case class WriteStats(rows: Long, octets: Map[String, Int],
    chars: Map[String, Int], ranges: Map[String, (Long, Long)])

/** The one stats pass behind every batch write: a single `mapPartitions`
  * job over the planned RDD of the measured columns' projection
  * (`queryExecution.toRdd` — no aggregate, no shuffle) that folds each
  * partition's rows in Scala and merges the collected per-partition
  * partials. Only the measured columns are projected, so a frame read
  * from a stat file decodes those alone. `WriteCompress` folds its
  * narrowing inputs through the same pass, so a compress write is one
  * stats job plus one encode job.
  */
object WriteStats {

  // what the fold measures per column, beyond its non-null count
  private[writers] final val Skip = 0 // nothing, not even nulls
  private[writers] final val Count = 1
  private[writers] final val Str = 2 // max octets (hi) and max chars (lo)
  private[writers] final val ByteRange = 3 // min/max as longs
  private[writers] final val ShortRange = 4
  private[writers] final val IntRange = 5 // int and date
  private[writers] final val LongRange = 6 // long and timestamps
  private[writers] final val Dbl = 7 // min/max (Spark's NaN order) + integral?
  private[writers] final val Bool = 8 // AND of the values

  /** The writers' measure for a column of type `t`. */
  private[writers] def plainKind(t: DataType): Int = t match {
    case StringType => Str
    case ByteType => ByteRange
    case ShortType => ShortRange
    case IntegerType | DateType => IntRange
    case _ => Skip
  }

  /** Per-column partials of one partition, merged after `collect()`. */
  private[writers] final class Acc(kinds: Array[Int]) extends Serializable {
    private val k = kinds.length
    var rows = 0L
    val n = new Array[Long](k)
    val lo: Array[Long] = kinds.map(kd => if (kd <= Str) 0L else Long.MaxValue)
    val hi: Array[Long] = kinds.map(kd => if (kd <= Str) 0L else Long.MinValue)
    val dlo: Array[Double] = Array.fill(k)(Double.NaN)
    val dhi: Array[Double] = Array.fill(k)(Double.NaN)
    val all: Array[Boolean] = Array.fill(k)(true)

    private def range(i: Int, mn: Long, mx: Long): Unit =
      if (kinds(i) == Str) { lo(i) = math.max(lo(i), mn); hi(i) = math.max(hi(i), mx) }
      else { lo(i) = math.min(lo(i), mn); hi(i) = math.max(hi(i), mx) }

    // Spark's min/max order: NaN sorts above every other value
    private def dbl(i: Int, first: Boolean, mn: Double, mx: Double): Unit =
      if (first) { dlo(i) = mn; dhi(i) = mx }
      else {
        if (dlo(i).isNaN || mn < dlo(i)) dlo(i) = mn
        if (!dhi(i).isNaN && (mx.isNaN || mx > dhi(i))) dhi(i) = mx
      }

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < k) {
        val kind = kinds(i)
        if (kind != Skip && !row.isNullAt(i)) {
          n(i) += 1
          (kind: @scala.annotation.switch) match {
            case Str =>
              val u = row.getUTF8String(i)
              range(i, u.numChars, u.numBytes)
            case ByteRange => val v = row.getByte(i).toLong; range(i, v, v)
            case ShortRange => val v = row.getShort(i).toLong; range(i, v, v)
            case IntRange => val v = row.getInt(i).toLong; range(i, v, v)
            case LongRange => val v = row.getLong(i); range(i, v, v)
            case Dbl =>
              val d = row.getDouble(i)
              // NaN/±Inf are never integral; rint(d) == d exactly when
              // Spark's d === round(d) holds for a finite d
              if (d.isNaN || d.isInfinite || math.rint(d) != d) all(i) = false
              dbl(i, n(i) == 1, d, d)
            case Bool => if (!row.getBoolean(i)) all(i) = false
            case _ => ()
          }
        }
        i += 1
      }
    }

    def merge(o: Acc): Acc = {
      rows += o.rows
      for (i <- 0 until k if o.n(i) > 0) {
        range(i, o.lo(i), o.hi(i))
        if (kinds(i) == Dbl) dbl(i, n(i) == 0, o.dlo(i), o.dhi(i))
        all(i) &&= o.all(i)
        n(i) += o.n(i)
      }
      this
    }
  }

  /** One job: fold every partition of `df.select(cols)` under `kinds`
    * (one per column) and merge the collected partials. With no columns
    * to measure only the row count is needed: a source that answers
    * `count` from metadata (the readstat scan's complete COUNT(*)
    * pushdown) reads no data for it; any other source folds the
    * zero-column projection. */
  private[writers] def fold(df: DataFrame, cols: Seq[Column], kinds: Array[Int]): Acc = {
    lazy val counted = df.select(count(lit(1)))
    if (cols.isEmpty && !counted.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])) {
      val acc = new Acc(kinds)
      acc.rows = counted.collect()(0).getLong(0)
      acc
    } else df.select(cols: _*).queryExecution.toRdd.mapPartitions { it =>
      val acc = new Acc(kinds)
      it.foreach(acc.add)
      Iterator(acc)
    }.collect().foldLeft(new Acc(kinds))(_ merge _)
  }

  /** `name` as a column reference, dots and backticks taken literally. */
  private def column(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** The stats of `df` in one job over its measured columns. */
  def of(df: DataFrame): WriteStats = {
    val measured = df.schema.fields.filter(f => plainKind(f.dataType) != Skip)
    val kinds = measured.map(f => plainKind(f.dataType))
    val acc = fold(df, measured.map(f => column(f.name)).toIndexedSeq, kinds)
    val cols = measured.map(_.name).toSeq.zipWithIndex
    val strs = cols.filter { case (_, i) => kinds(i) == Str }
    WriteStats(acc.rows, strs.map { case (c, i) => c -> acc.hi(i).toInt }.toMap,
      strs.map { case (c, i) => c -> acc.lo(i).toInt }.toMap,
      cols.collect { case (c, i) if kinds(i) > Str && acc.n(i) > 0 =>
        c -> (acc.lo(i), acc.hi(i)) }.toMap)
  }
}
