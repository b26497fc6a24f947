package graft.spark.readstat

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** The three informative-null output shapes of the reference
  * (reference: src/lib.rs:237-378):
  *
  *  - `column` (default): each eligible column keeps its type and gains a
  *    `<name><suffix>` String indicator column right after it — this is
  *    what the format modules produce natively;
  *  - `struct`: the main column is replaced by
  *    `struct<name: T, null_indicator: string>` — no extra columns;
  *  - `merged`: the main column is replaced by a String column holding
  *    the value's string form for valid rows, the indicator (".a",
  *    "MISSING", …) for user-missing rows, and null for system-missing.
  *
  * Struct/merged are a pure reshaping of the separate-column output, so
  * they live here in the connector layer: the modules always decode
  * separate columns, and the partition reader builds each struct or
  * merged column from the batch's (main, indicator) vectors.
  */
object InformativeNulls {

  /** (main, indicator) name pairs: fields of `sep` that are absent from
    * `base` and carry the suffix. */
  def pairs(sep: StructType, base: StructType, suffix: String): Seq[(String, String)] = {
    val baseNames = base.fieldNames.toSet
    sep.fieldNames.toSeq
      .filter(n => !baseNames.contains(n) && n.endsWith(suffix) && n != suffix)
      .map(n => (n.stripSuffix(suffix), n))
  }

  /** Reference parity: an indicator name colliding with a real file
    * column is an error, not a silent shadow (lib.rs:185-207). A
    * collision shows up as a duplicate field name in the separate-column
    * schema (modules append `<name><suffix>` unconditionally). */
  def checkCollisions(sep: StructType, suffix: String): Unit = {
    val dup = sep.fieldNames.groupBy(identity).collectFirst {
      case (n, occ) if occ.length > 1 => n
    }
    dup.foreach { n =>
      throw new IllegalArgumentException(
        s"readstat: informative null indicator column '$n' conflicts " +
          "with an existing column; choose a different informativeNullSuffix")
    }
  }

  /** Struct mode's `struct<name: value, null_indicator: string>`. */
  def structType(name: String, value: DataType): StructType = StructType(Seq(
    StructField(name, value, nullable = true),
    StructField("null_indicator", StringType, nullable = true)))

  /** The value type of a struct-mode column, if `t` is one (no stat file
    * stores a struct, so the shape alone identifies it). */
  def structValue(t: DataType): Option[DataType] = t match {
    case s: StructType if s.length == 2 && s(1).name == "null_indicator" &&
        s(1).dataType == StringType => Some(s(0).dataType)
    case _ => None
  }

  /** Reshape a separate-column schema into the struct/merged shape. */
  def transformSchema(sep: StructType, prs: Seq[(String, String)],
      mode: String): StructType = {
    val indSet = prs.map(_._2).toSet
    val mains = prs.map(_._1).toSet
    StructType(sep.fields.flatMap { f =>
      if (indSet.contains(f.name)) None
      else if (mains.contains(f.name)) mode match {
        case "struct" => Some(f.copy(dataType = structType(f.name, f.dataType)))
        case "merged" => Some(f.copy(dataType = StringType))
        case _ => Some(f)
      }
      else Some(f)
    })
  }

  /** Struct mode's `struct<name, null_indicator>` column over the
    * pair's own vectors, with no copy. The struct itself is never null. */
  def structVector(dt: DataType, main: ColumnVector,
      ind: ColumnVector): ColumnVector = new ColumnVector(dt) {
    override def getChild(i: Int): ColumnVector = if (i == 0) main else ind
    override def isNullAt(r: Int): Boolean = false
    override def hasNull: Boolean = false
    override def numNulls: Int = 0
    override def close(): Unit = { main.close(); ind.close() }
    private def leaf = throw new UnsupportedOperationException("struct column")
    override def getBoolean(r: Int): Boolean = leaf
    override def getByte(r: Int): Byte = leaf
    override def getShort(r: Int): Short = leaf
    override def getInt(r: Int): Int = leaf
    override def getLong(r: Int): Long = leaf
    override def getFloat(r: Int): Float = leaf
    override def getDouble(r: Int): Double = leaf
    override def getArray(r: Int): ColumnarArray = leaf
    override def getMap(r: Int): ColumnarMap = leaf
    override def getDecimal(r: Int, p: Int, s: Int): Decimal = leaf
    override def getUTF8String(r: Int): UTF8String = leaf
    override def getBinary(r: Int): Array[Byte] = leaf
  }

  /** Merged mode's string column from `batch`'s main column `mi` (of
    * type `mainType`) and indicator column `ii`: the value's string
    * form, else the indicator, else null. */
  def mergedVector(batch: ColumnarBatch, mi: Int, ii: Int,
      mainType: DataType): ColumnVector = {
    val rows = batch.numRows
    val out = new OnHeapColumnVector(math.max(rows, 1), StringType)
    var r = 0
    while (r < rows) {
      val row = batch.getRow(r)
      val s =
        if (!row.isNullAt(mi)) mergedString(Narrowing.cell(row, mi, mainType), mainType)
        else if (!row.isNullAt(ii)) row.getUTF8String(ii)
        else null
      if (s == null) out.putNull(r)
      else { val b = s.getBytes; out.putByteArray(r, b, 0, b.length) }
      r += 1
    }
    out
  }

  /** String form of a valid value for merged mode (Polars-like cast). */
  private def mergedString(v: Any, dt: DataType): UTF8String = dt match {
    case StringType => v.asInstanceOf[UTF8String]
    case DateType =>
      UTF8String.fromString(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
    case TimestampNTZType =>
      val micros = v.asInstanceOf[Long]
      UTF8String.fromString(java.time.LocalDateTime.ofEpochSecond(
        math.floorDiv(micros, 1000000L), math.floorMod(micros, 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC).toString)
    case _ => UTF8String.fromString(String.valueOf(v))
  }
}
