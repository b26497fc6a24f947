package graft.spark.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
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
  * separate columns and the partition reader combines them.
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

  /** Reshape a separate-column schema into the struct/merged shape. */
  def transformSchema(sep: StructType, prs: Seq[(String, String)],
      mode: String): StructType = {
    val indSet = prs.map(_._2).toSet
    val mains = prs.map(_._1).toSet
    StructType(sep.fields.flatMap { f =>
      if (indSet.contains(f.name)) None
      else if (mains.contains(f.name)) mode match {
        case "struct" => Some(f.copy(dataType = StructType(Seq(
          StructField(f.name, f.dataType, nullable = true),
          StructField("null_indicator", StringType, nullable = true)))))
        case "merged" => Some(f.copy(dataType = StringType))
        case _ => Some(f)
      }
      else Some(f)
    })
  }

  private sealed trait OutCol
  private final case class Pass(midIdx: Int) extends OutCol
  private final case class AsStruct(mainIdx: Int, indIdx: Int, innerType: DataType)
    extends OutCol
  private final case class AsMerged(mainIdx: Int, indIdx: Int, mainType: DataType)
    extends OutCol

  /** Wrap a module-row iterator so struct/merged output fields are
    * combined from their separate (main, indicator) columns.
    *
    * @param required  final output schema (struct/merged shapes)
    * @param sepNatural the module's full separate-column schema (natural types)
    * @param prs       (main, indicator) pairs present in sepNatural
    * @return (moduleRequired, wrap): the separate-column schema to request
    *         from the module, and the row-combining wrapper
    */
  def combiner(required: StructType, sepNatural: StructType,
      prs: Seq[(String, String)], mode: String)
      : (StructType, Iterator[InternalRow] => Iterator[InternalRow]) = {
    val byMain = prs.toMap
    val natByName = sepNatural.fields.map(f => f.name -> f).toMap
    val modFields = scala.collection.mutable.ArrayBuffer[StructField]()
    def fieldIdx(f: StructField): Int = {
      val i = modFields.indexWhere(_.name == f.name)
      if (i >= 0) i else { modFields += f; modFields.length - 1 }
    }
    val outPlan: Array[OutCol] = required.fields.map { f =>
      byMain.get(f.name) match {
        case Some(ind) if mode == "struct" || mode == "merged" =>
          val mainNat = natByName(f.name)
          val indNat = natByName(ind)
          val mi = fieldIdx(mainNat); val ii = fieldIdx(indNat)
          if (mode == "struct") {
            // the struct's inner main type may be compress-narrowed or
            // overridden — cast from the module's natural type to it
            val inner = f.dataType.asInstanceOf[StructType].fields(0).dataType
            AsStruct(mi, ii, inner)
          } else AsMerged(mi, ii, mainNat.dataType)
        case _ =>
          Pass(fieldIdx(natByName.getOrElse(f.name, f)))
      }
    }
    val moduleRequired = StructType(modFields.toSeq)
    val wrap = (it: Iterator[InternalRow]) => it.map { row =>
      val out = new GenericInternalRow(outPlan.length)
      var i = 0
      while (i < outPlan.length) {
        outPlan(i) match {
          case Pass(mi) =>
            out.update(i, if (row.isNullAt(mi)) null
              else Narrowing.castValue(row, mi, moduleRequired(mi).dataType,
                required(i).dataType))
          case AsStruct(mi, ii, inner) =>
            val main = if (row.isNullAt(mi)) null
              else Narrowing.castValue(row, mi, moduleRequired(mi).dataType, inner)
            val ind = if (row.isNullAt(ii)) null else row.getUTF8String(ii)
            out.update(i, new GenericInternalRow(Array[Any](main, ind)))
          case AsMerged(mi, ii, mt) =>
            val v: Any =
              if (!row.isNullAt(mi)) mergedString(Narrowing.cell(row, mi, mt), mt)
              else if (!row.isNullAt(ii)) row.getUTF8String(ii)
              else null
            out.update(i, v)
        }
        i += 1
      }
      out: InternalRow
    }
    (moduleRequired, wrap)
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
