package graft.spark.readstat

import java.io.RandomAccessFile
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.sas.SasCore
import graft.core.xpt.XptCore
import graft.core.xpt.XptCore._

/** SAS transport (.xpt) as a Spark format module: fixed-width 80-byte-
  * aligned records → O(1)-seek row-range partitions. Temporal
  * classification reuses the SAS format-name lists.
  */
object XptModule extends FormatModule {

  private case class FileKey(path: String, size: Long, mtime: Long)
  private def keyOf(path: String) = {
    val f = new java.io.File(path)
    FileKey(path, f.length(), f.lastModified())
  }
  private val mdCache = new ConcurrentHashMap[FileKey, XptMeta]()
  def metadata(path: String): XptMeta =
    mdCache.computeIfAbsent(keyOf(path), _ => XptCore.parse(path))

  private def kindOf(c: XptColumn): SasCore.Kind =
    SasCore.kindFor(graft.core.sas.SasCore.SasColumn(
      c.name, c.format, c.label, c.isChar, c.offset, c.width))

  def sparkTypeOf(c: XptColumn, opts: ReadstatOptions): DataType = kindOf(c) match {
    case SasCore.KChar => StringType
    case SasCore.KDate => DateType
    case SasCore.KDatetime => TimestampNTZType
    case SasCore.KTime =>
      // nanos-of-day either way (TIME(6)'s physical long)
      if (opts.timeAsTimeType) org.apache.spark.sql.types.TimeType(6)
      else LongType
    case _ => DoubleType
  }

  // ---- .sas7bcat / inline catalog labels (reference docs/read.md:148:
  // "SAS Transport files do not carry value labels. Use the catalog
  // parameter … to attach labels from a separate catalog") ----
  private def catalogLabels(opts: ReadstatOptions,
      c: XptColumn): Option[Map[Double, String]] =
    opts.catalog.flatMap { p =>
      if (c.isChar || c.format.isEmpty) None
      else CatalogResolver.resolve(p).numeric.get(CatalogResolver.fmtKey(c.format))
    }

  private def catalogCharLabels(opts: ReadstatOptions,
      c: XptColumn): Option[Map[String, String]] =
    opts.catalog.flatMap { p =>
      if (!c.isChar || c.format.isEmpty) None
      else CatalogResolver.resolve(p).string.get(CatalogResolver.fmtKey(c.format))
    }

  override def schema(path: String, opts: ReadstatOptions): StructType = {
    val md = metadata(path)
    val fields = Vector.newBuilder[StructField]
    md.columns.foreach { c =>
      val mb = new MetadataBuilder()
      if (kindOf(c) == SasCore.KTime) mb.putString("readstat.type", "time")
      if (c.label.nonEmpty) mb.putString("readstat.label", c.label)
      if (c.format.nonEmpty) mb.putString("readstat.format", c.format)
      val dt =
        if (opts.valueLabelsAsStrings && catalogLabels(opts, c).isDefined)
          StringType
        else sparkTypeOf(c, opts)
      fields += StructField(c.name, dt, nullable = true, mb.build())
      if (opts.informativeNulls && !c.isChar && opts.infoNullEligible(c.name))
        fields += StructField(c.name + opts.informativeNullSuffix, StringType,
          nullable = true)
    }
    opts.rowIndexName.foreach(n => fields += StructField(n, LongType, nullable = false))
    StructType(fields.result())
  }

  /** Metadata count corrected for record padding: the data section is
    * space-padded to an 80-byte boundary, so file-size arithmetic can
    * overcount by the phantom all-space rows overlapping the final
    * 80-byte record. Replays the decoder's exact cut rule over just that
    * tail zone — one O(80+rowLen)-byte read, no data decode. */
  /** Mid-row truncation (recorded by the core parse — the header still
    * reads) fails LOUDLY everywhere except mode=permissive, which
    * salvages the whole-row prefix the floored rowCount already
    * describes. A row-and-padding-aligned cut is indistinguishable from
    * a valid EOF by design of the format (no declared row count). */
  private def failIfTruncated(path: String,
      md: graft.core.xpt.XptCore.XptMeta, opts: ReadstatOptions): Unit =
    if (!opts.salvage && md.truncatedTail)
      throw new java.io.IOException(
        s"xpt: non-padding bytes after the last whole row of $path — file " +
          "appears truncated mid-row (mode=permissive salvages the " +
          "whole-row prefix)")

  override def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = {
    val md = metadata(path)
    if (md.truncatedTail) return None // scan surfaces the loud error
    val rowLen = math.max(1, md.rowLength)
    val n = md.rowCount
    if (n == 0) return Some(0L)
    val fileLen = new java.io.File(path).length()
    val start = math.max(0L, n - (80L / rowLen + 2))
    val raf = new RandomAccessFile(path, "r")
    try {
      raf.seek(md.dataOffset + start * rowLen)
      val m = (n - start).toInt
      val buf = new Array[Byte](m * rowLen)
      raf.readFully(buf)
      var r = 0
      var cut = -1
      while (cut < 0 && r < m) {
        val endAbs = md.dataOffset + (start + r + 1) * rowLen
        if (endAbs > fileLen - 80) {
          val base = r * rowLen
          var allSpace = true
          var i = base
          while (allSpace && i < base + rowLen) {
            if (buf(i) != ' ') allSpace = false
            i += 1
          }
          if (allSpace) cut = r
        }
        r += 1
      }
      Some(if (cut >= 0) start + cut else n)
    } finally raf.close()
  }

  override def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition] = {
    val md = metadata(path)
    seekableRowRanges(path, opts, 0L, limit, md.rowCount, md.rowLength, md.dataOffset)
  }

  /** Fixed 80-byte-record rows seek in O(1): OFFSET pushdown is pure
    * range arithmetic, rows [offset, min(limit, rowCount)). */
  override def plansOffset(path: String, opts: ReadstatOptions): Boolean = true

  override def planPartitionsAt(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long]): Option[Seq[RangePartition]] = {
    val md = metadata(path)
    Some(seekableRowRanges(path, opts, offset, limit, md.rowCount,
      md.rowLength, md.dataOffset))
  }

  /** Per-column tight loops over fixed-width 80-byte-aligned chunks;
    * trailing all-space padding rows (only possible inside the file's
    * final 80-byte record) truncate the last batch. Pushed filters skip
    * rows through [[RowFilter]]; the padding cut happens BEFORE filtering, on raw rows. */
  override def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch

    val md = metadata(part.path)
    failIfTruncated(part.path, md, opts)
    val byName = md.columns.map(_.name).zipWithIndex.toMap
    // (col or null = row index, kind, numeric label LUT, char label map,
    //  indicator flag)
    val plans: Array[(XptColumn, SasCore.Kind, DoubleByteLut, Map[String, String], Boolean)] =
      required.fields.map { f =>
        if (opts.rowIndexName.contains(f.name)) (null, SasCore.KNum, null, null, false)
        else {
          val (base, ind) =
            if (opts.informativeNulls && f.name.endsWith(opts.informativeNullSuffix) &&
                byName.contains(f.name.stripSuffix(opts.informativeNullSuffix)) &&
                !byName.contains(f.name))
              (f.name.stripSuffix(opts.informativeNullSuffix), true)
            else (f.name, false)
          val c = md.columns(byName(base))
          val numLut =
            if (!ind && opts.valueLabelsAsStrings)
              catalogLabels(opts, c).map(new DoubleByteLut(_)).orNull
            else null
          val chLabels =
            if (!ind && opts.valueLabelsAsStrings) catalogCharLabels(opts, c).orNull
            else null
          (c, kindOf(c), numLut, chLabels, ind)
        }
      }
    val rowLen = md.rowLength
    val fileLen = new java.io.File(part.path).length()
    val raf = new RandomAccessFile(part.path, "r")
    raf.seek(md.dataOffset + part.startRow * rowLen)
    val vecs = new ReusedBatch(required)

    // bytes-predicate over filter cells (plain numeric/char only;
    // temporal kinds don't compile — residual Filter covers them)
    val cellDecoders = scala.collection.mutable.ArrayBuffer[(Array[Byte], Int) => Any]()
    val slotIdx = scala.collection.mutable.HashMap[String, Int]()
    if (pushed.nonEmpty) pushed.flatMap(_.references).distinct.foreach { name =>
      byName.get(name).foreach { ci =>
        val c = md.columns(ci)
        val kind = kindOf(c)
        // labeled columns decode to label STRINGS the predicate expects
        // (their required type is StringType) -- don't compile raw
        val labeled = opts.valueLabelsAsStrings &&
          (catalogLabels(opts, c).isDefined ||
            catalogCharLabels(opts, c).isDefined)
        if (!labeled) {
          val off = c.offset
          val w = c.width
          val dec: (Array[Byte], Int) => Any =
            if (c.isChar) { (b, base) =>
              var end = base + off + w
              val start = base + off
              while (end > start && (b(end - 1) == ' ' || b(end - 1) == 0)) end -= 1
              if (end == start) {
                if (opts.missingStringAsNull) null else UTF8String.fromString("")
              } else UTF8String.fromString(new String(b, start, end - start,
                java.nio.charset.StandardCharsets.ISO_8859_1))
            } else {
              val numDec: (Array[Byte], Int) => java.lang.Double = (b, base) =>
                if (XptCore.isMissing(b, base + off, w)) null
                else {
                  val d = XptCore.ibmToDouble(b, base + off, w)
                  if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
                }
              // r13: temporal kinds box the Integer-days / Long-micros
              // internal value PushedFilters compares in long space
              kind match {
                case SasCore.KDate => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Integer.valueOf(SasCore.toDateDays(x.doubleValue))
                }
                case SasCore.KDatetime => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Long.valueOf(SasCore.toDatetimeMicros(x.doubleValue))
                }
                case SasCore.KTime => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Long.valueOf(SasCore.toTimeNanos(x.doubleValue))
                }
                case _ => numDec
              }
            }
          slotIdx(name) = cellDecoders.length
          cellDecoders += dec
        }
      }
    }
    val typeByName = required.fields.map(f => f.name -> f.dataType).toMap
    val bytesPred: PushedFilters.Pred =
      if (pushed.isEmpty || cellDecoders.isEmpty) null
      else PushedFilters.compile(pushed.toSeq, slotIdx.get, typeByName.get).orNull
    // r13 primitive interval fast path (see StataModule): the hot
    // IsNotNull + range shape on one numeric/temporal column evaluates
    // unboxed — missing/NaN/Inf → NaN in double space / reject in long
    // space, both skip-sound under the residual.
    val fastPred: (Array[Byte], Int) => Boolean =
      if (bytesPred == null) null
      else PushedFilters.asInterval(pushed.toSeq, typeByName.get) match {
        case Some(iv) => byName.get(iv.col) match {
          case Some(fci) =>
            val fc = md.columns(fci)
            val labeled = opts.valueLabelsAsStrings &&
              (catalogLabels(opts, fc).isDefined ||
                catalogCharLabels(opts, fc).isDefined)
            if (labeled || fc.isChar) null
            else {
              val off = fc.offset
              val w = fc.width
              val rawD: (Array[Byte], Int) => Double = (b, base) =>
                if (XptCore.isMissing(b, base + off, w)) Double.NaN
                else {
                  val d = XptCore.ibmToDouble(b, base + off, w)
                  if (d.isInfinite) Double.NaN else d
                }
              (iv, kindOf(fc)) match {
                case (PushedFilters.DoubleInterval(_, lo, loInc, hi, hiInc), _) =>
                  (b, base) =>
                    PushedFilters.inDouble(rawD(b, base), lo, loInc, hi, hiInc)
                case (PushedFilters.LongInterval(_, lo, hi), SasCore.KDate) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toDateDays(d).toLong
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi), SasCore.KDatetime) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toDatetimeMicros(d)
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi), SasCore.KTime) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toTimeNanos(d)
                      x >= lo && x <= hi
                    }
                  }
                case _ => null
              }
            }
          case None => null
        }
        case None => null
      }
    val rowFilter =
      if (bytesPred == null) null else new RowFilter(cellDecoders.toArray, bytesPred, fastPred)
    // projected decode bytes per row, for the compaction gate below
    val projBytes: Long = plans.collect {
      case (c, _, _, _, _) if c != null => c.width.toLong }.sum

    new Iterator[ColumnarBatch] {
      private var remaining = part.numRows
      private var globalRow = part.startRow
      private var closed = false
      private def close(): Unit = if (!closed) { closed = true; raf.close() }


      override def hasNext: Boolean = {
        if (remaining <= 0) close()
        remaining > 0
      }

      private var buf: Array[Byte] = Array.emptyByteArray

      override def next(): ColumnarBatch = {
        var n = ReusedBatch.rows(opts, rowLen, remaining)
        if (buf.length < n * rowLen) buf = new Array[Byte](n * rowLen)
        raf.readFully(buf, 0, n * rowLen)
        // truncate trailing all-space padding rows in the final record
        var r = 0
        var cut = -1
        while (cut < 0 && r < n) {
          val endAbs = md.dataOffset + (globalRow + r + 1) * rowLen
          if (endAbs > fileLen - 80) {
            val base = r * rowLen
            var allSpace = true
            var i = base
            while (allSpace && i < base + rowLen) {
              if (buf(i) != ' ') allSpace = false
              i += 1
            }
            if (allSpace) cut = r
          }
          r += 1
        }
        if (cut >= 0) { n = cut; remaining = 0 }
        val startRow = globalRow
        remaining -= n; globalRow += n
        if (remaining <= 0) close()
        var data = buf
        var m = n
        var sel: Array[Int] = null
        if (rowFilter != null) {
          m = rowFilter.compact(buf, n, rowLen, projBytes)
          data = rowFilter.data; sel = rowFilter.sel
        }
        vecs.reset(m)
        var c = 0
        while (c < plans.length) {
          decodeColumn(plans(c), data, m, startRow, vecs(c), sel)
          c += 1
        }
        vecs.emit(m)
      }

      private def decodeColumn(pl: (XptColumn, SasCore.Kind, DoubleByteLut, Map[String, String], Boolean),
          buf: Array[Byte],
          n: Int, startRow: Long,
          vec: OnHeapColumnVector, sel: Array[Int] = null): Unit = {
        val (col, kind, numLut, chLabels, indicator) = pl
        if (col == null) { // row index (filtered batches map through sel)
          var r = 0
          if (sel == null) while (r < n) { vec.putLong(r, startRow + r); r += 1 }
          else while (r < n) { vec.putLong(r, startRow + sel(r)); r += 1 }
          return
        }
        val off = col.offset
        val w = col.width
        if (indicator) {
          // XPT tagged missing: the first byte IS the tag
          var r = 0; var p = off
          while (r < n) {
            if (XptCore.isMissing(buf, p, w)) {
              val t = buf(p).toChar
              val s = if (t >= 'A' && t <= 'Z') "." + t
                      else if (t == '_') "._" else null
              if (s == null) vec.putNull(r)
              else {
                val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                vec.putByteArray(r, b, 0, b.length)
              }
            } else vec.putNull(r)
            r += 1; p += rowLen
          }
        } else if (col.isChar) {
          var r = 0; var p = off
          while (r < n) {
            val end = AsciiCells.trimEnd(buf, p, p + w)
            if (end == p) {
              if (opts.missingStringAsNull) vec.putNull(r)
              else vec.putByteArray(r, Array.emptyByteArray, 0, 0)
            } else if (chLabels == null && AsciiCells.isAscii(buf, p, end)) {
              // ISO-8859-1 maps every byte below 0x80 to itself
              vec.putByteArray(r, buf, p, end - p)
            } else {
              val s = new String(buf, p, end - p,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              // char-format catalog labels: matched codes map, unmatched
              // pass through (reference replace_strict default)
              val out = if (chLabels != null) chLabels.getOrElse(s, s) else s
              val b = out.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(r, b, 0, b.length)
            }
            r += 1; p += rowLen
          }
        } else if (numLut != null) {
          // catalog-labeled numeric -> DICTIONARY-encoded string vector
          // (one id putInt per cell; unlabeled codes get per-batch ids)
          val dict = new LabelDictionary(numLut.baseBytes)
          vec.setDictionary(dict)
          val dictIds = vec.reserveDictionaryIds(n)
          var r = 0; var p = off
          while (r < n) {
            if (XptCore.isMissing(buf, p, w)) vec.putNull(r)
            else {
              val d = XptCore.ibmToDouble(buf, p, w)
              if (d.isNaN || d.isInfinite) vec.putNull(r)
              else {
                val id = numLut.id(d)
                if (id >= 0) dictIds.putInt(r, id)
                else dictIds.putInt(r,
                  dict.fallbackId(java.lang.Double.doubleToLongBits(d),
                    () => NumRender.code(d).getBytes(
                      java.nio.charset.StandardCharsets.UTF_8)))
              }
            }
            r += 1; p += rowLen
          }
        } else {
          var r = 0; var p = off
          while (r < n) {
            if (XptCore.isMissing(buf, p, w)) vec.putNull(r)
            else {
              val d = XptCore.ibmToDouble(buf, p, w)
              if (d.isNaN || d.isInfinite) vec.putNull(r)
              else kind match {
                case SasCore.KDate => vec.putInt(r, SasCore.toDateDays(d))
                case SasCore.KDatetime => vec.putLong(r, SasCore.toDatetimeMicros(d))
                case SasCore.KTime => vec.putLong(r, SasCore.toTimeNanos(d))
                case _ => vec.putDouble(r, d)
              }
            }
            r += 1; p += rowLen
          }
        }
      }
    }
  }
}
