package graft.spark.readstat.writers

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.sas.SasCore

/** Binary .sas7bdat WRITER — BEYOND the reference, which explicitly does
  * not support SAS binary writing (docs/write.md: "SAS binary writing is
  * not supported; use `write_sas_csv_import`"). The layout follows the
  * same community sas7bdat specification the reader implements
  * (SasCore.scala; also pandas.read_sas and ReadStat), so files written
  * here are readable by our own scan, pandas, and SAS itself.
  *
  * Emitted shape: 64-bit little-endian, UTF-8, uncompressed — one
  * 1024-byte header, one or more META pages (row-size, column-size,
  * column-text, column-name, column-attribute and one per-column format
  * subheader), then DATA pages of fixed-width rows. Every field offset
  * written here is one the reader (and pandas) actually consumes; the
  * rest of each subheader is zero-filled at its authentic length.
  *
  * Distributed write is the same one-job shape as the other writers
  * (`WritePass`): each task folds its partition's stats (exact row count
  * + max string widths) and encodes its rows into whole DATA pages under
  * its own layout (pages declare their own row count, so partition
  * boundaries never need row padding); the driver merges the stats,
  * re-encodes any partition whose layout differs from the global one,
  * and splices header + meta pages + page chunks. `multiFile=true`
  * writes one self-contained .sas7bdat per partition instead.
  */
object SasBinaryWriter {

  private val PageBitOffset = 32 // 64-bit layout
  private val IntS = 8
  private val HeaderLen = 1024
  private val TextBlobCap = 32 * 1024 // u16 offsets cap a blob at 64 KiB

  private[writers] final case class Col(name: String, ordinal: Int,
      isChar: Boolean, width: Int, offset: Int, fmtName: String,
      fmtWidth: Int, src: DataType, tagOrdinal: Int = -1)

  /** Numeric storage widths (`storageWidths` option, `"col:4|col2:3"`):
    * SAS's LENGTH statement — a length-N numeric stores the HIGH N
    * bytes of the 8-byte IEEE double (the read side's
    * `SasCore.incompleteDouble` zero-fills the dropped low mantissa
    * bytes), the width compression real survey files (ACS PUMS et al.)
    * ship with. N is 3–8, SAS's own legal range; integers stay exact
    * up to 2^(8N−43) (N=3 → 8,192; N=4 → 2,097,152 — the SAS-documented
    * bounds) and fractional values lose low mantissa bits silently,
    * as in SAS itself. The user-missing tag byte (bits 47:40 = LE byte
    * 5) survives at every legal width — the reason SAS's minimum
    * numeric length is 3. String columns are rejected: char widths are
    * measured from the data (batch) or declared (streaming sink). */
  private[writers] def parseStorageWidths(schema: StructType,
      options: Map[String, String], who: String): Map[String, Int] =
    StataDtaWriter.parseVarLabels(options.getOrElse("storageWidths", ""))
      .map { case (c, v) =>
        require(schema.fieldNames.contains(c),
          s"$who: storageWidths names unknown column '$c'")
        require(schema(c).dataType != StringType,
          s"$who: storageWidths.$c targets a string column — char widths " +
            "are measured from the data (batch write) or declared " +
            "(streaming sink), not set here")
        val w = try v.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$who: storageWidths.$c must be an integer (got '$v')") }
        require(w >= 3 && w <= 8,
          s"$who: storageWidths.$c must be 3-8 bytes for a numeric " +
            s"column (got $w)")
        c -> w
      }

  /** Column layout shared by the batch writer and the streaming sink:
    * numerics pack first (full doubles unless `storageWidths` truncates
    * them), chars follow at their widths, while the DICTIONARY order
    * (name/attr/format entries) stays the schema order for read-back.
    * Temporal columns derive DATE/DATETIME formats; varFormats entries
    * override (numeric only).
    */
  private[writers] def layoutSpecs(schema: StructType,
      widths: Map[String, Int],
      varFormats: Map[String, String],
      numWidths: Map[String, Int] = Map.empty): Array[Col] = {
    var off = 0
    val nums = schema.fields.zipWithIndex.filter(_._1.dataType != StringType)
    val chars = schema.fields.zipWithIndex.filter(_._1.dataType == StringType)
    val placed = nums.map { case (f, i) =>
      val (fn, fw) = f.dataType match {
        case DateType => ("DATE", 9)
        case TimestampType | TimestampNTZType => ("DATETIME", 20)
        case _: TimeType => ("TIME", 8)
        case _ => ("", 0)
      }
      val w = numWidths.getOrElse(f.name, 8)
      val c = Col(f.name, i, isChar = false, w, off, fn, fw, f.dataType)
      off += w; c
    } ++ chars.map { case (f, i) =>
      val c = Col(f.name, i, isChar = true, widths(f.name), off, "", 0,
        f.dataType)
      off += widths(f.name); c
    }
    placed.map { c =>
      varFormats.get(c.name) match {
        case Some(spec0) =>
          // "NAMEw.d" / "NAMEw." / "NAME": strip ".d", trailing digits
          // become the display width (SAS format names cannot end in a
          // digit, so the split is unambiguous)
          val spec = spec0.trim
          val noDec = spec.indexOf('.') match {
            case -1 => spec
            case i => spec.substring(0, i)
          }
          val nm = noDec.reverse.dropWhile(_.isDigit).reverse
          require(nm.nonEmpty && nm.forall(ch =>
              ch.isLetterOrDigit || ch == '_' || ch == '$'),
            s"sas7bdat writer: cannot parse varFormats.${c.name} '$spec0'")
          // SAS naming: char formats carry a leading '$', numeric ones
          // must not — enforce rather than write a file SAS would reject
          require(!c.isChar || nm.startsWith("$"),
            s"sas7bdat writer: varFormats.${c.name} targets a string " +
              s"column — char format names must start with '$$' (got '$nm')")
          require(c.isChar || !nm.startsWith("$"),
            s"sas7bdat writer: varFormats.${c.name} '$nm' is a char " +
              "($-prefixed) format on a numeric column")
          val w = noDec.substring(nm.length)
          c.copy(fmtName = nm.toUpperCase,
            fmtWidth = if (w.isEmpty) 0 else w.toInt)
        case None => c
      }
    }.sortBy(_.ordinal)
  }

  /** Page geometry shared with the streaming sink: both sides must
    * derive identical values from (row length, rle) alone. Under rle an
    * incompressible row is stored raw as a subheader, which needs a
    * 3*IntS pointer slot beyond the page header — without that slack a
    * rowLen just under the page capacity passes geometry but fails at
    * the first raw-stored row. */
  private[writers] def pageGeometry(rowLen: Int, rle: Boolean = false): (Int, Int) = {
    val overhead = PageBitOffset + 8 + (if (rle) 3 * IntS else 0)
    val pageLen = math.max(64 * 1024,
      ((rowLen + overhead + 4095) / 4096) * 4096)
    val rowsPerPage = (pageLen - PageBitOffset - 8) / rowLen
    require(rowsPerPage >= 1,
      s"sas7bdat writer: row length $rowLen exceeds page capacity")
    (pageLen, rowsPerPage)
  }

  private[writers] def dataPageStart: Int = PageBitOffset + 8
  private[writers] def headerLen: Int = HeaderLen

  /** Generated catalog format names for value-labeled columns: ≤8 chars,
    * letter-led, 'F'-final (never digit-final, per SAS naming),
    * '$'-prefixed for strings. Shared by the batch writer, the streaming
    * sink, and the xpt writer (which attaches labels the same sibling-
    * catalog way). */
  private[writers] def labelFormatNames(schema: StructType,
      valueLabels: Map[String, Seq[(String, String)]]): Map[String, String] = {
    val used = scala.collection.mutable.Set[String]()
    valueLabels.keys.toSeq.sorted.map { c =>
      val isStr = schema(c).dataType == StringType
      var base = c.toUpperCase.filter(ch => ch.isLetterOrDigit || ch == '_')
      if (base.isEmpty || !base(0).isLetter) base = "F" + base
      // a numeric column named year/month/time would generate YEARF/
      // MONTHF/TIMEF, which prefix-match SAS temporal formats (kindFor
      // and ReadStat readers test startsWith) and read back as dates —
      // Z-prefix the base so the generated name stays plain-numeric
      if (!isStr && SasCore.temporalPrefixed(base)) base = "Z" + base
      var cand = base.take(6) + "F"
      var i = 1
      while (!used.add(cand)) { cand = base.take(5) + i + "F"; i += 1 }
      c -> (if (isStr) "$" + cand.take(7) else cand)
    }.toMap
  }

  /** Emit the sibling .sas7bcat for the generated format names; numeric
    * columns require numeric codes (loud), string columns keep raw codes. */
  private[writers] def writeLabelCatalog(catPath: String, schema: StructType,
      valueLabels: Map[String, Seq[(String, String)]],
      catFmtNames: Map[String, String], who: String): Unit = {
    val numeric = scala.collection.mutable.Map[String, Map[Double, String]]()
    val string = scala.collection.mutable.Map[String, Map[String, String]]()
    valueLabels.foreach { case (c, pairs) =>
      val fmt = catFmtNames(c)
      if (schema(c).dataType == StringType)
        string(fmt) = pairs.toMap
      else
        numeric(fmt) = pairs.map { case (code, l) =>
          val d = try code.trim.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$who writer: valueLabels.$c code '$code' is not " +
                "numeric (the column is numeric)")
          }
          d -> l
        }.toMap
    }
    SasCatalogWriter.write(catPath, numeric.toMap, string.toMap)
  }

  def write(df: DataFrame, path: String, options: Map[String, String],
      known: Option[WriteStats]): Unit = {
    val schema = df.schema
    require(schema.nonEmpty, "sas7bdat writer: empty schema")
    // metadata-df-driven options (reference `metadata=` write path):
    // labels / format strings / value labels seed from the 12-col frame,
    // filtered to present columns (entries for inapplicable variables
    // are dropped, dta-writer rule); explicit options win per column
    val metaOpts = options.get("metadataPath")
      .map(p => MetadataDfOptions.read(df.sparkSession, p))
    val fieldSet = schema.fieldNames.toSet
    def metaFil[T](m: MetadataDfOptions => Map[String, T]): Map[String, T] =
      metaOpts.map(o => m(o).filter { case (k, _) => fieldSet(k) })
        .getOrElse(Map.empty)
    val varLabels = metaFil(_.varLabels) ++ StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    // drop meta format strings the SAS grammar can't carry (a Stata
    // "%9.2f" from a dta frame, a $-mismatch) instead of failing the
    // metadata-driven write; explicit varFormats entries stay strict
    def sasFmtOk(c: String, spec0: String): Boolean = {
      val spec = spec0.trim
      val noDec = spec.indexOf('.') match {
        case -1 => spec
        case i => spec.substring(0, i)
      }
      val nm = noDec.reverse.dropWhile(_.isDigit).reverse
      val isChar = schema(c).dataType == StringType
      nm.nonEmpty &&
        nm.forall(ch => ch.isLetterOrDigit || ch == '_' || ch == '$') &&
        (if (isChar) nm.startsWith("$") else !nm.startsWith("$")) &&
        noDec.substring(nm.length).forall(_.isDigit)
    }
    val varFormats = metaFil(_.formats)
      .filter { case (c, s) => sasFmtOk(c, s) } ++
      StataDtaWriter.parseVarLabels(options.getOrElse("varFormats", ""))
    // value labels: SAS keeps them in a FORMAT CATALOG, not the data
    // file — labeled columns get a generated format name here and the
    // catalog is written alongside (.option("catalog", …) on read joins
    // them back). The reference can read catalogs but write neither.
    // Meta codes that don't fit the column type (string codes on a
    // numeric var) are dropped, dta-writer rule.
    val metaValLabels = metaFil(_.valLabels).flatMap { case (c, pairs) =>
      val ok =
        if (schema(c).dataType == StringType) pairs
        else pairs.filter { case (code, _) =>
          try { code.toDouble; true }
          catch { case _: NumberFormatException => false }
        }
      if (ok.isEmpty) None else Some(c -> ok)
    }
    val valueLabels = metaValLabels ++
      SasCsvBundleWriter.parseAnyValueLabels(options.getOrElse("valueLabels", ""))
    val colSet = schema.fieldNames.toSet
    Seq("varLabels" -> varLabels.keySet, "varFormats" -> varFormats.keySet,
        "valueLabels" -> valueLabels.keySet)
      .foreach { case (opt, keys) =>
        val unknown = keys.diff(colSet)
        require(unknown.isEmpty,
          s"sas7bdat writer: $opt names unknown column(s): ${unknown.mkString(", ")}")
      }
    val catFmtNames: Map[String, String] = labelFormatNames(schema, valueLabels)
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType | DateType | TimestampType | TimestampNTZType |
             BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType | _: TimeType => ()
        case other => throw new IllegalArgumentException(
          s"sas7bdat writer: unsupported type $other for column ${f.name}")
      }
    }

    // write-side tagged missings (same option as the dta/xpt writers):
    // a string indicator column ('.'/'.A'-'.Z'/'._') rides the NaN
    // payload type byte; the indicator is dropped from the output
    val taggedMissings: Map[String, String] =
      StataDtaWriter.parseVarLabels(options.getOrElse("taggedMissings", ""))
        .map { case (d, ind) => d -> ind.trim }
    taggedMissings.foreach { case (dataCol, indCol) =>
      require(colSet(dataCol),
        s"sas7bdat writer: taggedMissings names unknown column '$dataCol'")
      require(colSet(indCol),
        s"sas7bdat writer: taggedMissings.$dataCol indicator column '$indCol' not found")
      require(schema(indCol).dataType == StringType,
        s"sas7bdat writer: taggedMissings.$dataCol indicator '$indCol' must be a string column")
      require(schema(dataCol).dataType != StringType,
        s"sas7bdat writer: taggedMissings.$dataCol targets a string column — " +
          "tags ride the numeric NaN payload only")
    }
    val indicatorCols = taggedMissings.values.toSet
    require(taggedMissings.keySet.intersect(indicatorCols).isEmpty,
      "sas7bdat writer: a taggedMissings indicator column cannot itself be tagged")
    val writtenFields = schema.fields.filterNot(f => indicatorCols(f.name))
    require(writtenFields.nonEmpty,
      "sas7bdat writer: taggedMissings drops every column")
    val writtenSchema = StructType(writtenFields.toIndexedSeq)

    val numWidths = parseStorageWidths(writtenSchema, options,
      "sas7bdat writer")
    // `compression=rle` opts into SASYZCRL row compression (the reader
    // and pandas both decode it); default is uncompressed
    val rle = options.get("compression").map(_.trim.toLowerCase) match {
      case None | Some("none") | Some("") => false
      case Some("rle") => true
      case Some(other) => throw new IllegalArgumentException(
        s"sas7bdat writer: unknown compression '$other' (expected none|rle)")
    }
    val dsName = options.getOrElse("tableName", {
      val base = new File(path).getName
      val dot = base.lastIndexOf('.')
      (if (dot > 0) base.substring(0, dot) else base).toUpperCase
    })
    require(dsName.length <= 64 && dsName.forall(c => c >= 0x20 && c <= 0x7E),
      "sas7bdat writer: tableName must be at most 64 printable-ASCII characters")
    def writeCatalog(): Unit = if (valueLabels.nonEmpty) {
      val catPath = options.getOrElse("catalogPath",
        if (options.get("multiFile").exists(_.toBoolean)) s"$path/formats.sas7bcat"
        else path.replaceAll("(?i)\\.sas7bdat$", "") + ".sas7bcat")
      writeLabelCatalog(catPath, schema, valueLabels, catFmtNames, "sas7bdat")
    }

    // ---- record layout from the stats: max string byte widths ----
    // labeled columns reference their generated catalog format (an
    // explicit varFormats entry still wins); ordinals remap to the FULL
    // incoming row since indicator columns are dropped from the layout.
    // The page geometry must fit the row.
    val layoutOf = (st: WriteStats) => {
      val widths: Map[String, Int] = writtenFields.filter(_.dataType == StringType)
        .map(f => f.name -> math.max(1, st.octets(f.name))).toMap
      val specs = layoutSpecs(writtenSchema, widths, varFormats, numWidths).map { c =>
        val c2 = c.copy(ordinal = schema.fieldIndex(c.name),
          tagOrdinal = taggedMissings.get(c.name)
            .map(schema.fieldIndex).getOrElse(-1))
        if (c2.fmtName.isEmpty && catFmtNames.contains(c2.name))
          c2.copy(fmtName = catFmtNames(c2.name))
        else c2
      }
      pageGeometry(specs.map(_.width).sum, rle)
      specs
    }
    if (options.get("multiFile").exists(_.toBoolean)) {
      val st = known.getOrElse(WriteStats.of(df))
      val nObs = st.rows
      val specsB = df.sparkSession.sparkContext.broadcast(layoutOf(st))
      val labelsB = df.sparkSession.sparkContext.broadcast(varLabels)
      val partPrefix = MultiFileParts.prepare(new File(path), "sas7bdat", options)
      val counts: Array[Long] =
        df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          if (!it.hasNext) Iterator.empty
          else {
            val f = File.createTempFile(s"graft_msas_${pid}_", ".chunk")
            val rows = encodeTo(specsB.value, rle, it, f)
            assemble(s"$path/$partPrefix" + f"$pid%05d.sas7bdat", specsB.value,
              labelsB.value, rows, dsName, rle, Seq(f.getAbsolutePath))
            f.delete()
            Iterator(rows)
          }
        }.collect()
      require(counts.sum == nObs, s"row count drift: agg=$nObs write=${counts.sum}")
      writeCatalog()
      return
    }

    val encode: WritePass.Encode[Array[Col], String] = (specs, _, rows, scratch) => {
      val f = scratch("sas")
      encodeTo(specs, rle, rows, f)
      f.getAbsolutePath
    }
    WritePass.run(df, options, known, layoutOf, encode) { pass =>
      assemble(path, pass.layout, varLabels, pass.stats.rows, dsName, rle, pass.chunks)
    }
    writeCatalog()
  }

  /** One partition's rows into whole DATA pages (pages declare their own
    * row count, so partition boundaries never need row padding). */
  private def encodeTo(specs: Array[Col], rle: Boolean,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow], f: File): Long = {
    val rowLen = specs.map(_.width).sum
    val (pageLen, rowsPerPage) = pageGeometry(rowLen, rle)
    if (rle) encodeRlePages(it, specs, f, pageLen, rowLen)
    else encodePages(it, specs, f, pageLen, rowsPerPage, rowLen)
  }

  /** Encode one partition's rows into whole DATA pages (each page
    * declares its own row count, so a partially-filled final page is a
    * valid page, not a format violation). */
  private def encodePages(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      specs: Array[Col], out: File,
      pageLen: Int, rowsPerPage: Int, rowLen: Int): Long = {
    val os = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
    val page = new Array[Byte](pageLen)
    var rowsOnPage = 0
    var pos = PageBitOffset + 8
    var total = 0L
    def flushPage(): Unit = {
      if (rowsOnPage > 0) {
        java.util.Arrays.fill(page, pos, pageLen, 0.toByte)
        putU16(page, PageBitOffset, SasCore.PtData)
        putU16(page, PageBitOffset + 2, rowsOnPage)
        putU16(page, PageBitOffset + 4, 0)
        putU16(page, PageBitOffset + 6, 0)
        os.write(page)
        rowsOnPage = 0; pos = PageBitOffset + 8
      }
    }
    while (it.hasNext) {
      writeRow(it.next(), specs, page, pos)
      pos += rowLen; rowsOnPage += 1; total += 1
      if (rowsOnPage == rowsPerPage) flushPage()
    }
    flushPage()
    os.close()
    total
  }

  /** SAS missing doubles are NaNs whose bits[47:40] carry ~tag: '.'
    * plain, 'A'-'Z' and '_' for tagged user missings (the read side's
    * missingTagOffset inverse). A CANONICAL quiet NaN (0x7ff8…) would
    * decode as a spurious .F tag, so plain missing must use ~'.'. */
  private def missBits(tagChar: Int): Long =
    0x7ff0000000000000L | (((~tagChar) & 0xffL) << 40)

  private def tagCharOf(row: org.apache.spark.sql.catalyst.InternalRow,
      tag: Int): Int = {
    if (tag < 0 || row.isNullAt(tag)) return '.'
    val t = row.getUTF8String(tag).toString.trim.toUpperCase
    if (t.isEmpty || t == ".") '.'
    else if (t.length == 2 && t.charAt(0) == '.' &&
        ((t.charAt(1) >= 'A' && t.charAt(1) <= 'Z') || t.charAt(1) == '_'))
      t.charAt(1).toInt
    else throw new IllegalArgumentException(
      s"sas7bdat writer: taggedMissings indicator value '$t' is not '.' " +
        "or '.A'-'.Z'/'._'")
  }

  private[writers] def writeRow(row: org.apache.spark.sql.catalyst.InternalRow,
      specs: Array[Col], page: Array[Byte], pos: Int): Unit = {
    var i = 0
    while (i < specs.length) {
      val c = specs(i)
      val at = pos + c.offset
      if (c.isChar) {
        java.util.Arrays.fill(page, at, at + c.width, ' '.toByte)
        if (!row.isNullAt(c.ordinal)) {
          val ub = row.getUTF8String(c.ordinal).getBytes
          // widths come from a separate scan job — a longer value here
          // means the source changed between jobs (same contract as the
          // row-count drift check); never overwrite adjacent columns
          require(ub.length <= c.width,
            s"sas7bdat writer: string in column '${c.name}' is " +
              s"${ub.length} bytes but the measured width is ${c.width} — " +
              "the source produced different rows across jobs; persist " +
              "(cache/checkpoint) the frame before writing")
          System.arraycopy(ub, 0, page, at, ub.length)
        }
      } else if (row.isNullAt(c.ordinal)) {
        putNumBits(page, at, c.width, missBits(tagCharOf(row, c.tagOrdinal)))
      } else {
        val v: Double = c.src match {
            case BooleanType => if (row.getBoolean(c.ordinal)) 1.0 else 0.0
            case ByteType => row.getByte(c.ordinal).toDouble
            case ShortType => row.getShort(c.ordinal).toDouble
            case IntegerType => row.getInt(c.ordinal).toDouble
            case LongType => row.getLong(c.ordinal).toDouble
            case FloatType => row.getFloat(c.ordinal).toDouble
            case DoubleType => row.getDouble(c.ordinal)
            case d: DecimalType =>
              row.getDecimal(c.ordinal, d.precision, d.scale).toDouble
            case DateType =>
              (row.getInt(c.ordinal) + SasCore.EpochShiftDays).toDouble
            case TimestampType | TimestampNTZType =>
              row.getLong(c.ordinal) / 1e6 +
                SasCore.EpochShiftDays.toDouble * SasCore.SecondsPerDay
            case _: TimeType => // nanos-of-day → SAS seconds-of-day
              row.getLong(c.ordinal) / 1e9
            case other => throw new IllegalStateException(other.toString)
          }
        putNumBits(page, at, c.width, java.lang.Double.doubleToLongBits(v))
      }
      i += 1
    }
  }

  /** Write a numeric cell at its storage width: full 8-byte LE double,
    * or — for a truncated LENGTH-N column — the HIGH N bytes of the LE
    * representation (low mantissa bytes dropped; the reader's
    * `incompleteDouble` zero-fills them back). */
  private def putNumBits(b: Array[Byte], off: Int, width: Int,
      bits: Long): Unit =
    if (width >= 8) putI64(b, off, bits)
    else {
      val hi = bits >>> ((8 - width) * 8)
      var k = 0
      while (k < width) {
        b(off + k) = ((hi >>> (8 * k)) & 0xffL).toByte
        k += 1
      }
    }

  /** RLE variant: each row is a compressed data SUBHEADER (pointer
    * compression=4, type=1) on pages of META type — the layout real
    * SASYZCRL files use and both our reader and pandas decode. Rows that
    * do not shrink are stored raw at full row length (readers copy
    * instead of decompressing when length == rowLength). */
  /** Incremental SASYZCRL page builder: rows become per-row compressed
    * subheaders on PtMeta pages; complete pages stream to `os` as they
    * fill. Shared by the batch writer's per-partition encode and the
    * streaming sink's chunk writers (the sink appends WHOLE pages, so
    * the encoder must flush only complete pageLen-sized pages). */
  private[writers] final class RlePageEncoder(specs: Array[Col],
      os: java.io.OutputStream, pageLen: Int, rowLen: Int) {
    private val page = new Array[Byte](pageLen)
    private val rowBuf = new Array[Byte](rowLen)
    private var nSub = 0
    private var tail = pageLen
    private var rows = 0L
    private var pages = 0L
    def rowsAdded: Long = rows
    def pagesWritten: Long = pages

    private def flushPage(): Unit = {
      if (nSub > 0) {
        putU16(page, PageBitOffset, SasCore.PtMeta)
        putU16(page, PageBitOffset + 2, nSub)
        putU16(page, PageBitOffset + 4, nSub)
        os.write(page)
        java.util.Arrays.fill(page, 0.toByte)
        nSub = 0; tail = pageLen; pages += 1
      }
    }

    def addRow(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      writeRow(row, specs, rowBuf, 0)
      val enc = rleEncode(rowBuf, 0, rowLen)
      val body = if (enc != null) enc else {
        // a raw-stored row whose head aliases a subheader signature
        // would be routed as metadata by every reader of this format —
        // refuse loudly rather than corrupt (astronomically rare:
        // requires an incompressible row starting with the exact bytes)
        require(!SasCore.isKnownMetadataSignature(rowBuf, 0, math.min(8, rowLen)),
          "sas7bdat writer: row bytes alias a subheader signature and " +
            "do not compress — write this frame with compression=none")
        rowBuf.clone()
      }
      val ptrEnd = PageBitOffset + 8 + (nSub + 1) * 3 * IntS
      if (tail - body.length < ptrEnd) flushPage()
      require(tail - body.length >= PageBitOffset + 8 + 3 * IntS,
        s"sas7bdat writer: row of ${body.length}B cannot fit a $pageLen-byte page")
      val start = tail - body.length
      System.arraycopy(body, 0, page, start, body.length)
      val p = PageBitOffset + 8 + nSub * 3 * IntS
      putI64(page, p, start)
      putI64(page, p + IntS, body.length)
      page(p + 2 * IntS) = 4     // compressed data subheader
      page(p + 2 * IntS + 1) = 1 // data type
      nSub += 1; tail = start; rows += 1
    }

    def finish(): Unit = flushPage()
  }

  private def encodeRlePages(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      specs: Array[Col], out: File, pageLen: Int, rowLen: Int): Long = {
    val os = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
    val enc = new RlePageEncoder(specs, os, pageLen, rowLen)
    while (it.hasNext) enc.addRow(it.next())
    enc.finish()
    os.close()
    enc.rowsAdded
  }

  /** Header + meta pages + data page chunks → one valid .sas7bdat. */
  private def assemble(path: String, specs: Array[Col],
      varLabels: Map[String, String], rowCount: Long, dsName: String,
      rle: Boolean, chunkFiles: Seq[String]): Unit = {
    val rowLen = specs.map(_.width).sum
    val (pageLen, rowsPerPage) = pageGeometry(rowLen, rle)
    val metaPages = buildMetaPages(specs, varLabels, rowCount, rowLen,
      pageLen, rowsPerPage, rle)
    val dataPages = chunkFiles.map(f => new File(f).length() / pageLen).sum
    AtomicFile.write(path) { tmp =>
      val os = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20)
      os.write(buildHeader(pageLen, metaPages.length + dataPages.toInt, dsName))
      metaPages.foreach(os.write)
      val buf = new Array[Byte](1 << 20)
      chunkFiles.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try {
          var n = in.read(buf)
          while (n > 0) { os.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
      os.close()
    }
  }

  private[writers] def buildHeader(pageLen: Int, pageCount: Int, dsName: String): Array[Byte] = {
    val h = new Array[Byte](HeaderLen)
    System.arraycopy(SasCore.Magic, 0, h, 0, 32)
    h(32) = '3' // 64-bit (align2 = 4)
    h(35) = '3' // align1 = 4
    h(37) = 0x01 // little-endian
    h(39) = '1' // unix
    h(70) = 20 // encoding: UTF-8
    putAscii(h, 84, "SAS FILE", 8)
    putAscii(h, 92, dsName, 64)
    putAscii(h, 156, "DATA", 8)
    // creation/modification: fixed SAS-epoch seconds for deterministic
    // output (2026-01-01, like the other writers' pinned dates)
    val created = 2082844800.0
    putI64(h, 168, java.lang.Double.doubleToLongBits(created)) // 164+a1
    putI64(h, 176, java.lang.Double.doubleToLongBits(created)) // 172+a1
    putI32(h, 200, HeaderLen) // 196+a1
    putI32(h, 204, pageLen)   // 200+a1
    putI32(h, 208, pageCount) // 204+a1
    putAscii(h, 224, "9.0401M7", 8) // 216+a1+a2
    putAscii(h, 232, "Linux", 16)   // host
    h
  }

  /** All metadata subheaders packed into as many META pages as needed:
    * pointer table grows from the page head, bodies from the tail. */
  private[writers] def buildMetaPages(specs: Array[Col], varLabels: Map[String, String],
      rowCount: Long, rowLen: Int, pageLen: Int,
      rowsPerPage: Int, rle: Boolean = false): Seq[Array[Byte]] = {
    // ---- text blobs: u16 total-size header + 6 pad, then strings;
    // u16 offsets cap each blob, so chunk at 32 KiB ----
    final case class Ref(idx: Int, off: Int, len: Int)
    val blobs = scala.collection.mutable.ArrayBuffer[java.io.ByteArrayOutputStream]()
    def newBlob(): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(Array[Byte](0, 0, 0, 0, 0, 0, 0, 0)) // u16 size patched later
      blobs += b
    }
    newBlob()
    // the compression literal lives at the head of the FIRST text blob —
    // exactly where our reader and pandas look for it
    if (rle) blobs.last.write("SASYZCRL".getBytes(StandardCharsets.US_ASCII))
    def addText(s: String): Ref = {
      if (s.isEmpty) return Ref(0, 0, 0)
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      require(bytes.length <= TextBlobCap,
        s"sas7bdat writer: text entry exceeds ${TextBlobCap}B: ${s.take(40)}…")
      if (blobs.last.size() + bytes.length > TextBlobCap) newBlob()
      val b = blobs.last
      val off = b.size()
      b.write(bytes)
      // pad to 4 so entries stay aligned like SAS's own layout
      while (b.size() % 4 != 0) b.write(' ')
      Ref(blobs.length - 1, off, bytes.length)
    }
    val nameRefs = specs.map(c => addText(c.name))
    val fmtRefs = specs.map(c => addText(c.fmtName))
    val lblRefs = specs.map(c => addText(varLabels.getOrElse(c.name, "")))

    // ---- subheader bodies, in the exact order the reader collects ----
    def body(len: Int)(fill: Array[Byte] => Unit): Array[Byte] = {
      val b = new Array[Byte](len); fill(b); b
    }
    val rowSize = body(808) { b => // pandas reads lcs/lcp at 682/706
      putI32(b, 0, 0xF7F7F7F7) // u64 form is sig + 4 zero bytes (pandas table)
      putI64(b, 5 * IntS, rowLen)
      putI64(b, 6 * IntS, rowCount)
      putI64(b, 9 * IntS, specs.length) // colCountP1
      putI64(b, 10 * IntS, 0)           // colCountP2
      putI64(b, 15 * IntS, rowsPerPage) // mixPageRowCount
    }
    val colSize = body(24) { b =>
      putI32(b, 0, 0xF6F6F6F6)
      putI64(b, IntS, specs.length)
    }
    val textSubs = blobs.map { bl =>
      val payload = bl.toByteArray
      putU16(payload, 0, payload.length) // pandas text_block_size
      body(IntS + payload.length) { b =>
        putI64(b, 0, 0xFFFFFFFFFFFFFFFDL) // sign-extended, pandas u64 form
        System.arraycopy(payload, 0, b, IntS, payload.length)
      }
    }.toSeq
    val colName = body(2 * IntS + 12 + 8 * specs.length) { b =>
      putI64(b, 0, -1L) // FF×8
      var e = IntS + 8
      nameRefs.foreach { r =>
        putU16(b, e, r.idx); putU16(b, e + 2, r.off); putU16(b, e + 4, r.len)
        e += 8
      }
    }
    val colAttrs = body(2 * IntS + 12 + (IntS + 8) * specs.length) { b =>
      putI64(b, 0, 0xFFFFFFFFFFFFFFFCL)
      var e = IntS + 8
      specs.foreach { c =>
        putI64(b, e, c.offset)
        putI32(b, e + IntS, c.width)
        b(e + IntS + 6) = if (c.isChar) 2 else 1
        e += IntS + 8
      }
    }
    val fmtSubs = specs.indices.map { i =>
      body(64) { b =>
        putI64(b, 0, 0xFFFFFFFFFFFFFBFEL)
        val base = 3 * IntS
        putU16(b, base + 16, specs(i).fmtWidth) // format width (display)
        putU16(b, base + 22, fmtRefs(i).idx)
        putU16(b, base + 24, fmtRefs(i).off)
        putU16(b, base + 26, fmtRefs(i).len)
        putU16(b, base + 28, lblRefs(i).idx)
        putU16(b, base + 30, lblRefs(i).off)
        putU16(b, base + 32, lblRefs(i).len)
      }
    }
    val subheaders: Seq[Array[Byte]] =
      Seq(rowSize, colSize) ++ textSubs ++ Seq(colName, colAttrs) ++ fmtSubs

    // ---- pack into META pages ----
    val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var page = new Array[Byte](pageLen)
    var nSub = 0
    var tail = pageLen
    def flush(): Unit = {
      putU16(page, PageBitOffset, SasCore.PtMeta)
      putU16(page, PageBitOffset + 2, nSub) // blockCount = subheader count
      putU16(page, PageBitOffset + 4, nSub)
      pages += page
      page = new Array[Byte](pageLen); nSub = 0; tail = pageLen
    }
    subheaders.foreach { sh =>
      val ptrEnd = PageBitOffset + 8 + (nSub + 1) * 3 * IntS
      val bodyStart = ((tail - sh.length) / 8) * 8 // 8-aligned
      if (bodyStart < ptrEnd) {
        require(nSub > 0, s"sas7bdat writer: subheader of ${sh.length}B " +
          s"cannot fit an empty $pageLen-byte page")
        flush()
      }
      val start = ((tail - sh.length) / 8) * 8
      System.arraycopy(sh, 0, page, start, sh.length)
      val p = PageBitOffset + 8 + nSub * 3 * IntS
      putI64(page, p, start)
      putI64(page, p + IntS, sh.length)
      page(p + 2 * IntS) = 0     // compression: none
      page(p + 2 * IntS + 1) = 0 // type
      nSub += 1; tail = start
    }
    if (nSub > 0) flush()
    pages.toSeq
  }

  /** SAS RLE (SASYZCRL) encoder — inverse of SasCore.Rle.decompress.
    * Command set: literal copies (0x08-0x0B short, 0x00/0x01 long), byte
    * fills (0x0C short / 0x04 long), and dedicated space/@/zero fills
    * (0x0D-0x0F short, 0x05-0x07 long). The FIRST control byte is kept
    * out of {0x00, 0xF6, 0xF7, 0xFC, 0xFD, 0xFE, 0xFF} so an encoded row
    * can never collide with a metadata subheader signature (readers
    * route pointers by signature first); when the natural first op would
    * start with one of those, a 1-byte literal copy (0x08) is emitted
    * first. Returns null when the encoding is not strictly smaller than
    * the raw row. */
  private[writers] def rleEncode(row: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len)
    var i = 0 // position within the row slice
    var litStart = 0 // pending literal run start
    def emitLiteral(s0: Int, n0: Int): Unit = {
      var s = s0; var n = n0
      while (n > 0) {
        val t = math.min(n, 4159)
        if (t <= 16) out.write(0x80 | (t - 1))
        else if (t <= 32) out.write(0x90 | (t - 17))
        else if (t <= 48) out.write(0xA0 | (t - 33))
        else if (t <= 64) out.write(0xB0 | (t - 49))
        else { val c = t - 64; out.write((c >> 8) & 0x0F); out.write(c & 0xFF) }
        out.write(row, from + s, t)
        s += t; n -= t
      }
    }
    def emitFill(b: Byte, n0: Int): Unit = {
      var n = n0
      val minRun = if (b == 0x20 || b == 0x40 || b == 0x00) 2 else 3
      while (n > 0) {
        var t = math.min(n, 4112)
        // never strand a tail shorter than the shortest fill command
        if (n - t > 0 && n - t < minRun) t = n - minRun
        b match {
          case 0x20 =>
            if (t <= 17) out.write(0xE0 | (t - 2))
            else { val c = t - 17; out.write(0x60 | ((c >> 8) & 0x0F)); out.write(c & 0xFF) }
          case 0x40 =>
            if (t <= 17) out.write(0xD0 | (t - 2))
            else { val c = t - 17; out.write(0x50 | ((c >> 8) & 0x0F)); out.write(c & 0xFF) }
          case 0x00 =>
            if (t <= 17) out.write(0xF0 | (t - 2))
            else { val c = t - 17; out.write(0x70 | ((c >> 8) & 0x0F)); out.write(c & 0xFF) }
          case other =>
            if (t <= 18) { out.write(0xC0 | (t - 3)); out.write(other & 0xFF) }
            else {
              val c = math.min(t, 4113) - 18
              out.write(0x40 | ((c >> 8) & 0x0F)); out.write(c & 0xFF)
              out.write(other & 0xFF)
            }
        }
        n -= t
      }
    }
    def runLen(at: Int): Int = {
      val b = row(from + at)
      var j = at + 1
      while (j < len && row(from + j) == b) j += 1
      j - at
    }
    while (i < len) {
      val r = runLen(i)
      val b = row(from + i)
      val special = b == 0x20 || b == 0x40 || b == 0x00
      val worth = if (special) r >= 2 else r >= 4
      if (worth) {
        if (i > litStart) emitLiteral(litStart, i - litStart)
        emitFill(b, r)
        i += r; litStart = i
      } else i += 1
    }
    if (len > litStart) emitLiteral(litStart, len - litStart)
    val enc = out.toByteArray
    if (enc.length >= len) null
    else {
      val f = enc(0) & 0xff
      if (f == 0x00 || f >= 0xF6) {
        // re-encode with a leading 1-byte literal so the stored head can
        // never alias a subheader signature
        val out2 = new java.io.ByteArrayOutputStream(len)
        out2.write(0x80); out2.write(row(from) & 0xFF)
        val rest = rleEncode(row, from + 1, len - 1)
        if (rest == null) return null
        out2.write(rest)
        val enc2 = out2.toByteArray
        if (enc2.length >= len) null else enc2
      } else enc
    }
  }

  // little-endian primitives over byte arrays
  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putI32(b: Array[Byte], off: Int, v: Int): Unit = {
    var i = 0; var x = v
    while (i < 4) { b(off + i) = (x & 0xff).toByte; x >>= 8; i += 1 }
  }
  private def putI64(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0; var x = v
    while (i < 8) { b(off + i) = (x & 0xff).toByte; x >>= 8; i += 1 }
  }
  private def putAscii(b: Array[Byte], off: Int, s: String, len: Int): Unit = {
    val sb = s.getBytes(StandardCharsets.US_ASCII)
    var i = 0
    while (i < len) { b(off + i) = if (i < sb.length) sb(i) else ' '; i += 1 }
  }
}
