package graft.spark.readstat.writers

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.xpt.XptCore

/** SAS transport (.xpt) v5/v8 writer — same distributed one-job shape
  * (`WritePass`) as the dta/sav writers. 80-byte records, 140-byte
  * namestrs, IBM hex floats. v8 swaps the header record names (LIBV8/MEMBV8/…), carries
  * 32-char member and variable names, and fills the namestr longname
  * field. Record layout follows the public TS-140 spec (behavioral
  * reference: xpt_writer.rs:560-681).
  */
object XptWriterImpl {

  private[writers] case class ColSpec(name: String, short: String, isChar: Boolean,
      width: Int, fmtName: String, fmtW: Int, fmtD: Int, src: DataType)

  /** Parse a SAS format spec ("DATE9", "F8.2", "DOLLAR12.2", trailing dot
    * optional) into (name, width, decimals) — reference
    * xpt_writer.rs:76-90 `parse_format`. */
  private[writers] def parseXptFormat(spec: String): (String, Int, Int) = {
    val s = spec.trim
    val i = s.indexWhere(_.isDigit) match { case -1 => s.length; case n => n }
    val name = s.substring(0, i).reverse.dropWhile(_ == '.').reverse.toUpperCase
    val rest = s.substring(i)
    def num(t: String): Int = {
      val c = t.reverse.dropWhile(_ == '.').reverse
      if (c.isEmpty) 0
      else try c.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"xpt writer: cannot parse format spec '$spec'") }
    }
    val dot = rest.indexOf('.')
    if (dot >= 0) (name, num(rest.substring(0, dot)), num(rest.substring(dot + 1)))
    else (name, num(rest), 0)
  }

  private val Ts = "01JAN26:00:00:00"

  def write(df: DataFrame, path: String, options: Map[String, String],
      known: Option[WriteStats]): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val version = options.getOrElse("xptVersion", "5") match {
      case "5" => 5
      case "8" => 8
      case other => throw new IllegalArgumentException(
        s"xpt writer: xptVersion must be 5 or 8 (got $other)")
    }

    // metadata-df entries seed labels/formats/string widths; explicit
    // options win per key (reference write_xpt_from_df,
    // pybindings.rs:1375-1428: storage_widths built from the frame's
    // string_width_bytes, then explicit overrides merged on top).
    // Metadata labels are truncated to the 40-byte namestr field like
    // the reference (truncate_utf8); explicit labels still fail loudly.
    val meta = options.get("metadataPath")
      .map(p => MetadataDfOptions.read(spark, p))
    // XPT files carry uppercased 8-char names, so metadata read back
    // from an xpt names variables in caps — match case-insensitively
    // (exact match wins when both exist)
    val colSet = schema.fieldNames.toSet
    val colByUpper: Map[String, String] =
      schema.fieldNames.groupBy(_.toUpperCase).collect {
        case (u, arr) if arr.length == 1 => u -> arr(0)
      }
    def metaFil[T](m: MetadataDfOptions => Map[String, T]): Map[String, T] =
      meta.map { o =>
        m(o).flatMap { case (k, v) =>
          if (colSet(k)) Some(k -> v)
          else colByUpper.get(k.toUpperCase).map(_ -> v)
        }
      }.getOrElse(Map.empty)
    val explicitLabels = StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    validateXptLabels(explicitLabels, schema.fieldNames.toSet)
    val varLabels =
      metaFil(_.varLabels).map { case (c, l) =>
        c -> l.take(40).filter(_ <= 0xFF)
      } ++ explicitLabels
    val tableName = options.getOrElse("tableName", "")
    val maxName = if (version >= 8) 32 else 8
    require(tableName.length <= maxName && tableName.forall(_ <= 0x7E),
      s"xpt writer: tableName must be at most $maxName printable-ASCII " +
        s"characters for xpt v$version")
    val fileLabel = options.getOrElse("fileLabel", "")
    require(fileLabel.length <= 40 && fileLabel.forall(_ <= 0xFF),
      "xpt writer: fileLabel must be at most 40 Latin-1 characters")

    // per-variable SAS display formats (reference xpt_writer.rs
    // with_variable_formats + parse_format): "col:F8.2|d:DATE9."
    val varFormats: Map[String, (String, Int, Int)] = {
      // metadata formats are best-effort (skip unparseable / over-long
      // names); explicit entries still validate loudly below
      val metaF = metaFil(_.formats).flatMap { case (c, spec) =>
        try {
          val f = parseXptFormat(spec)
          if (f._1.length <= 8) Some(c -> f) else None
        } catch { case _: IllegalArgumentException => None }
      }
      metaF ++ StataDtaWriter.parseVarLabels(options.getOrElse("varFormats", ""))
        .map { case (c, f) => c -> parseXptFormat(f) }
    }
    val unknownFmt0 = varFormats.keySet.diff(schema.fieldNames.toSet)
    require(unknownFmt0.isEmpty,
      s"xpt writer: varFormats names unknown column(s): ${unknownFmt0.mkString(", ")}")
    varFormats.foreach { case (c, (n, _, _)) =>
      require(n.length <= 8,
        s"xpt writer: varFormats.$c format name '$n' exceeds the 8-byte namestr field")
    }

    // value labels: XPT files carry NO label records (reference
    // docs/read.md:148), so like the sas7bdat writer the labels go to a
    // sibling .sas7bcat and labeled columns get a generated format name
    // in their namestr — `.option("catalog", …)` on read joins them
    // back. Explicit varFormats entries still win.
    val valueLabels = SasCsvBundleWriter.parseAnyValueLabels(
      options.getOrElse("valueLabels", ""))
    val unknownVl = valueLabels.keySet.diff(schema.fieldNames.toSet)
    require(unknownVl.isEmpty,
      s"xpt writer: valueLabels names unknown column(s): ${unknownVl.mkString(", ")}")
    val catFmtNames = SasBinaryWriter.labelFormatNames(schema, valueLabels)
    val varFormatsL: Map[String, (String, Int, Int)] =
      catFmtNames.map { case (c, n) => c -> ((n, 0, 0)) } ++ varFormats
    def writeCatalog(): Unit = if (valueLabels.nonEmpty) {
      val catPath = options.getOrElse("catalogPath",
        if (options.get("multiFile").exists(_.toBoolean)) s"$path/formats.sas7bcat"
        else path.replaceAll("(?i)\\.xpt[589]?$", "") + ".sas7bcat")
      SasBinaryWriter.writeLabelCatalog(catPath, schema, valueLabels,
        catFmtNames, "xpt")
    }

    // per-variable byte storage widths (reference xpt_writer.rs:470-499
    // with_storage_widths). Numeric: 3-8 bytes, the IBM float is cut to
    // the leading w bytes (loud range check where the reference clamps
    // silently — a clamp would hide a typo'd width). Character: the
    // declared width may PAD beyond the observed maximum (stable layout
    // across files) but never truncate data — the reference always uses
    // the observed width and only warns; truncation here is an error.
    val storageWidths: Map[String, Int] =
      StataDtaWriter.parseVarLabels(options.getOrElse("storageWidths", ""))
        .map { case (c, v) =>
          val w = try v.trim.toInt catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"xpt writer: storageWidths.$c must be an integer (got '$v')") }
          c -> w
        }
    val unknownW = storageWidths.keySet.diff(schema.fieldNames.toSet)
    require(unknownW.isEmpty,
      s"xpt writer: storageWidths names unknown column(s): ${unknownW.mkString(", ")}")
    // metadata string widths are pad-only hints (source-file layout):
    // the observed maximum always wins when longer, never an error
    val metaStrWidths: Map[String, Int] = metaFil(_.stringWidths)
      .filter { case (c, w) => schema(c).dataType == StringType && w >= 1 }
    // write-side tagged missings (.A-.Z/._, mirroring the dta writer's
    // option): a string indicator column drives the first byte of the
    // missing slot; the indicator is dropped from the output — inverse
    // of the read-side informativeNulls capture for XPT
    val taggedMissings: Map[String, String] =
      StataDtaWriter.parseVarLabels(options.getOrElse("taggedMissings", ""))
        .map { case (d, ind) => d -> ind.trim }
    taggedMissings.foreach { case (dataCol, indCol) =>
      require(schema.fieldNames.contains(dataCol),
        s"xpt writer: taggedMissings names unknown column '$dataCol'")
      require(schema.fieldNames.contains(indCol),
        s"xpt writer: taggedMissings.$dataCol indicator column '$indCol' not found")
      require(schema(indCol).dataType == StringType,
        s"xpt writer: taggedMissings.$dataCol indicator '$indCol' must be a string column")
      require(schema(dataCol).dataType != StringType,
        s"xpt writer: taggedMissings.$dataCol targets a string column — " +
          "tags ride numeric missing slots only")
    }
    val indicatorCols = taggedMissings.values.toSet
    require(taggedMissings.keySet.intersect(indicatorCols).isEmpty,
      "xpt writer: a taggedMissings indicator column cannot itself be tagged")
    val writtenFields = schema.fields.filterNot(f => indicatorCols(f.name))
    require(writtenFields.nonEmpty, "xpt writer: taggedMissings drops every column")
    // ---- record layout from the stats: max string octet widths ----
    val layoutOf = (st: WriteStats) =>
      colSpecs(writtenFields, varFormatsL, storageWidths, metaStrWidths, st)
    val ordinalsArr: Array[Int] = writtenFields.map(f => schema.fieldIndex(f.name))
    val tagOrdinalsArr: Array[Int] = writtenFields.map(f =>
      taggedMissings.get(f.name).map(schema.fieldIndex).getOrElse(-1))

    // ---- multiFile mode: one self-contained .xpt per partition ----
    // (same contract as the dta/sav writers; the XPT header carries no
    // row count, so each part is just header + its records + 80-pad)
    if (options.get("multiFile").exists(_.toBoolean)) {
      val st = known.getOrElse(WriteStats.of(df))
      val nObs = st.rows
      val cols = layoutOf(st)
      val specsB = spark.sparkContext.broadcast(cols)
      val ordsB = spark.sparkContext.broadcast(ordinalsArr)
      val tagOrdsB = spark.sparkContext.broadcast(tagOrdinalsArr)
      val partPrefix = MultiFileParts.prepare(new File(path), "xpt", options)
      val header = buildHeader(cols, version, varLabels, tableName, fileLabel)
      val counts: Array[Long] =
        df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          if (!it.hasNext) Iterator.empty
          else {
            val specs = specsB.value
            val partPath = s"$path/$partPrefix" + f"$pid%05d.xpt"
            var rows = 0L
            AtomicFile.write(partPath) { tmp =>
            val out = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20)
            out.write(header)
            val enc = new XptRowEncoder(specs, out, ordsB.value, tagOrdsB.value)
            it.foreach(enc.encode)
            rows = enc.rows
            val partRowLen = specs.map(_.width).sum
            val rem = ((rows * partRowLen) % 80).toInt
            if (rem != 0) {
              val pad = new Array[Byte](80 - rem)
              java.util.Arrays.fill(pad, ' '.toByte)
              out.write(pad)
            }
            out.close()
            val fix = java.nio.channels.FileChannel.open(Paths.get(tmp),
              StandardOpenOption.READ, StandardOpenOption.WRITE)
            try pandasTailFix(fix, header.length.toLong, partRowLen, rows)
            finally fix.close()
            }
            Iterator(rows)
          }
        }.collect()
      require(counts.sum == nObs, s"row count drift: agg=$nObs write=${counts.sum}")
      writeCatalog()
      return
    }

    val encode: WritePass.Encode[Array[ColSpec], String] = (cols, _, rows, scratch) => {
      val f = scratch("xpt")
      val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
      try {
        val enc = new XptRowEncoder(cols, out, ordinalsArr, tagOrdinalsArr)
        rows.foreach(enc.encode)
      } finally out.close()
      f.getAbsolutePath
    }
    WritePass.run(df, options, known, layoutOf, encode) { pass =>
      val cols = pass.layout
      val header = buildHeader(cols, version, varLabels, tableName, fileLabel)
      AtomicFile.write(path) { tmpOut =>
        val ch = java.nio.channels.FileChannel.open(Paths.get(tmpOut),
          StandardOpenOption.CREATE, StandardOpenOption.READ,
          StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
        try {
          ch.write(java.nio.ByteBuffer.wrap(header))
          var written = 0L
          pass.chunks.foreach { c =>
            val in = java.nio.channels.FileChannel.open(Paths.get(c), StandardOpenOption.READ)
            try { var p = 0L; val n = in.size()
              while (p < n) p += in.transferTo(p, n - p, ch)
              written += n
            } finally in.close()
          }
          // pad data section to an 80-byte boundary with spaces
          val rem = (written % 80).toInt
          if (rem != 0) {
            val pad = new Array[Byte](80 - rem)
            java.util.Arrays.fill(pad, ' '.toByte)
            ch.write(java.nio.ByteBuffer.wrap(pad))
          }
          pandasTailFix(ch, header.length.toLong, cols.map(_.width).sum, pass.stats.rows)
        } finally ch.close()
      }
    }
    writeCatalog()
  }

  /** Column specs from the stats. A numeric `storageWidths` entry cuts
    * the IBM float to 3-8 bytes; a character one may pad beyond the
    * observed maximum but never truncate it. */
  private def colSpecs(writtenFields: Array[StructField],
      varFormatsL: Map[String, (String, Int, Int)], storageWidths: Map[String, Int],
      metaStrWidths: Map[String, Int], st: WriteStats): Array[ColSpec] = {
    def widths(c: String): Int = math.max(1, math.min(200, st.octets(c)))
    val used = scala.collection.mutable.Set[String]()
    writtenFields.map { f =>
      var short = f.name.toUpperCase.filter(c => c.isLetterOrDigit || c == '_').take(8)
      if (short.isEmpty || !short(0).isLetter) short = ("V" + short).take(8)
      var cand = short; var i = 1
      while (!used.add(cand)) { val s = i.toString; cand = short.take(8 - s.length) + s; i += 1 }
      // user format wins; Date/Datetime keep their defaults otherwise
      // (reference default_format_for_kind, xpt_writer.rs:135-142)
      def fmtFor(dflt: String): (String, Int, Int) =
        varFormatsL.getOrElse(f.name,
          if (dflt.isEmpty) ("", 0, 0) else parseXptFormat(dflt))
      def numWidth: Int = storageWidths.get(f.name) match {
        case Some(w) =>
          require(w >= 3 && w <= 8,
            s"xpt writer: storageWidths.${f.name} must be 3-8 bytes for a " +
              s"numeric column (got $w)")
          w
        case None => 8
      }
      def charWidth: Int = {
        val observed = widths(f.name)
        storageWidths.get(f.name) match {
          case Some(w) =>
            require(w >= observed,
              s"xpt writer: storageWidths.${f.name}=$w would truncate data " +
                s"(observed maximum string length $observed bytes)")
            w
          case None => math.max(observed, metaStrWidths.getOrElse(f.name, 1))
        }
      }
      f.dataType match {
        case StringType =>
          val (n, w, d) = fmtFor("")
          ColSpec(f.name, cand, isChar = true, charWidth, n, w, d, f.dataType)
        case DateType =>
          val (n, w, d) = fmtFor("DATE9")
          ColSpec(f.name, cand, isChar = false, numWidth, n, w, d, f.dataType)
        case TimestampType | TimestampNTZType =>
          val (n, w, d) = fmtFor("DATETIME20")
          ColSpec(f.name, cand, isChar = false, numWidth, n, w, d, f.dataType)
        case _: TimeType => // reference xpt_writer.rs:139 TIME8
          val (n, w, d) = fmtFor("TIME8")
          ColSpec(f.name, cand, isChar = false, numWidth, n, w, d, f.dataType)
        case ByteType | ShortType | IntegerType | LongType | BooleanType |
             FloatType | DoubleType | _: DecimalType =>
          val (n, w, d) = fmtFor("")
          ColSpec(f.name, cand, isChar = false, numWidth, n, w, d, f.dataType)
        case other => throw new IllegalArgumentException(
          s"xpt writer: unsupported type $other for ${f.name}")
      }
    }
  }

  /** pandas' xport reader estimates the row count by subtracting
    * 8-byte-ALIGNED all-space blocks found anywhere in the FINAL 80-byte
    * card (its tail-pad heuristic). Real char data whose trailing spaces
    * form such blocks makes it UNDERCOUNT — pandas silently drops the
    * last row(s); measured on a streamed 5002-row file with a 24-byte
    * char column (5001 rows read). When the tail as written would be
    * miscounted AND one fully-blank extra card makes the heuristic
    * exact, append it: readstat-style readers (including ours) cut
    * trailing all-blank rows inside the final card either way, so the
    * extra card is invisible to them, while pandas then sees tail_pad=80
    * and counts exactly. When neither layout is exact (pad ≥ rowLen
    * corner), keep the spec-minimal pad. Call with the channel holding a
    * complete, boundary-padded file. */
  private[writers] def pandasTailFix(ch: java.nio.channels.FileChannel,
      dataStart: Long, rowLen: Int, nRows: Long): Unit = {
    val end = ch.size()
    val dataLen = end - dataStart
    if (dataLen < 80 || rowLen <= 0) return
    val card = java.nio.ByteBuffer.allocate(80)
    var read = 0
    while (read < 80) {
      val n = ch.read(card, end - 80 + read)
      if (n < 0) return
      read += n
    }
    var blocks = 0
    var i = 0
    while (i < 80) {
      var all = true
      var j = 0
      while (j < 8) { if (card.get(i + j) != ' ') all = false; j += 1 }
      if (all) blocks += 1
      i += 8
    }
    val pandasRows = (dataLen - 8L * blocks) / rowLen
    if (pandasRows != nRows && dataLen / rowLen == nRows) {
      val blank = new Array[Byte](80)
      java.util.Arrays.fill(blank, ' '.toByte)
      ch.position(end)
      ch.write(java.nio.ByteBuffer.wrap(blank))
    }
  }

  /** Per-partition specialized row encoder (same rationale as the
    * dta/sav writers): source-type dispatch resolves once per column and
    * each row encodes into a reusable buffer with one stream write. */
  private[writers] final class XptRowEncoder(specs: Array[ColSpec],
      out: java.io.OutputStream,
      ordinals: Array[Int] = null, tagOrdinals: Array[Int] = null) {
    private val rowLen = specs.map(_.width).sum
    private val buf = new Array[Byte](math.max(rowLen, 1))
    private val offs = specs.scanLeft(0)(_ + _.width)
    private val ords: Array[Int] =
      if (ordinals != null) ordinals else specs.indices.toArray
    private val tagOrds: Array[Int] =
      if (tagOrdinals != null) tagOrdinals else Array.fill(specs.length)(-1)
    var rows = 0L

    private type Cell = org.apache.spark.sql.catalyst.InternalRow => Unit

    /** First byte of a missing numeric slot: '.' plain, 'A'-'Z'/'_' for
      * the tagged user missings the read side surfaces as ".A"-".Z"/"._". */
    private def missTag(row: org.apache.spark.sql.catalyst.InternalRow,
        tag: Int): Byte = {
      if (tag < 0 || row.isNullAt(tag)) return '.'.toByte
      val t = row.getUTF8String(tag).toString.trim.toUpperCase
      if (t.isEmpty || t == ".") '.'.toByte
      else if (t.length == 2 && t.charAt(0) == '.' &&
          ((t.charAt(1) >= 'A' && t.charAt(1) <= 'Z') || t.charAt(1) == '_'))
        t.charAt(1).toByte
      else throw new IllegalArgumentException(
        s"xpt writer: taggedMissings indicator value '$t' is not '.' or " +
          "'.A'-'.Z'/'._'")
    }

    /** `si` indexes the SPEC/offset tables; `i` is the input-row
      * ordinal. They diverge when taggedMissings drops an indicator
      * column that precedes a written one — conflating them (the r12
      * bug this signature fixes) wrote cells at the dropped column's
      * offsets and ran past the row buffer. */
    private def buildCell(spec: ColSpec, si: Int, i: Int, tag: Int): Cell = {
      val off = offs(si)
      if (spec.isChar) {
        val w = spec.width
        row => {
          java.util.Arrays.fill(buf, off, off + w, ' '.toByte)
          if (!row.isNullAt(i)) {
            val s = row.getUTF8String(i).toString.getBytes(StandardCharsets.ISO_8859_1)
            System.arraycopy(s, 0, buf, off, math.min(s.length, w))
          }
        }
      } else {
        val get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Double =
          spec.src match {
            case DateType => // internal = days since 1970
              (r, j) => r.getInt(j).toDouble + graft.core.sas.SasCore.EpochShiftDays
            case TimestampType | TimestampNTZType =>
              // internal = micros since epoch → SAS datetime seconds
              (r, j) => r.getLong(j) / 1000000.0 +
                graft.core.sas.SasCore.EpochShiftDays.toDouble * 86400
            case _: TimeType =>
              // internal = nanos-of-day → SAS time seconds-of-day
              // (reference xpt_writer.rs:355 divides ns by 1e9 the same)
              (r, j) => r.getLong(j) / 1e9
            case ByteType => (r, j) => r.getByte(j).toDouble
            case ShortType => (r, j) => r.getShort(j).toDouble
            case IntegerType => (r, j) => r.getInt(j).toDouble
            case LongType => (r, j) => r.getLong(j).toDouble
            case BooleanType => (r, j) => if (r.getBoolean(j)) 1.0 else 0.0
            case FloatType => (r, j) => r.getFloat(j).toDouble
            case dt: DecimalType =>
              (r, j) => r.getDecimal(j, dt.precision, dt.scale).toDouble
            case _ => (r, j) => r.getDouble(j)
          }
        val w = spec.width
        if (w == 8) { row =>
          if (row.isNullAt(i)) {
            java.util.Arrays.fill(buf, off, off + 8, 0.toByte)
            buf(off) = missTag(row, tag)
          } else XptCore.doubleToIbmInto(get(row, i), buf, off)
        } else {
          // truncated numeric storage (3-8 bytes): the leading w bytes of
          // the IBM float, like the reference (xpt_writer.rs:735-736);
          // readers zero-pad the mantissa tail back out
          val tmp = new Array[Byte](8)
          row =>
            if (row.isNullAt(i)) {
              java.util.Arrays.fill(buf, off, off + w, 0.toByte)
              buf(off) = missTag(row, tag)
            } else {
              XptCore.doubleToIbmInto(get(row, i), tmp, 0)
              System.arraycopy(tmp, 0, buf, off, w)
            }
        }
      }
    }

    private val cells: Array[Cell] =
      specs.zipWithIndex.map { case (s, i) => buildCell(s, i, ords(i), tagOrds(i)) }

    def encode(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var i = 0
      while (i < cells.length) { cells(i)(row); i += 1 }
      out.write(buf, 0, rowLen)
      rows += 1
    }
  }

  /** XPT namestr labels are 40 bytes of ISO-8859-1: reject longer or
    * non-Latin-1 labels loudly instead of writing '????' mojibake or a
    * silent cut (LABELV8 long-label records are not implemented). */
  private[writers] def validateXptLabels(varLabels: Map[String, String],
      colNames: Set[String]): Unit = {
    val unknown = varLabels.keySet.diff(colNames)
    require(unknown.isEmpty,
      s"xpt writer: varLabels names unknown column(s): ${unknown.mkString(", ")}")
    varLabels.foreach { case (c, l) =>
      require(l.length <= 40,
        s"xpt writer: varLabels.$c exceeds the 40-character namestr label field")
      require(l.forall(_ <= 0xFF),
        s"xpt writer: varLabels.$c contains non-Latin-1 characters — " +
          "xpt labels are ISO-8859-1")
    }
  }

  private[writers] def buildHeader(cols: Array[ColSpec], version: Int,
      varLabels: Map[String, String] = Map.empty,
      tableName: String = "", fileLabel: String = ""): Array[Byte] = {
    val v8 = version >= 8
    val o = new java.io.ByteArrayOutputStream()
    def rec(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.ISO_8859_1)
      o.write(b, 0, math.min(80, b.length))
      (b.length until 80).foreach(_ => o.write(' '))
    }
    def hdr(name: String, n1: Int, n2: Int, n3: Int, n4: Int, n5: Int, n6: Int): Unit =
      rec(f"HEADER RECORD*******$name%-8sHEADER RECORD!!!!!!!$n1%05d$n2%05d$n3%05d$n4%05d$n5%05d$n6%05d")

    hdr(if (v8) "LIBV8" else "LIBRARY", 0, 0, 0, 0, 0, 0)
    rec(f"${"SAS"}%-8s${"SAS"}%-8s${"SASLIB"}%-8s${"6.06"}%-8s${"bsd4.2"}%-8s${""}%-24s$Ts%16s")
    rec(Ts)
    hdr(if (v8) "MEMBV8" else "MEMBER", 0, 0, 0, 160, 0, 140)
    hdr(if (v8) "DSCPTV8" else "DSCRPTR", 0, 0, 0, 0, 0, 0)
    // dataset name (reference with_table_name: 8 chars at v5, 32 at v8)
    // and the 40-char dataset label (with_file_label)
    val dsName = if (tableName.isEmpty) "DATASET" else tableName
    if (v8) // member record carries a 32-char dataset name in v8
      rec(f"${"SAS"}%-8s$dsName%-32s${"SASDATA"}%-8s${"6.06"}%-8s${"bsd4.2"}%-8s$Ts%16s")
    else
      rec(f"${"SAS"}%-8s$dsName%-8s${"SASDATA"}%-8s${"6.06"}%-8s${"bsd4.2"}%-8s${""}%-24s$Ts%16s")
    rec(f"$Ts%16s${""}%16s$fileLabel%-40s${""}%-8s")
    hdr(if (v8) "NAMSTV8" else "NAMESTR", 0, cols.length, 0, 0, 0, 0)

    // namestrs (140 bytes each), then pad to 80-byte boundary
    val ns = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { ns.write((v >> 8) & 0xff); ns.write(v & 0xff) }
    def u32(v: Int): Unit = { u16((v >> 16) & 0xffff); u16(v & 0xffff) }
    def pad(s: String, n: Int): Unit = {
      val b = s.getBytes(StandardCharsets.ISO_8859_1)
      ns.write(b, 0, math.min(n, b.length))
      (b.length until n).foreach(_ => ns.write(' '))
    }
    var pos = 0
    cols.zipWithIndex.foreach { case (c, i) =>
      val (fmtName, fmtW, fmtD) = (c.fmtName, c.fmtW, c.fmtD)
      u16(if (c.isChar) 2 else 1) // ntype
      u16(0)                      // nhfun
      u16(c.width)                // nlng
      u16(i + 1)                  // nvar0
      pad(c.short, 8)             // nname
      // nlabel: user-declared variable label (reference xpt writer's
      // labels support), else the long column name as before
      pad(varLabels.getOrElse(c.name, c.name).take(40), 40)
      pad(fmtName, 8)             // nform
      u16(fmtW); u16(fmtD)        // nfl/nfd
      u16(0)                      // nfj
      pad("", 2)                  // nfill
      pad("", 8)                  // niform
      u16(0); u16(0)              // nifl/nifd
      u32(pos)                    // npos
      pad(c.name.take(32), 32)    // longname
      u16(0)                      // labeln
      pad("", 18)
      pos += c.width
    }
    val nsB = ns.toByteArray
    o.write(nsB)
    val rem = nsB.length % 80
    if (rem != 0) (rem until 80).foreach(_ => o.write(' '))

    hdr(if (v8) "OBSV8" else "OBS", 0, 0, 0, 0, 0, 0)
    o.toByteArray
  }
}
