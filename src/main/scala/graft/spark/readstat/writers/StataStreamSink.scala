package graft.spark.readstat.writers

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

import graft.core.Bin
import StataDtaWriter.{ColSpec, RowEncoder, W, WByte, WDouble, WFloat, WInt, WLong, WStr}

/** SINGLE-FILE streaming .dta sink — the Spark-native analog of the
  * reference's `sink_stata` (reference: pybindings.rs:951-1096 +
  * writer.rs:319-370 `write_batches_streaming`): a Structured Streaming
  * query appends micro-batches into ONE .dta file that is a complete,
  * valid Stata file after every epoch commit.
  *
  * Reference parity and the one declared divergence:
  *  - like the reference, strL data is rejected (fixed-width str# only,
  *    strings ≤ 2045 bytes) and out-of-sentinel-range numerics throw;
  *  - the reference sizes string columns with a full PRE-PASS over the
  *    (finite) lazy frame; an unbounded stream cannot be pre-passed, so
  *    widths are DECLARED up front: `strWidth.<col>=N` per column or
  *    `defaultStrWidth` (default 256). A longer string fails loudly with
  *    the option to raise — never silently truncates.
  *
  * File layout trick that makes appends cheap: for a fixed (version,
  * columns, value labels) the byte length of everything before `<data>`
  * — header, map, descriptors — is CONSTANT, and with no strL the
  * trailer after the data section is constant too. So each commit
  * rewrites the (small) prefix with the updated row count and map
  * offsets, splices the new row chunks at the fixed-width data end, and
  * rewrites the trailer — O(new rows + constant) IO per epoch, valid
  * file at every point. The commit protocol, exactly-once sidecar
  * state, and crash-healing live in [[StreamSinkCore]], shared with
  * the sav/xpt sinks; on a multi-node cluster `scratchDir` must be
  * shared storage, like the batch writer.
  */
object StataStreamSink extends StreamSinkCore.Format {

  // spec-facing aliases (the sidecar protocol itself is format-shared)
  type StreamState = StreamSinkCore.StreamState
  def readState(path: String): Option[StreamSinkCore.StreamState] =
    StreamSinkCore.readState(path)

  /** Column specs for streaming: direct dtype mapping (no stats-fold range
    * probe — future batches are unknowable), declared string widths.
    * Sentinel-colliding values throw at encode time, matching the
    * reference's NumericOutOfRange instead of silently corrupting. */
  private[writers] def colSpecs(schema: StructType,
      options: Map[String, String]): (Array[ColSpec], Int) = {
    val defaultW = options.get("defaultStrWidth").map(_.toInt).getOrElse(256)
    require(defaultW >= 1 && defaultW <= StataDtaWriter.MaxStrWidth,
      s"defaultStrWidth must be in [1, ${StataDtaWriter.MaxStrWidth}]")
    // per-variable display formats, same option as the batch writer;
    // dta fmt records are fixed-width, so the prefix length is unmoved
    val varFormats = StataDtaWriter.parseVarLabels(
      options.getOrElse("varFormats", ""))
    varFormats.foreach { case (c, f) =>
      require(f.startsWith("%") && f.getBytes("UTF-8").length <= 56,
        s"stata streaming sink: varFormats.$c must be a %-format of at " +
          "most 56 bytes") }
    val unknownFmt = varFormats.keySet.diff(schema.fieldNames.toSet)
    require(unknownFmt.isEmpty,
      s"stata streaming sink: varFormats names unknown column(s): ${unknownFmt.mkString(", ")}")
    val used = scala.collection.mutable.Set[String]()
    val cols = schema.fields.map { f =>
      val w: W = f.dataType match {
        case BooleanType | ByteType => WByte
        case ShortType => WInt
        case IntegerType | DateType => WLong
        case LongType | DoubleType | TimestampType | TimestampNTZType |
             _: DecimalType => WDouble
        case _: TimeType => WDouble // ms-of-day, %tc time mask below
        case FloatType => WFloat
        case StringType =>
          val dw = options.get(s"strWidth.${f.name}").map(_.toInt)
            .getOrElse(defaultW)
          require(dw >= 1 && dw <= StataDtaWriter.MaxStrWidth,
            s"strWidth.${f.name} must be in [1, ${StataDtaWriter.MaxStrWidth}] " +
              "— the streaming sink has no strL (reference sink_stata parity)")
          WStr(dw)
        case other => throw new IllegalArgumentException(
          s"stata streaming sink: unsupported type $other for ${f.name}")
      }
      val fmt = varFormats.getOrElse(f.name, f.dataType match {
        case DateType => "%td"
        case TimestampType | TimestampNTZType => "%tc"
        case _: TimeType => "%tcHH:MM:SS"
        case StringType => s"%${w.width}s"
        case FloatType | DoubleType | LongType | _: DecimalType => "%10.0g"
        case _ => "%8.0g"
      })
      ColSpec(f.name, StataDtaWriter.stataName(f.name, used), w, fmt, f.dataType)
    }
    val version = if (cols.length > 32767) 119 else 118
    (cols, version)
  }

  /** (prefix bytes through `<data>`, trailer bytes from `</data>`) for
    * the given totals. Both have length INDEPENDENT of nObs/dataBytes —
    * only embedded counts and offsets change — which is what lets a
    * commit rewrite them in place. */
  private[writers] def frame(version: Int, cols: Array[ColSpec], nObs: Long,
      valueLabels: Map[String, Seq[(Int, String)]],
      varLabels: Map[String, String]): (Array[Byte], Array[Byte]) = {
    val k = cols.length
    val layout = graft.core.stata.StataParser.layoutFor(version)
    val cs = graft.core.stata.StataTypes.charsetFor(version)
    val nameLen = layout.varNameLen
    val fmtRecLen = layout.fmtLen
    val varLabelLen = layout.varLabelLen
    val rowLen = cols.map(_.w.width).sum
    val dataBytes = nObs * rowLen
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
    def tag(s: String): Unit = bos.write(ascii(s))

    tag(s"<stata_dta><header><release>$version</release><byteorder>LSF</byteorder><K>")
    if (version >= 119) Bin.putU32(bos, k.toLong) else Bin.putU16(bos, k)
    tag("</K><N>")
    Bin.putU64(bos, nObs) // streaming sink is 118/119 only
    tag("</N><label>")
    Bin.putU16(bos, 0)
    tag("</label><timestamp>")
    bos.write(0)
    tag("</timestamp></header>")

    val mapOff = bos.size().toLong
    val mapLen = 5 + 14 * 8 + 6
    val vtOff = mapOff + mapLen
    val vtLen = 16 + 2 * k + 17
    val vnOff = vtOff + vtLen
    val vnLen = 10 + nameLen * k + 11
    val srtEntryLen = layout.srtEntryLen
    val soOff = vnOff + vnLen
    val soLen = 10 + srtEntryLen * (k + 1) + 11
    val fmtOff = soOff + soLen
    val fmtLen = 9 + fmtRecLen * k + 10
    val vlnOff = fmtOff + fmtLen
    val vlnLen = 19 + nameLen * k + 20
    val vlbOff = vlnOff + vlnLen
    val vlbLen = 17 + varLabelLen * k + 18
    val chOff = vlbOff + vlbLen
    val chLen = 17 + 18
    val dataOff = chOff + chLen
    val dataLen = 6 + dataBytes + 7
    val strlOff = dataOff + dataLen
    val strlLen = 7L + 8L // empty <strls></strls>
    val vlTables = StataDtaWriter.buildVlTables(cols, valueLabels, cs)
    val vlBody = vlTables.map { case (_, t) => 5 + 4 + nameLen + 3 + t.length + 6 }.sum
    val vlOff = strlOff + strlLen
    val vlLen = 14 + vlBody + 15
    val endOff = vlOff + vlLen
    val eofOff = endOff + 12

    tag("<map>")
    Seq(0L, mapOff, vtOff, vnOff, soOff, fmtOff, vlnOff, vlbOff, chOff,
      dataOff, strlOff, vlOff, endOff, eofOff).foreach(Bin.putU64(bos, _))
    tag("</map>")
    tag("<variable_types>")
    cols.foreach(c => Bin.putU16(bos, c.w.typeCode))
    tag("</variable_types>")
    tag("<varnames>")
    cols.foreach(c => Bin.putZPad(bos, c.stataName, nameLen, cs))
    tag("</varnames>")
    tag("<sortlist>")
    (0 to k).foreach(_ =>
      if (version >= 119) Bin.putU32(bos, 0L) else Bin.putU16(bos, 0))
    tag("</sortlist>")
    tag("<formats>")
    cols.foreach(c => Bin.putZPad(bos, c.fmt, fmtRecLen, cs))
    tag("</formats>")
    tag("<value_label_names>")
    cols.foreach { c =>
      val lbl = if (valueLabels.contains(c.name) &&
          (c.w == WLong || c.w == WInt || c.w == WByte)) c.stataName else ""
      Bin.putZPad(bos, lbl, nameLen, cs)
    }
    tag("</value_label_names>")
    tag("<variable_labels>")
    cols.foreach(c =>
      Bin.putZPad(bos, varLabels.getOrElse(c.name, ""), varLabelLen, cs))
    tag("</variable_labels>")
    tag("<characteristics></characteristics>")
    tag("<data>")
    val prefix = bos.toByteArray

    val t = new java.io.ByteArrayOutputStream()
    t.write(ascii("</data><strls></strls><value_labels>"))
    vlTables.foreach { case (name, table) =>
      t.write(ascii("<lbl>"))
      Bin.putU32(t, table.length.toLong)
      Bin.putZPad(t, name, nameLen, cs)
      t.write(0); t.write(0); t.write(0)
      t.write(table)
      t.write(ascii("</lbl>"))
    }
    t.write(ascii("</value_labels></stata_dta>"))
    (prefix, t.toByteArray)
  }

  /** Driver-side epoch commit (spec-facing signature; the splice and
    * exactly-once state protocol live in [[StreamSinkCore]]). */
  def commitEpoch(path: String, epochId: Long,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String], queryId: String = ""): Unit = {
    // the batch writer's metadataPath needs a SparkSession mid-commit;
    // silently dropping it would lose every label the user asked for
    require(!options.contains("metadataPath"),
      "stata streaming sink: metadataPath is not supported — pass " +
        "valueLabels as an option, or use the batch writer")
    val (cols, version) = colSpecs(schema, options)
    val rowLen = cols.map(_.w.width).sum
    val valueLabels = StataDtaWriter.parseValueLabels(
      options.getOrElse("valueLabels", ""))
    // variable labels ride in fixed-width zero-padded records, so they
    // never change the prefix length (reference sink_stata accepts the
    // same variable_labels dict, pybindings.rs:963)
    val varLabels = StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    // typo'd columns silently lose labels (getOrElse lookups in frame())
    // — fail loudly like the batch writer does
    val colNames = schema.fieldNames.toSet
    Seq("varLabels" -> varLabels.keySet, "valueLabels" -> valueLabels.keySet)
      .foreach { case (opt, keys) =>
        val unknown = keys.diff(colNames)
        require(unknown.isEmpty,
          s"stata streaming sink: $opt names unknown column(s): ${unknown.mkString(", ")}")
      }
    val schemaHash = StreamSinkCore.hashSpecs(
      cols.map(c => s"${c.name}|${c.w}|${c.fmt}").toIndexedSeq)
    StreamSinkCore.commitEpoch("stata", path, epochId, queryId, schemaHash,
      chunks, rowLen,
      total => frame(version, cols, total, valueLabels, varLabels))
  }

  override def commit(path: String, epochId: Long, queryId: String,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String]): Unit =
    commitEpoch(path, epochId, chunks, schema, options, queryId)

  override def chunkWriter(schema: StructType, options: Map[String, String],
      pid: Int): DataWriter[InternalRow] =
    new StataChunkWriter(schema, options, pid)
}

/** Encodes one partition's rows to a scratch chunk (fixed-width records
  * only — reusing the batch writer's codegen-free hot encoder). */
class StataChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "sdta", pid) {
  private val (cols, version) = StataStreamSink.colSpecs(schema, options)
  // no strL in the streaming sink → the GSO stream must stay empty
  private val gsoGuard = new java.io.OutputStream {
    override def write(b: Int): Unit = throw new IllegalStateException(
      "stata streaming sink: strL write attempted — unreachable by construction")
  }
  private val enc = new RowEncoder(cols,
    version, graft.core.stata.StataTypes.charsetFor(version), 1, out, gsoGuard)
  // strict declared-width check: the batch encoder zero-pads/truncates at
  // the stats-measured exact width, but a stream's widths are declared,
  // so an over-wide string must FAIL (reference sink_stata errors on
  // strL-required data), never silently truncate
  private val strChecks: Array[(Int, Int, String)] =
    cols.zipWithIndex.collect {
      case (c, i) if c.src == StringType =>
        (i, c.w.asInstanceOf[WStr].w, c.name)
    }

  override def write(row: InternalRow): Unit = {
    var j = 0
    while (j < strChecks.length) {
      val (i, w, name) = strChecks(j)
      if (!row.isNullAt(i) && row.getUTF8String(i).numBytes() > w)
        throw new IllegalArgumentException(
          s"stata streaming sink: string in column '$name' exceeds the " +
            s"declared width $w bytes — raise .option(\"strWidth.$name\", ...) " +
            s"(max ${StataDtaWriter.MaxStrWidth}; no strL in the streaming sink)")
      j += 1
    }
    enc.encode(row)
  }

  override protected def rowsWritten: Long = enc.rows
}
