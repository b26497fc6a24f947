package graft.spark.readstat.writers

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

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
  * file at every point. Prefix and trailer come from the batch writer's
  * own frame function (`StataDtaWriter.frame`, with an empty strL
  * section). The commit protocol, exactly-once sidecar state, and
  * crash-healing live in [[StreamSinkCore]], shared with the other
  * sinks; on a multi-node cluster `scratchDir` must be shared storage,
  * like the batch writer.
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
    // no strL in the sink: the GSO section stays empty
    StreamSinkCore.commitEpoch("stata", path, epochId, queryId, schemaHash,
      chunks, rowLen)(StreamSinkCore.fixedWidth("stata", rowLen, { total =>
        val (pre, tail) = StataDtaWriter.frame(version, cols, total, 0L,
          valueLabels, varLabels)
        (pre, FileAssembler.bytes(StataDtaWriter.DataClose ++ tail))
      }))
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
