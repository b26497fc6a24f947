package graft.spark.readstat.writers


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** SINGLE-FILE streaming .sav sink — BEYOND the reference (its streaming
  * sink is Stata-only, pybindings.rs:951-1096); included because
  * uncompressed sav is the ideal append format: a constant-length
  * dictionary whose only row-dependent field is `ncases`, then fixed
  * 8-byte-slot records straight to EOF with NO trailer. An epoch commit
  * rewrites the dictionary with the new case count, splices the new
  * chunks at the record boundary, truncates, and fsyncs — the file is a
  * complete valid .sav between commits.
  *
  * Same contract as [[StataStreamSink]] (shared [[StreamSinkCore]]
  * protocol): declared string widths (`strWidth.<col>` /
  * `defaultStrWidth`, over-width strings fail loudly), exactly-once
  * across restarts via the sidecar epoch state, crash-healing by
  * re-truncation. The zsav variant appends whole deflate BLOCKS
  * instead of rows — see [[ZsavStreamSink]].
  */
object SavStreamSink extends StreamSinkCore.Format {

  import SpssSavWriter.{ColSpec, WNum, WStr}

  private[writers] def streamColSpecs(schema: StructType,
      options: Map[String, String]): Array[ColSpec] = {
    val defaultW = options.get("defaultStrWidth").map(_.toInt).getOrElse(256)
    require(defaultW >= 1 && defaultW <= 32767,
      "defaultStrWidth must be in [1, 32767] for sav")
    // same per-variable format option as the batch writer (numeric
    // columns only — validated there); the packed format word keeps the
    // dictionary length unmoved
    val varFormats = SpssSavWriter.parseStreamFormats(schema, options)
    schema.fields.zipWithIndex.map { case (f, i) =>
      val short = s"V${i + 1}"
      f.dataType match {
        case StringType =>
          val dw = options.get(s"strWidth.${f.name}").map(_.toInt)
            .getOrElse(defaultW)
          require(dw >= 1 && dw <= 32767,
            s"strWidth.${f.name} must be in [1, 32767] (sav very-long-string segments)")
          ColSpec(f.name, short, WStr(dw), 1, math.min(dw, 255), 0, f.dataType)
        case DateType => ColSpec(f.name, short, WNum, 20, 11, 0, f.dataType)
        case TimestampType | TimestampNTZType =>
          ColSpec(f.name, short, WNum, 22, 20, 0, f.dataType)
        case _: TimeType => // fmt 21 = TIME8, seconds-of-day
          ColSpec(f.name, short, WNum, 21, 8, 0, f.dataType)
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
          ColSpec(f.name, short, WNum, 5, 8, 0, f.dataType)
        case FloatType | DoubleType | _: DecimalType =>
          ColSpec(f.name, short, WNum, 5, 8, 2, f.dataType)
        case other => throw new IllegalArgumentException(
          s"sav streaming sink: unsupported type $other for ${f.name}")
      }
    }.map { c =>
      varFormats.get(c.name).filter(_ => c.w == WNum) match {
        case Some((t, wd, d)) => c.copy(fmtType = t, fmtWidth = wd, fmtDec = d)
        case None => c
      }
    }
  }

  override def commit(path: String, epochId: Long, queryId: String,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String]): Unit =
    commitEpoch(path, epochId, chunks, schema, options, queryId)

  /** The option/label resolution shared by the sav and zsav sinks:
    * (col specs, value labels, variable labels, measures, schema hash).
    */
  private[writers] def resolveStream(label: String, schema: StructType,
      options: Map[String, String]): (Array[ColSpec],
        Map[String, Seq[(String, String)]], Map[String, String],
        Map[String, String], String) = {
    require(!options.contains("metadataPath"),
      s"$label streaming sink: metadataPath is not supported — pass " +
        "valueLabels as an option, or use the batch writer")
    val cols = streamColSpecs(schema, options)
    // string codes allowed too (type-3 8-byte slots / subtype 21 via
    // the shared dictionary builder); labels are constant per query so
    // the dictionary length stays fixed across epoch commits
    val valueLabels = SasCsvBundleWriter.parseAnyValueLabels(
      options.getOrElse("valueLabels", ""))
    // fixed label/measure text per query → the dictionary length stays
    // constant across commits within a query; cross-query drift is
    // refused by the core's preLen guard before any row is shifted
    val varLabels = StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    val varMeasures = StataDtaWriter.parseVarLabels(
      options.getOrElse("varMeasures", ""))
    varMeasures.values.foreach(v => require(
      Set("nominal", "ordinal", "scale")(v.trim.toLowerCase),
      s"$label streaming sink: varMeasures values must be nominal|ordinal|scale (got $v)"))
    // a typo'd column silently loses the user's label/measure (the
    // lookups below are getOrElse) — fail loudly like the batch writers
    val colNames = schema.fieldNames.toSet
    Seq("varLabels" -> varLabels.keySet, "varMeasures" -> varMeasures.keySet,
        "valueLabels" -> valueLabels.keySet).foreach { case (opt, keys) =>
      val unknown = keys.diff(colNames)
      require(unknown.isEmpty,
        s"$label streaming sink: $opt names unknown column(s): ${unknown.mkString(", ")}")
    }
    // the full fmt triple, not just the type code: an append with the
    // same type but different width/decimals must be refused, not
    // silently re-declare formats for already-committed rows
    val schemaHash = StreamSinkCore.hashSpecs(
      cols.map(c => s"${c.name}|${c.w}|${c.fmtType}.${c.fmtWidth}.${c.fmtDec}").toIndexedSeq)
    (cols, valueLabels, varLabels, varMeasures, schemaHash)
  }

  def commitEpoch(path: String, epochId: Long,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String], queryId: String = ""): Unit = {
    val (cols, valueLabels, varLabels, varMeasures, schemaHash) =
      resolveStream("sav", schema, options)
    val recordLen = cols.map(_.widthUnits).sum * 8
    StreamSinkCore.commitEpoch("sav", path, epochId, queryId, schemaHash,
      chunks, recordLen)(StreamSinkCore.fixedWidth("sav", recordLen, total =>
        (SpssSavWriter.buildDictionary(cols, total, zlib = false,
          valueLabels, varLabels, varMeasures), _ => ())))
  }

  override def chunkWriter(schema: StructType, options: Map[String, String],
      pid: Int): DataWriter[InternalRow] =
    new SavChunkWriter(schema, options, pid)
}

class SavChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "ssav", pid) {
  private val cols = SavStreamSink.streamColSpecs(schema, options)
  private val enc = new SpssSavWriter.SavRowEncoder(cols)
  private var rows = 0L
  override protected def rowsWritten: Long = rows
  private val strChecks: Array[(Int, Int, String)] =
    cols.zipWithIndex.collect {
      case (c, i) if c.src == StringType =>
        (i, c.w.asInstanceOf[SpssSavWriter.WStr].declLen, c.name)
    }

  override def write(row: InternalRow): Unit = {
    var j = 0
    while (j < strChecks.length) {
      val (i, w, name) = strChecks(j)
      if (!row.isNullAt(i) && row.getUTF8String(i).numBytes() > w)
        throw new IllegalArgumentException(
          s"sav streaming sink: string in column '$name' exceeds the " +
            s"declared width $w bytes — raise .option(\"strWidth.$name\", ...)")
      j += 1
    }
    enc.encode(row)
    out.write(enc.buf, 0, enc.recordLen)
    rows += 1
  }

}
