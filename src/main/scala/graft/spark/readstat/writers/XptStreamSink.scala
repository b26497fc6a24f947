package graft.spark.readstat.writers


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** SINGLE-FILE streaming .xpt sink — BEYOND the reference (streaming
  * sink is Stata-only there). XPT is the simplest append format of the
  * three: the header carries NO row count, records are fixed-width, and
  * the only invariant is that the data section is space-padded to an
  * 80-byte boundary at EOF. An epoch commit writes the constant header
  * once, splices new chunks at `header + rows·rowLen` (over the previous
  * commit's padding), re-pads with the batch writer's own end
  * (`XptWriterImpl.finish`), truncates, and fsyncs. Row count lives
  * ONLY in the sidecar state — exactly the property that makes the
  * format appendable. Same declared-width/exactly-once/crash-healing
  * contract as [[StataStreamSink]] (shared [[StreamSinkCore]] protocol).
  */
object XptStreamSink extends StreamSinkCore.Format {

  import XptWriterImpl.ColSpec

  private[writers] def streamColSpecs(schema: StructType,
      options: Map[String, String]): (Array[ColSpec], Int) = {
    val version = options.getOrElse("xptVersion", "5") match {
      case "5" => 5
      case "8" => 8
      case other => throw new IllegalArgumentException(
        s"xpt streaming sink: xptVersion must be 5 or 8 (got $other)")
    }
    val defaultW = options.get("defaultStrWidth").map(_.toInt).getOrElse(64)
    require(defaultW >= 1 && defaultW <= 200,
      "defaultStrWidth must be in [1, 200] for xpt")
    val used = scala.collection.mutable.Set[String]()
    val cols = schema.fields.map { f =>
      var short = f.name.toUpperCase.filter(c => c.isLetterOrDigit || c == '_').take(8)
      if (short.isEmpty || !short(0).isLetter) short = ("V" + short).take(8)
      var cand = short; var i = 1
      while (!used.add(cand)) { val s = i.toString; cand = short.take(8 - s.length) + s; i += 1 }
      f.dataType match {
        case StringType =>
          val dw = options.get(s"strWidth.${f.name}").map(_.toInt)
            .getOrElse(defaultW)
          require(dw >= 1 && dw <= 200,
            s"strWidth.${f.name} must be in [1, 200] (xpt char cap)")
          ColSpec(f.name, cand, isChar = true, dw, "", 0, 0, f.dataType)
        case DateType =>
          ColSpec(f.name, cand, isChar = false, 8, "DATE", 9, 0, f.dataType)
        case TimestampType | TimestampNTZType =>
          ColSpec(f.name, cand, isChar = false, 8, "DATETIME", 20, 0, f.dataType)
        case _: TimeType =>
          ColSpec(f.name, cand, isChar = false, 8, "TIME", 8, 0, f.dataType)
        case ByteType | ShortType | IntegerType | LongType | BooleanType |
             FloatType | DoubleType | _: DecimalType =>
          ColSpec(f.name, cand, isChar = false, 8, "", 0, 0, f.dataType)
        case other => throw new IllegalArgumentException(
          s"xpt streaming sink: unsupported type $other for ${f.name}")
      }
    }
    // per-variable SAS display formats (the batch writer's varFormats);
    // an explicit entry wins over both the temporal defaults and a
    // generated label format
    val varFormats = StataDtaWriter.parseVarLabels(
      options.getOrElse("varFormats", ""))
      .map { case (c, f) => c -> XptWriterImpl.parseXptFormat(f) }
    val unknownF = varFormats.keySet.diff(schema.fieldNames.toSet)
    require(unknownF.isEmpty,
      s"xpt streaming sink: varFormats names unknown column(s): ${unknownF.mkString(", ")}")
    varFormats.foreach { case (c, (n, _, _)) =>
      require(n.length <= 8,
        s"xpt streaming sink: varFormats.$c format name '$n' exceeds the 8-byte namestr field")
    }
    // value labels ride a sibling .sas7bcat, like the batch xpt writer:
    // labeled columns get a generated format name in their namestr (the
    // constant header), the catalog rewrites at each commit
    val valueLabels = SasCsvBundleWriter.parseAnyValueLabels(
      options.getOrElse("valueLabels", ""))
    val unknownVl = valueLabels.keySet.diff(schema.fieldNames.toSet)
    require(unknownVl.isEmpty,
      s"xpt streaming sink: valueLabels names unknown column(s): ${unknownVl.mkString(", ")}")
    val catF = SasBinaryWriter.labelFormatNames(schema, valueLabels)
    val formatted = cols.map { c =>
      varFormats.get(c.name) match {
        case Some((n, w, d)) => c.copy(fmtName = n, fmtW = w, fmtD = d)
        case None if c.fmtName.isEmpty && catF.contains(c.name) =>
          c.copy(fmtName = catF(c.name), fmtW = 0, fmtD = 0)
        case None => c
      }
    }
    (formatted, version)
  }

  override def commit(path: String, epochId: Long, queryId: String,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String]): Unit =
    commitEpoch(path, epochId, chunks, schema, options, queryId)

  def commitEpoch(path: String, epochId: Long,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String], queryId: String = ""): Unit = {
    require(!options.contains("metadataPath"),
      "xpt streaming sink: metadataPath is not supported — use the batch writer")
    val (cols, version) = streamColSpecs(schema, options)
    val rowLen = cols.map(_.width).sum
    val varLabels = StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    XptWriterImpl.validateXptLabels(varLabels, schema.fieldNames.toSet)
    // tableName/fileLabel live in the constant-length member/descriptor
    // header records (same validation as the batch writer)
    val tableName = options.getOrElse("tableName", "")
    val maxName = if (version >= 8) 32 else 8
    require(tableName.length <= maxName && tableName.forall(_ <= 0x7E),
      s"xpt streaming sink: tableName must be at most $maxName " +
        s"printable-ASCII characters for xpt v$version")
    val fileLabel = options.getOrElse("fileLabel", "")
    require(fileLabel.length <= 40 && fileLabel.forall(_ <= 0xFF),
      "xpt streaming sink: fileLabel must be at most 40 Latin-1 characters")
    // declared formats (explicit varFormats or generated label formats)
    // live in the constant header's namestrs: appending with DIFFERENT
    // ones would silently re-declare formats for committed rows, so they
    // join the fingerprint when present — as do tableName/fileLabel,
    // which the header declares once (plain files keep their
    // pre-existing hashes byte-identical)
    val vls = SasCsvBundleWriter.parseAnyValueLabels(
      options.getOrElse("valueLabels", ""))
    val declaredFmts = vls.nonEmpty ||
      options.get("varFormats").exists(_.trim.nonEmpty)
    val schemaHash = StreamSinkCore.hashSpecs(
      cols.map(c => s"${c.name}|${c.isChar}|${c.width}").toIndexedSeq
        ++ (if (declaredFmts)
          Seq("|fmts:" + cols.map(c =>
            s"${c.fmtName}.${c.fmtW}.${c.fmtD}").mkString(",")) else Nil)
        ++ (if (tableName.nonEmpty || fileLabel.nonEmpty)
          Seq(s"|ds:$tableName|lbl:$fileLabel") else Nil))
    val header = XptWriterImpl.buildHeader(cols, version, varLabels,
      tableName, fileLabel)
    StreamSinkCore.commitEpoch("xpt", path, epochId, queryId, schemaHash,
      chunks, rowLen)(StreamSinkCore.fixedWidth("xpt", rowLen, total =>
        (header, XptWriterImpl.finish(header.length, rowLen, total))))
    if (vls.nonEmpty) {
      val catPath = options.getOrElse("catalogPath",
        path.replaceAll("(?i)\\.xpt[589]?$", "") + ".sas7bcat")
      SasBinaryWriter.writeLabelCatalog(catPath, schema, vls,
        SasBinaryWriter.labelFormatNames(schema, vls), "xpt streaming sink")
    }
  }

  override def chunkWriter(schema: StructType, options: Map[String, String],
      pid: Int): DataWriter[InternalRow] =
    new XptChunkWriter(schema, options, pid)
}

class XptChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "sxpt", pid) {
  private val (cols, _) = XptStreamSink.streamColSpecs(schema, options)
  private val enc = new XptWriterImpl.XptRowEncoder(cols, out)
  override protected def rowsWritten: Long = enc.rows
  private val strChecks: Array[(Int, Int, String)] =
    cols.zipWithIndex.collect {
      case (c, i) if c.isChar => (i, c.width, c.name)
    }

  override def write(row: InternalRow): Unit = {
    var j = 0
    while (j < strChecks.length) {
      val (i, w, name) = strChecks(j)
      // xpt chars are ISO-8859-1 on disk: one byte per UTF-16 unit. For
      // ASCII (numBytes == numChars) the byte length IS numChars — the
      // allocation-free hot path; only non-ASCII strings fall back to a
      // materialized String for the exact UTF-16 length.
      if (!row.isNullAt(i) && {
        val u = row.getUTF8String(i)
        val nb = u.numBytes()
        (if (nb == u.numChars()) nb else u.toString.length) > w
      })
        throw new IllegalArgumentException(
          s"xpt streaming sink: string in column '$name' exceeds the " +
            s"declared width $w — raise .option(\"strWidth.$name\", ...) (max 200)")
      j += 1
    }
    enc.encode(row)
  }

}
