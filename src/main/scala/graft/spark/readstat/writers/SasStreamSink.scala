package graft.spark.readstat.writers

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

import graft.core.sas.SasCore

/** SINGLE-FILE streaming .sas7bdat sink — completes the sink matrix
  * (dta/sav/xpt/sas7bdat); the reference has no SAS write path at all.
  *
  * sas7bdat is PAGE-structured, so uncompressed rows cannot simply be
  * spliced: they live on DATA pages that each declare their own count.
  * The commit runs inside [[StreamSinkCore.commitEpoch]]'s protocol
  * but repacks the rows itself — the pre-data section (header + META
  * pages) is CONSTANT-LENGTH for a fixed schema, only its embedded
  * row/page counts change, and each epoch (1) rewrites header + meta
  * pages wholesale, (2) re-opens the last committed partial DATA page,
  * appends rows into it and onward pages, patching each page's block
  * count, (3) truncates + fsyncs, and only then (4) advances the
  * sidecar state. Replay skip, schema-fingerprint drift refusal,
  * pre-length guard, and crash-healing (recompute positions from the
  * COMMITTED row count, overwriting any partial bytes) are the shared
  * protocol's.
  *
  * `compression=rle` (SASYZCRL) streams too, with a different append
  * unit: rle rows are variable-width, so positions cannot derive from
  * the row count — instead executors build WHOLE rle pages (per-row
  * compressed subheaders, the batch writer's [[SasBinaryWriter.RlePageEncoder]])
  * and the commit splices complete pageLen-sized pages at the committed
  * page boundary through [[FileAssembler]], carrying the committed DATA-page count in the
  * sidecar's `extra` field (healing truncates to that boundary — the
  * zsav sink's block-index pattern, one number instead of a list
  * because sas pages are fixed-size). Committed pages are immutable:
  * each partition's last page may run short of rows (pages declare
  * their own counts), trading ≤1 page of density per partition per
  * epoch for an append that never rewrites committed data. The
  * compression mode is part of the schema fingerprint, so an
  * uncompressed append to an rle file (or vice versa) is refused as
  * drift rather than producing a mixed-page file.
  */
object SasStreamSink extends StreamSinkCore.Format {

  import SasBinaryWriter.Col

  private[writers] def streamColSpecs(schema: StructType,
      options: Map[String, String]): Array[Col] = {
    val defaultW = options.get("defaultStrWidth").map(_.toInt).getOrElse(64)
    require(defaultW >= 1 && defaultW <= 32767,
      "defaultStrWidth must be in [1, 32767] for sas7bdat")
    val widths: Map[String, Int] = schema.fields
      .filter(_.dataType == StringType).map { f =>
        val w = options.get(s"strWidth.${f.name}").map(_.toInt).getOrElse(defaultW)
        require(w >= 1 && w <= 32767,
          s"strWidth.${f.name} must be in [1, 32767] for sas7bdat")
        f.name -> w
      }.toMap
    val varFormats = StataDtaWriter.parseVarLabels(
      options.getOrElse("varFormats", ""))
    val valueLabels = parseSinkValueLabels(schema, options)
    Seq("varFormats" -> varFormats.keySet,
        "valueLabels" -> valueLabels.keySet).foreach { case (opt, keys) =>
      val unknown = keys.diff(schema.fieldNames.toSet)
      require(unknown.isEmpty,
        s"sas7bdat streaming sink: $opt names unknown column(s): ${unknown.mkString(", ")}")
    }
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType | DateType | TimestampType | TimestampNTZType |
             BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType | _: TimeType => ()
        case other => throw new IllegalArgumentException(
          s"sas7bdat streaming sink: unsupported type $other for ${f.name}")
      }
    }
    // labeled columns reference their generated catalog format, like the
    // batch writer; the catalog is (re)written at every commit. Labels
    // are constant per query, so the format names — which are part of
    // the META pages and the schema fingerprint — stay fixed across
    // epochs; an explicit varFormats entry still wins.
    val catFmtNames = SasBinaryWriter.labelFormatNames(schema, valueLabels)
    val numWidths = SasBinaryWriter.parseStorageWidths(schema, options,
      "sas7bdat streaming sink")
    SasBinaryWriter.layoutSpecs(schema, widths, varFormats, numWidths).map { c =>
      if (c.fmtName.isEmpty && catFmtNames.contains(c.name))
        c.copy(fmtName = catFmtNames(c.name))
      else c
    }
  }

  private[writers] def parseSinkValueLabels(schema: StructType,
      options: Map[String, String]): Map[String, Seq[(String, String)]] =
    SasCsvBundleWriter.parseAnyValueLabels(options.getOrElse("valueLabels", ""))

  private[writers] def isRle(options: Map[String, String]): Boolean =
    options.get("compression").map(_.trim.toLowerCase) match {
      case None | Some("") | Some("none") => false
      case Some("rle") => true
      case Some(other) => throw new IllegalArgumentException(
        s"sas7bdat streaming sink: unknown compression '$other' (expected none|rle)")
    }

  override def chunkWriter(schema: StructType, options: Map[String, String],
      pid: Int): DataWriter[InternalRow] =
    if (isRle(options)) new RleSasChunkWriter(schema, options, pid)
    else new SasChunkWriter(schema, options, pid)

  override def commit(path: String, epochId: Long, queryId: String,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String]): Unit =
    commitEpoch(path, epochId, chunks, schema, options, queryId)

  def commitEpoch(path: String, epochId: Long,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String], queryId: String = ""): Unit = {
    require(!options.contains("metadataPath"),
      "sas7bdat streaming sink: metadataPath is not supported — use the batch writer")
    val rle = isRle(options)
    val specs = streamColSpecs(schema, options)
    val rowLen = specs.map(_.width).sum
    val (pageLen, rowsPerPage) = SasBinaryWriter.pageGeometry(rowLen, rle)
    val varLabels = StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    val unknownL = varLabels.keySet.diff(schema.fieldNames.toSet)
    require(unknownL.isEmpty,
      s"sas7bdat streaming sink: varLabels names unknown column(s): ${unknownL.mkString(", ")}")
    val dsName = options.getOrElse("tableName", {
      val base = new java.io.File(path).getName
      val dot = base.lastIndexOf('.')
      (if (dot > 0) base.substring(0, dot) else base).toUpperCase
    })
    // the rle marker makes compression part of the fingerprint: mixing
    // fixed-row DATA pages and compressed-subheader pages in one file
    // must be refused as drift (the uncompressed hash stays unmarked so
    // pre-existing sidecars keep validating)
    // rle pages also fingerprint their GEOMETRY: pageGeometry's rle
    // variant gained pointer slack (r11), so a rowLen near a page
    // boundary can derive a different pageLen than pages committed by
    // older code — appending with mismatched geometry would mis-parse
    // every committed page, and rowLen alone cannot see it
    val schemaHash = StreamSinkCore.hashSpecs(
      specs.map(c => s"${c.name}|${c.isChar}|${c.width}|${c.fmtName}").toIndexedSeq
        ++ (if (rle) Seq(s"|rle|page:$pageLen") else Nil))

    StreamSinkCore.commitEpoch("sas7bdat", path, epochId, queryId, schemaHash,
      chunks, rowLen) { (state, total, files) =>
      val metaPages = SasBinaryWriter.buildMetaPages(specs, varLabels, total,
        rowLen, pageLen, rowsPerPage, rle)
      val m = metaPages.length
      val preLen = SasBinaryWriter.headerLen.toLong + m.toLong * pageLen
      def prefix(dataPages: Long): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(SasBinaryWriter.buildHeader(pageLen, (m + dataPages).toInt, dsName))
        metaPages.foreach(bos.write)
        bos.toByteArray
      }
      if (rle) {
        // splice whole rle pages at the committed page boundary, carried
        // in the sidecar (rows per page vary); the chunk files ARE page
        // streams (each a multiple of pageLen)
        val prevPages: Long = state.map(_.extra).filter(_.nonEmpty).map { e =>
          try e.toLong catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"sas7bdat streaming sink: corrupt page count '$e' in the " +
                s"sidecar state for $path — refusing to append blindly; " +
                "delete BOTH the sink file and its .stream_state to " +
                "restart from scratch")
          }
        }.getOrElse(0L)
        val newPages = files.map { f =>
          val len = new java.io.File(f).length()
          require(len % pageLen == 0,
            s"sas7bdat streaming sink: rle chunk $f is not page-aligned " +
              s"($len B, page $pageLen B)")
          len / pageLen
        }.sum
        val pages = prevPages + newPages
        StreamSinkCore.assembled("sas7bdat", FileAssembler.Layout(prefix(pages),
          preLen + prevPages * pageLen, FileAssembler.sized(files),
          preLen + pages * pageLen), preLen, pages.toString)
      } else StreamSinkCore.Epoch({ ch =>
        val prevRows = state.map(_.rows).getOrElse(0L)
        val expectPages = (total + rowsPerPage - 1) / rowsPerPage
        ch.position(0L)
        FileAssembler.put(ch, prefix(expectPages))

        def pagePos(i: Long): Long = preLen + i * pageLen
        var pageIdx = prevRows / rowsPerPage
        var fill = (prevRows % rowsPerPage).toInt
        val page = new Array[Byte](pageLen)
        if (fill > 0) {
          // reopen the committed partial page; its first `fill` rows are
          // the healing boundary — everything after them is overwritten
          val buf = ByteBuffer.wrap(page)
          ch.position(pagePos(pageIdx))
          while (buf.hasRemaining && ch.read(buf) >= 0) ()
        }
        def flushPage(): Unit = {
          putU16(page, 32, SasCore.PtData)
          putU16(page, 34, fill)
          putU16(page, 36, 0)
          ch.position(pagePos(pageIdx))
          ch.write(ByteBuffer.wrap(page))
          pageIdx += 1; fill = 0
          java.util.Arrays.fill(page, 0.toByte)
        }
        val rowBuf = new Array[Byte](rowLen)
        files.foreach { f =>
          val in = new java.io.BufferedInputStream(
            new java.io.FileInputStream(f), 1 << 20)
          try {
            var n = readFully(in, rowBuf)
            while (n == rowLen) {
              System.arraycopy(rowBuf, 0,
                page, SasBinaryWriter.dataPageStart + fill * rowLen, rowLen)
              fill += 1
              if (fill == rowsPerPage) flushPage()
              n = readFully(in, rowBuf)
            }
            require(n == 0,
              s"sas7bdat streaming sink: chunk $f has a torn row ($n of $rowLen bytes)")
          } finally in.close()
        }
        if (fill > 0) flushPage()
        require(pageIdx == expectPages,
          s"sas7bdat streaming sink: page drift at epoch $epochId")
        ch.truncate(pagePos(expectPages))
      }, preLen)
    }
    // sibling catalog for valueLabels, like the batch writer — labels
    // are constant per query so the rewrite is idempotent (and atomic
    // inside SasCatalogWriter), label-table-sized per commit
    val vls = parseSinkValueLabels(schema, options)
    if (vls.nonEmpty) {
      val catPath = options.getOrElse("catalogPath",
        path.replaceAll("(?i)\\.sas7bdat$", "") + ".sas7bcat")
      SasBinaryWriter.writeLabelCatalog(catPath, schema, vls,
        SasBinaryWriter.labelFormatNames(schema, vls),
        "sas7bdat streaming sink")
    }
  }

  private def readFully(in: java.io.InputStream, buf: Array[Byte]): Int = {
    var off = 0
    var n = in.read(buf, off, buf.length - off)
    while (n > 0) {
      off += n
      if (off == buf.length) return off
      n = in.read(buf, off, buf.length - off)
    }
    off
  }

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
}

/** rle chunk writer: the chunk file is a stream of COMPLETE rle pages
  * (the commit splices whole pages, never rows). The encoder flushes a
  * page only when full; commit() flushes the final partial page, so the
  * file length is always a multiple of pageLen. */
class RleSasChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "ssasrle", pid) {
  private val specs = SasStreamSink.streamColSpecs(schema, options)
  private val rowLen = specs.map(_.width).sum
  private val (pageLen, _) = SasBinaryWriter.pageGeometry(rowLen, rle = true)
  private val enc = new SasBinaryWriter.RlePageEncoder(specs, out, pageLen, rowLen)
  override protected def rowsWritten: Long = enc.rowsAdded
  private val strChecks: Array[(Int, Int, String)] =
    specs.collect { case c if c.isChar => (c.ordinal, c.width, c.name) }

  override def write(row: InternalRow): Unit = {
    var j = 0
    while (j < strChecks.length) {
      val (i, w, name) = strChecks(j)
      if (!row.isNullAt(i) && row.getUTF8String(i).numBytes() > w)
        throw new IllegalArgumentException(
          s"sas7bdat streaming sink: string in column '$name' exceeds the " +
            s"declared width $w bytes — raise .option(\"strWidth.$name\", ...)")
      j += 1
    }
    enc.addRow(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    enc.finish()
    super.commit()
  }
}

class SasChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "ssas", pid) {
  private val specs = SasStreamSink.streamColSpecs(schema, options)
  private val rowLen = specs.map(_.width).sum
  private val rowBuf = new Array[Byte](rowLen)
  private var rows = 0L
  override protected def rowsWritten: Long = rows
  private val strChecks: Array[(Int, Int, String)] =
    specs.collect { case c if c.isChar => (c.ordinal, c.width, c.name) }

  override def write(row: InternalRow): Unit = {
    var j = 0
    while (j < strChecks.length) {
      val (i, w, name) = strChecks(j)
      if (!row.isNullAt(i) && row.getUTF8String(i).numBytes() > w)
        throw new IllegalArgumentException(
          s"sas7bdat streaming sink: string in column '$name' exceeds the " +
            s"declared width $w bytes — raise .option(\"strWidth.$name\", ...)")
      j += 1
    }
    SasBinaryWriter.writeRow(row, specs, rowBuf, 0)
    out.write(rowBuf, 0, rowLen)
    rows += 1
  }
}
