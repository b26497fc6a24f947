package graft.spark.readstat.writers

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}
import java.util.Base64

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._

/** SINGLE-FILE streaming .zsav sink — BEYOND the reference (its streaming
  * sink is Stata-only, pybindings.rs:951-1096) and beyond the repo's own
  * r10 sav/xpt/sas7bdat sinks, which all append fixed-width records.
  * zsav records are deflate-compressed, so the append unit is the BLOCK,
  * not the row: executors bytecode-encode and deflate their partitions
  * into self-contained blocks (the same [[SpssSavWriter.ZsavBlockEncoder]]
  * the batch writer uses — control groups pad to 8 at flush, so every
  * block starts on a group boundary and blocks concatenate freely), and
  * the epoch commit splices the new blocks over the previous commit's
  * terminal block + ztrailer, appends a fresh terminal block and
  * ztrailer, patches the zheader's trailer pointer, and rewrites the
  * dictionary's `ncases`. The file is a complete valid .zsav between
  * commits.
  *
  * The committed block index (one (uncompressed, compressed) size pair
  * per ~4 MiB block — ~2 bytes of sidecar per MiB of data) rides in the
  * sidecar's `extra` field: after a crash mid-splice the file's own
  * ztrailer may already be overwritten, so the next commit rebuilds
  * every offset from the sidecar alone and re-splices over any partial
  * bytes, exactly like the fixed-width sinks' row-boundary healing.
  *
  * Same contract as [[SavStreamSink]] otherwise (shared option
  * resolution): declared string widths, loud over-width failures,
  * exactly-once across restarts scoped to the streaming query id,
  * schema-fingerprint drift refusal, constant dictionary length pinned
  * by the preLen guard — all of it [[StreamSinkCore.commitEpoch]]'s,
  * whose committed data end here is the end of the committed blocks.
  * The zheader and ztrailer come from the batch writer's
  * `SpssSavWriter.zsavFrame`.
  */
object ZsavStreamSink extends StreamSinkCore.Format {

  // ---- sidecar block-index codec: base64 of LE (u32 u, u32 c) pairs ----
  private[writers] def packBlocks(blocks: Seq[(Int, Int)]): String = {
    val bb = ByteBuffer.allocate(8 * blocks.length).order(ByteOrder.LITTLE_ENDIAN)
    blocks.foreach { case (u, c) => bb.putInt(u); bb.putInt(c) }
    Base64.getEncoder.encodeToString(bb.array())
  }

  private[writers] def unpackBlocks(s: String): Seq[(Int, Int)] =
    if (s.isEmpty) Nil
    else {
      val a = Base64.getDecoder.decode(s)
      require(a.length % 8 == 0,
        "zsav streaming sink: corrupt block index in the sidecar state — " +
          "refusing to append blindly; delete BOTH the sink file and its " +
          ".stream_state to restart from scratch")
      val bb = ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
      Seq.fill(a.length / 8)((bb.getInt(), bb.getInt()))
    }

  override def chunkWriter(schema: StructType, options: Map[String, String],
      pid: Int): DataWriter[InternalRow] =
    new ZsavChunkWriter(schema, options, pid)

  override def commit(path: String, epochId: Long, queryId: String,
      chunks: Seq[(Int, String, Long)], schema: StructType,
      options: Map[String, String]): Unit = {
    val (cols, valueLabels, varLabels, varMeasures, schemaHash) =
      SavStreamSink.resolveStream("zsav", schema, options)
    StreamSinkCore.commitEpoch("zsav", path, epochId, queryId, schemaHash,
      chunks, cols.map(_.widthUnits).sum * 8) { (state, total, files) =>
      val prevBlocks = state.map(st => unpackBlocks(st.extra)).getOrElse(Nil)
      // each chunk file = concatenated deflate blocks + a footer of
      // LE (u32 u, u32 c) per block + u32 block count; read the footers
      val parts: Seq[(String, Long, Seq[(Int, Int)])] = files.map { f =>
        val in = FileChannel.open(Paths.get(f), StandardOpenOption.READ)
        try {
          val sz = in.size()
          require(sz >= 4, s"zsav streaming sink: truncated chunk $f")
          val cntBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          in.read(cntBuf, sz - 4)
          val cnt = cntBuf.getInt(0)
          val footerLen = 8L * cnt + 4
          require(cnt >= 0 && footerLen <= sz,
            s"zsav streaming sink: corrupt chunk footer in $f")
          val fb = ByteBuffer.allocate(8 * cnt).order(ByteOrder.LITTLE_ENDIAN)
          in.read(fb, sz - footerLen)
          fb.flip()
          val bl = Seq.fill(cnt)((fb.getInt(), fb.getInt()))
          require(bl.map(_._2.toLong).sum == sz - footerLen,
            s"zsav streaming sink: chunk block-size drift in $f")
          (f, sz - footerLen, bl)
        } finally in.close()
      }
      val dataBlocks = prevBlocks ++ parts.flatMap(_._3)
      val dict = SpssSavWriter.buildDictionary(cols, total, zlib = true,
        valueLabels, varLabels, varMeasures)
      val (pre, tail) = SpssSavWriter.zsavFrame(dict, dataBlocks)
      // the new blocks go over the previous terminal block + ztrailer
      val from = pre.length + prevBlocks.map(_._2.toLong).sum
      StreamSinkCore.assembled("zsav", FileAssembler.Layout(pre, from,
        parts.map(p => p._1 -> p._2), from + parts.map(_._2).sum,
        FileAssembler.bytes(tail)), dict.length.toLong, packBlocks(dataBlocks))
    }
  }
}

/** Executor side: encode rows into 8-byte-slot records, bytecode +
  * deflate them into blocks, and report the chunk's block index in a
  * footer the driver commit reads back. */
class ZsavChunkWriter(schema: StructType, options: Map[String, String],
    pid: Int) extends ChunkWriterBase(options, "zsav", pid) {
  private val cols = SavStreamSink.streamColSpecs(schema, options)
  private val enc = new SpssSavWriter.SavRowEncoder(cols)
  private val zenc = new SpssSavWriter.ZsavBlockEncoder(out)
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
          s"zsav streaming sink: string in column '$name' exceeds the " +
            s"declared width $w bytes — raise .option(\"strWidth.$name\", ...)")
      j += 1
    }
    enc.encode(row)
    zenc.addRow(enc.buf, 0, enc.recordLen)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    val blocks = zenc.finish()
    val bb = ByteBuffer.allocate(8 * blocks.length + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    blocks.foreach { case (u, c) => bb.putInt(u); bb.putInt(c) }
    bb.putInt(blocks.length)
    out.write(bb.array())
    out.close()
    ChunkMessage(pid, chunk.getAbsolutePath, rows)
  }
}
