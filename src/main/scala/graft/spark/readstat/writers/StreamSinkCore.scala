package graft.spark.readstat.writers

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Shared machinery for the single-file streaming sinks (dta/sav/xpt).
  *
  * All three formats share the property that makes in-place epoch
  * append possible: a CONSTANT-LENGTH pre-data section (only embedded
  * counts/offsets vary with the row total), fixed-width records, and a
  * constant-length (possibly empty) post-data section. One commit
  * algorithm therefore serves every format; each contributes only its
  * prefix/trailer bytes and its per-partition row encoder.
  *
  * Exactly-once protocol (shared): the sidecar `<path>.stream_state`
  * records (epochId, rows, rowLen, queryId, schemaHash) and is
  * atomically REPLACE_EXISTING-moved into place only AFTER the splice +
  * fsync succeed. Replay detection is scoped to the QUERY: a restarted
  * query (same checkpoint → same stable streaming query id) replays its
  * last epoch, which is skipped by id; a NEW query writing to the same
  * file legitimately restarts epoch numbering at 0 and APPENDS — a bare
  * `epochId <= committed` guard would silently discard its every batch.
  * A crash between splice and state update is healed because the next
  * commit positions at the last COMMITTED row boundary, overwriting any
  * partial bytes. The schema fingerprint (names + storage types +
  * widths) must match across every append to a file — matching only the
  * record LENGTH would let a same-width column permutation silently
  * corrupt all previously committed rows.
  */
object StreamSinkCore {

  case class StreamState(epoch: Long, rows: Long, rowLen: Int,
      queryId: String, schemaHash: String, preLen: Long = -1L,
      extra: String = "")

  private def statePath(path: String) = path + ".stream_state"

  def readState(path: String): Option[StreamState] = {
    val f = new File(statePath(path))
    if (!f.exists()) None
    else {
      // a corrupt sidecar must STOP the stream loudly: treating it as
      // absent would restart the append at offset 0 over committed rows
      try {
        val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
        def str(k: String): String =
          if (m.has(k)) m.get(k).asText() else ""
        require(m.has("epoch") && m.has("rows") && m.has("rowLen"),
          "missing required fields")
        Some(StreamState(m.get("epoch").asLong(), m.get("rows").asLong(),
          m.get("rowLen").asInt(), str("queryId"), str("schemaHash"),
          if (m.has("preLen")) m.get("preLen").asLong() else -1L,
          str("extra")))
      } catch { case e: Exception =>
        throw new IllegalStateException(
          s"streaming sink: unreadable state file ${statePath(path)} — " +
            "refusing to append blindly over committed data; delete BOTH " +
            "the sink file and its .stream_state to restart from scratch " +
            s"(${e.getMessage})", e)
      }
    }
  }

  def writeState(path: String, st: StreamState): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("epoch", st.epoch); node.put("rows", st.rows)
    node.put("rowLen", st.rowLen); node.put("queryId", st.queryId)
    node.put("schemaHash", st.schemaHash); node.put("preLen", st.preLen)
    // format-specific commit state (zsav: the committed block index);
    // empty for the fixed-width formats
    if (st.extra.nonEmpty) node.put("extra", st.extra)
    val tmp = Paths.get(statePath(path) + ".tmp")
    Files.write(tmp, om.writeValueAsBytes(node))
    Files.move(tmp, Paths.get(statePath(path)),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Deterministic fingerprint of a format's resolved column specs. */
  def hashSpecs(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(p => md.update(p.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The one commit algorithm: rewrite prefix, splice chunks at the
    * committed row boundary, rewrite trailer, pad, truncate, fsync,
    * then (and only then) advance the sidecar state.
    *
    * @param frame    (prefix, trailer) bytes for a given row total;
    *                 their LENGTHS must not depend on the total
    * @param padBlock if > 0, space-pad the end to this block size (xpt)
    */
  def commitEpoch(label: String, path: String, epochId: Long,
      queryId: String, schemaHash: String,
      chunks: Seq[(Int, String, Long)], rowLen: Int,
      frame: Long => (Array[Byte], Array[Byte]),
      padBlock: Int = 0): Unit = synchronized {
    val state = readState(path)
    try {
      val replayed = state.exists(st =>
        st.queryId == queryId && epochId <= st.epoch)
      if (replayed) return
      state.foreach { st =>
        require(st.rowLen == rowLen &&
            (st.schemaHash.isEmpty || st.schemaHash == schemaHash),
          s"$label streaming sink: schema drift — the file at $path was " +
            s"committed with a different column layout (rowLen ${st.rowLen}" +
            s", fingerprint ${st.schemaHash}) than this query produces " +
            s"(rowLen $rowLen, fingerprint $schemaHash); appends cannot " +
            "change schema mid-file")
      }
      val prevRows = state.map(_.rows).getOrElse(0L)
      val total = prevRows + chunks.map(_._3).sum
      val (pre, post) = frame(total)
      // the prefix length is the data section's base offset: ANY change
      // (e.g. a cross-query append declaring different label text in a
      // format whose label records are length-prefixed) would shift all
      // previously committed rows — refuse before corrupting them
      state.foreach(st => require(st.preLen < 0 || st.preLen == pre.length,
        s"$label streaming sink: pre-data section length changed " +
          s"(${st.preLen} -> ${pre.length}) for $path — appends must " +
          "declare the same labels/formats as the original write"))
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      val ch = FileChannel.open(p, StandardOpenOption.CREATE,
        StandardOpenOption.READ, StandardOpenOption.WRITE)
      try {
        ch.position(0L)
        ch.write(ByteBuffer.wrap(pre))
        ch.position(pre.length + prevRows * rowLen)
        chunks.sortBy(_._1).foreach { case (_, f, _) =>
          val in = FileChannel.open(Paths.get(f), StandardOpenOption.READ)
          try { var pos = 0L; val n = in.size()
            while (pos < n) pos += in.transferTo(pos, n - pos, ch)
          } finally in.close()
        }
        require(ch.position() == pre.length + total * rowLen,
          s"$label streaming sink: chunk byte drift at epoch $epochId")
        ch.write(ByteBuffer.wrap(post))
        if (padBlock > 0) {
          val rem = (ch.position() % padBlock).toInt
          if (rem != 0) {
            val pad = new Array[Byte](padBlock - rem)
            java.util.Arrays.fill(pad, ' '.toByte)
            ch.write(ByteBuffer.wrap(pad))
          }
        }
        ch.truncate(ch.position())
        if (padBlock == 80)
          // xpt (the only padBlock user): dodge pandas' tail-pad
          // heuristic when one blank card makes its row count exact
          XptWriterImpl.pandasTailFix(ch, pre.length.toLong, rowLen, total)
        ch.force(true)
      } finally ch.close()
      writeState(path, StreamState(epochId, total, rowLen, queryId,
        schemaHash, pre.length.toLong))
    } finally chunks.foreach { case (_, f, _) => new File(f).delete() }
  }

  /** Per-format plug-in: per-partition encoder on executors, epoch
    * commit on the driver. Implementations are stateless singletons so
    * the factory serializes trivially. */
  trait Format extends Serializable {
    def chunkWriter(schema: StructType, options: Map[String, String],
        pid: Int): DataWriter[InternalRow]
    def commit(path: String, epochId: Long, queryId: String,
        chunks: Seq[(Int, String, Long)],
        schema: StructType, options: Map[String, String]): Unit
  }

  /** Where chunks and spills go: `scratchDir`, else `java.io.tmpdir`. */
  def scratchDir(options: Map[String, String]): File =
    new File(options.getOrElse("scratchDir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp")))

  def scratchFile(options: Map[String, String], tag: String, pid: Int): File = {
    val scratch = scratchDir(options)
    Files.createDirectories(scratch.toPath)
    scratchFileIn(scratch, tag, pid)
  }

  /** A new scratch file in `dir`, which must exist. */
  def scratchFileIn(dir: File, tag: String, pid: Int): File =
    File.createTempFile(s"graft_${tag}_${pid}_", ".chunk", dir)
}

/** One commit message shape for every format's chunk. */
case class ChunkMessage(pid: Int, file: String, rows: Long)
  extends WriterCommitMessage

/** Shared executor-side scaffold: scratch chunk + buffered stream +
  * commit/abort/close; formats implement only the per-row encode. */
abstract class ChunkWriterBase(options: Map[String, String], tag: String,
    pid: Int) extends DataWriter[InternalRow] {
  protected val chunk: File = StreamSinkCore.scratchFile(options, tag, pid)
  protected val out = new BufferedOutputStream(new FileOutputStream(chunk), 1 << 20)
  protected def rowsWritten: Long

  override def commit(): WriterCommitMessage = {
    out.close()
    ChunkMessage(pid, chunk.getAbsolutePath, rowsWritten)
  }
  override def abort(): Unit = { out.close(); chunk.delete() }
  override def close(): Unit = ()
}

/** One DSv2 StreamingWrite for every fixed-width single-file format. */
class FixedWidthStreamingWrite(path: String, schema: StructType,
    options: Map[String, String], queryId: String,
    fmt: StreamSinkCore.Format) extends StreamingWrite {

  // write-side compress narrows types from a full-data stats pass, which
  // an unbounded stream cannot provide — refuse loudly (the reference's
  // sink_stata rejects compress=True the same way, pybindings.rs:962-966)
  // rather than silently ignore the option
  require(!options.get("compress").exists(_.trim.toBoolean),
    "readstat streaming sink: compress needs a full-data stats pass, " +
      "which an unbounded stream cannot provide — narrow column types " +
      "before writeStream, or use the batch writer")

  // tagged missings reshape the layout (the indicator column is dropped
  // from the written rows), which the sink encoders do not do — refuse
  // rather than silently write the indicator as a data column
  require(!options.get("taggedMissings").exists(_.trim.nonEmpty),
    "readstat streaming sink: taggedMissings is not supported on the " +
      "single-file streaming sinks — use the batch writer, or " +
      "foreachBatch + multiFile")

  // multiFile is a BATCH-writer option (one part per partition); the
  // single-file sink would silently ignore it — refuse and point at the
  // foreachBatch pattern that does write per-epoch part files
  require(!options.get("multiFile").exists(_.trim.toBoolean),
    "readstat streaming sink: multiFile does not apply to the " +
      "single-file sink — use foreachBatch { (b, _) => b.write" +
      ".format(\"readstat\").mode(\"append\").option(\"multiFile\", " +
      "\"true\").save(dir) } for per-epoch part files")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new FixedWidthStreamWriterFactory(schema, options, fmt)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    fmt.commit(path, epochId, queryId,
      messages.collect { case m: ChunkMessage => (m.pid, m.file, m.rows) },
      schema, options)

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ChunkMessage => new File(m.file).delete()
      case _ => ()
    }
}

class FixedWidthStreamWriterFactory(schema: StructType,
    options: Map[String, String], fmt: StreamSinkCore.Format)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    fmt.chunkWriter(schema, options, partitionId)
}
