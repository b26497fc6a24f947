package graft.spark.readstat.writers

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

/** The one way a single stat file is put together from encoded chunks,
  * for a batch write and for a streaming sink's epoch commit alike.
  *
  * Every appendable format has the same shape: a prefix whose length does
  * not depend on the row total (only the counts and offsets it embeds
  * do), a data section of chunks laid end to end, and a trailer. The
  * assembler writes the prefix at 0, splices the chunks from `from`,
  * checks that the data section ends where the prefix declared it, then
  * writes the trailer and truncates. A batch write splices every chunk
  * from the prefix's end; a sink commit splices only the epoch's new
  * chunks from the committed data end, over whatever a crashed commit
  * left there. Each format supplies its frame: the prefix, the declared
  * data end and the trailer.
  */
private[writers] object FileAssembler {

  /** One file's bytes around its data section.
    *
    * @param prefix  everything before the data section, written at 0
    * @param from    where the chunks go: the prefix's end for a whole
    *                file, the committed data end for an append
    * @param chunks  (file, leading bytes to copy), spliced in order
    * @param dataEnd where the prefix declares the data section ends
    * @param trailer writes what follows the data section, at the data end
    */
  final case class Layout(prefix: Array[Byte], from: Long,
      chunks: Seq[(String, Long)], dataEnd: Long,
      trailer: FileChannel => Unit = _ => ())

  /** A whole file's layout: every chunk, whole, after the prefix. */
  def whole(prefix: Array[Byte], chunks: Seq[String], dataEnd: Long,
      trailer: FileChannel => Unit = _ => ()): Layout =
    Layout(prefix, prefix.length.toLong, sized(chunks), dataEnd, trailer)

  /** Files paired with their full lengths. */
  def sized(files: Seq[String]): Seq[(String, Long)] =
    files.map(f => f -> new File(f).length())

  def put(ch: FileChannel, b: Array[Byte]): Unit = {
    val bb = ByteBuffer.wrap(b)
    while (bb.hasRemaining) ch.write(bb)
  }

  /** A trailer of fixed bytes. */
  def bytes(b: Array[Byte]): FileChannel => Unit = ch => put(ch, b)

  /** Copy each file's leading bytes to `ch` at its position. */
  def splice(ch: FileChannel, files: Seq[(String, Long)]): Unit =
    files.foreach { case (f, n) =>
      val in = FileChannel.open(Paths.get(f), StandardOpenOption.READ)
      try {
        var p = 0L
        while (p < n) p += in.transferTo(p, n - p, ch)
      } finally in.close()
    }

  /** Lay `l` out over `ch`, which must be open to read and write. */
  def assemble(ch: FileChannel, l: Layout, what: String): Unit = {
    ch.position(0L)
    put(ch, l.prefix)
    ch.position(l.from)
    splice(ch, l.chunks)
    require(ch.position() == l.dataEnd,
      s"$what: chunk byte drift — the data section ends at ${ch.position()}, " +
        s"the header declares ${l.dataEnd}")
    l.trailer(ch)
    ch.truncate(ch.position())
  }

  /** A new file at `path` from a whole-file layout, renamed into place
    * only once it is complete. */
  def write(path: String, l: Layout, what: String): Unit =
    AtomicFile.write(path) { tmp =>
      val ch = FileChannel.open(Paths.get(tmp), StandardOpenOption.READ,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      try assemble(ch, l, what) finally ch.close()
    }
}
