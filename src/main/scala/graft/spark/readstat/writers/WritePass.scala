package graft.spark.readstat.writers

import java.io.{File, FileInputStream, FileOutputStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.unsafe.Platform

/** The one Spark job behind a single-file batch write (dta, sav/zsav,
  * sas7bdat, xpt). Each writer plugs in its stats → layout function and
  * its encoder; this object runs them.
  *
  * Each task folds its partition into a `WriteStats.Acc` while spilling
  * the rows, as length-prefixed `UnsafeRow`s, to a scratch file. It then
  * derives the layout its own stats give, replays the spill through the
  * encoder into its chunk, and returns its partial stats, its layout and
  * its chunk. The driver merges the partials into the write's stats and
  * derives the global layout from them, so every stats-dependent check
  * throws there. A chunk whose layout equals the global one is spliced as
  * it is: each layout input is a max or a range, and a partition's extremes
  * fit the global layout exactly when they fit its own. Every other
  * non-empty partition is re-encoded from its spill under the global
  * layout in one follow-up job, which never evaluates the source again.
  *
  * When the stats are known up front (`compress=true` measured them while
  * narrowing) or the frame has no measured column (the layout needs no
  * stats), tasks encode straight under the one layout and spill nothing.
  *
  * Spills and chunks are scratch files (`StreamSinkCore.scratchFileIn`)
  * in a directory of `scratchDir` unique to the write, which the driver
  * makes before the job; tasks never make it, so a task that outlives its
  * write fails instead of leaving files behind. A failed task deletes its
  * own files. A spill is deleted once its partition's chunk stands: by
  * the driver before the re-encode for a chunk that is kept, and by the
  * re-encode task for one it replaces, so no spill outlives the jobs.
  * The driver deletes the directory when the write ends, either way.
  * The driver's directory must therefore be on storage every executor
  * sees. [[multiFile]] runs a `multiFile` write's one job; its chunks
  * stay on the executor that made them, in a directory of the task's own.
  */
private[graft] object WritePass {

  /** Partitions re-encoded under the global layout, since JVM start. */
  val reencoded = new AtomicLong

  /** A finished pass: the write's stats, the layout derived from them, and
    * the non-empty partitions' chunks in partition order, all encoded
    * under that layout. */
  final case class Pass[L, C](stats: WriteStats, layout: L, chunks: Seq[C])

  /** What a task hands back: its stats (only the row count when the
    * layout was fixed up front), the layout its chunk is encoded under,
    * and its spill. `layout` is None when the partition's own stats fail
    * the writer's checks; `chunk` is None for an empty partition or an
    * unusable layout. */
  private final case class Part[L, C](pid: Int, acc: WriteStats.Acc,
      layout: Option[L], chunk: Option[C], spill: String)

  /** Encoder: (layout, partition id, rows, scratch-file factory) → chunk. */
  type Encode[L, C] = (L, Int, Iterator[InternalRow], String => File) => C

  /** Run the pass over `df` and hand its result to `body` (the header and
    * the splice). Scratch files are deleted when `body` returns or throws. */
  def run[L, C, R](df: DataFrame, options: Map[String, String],
      known: Option[WriteStats], layoutOf: WriteStats => L,
      encode: Encode[L, C])(body: Pass[L, C] => R): R = {
    val schema = df.schema
    val names = schema.fieldNames.toIndexedSeq
    val kinds = schema.fields.map(f => WriteStats.plainKind(f.dataType))
    val width = schema.length
    val dir = scratchDirOf(options)
    val path = dir.getPath
    // no stats to wait for: the one layout is fixed before the job
    val direct = known.map(layoutOf).orElse(
      if (kinds.forall(_ == WriteStats.Skip))
        Some(layoutOf(WriteStats(0L, Map.empty, Map.empty, Map.empty)))
      else None)
    try {
      Files.createDirectories(dir.toPath)
      val parts = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        val files = new TaskFiles(path, pid)
        val acc = new WriteStats.Acc(kinds)
        val part =
          if (!it.hasNext) Part[L, C](pid, acc, None, None, null)
          else direct match {
            case Some(l) =>
              val c = encode(l, pid, it.map { r => acc.rows += 1; r }, files.create)
              Part[L, C](pid, acc, Some(l), Some(c), null)
            case None =>
              val spill = files.create("spill")
              val out = new SpillWriter(spill)
              lazy val toUnsafe = UnsafeProjection.create(schema)
              try it.foreach { r =>
                acc.add(r)
                out.write(r match { case u: UnsafeRow => u; case o => toUnsafe(o) })
              } finally out.close()
              val own = Try(layoutOf(WriteStats.of(names, kinds, acc))).toOption
              val c = own.map(l =>
                encode(l, pid, replay(spill.getPath, acc.rows, width), files.create))
              Part[L, C](pid, acc, own, c, spill.getPath)
          }
        // a cancelled job discards this result: fail, so the files go too
        if (TaskContext.get().isInterrupted()) throw new TaskKilledException
        Iterator(part)
      }.collect().sortBy(_.pid)

      val merged = parts.map(_.acc).foldLeft(new WriteStats.Acc(kinds))(_ merge _)
      val stats = known.getOrElse(WriteStats.of(names, kinds, merged))
      require(merged.rows == stats.rows, s"row count drift: agg=${stats.rows} write=${merged.rows}")
      val global = direct.getOrElse(layoutOf(stats))
      val full = parts.filter(_.acc.rows > 0)
      val (keep, redo) = full.partition(_.layout.exists(java.util.Objects.deepEquals(_, global)))
      keep.foreach(p => if (p.spill != null) new File(p.spill).delete())
      val again: Map[Int, C] = if (redo.isEmpty) Map.empty else {
        reencoded.addAndGet(redo.length)
        df.sparkSession.sparkContext
          .parallelize(redo.map(p => (p.pid, p.spill, p.acc.rows)).toSeq, redo.length)
          .map { case (pid, spill, n) =>
            val files = new TaskFiles(path, pid)
            val c = encode(global, pid, replay(spill, n, width), files.create)
            new File(spill).delete()
            pid -> c
          }.collect().toMap
      }
      body(Pass(stats, global, full.toSeq.map(p => again.getOrElse(p.pid, p.chunk.get))))
    } finally remove(dir)
  }

  /** The one job behind a `multiFile` write: `path` becomes a directory
    * of self-contained part files, one per non-empty partition, named
    * `<prefix>NNNNN.ext`. `part(rows, scratch, out)` encodes a
    * partition, assembles it at `out` on its executor and returns its
    * row count, which must sum to `rows`. A part's chunks are read only
    * by the task that made them, so each task makes its own directory
    * under its host's `scratchDir` and removes it when it ends, however
    * it ends: unlike [[run]], nothing here needs a directory the driver
    * shares. A task killed after it assembled its part (its job failed)
    * removes the part. If the write fails, the driver removes every part
    * file of this write's prefix, and the target directory if the write
    * made it. `clearExt` is the extension pattern `MultiFileParts.prepare`
    * clears on overwrite. */
  def multiFile(df: DataFrame, options: Map[String, String], path: String,
      clearExt: String, ext: String, rows: Long)(
      part: (Iterator[InternalRow], String => File, String) => Long): Unit = {
    val name = scratchDirOf(options).getName
    val target = new File(path)
    val existed = target.exists
    val prefix = MultiFileParts.prepare(target, clearExt, options)
    try {
      val counts = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val ctx = TaskContext.get()
          val dir = new File(StreamSinkCore.scratchDir(options), s"${name}_${ctx.taskAttemptId}")
          Files.createDirectories(dir.toPath)
          ctx.addTaskCompletionListener[Unit](_ => remove(dir))
          val out = s"$path/$prefix" + f"$pid%05d.$ext"
          val n = part(it, StreamSinkCore.scratchFileIn(dir, _, pid), out)
          if (ctx.isInterrupted()) {
            new File(out).delete()
            throw new TaskKilledException
          }
          Iterator(n)
        }
      }.collect()
      require(counts.sum == rows, s"row count drift: agg=$rows write=${counts.sum}")
    } catch {
      case e: Throwable =>
        Option(target.listFiles()).foreach(_.foreach { f =>
          if (f.getName.startsWith(prefix) && f.getName.matches(s".*\\.$clearExt"))
            f.delete()
        })
        if (!existed) target.delete() // only if empty
        throw e
    }
  }

  /** A write's own directory under scratchDir (not made yet): one
    * listing removes it. */
  private def scratchDirOf(options: Map[String, String]): File =
    new File(StreamSinkCore.scratchDir(options),
      "graft_write_" + java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Remove a write's scratch directory and what is in it. A task still
    * finishing after a failed job may add a file between the listing and
    * the removal; once the directory is gone it cannot. */
  private[writers] def remove(dir: File): Unit = {
    var tries = 0
    while (dir.exists && tries < 3) {
      Option(dir.listFiles()).foreach(_.foreach(f =>
        if (f.isDirectory) remove(f) else f.delete()))
      dir.delete()
      tries += 1
    }
  }

  /** A task's scratch files, deleted if the task fails or is killed. */
  private final class TaskFiles(dir: String, pid: Int) {
    private val made = ArrayBuffer.empty[File]
    TaskContext.get().addTaskCompletionListener[Unit] { ctx =>
      if (ctx.isFailed || ctx.isInterrupted) made.foreach(_.delete())
    }
    def create(kind: String): File = {
      val f = StreamSinkCore.scratchFileIn(new File(dir), kind, pid)
      made += f
      f
    }
  }

  private final val Block = 1 << 20

  /** Appends rows to a spill as (length, `UnsafeRow` bytes) records. */
  private final class SpillWriter(f: File) {
    private val out = new FileOutputStream(f)
    private var buf = new Array[Byte](Block)
    private var pos = 0
    def write(u: UnsafeRow): Unit = {
      val n = u.getSizeInBytes
      if (pos + 4 + n > buf.length) {
        flush()
        if (4 + n > buf.length) buf = new Array[Byte](4 + n)
      }
      Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + pos, n)
      Platform.copyMemory(u.getBaseObject, u.getBaseOffset, buf,
        Platform.BYTE_ARRAY_OFFSET + pos + 4, n)
      pos += 4 + n
    }
    private def flush(): Unit = { out.write(buf, 0, pos); pos = 0 }
    def close(): Unit = try flush() finally out.close()
  }

  /** The `n` rows of a spill, each a reused `UnsafeRow` pointing into a
    * block buffer (valid until the next row is read). */
  private def replay(path: String, n: Long, width: Int): Iterator[InternalRow] = {
    val in = new FileInputStream(path)
    TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
    val row = new UnsafeRow(width)
    var buf = new Array[Byte](Block)
    var pos = 0 // next record
    var end = 0 // bytes in buf
    var left = n
    // at least `k` bytes from `pos` on in buf, moving them to its head
    def need(k: Int): Unit = if (end - pos < k) {
      val keep = end - pos
      val dst = if (k > buf.length) new Array[Byte](math.max(k, 2 * buf.length)) else buf
      System.arraycopy(buf, pos, dst, 0, keep)
      buf = dst; pos = 0; end = keep
      while (end < k) {
        val r = in.read(buf, end, buf.length - end)
        if (r < 0) throw new java.io.EOFException(s"spill $path ended early")
        end += r
      }
    }
    new Iterator[InternalRow] {
      def hasNext: Boolean = left > 0
      def next(): InternalRow = {
        need(4)
        val len = Platform.getInt(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        need(4 + len)
        row.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + pos + 4, len)
        pos += 4 + len
        left -= 1
        row
      }
    }
  }
}
