package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.spark.readstat.{Formats, ReadstatDataSource, ReadstatOptions}

/** The traced run's standalone layer passes. Each calls one layer's
  * public functions directly, from outside the program. */
object Layers {
  val Formats4 = Seq("dta", "sav", "zsav", "sas7bdat")
  val PairQueries = Seq("dedup_winnow_pairs", "dedup_clusters",
    "sim_sparse_cosine", "graph_triangles")

  def fmtOf(path: String): String = {
    val l = path.toLowerCase
    l.substring(l.lastIndexOf('.') + 1)
  }

  private def options = ReadstatOptions.from(Workloads.ScanOptions.asJava)

  private val threads = Runtime.getRuntime.availableProcessors
  private val cpuBean = ManagementFactory.getThreadMXBean

  /** Runs `f` over `xs` in at most nproc threads; returns the results and
    * the CPU seconds the worker threads spent. */
  def parallel[A, B](xs: Seq[A])(f: A => B): (Seq[B], Double) = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, xs.size)))
    try {
      val futs = xs.map { x =>
        pool.submit(new Callable[(B, Long)] {
          def call(): (B, Long) = {
            val c0 = cpuBean.getCurrentThreadCpuTime
            val b = f(x)
            (b, cpuBean.getCurrentThreadCpuTime - c0)
          }
        })
      }
      val rs = futs.map(_.get())
      (rs.map(_._1), rs.map(_._2).sum / 1e9)
    } finally pool.shutdown()
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** First header parse of a file by the format's core parser (the
    * modules' metadata caches are bypassed). */
  def headerMs(path: String): Double = seconds {
    fmtOf(path) match {
      case "dta" => graft.core.stata.StataParser.parse(path)
      case "sav" | "zsav" => graft.core.spss.SpssCore.parse(path)
      case "sas7bdat" => graft.core.sas.SasCore.parse(path)
      case "xpt" => graft.core.xpt.XptCore.parse(path)
      case other => throw new IllegalArgumentException(s"no header parser for $other")
    }
  }._2 * 1000

  private def countRows(it: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]): Long = {
    var n = 0L
    while (it.hasNext) n += it.next().numRows()
    n
  }

  /** Full-width decode of every planned partition through the format
    * module, with no Spark job: (rows, wall s, cpu s). */
  def decode(path: String): (Long, Double, Double) = {
    val m = Formats.moduleFor(path)
    val o = options
    val req = m.schema(path, o)
    require(m.supportsColumnar(path, o, req), s"no columnar decode for $path")
    val ((counts, cpu), wall) = seconds {
      parallel(m.planPartitions(path, o, None))(p => countRows(m.columnarRows(p, o, req)))
    }
    (counts.sum, wall, cpu)
  }

  /** Rows the module emits with the probe's filters and offset pushed,
    * and the rows of the file in the probe's range. */
  def rowsOut(dir: File, p: Probe, fileRows: Long): (Long, Long) = {
    val path = new File(dir, p.file).getPath
    val m = Formats.moduleFor(path)
    val o = options
    val full = m.schema(path, o)
    val req = StructType(full.fields.filter(f => p.cols.contains(f.name)))
    val parts = p.offset.flatMap(k => m.planPartitionsAt(path, o, k, None))
      .getOrElse(m.planPartitions(path, o, None))
    val (emitted, _) = parallel(parts)(part =>
      countRows(m.columnarRows(part, o, req, p.filters)))
    (emitted.sum, math.max(0L, fileRows - p.offset.getOrElse(0L)))
  }

  final case class Planned(ms: Double, pushed: Int, partitions: Array[InputPartition],
      scan: org.apache.spark.sql.connector.read.Scan)

  /** Drives the DSv2 connector directly: getTable → newScanBuilder →
    * pushFilters / pruneColumns / pushOffset → build →
    * planInputPartitions. */
  def planScan(dir: File, p: Probe): Planned = {
    val t0 = System.nanoTime()
    val props = new java.util.HashMap[String, String]()
    props.put("path", new File(dir, p.file).getPath)
    Workloads.ScanOptions.foreach { case (k, v) => props.put(k, v) }
    val opts = new CaseInsensitiveStringMap(props)
    val ds = new ReadstatDataSource()
    val schema = ds.inferSchema(opts)
    val table = ds.getTable(schema, Array.empty, props).asInstanceOf[SupportsRead]
    val sb = table.newScanBuilder(opts)
      .asInstanceOf[graft.spark.readstat.ReadstatScanBuilder]
    sb.pushFilters(p.filters)
    sb.pruneColumns(StructType(schema.fields.filter(f => p.cols.contains(f.name))))
    val offPushed = p.offset.exists(k => sb.pushOffset(k.toInt))
    val scan = sb.build()
    val parts = scan.toBatch.planInputPartitions()
    Planned((System.nanoTime() - t0) / 1e6,
      sb.pushedFilters().length + (if (offPushed) 1 else 0), parts, scan)
  }

  /** Reads every partition of a full-width scan through the connector's
    * reader factory: (rows, wall s). */
  def readThroughConnector(dir: File, file: String): (Long, Double) = {
    val path = new File(dir, file).getPath
    val cols = Formats.moduleFor(path).schema(path, options).fieldNames.toSeq
    val pl = planScan(dir, Probe(file, cols))
    val factory = pl.scan.toBatch.createReaderFactory()
    val (counts, wall) = seconds {
      parallel(pl.partitions.toSeq) { part =>
        var n = 0L
        if (factory.supportColumnarReads(part)) {
          val r = factory.createColumnarReader(part)
          try while (r.next()) n += r.get().numRows() finally r.close()
        } else {
          val r = factory.createReader(part)
          try while (r.next()) n += 1 finally r.close()
        }
        n
      }._1
    }
    (counts.sum, wall)
  }

  /** Order-independent hash of a query result: the sum of per-row hashes,
    * with fractional columns rounded to 6 places first. */
  def resultHash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** The registry's pair-explosion queries: one warm-up that also takes
    * the result hash, then two timed collects. */
  def queries(spark: SparkSession, sfDir: String): Seq[(String, Double, Long, String)] =
    PairQueries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val (rows, hash) = resultHash(fn(spark, sfDir))
      val ts = (0 until 2).map(_ => seconds(fn(spark, sfDir).collect().length)._2)
      (q, median(ts), rows, hash)
    }

  /** `Readstat.fileMetadata` over a directory, once to warm and once
    * timed: (ms, files listed, sum of their row counts). */
  def fileMetadata(spark: SparkSession, dir: String): (Double, Long, Long) = {
    def once() = graft.api.Readstat.fileMetadata(spark, dir)
      .agg(count(lit(1)), sum("row_count")).collect()(0)
    once()
    val (r, s) = seconds(once())
    (s * 1000, r.getLong(0), r.getLong(1))
  }

  /** Fixed CPU loop: seconds. */
  def cpuSentinel(): Double = seconds {
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) println("")
  }._2

  /** Fixed read of a page-cached file: seconds. */
  def ioSentinel(f: File): Double = {
    val size = 64 * 1024 * 1024
    if (!f.isFile || f.length() != size) {
      f.getParentFile.mkdirs()
      val bytes = new Array[Byte](size)
      new scala.util.Random(7).nextBytes(bytes)
      java.nio.file.Files.write(f.toPath, bytes)
    }
    val buf = java.nio.ByteBuffer.allocateDirect(1 << 20)
    seconds {
      val ch = java.nio.channels.FileChannel.open(f.toPath)
      try { while (ch.read(buf) > 0) buf.clear() } finally ch.close()
    }._2
  }
}
