package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `prepare` writes the inputs of one seed and
  * their manifest; `run` sets up, warms every operation shape, runs the
  * timed closed loop from one client thread and writes raw records
  * (operations, spans, layer passes) as JSON for `run.py` to turn into
  * metrics. */
object Main {
  // Warm-up: cycles over the shapes not yet settled. A shape is settled
  // once it ran MinWarm times and its last run was no more than
  // SettleFrac faster than the one before (JIT and codegen have caught
  // up); MaxWarm cycles bound the set-up.
  val MinWarm = 2
  val MaxWarm = 4
  val SettleFrac = 0.1

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: File, work: File, out: File, sfDir: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("data")), new File(m("work")),
      new File(m("out")), m.getOrElse("sf", ""))
  }

  def session(work: File): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    a.work.mkdirs()
    val spark = session(a.work)
    System.err.println(f"perfbench: session ready at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    try a.mode match {
      case "prepare" => prepare(spark, a)
      case "run" => run(spark, a)
    } finally spark.stop()
  }

  private def manifestFile(a: Args): File =
    new File(a.data, if (a.workload == "write_roundtrip") "write_manifest.json"
      else "scan_manifest.json")

  def prepare(spark: SparkSession, a: Args): Unit = {
    val mf = manifestFile(a)
    val old = Manifest.read(mf).filter(m => m.version == Inputs.Version && m.seed == a.seed)
    val doc =
      if (a.workload == "write_roundtrip") old.getOrElse(Inputs.prepareWrite(spark, a.seed))
      else Inputs.prepareScan(spark, a.seed, a.data, old)
    Manifest.write(doc, mf)
  }

  final case class Op(shape: String, traced: Boolean, id: String,
      wall: Double, writeS: Double, bytes: Long, rows: Long,
      observed: Map[String, Any], error: Option[String],
      planned: Option[(Double, Int, Int)])

  def run(spark: SparkSession, a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val notes = ArrayBuffer[String]()
    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()

    // checking the inputs against the manifest is part of set-up; exit
    // code 3 asks run.py to regenerate them
    val manifest = Manifest.read(manifestFile(a))
      .filter(m => m.version == Inputs.Version && m.seed == a.seed)
    val bad = manifest.map(m => Manifest.mismatches(a.data, m)).getOrElse(Seq("manifest"))
    if (bad.nonEmpty) {
      System.err.println(s"inputs disagree with the manifest: ${bad.take(5).mkString(", ")}")
      sys.exit(3)
    }
    val shapes: Seq[Shape] = a.workload match {
      case "write_roundtrip" => Workloads.writes(a.work, a.seed)
      case "decode_scan" => Workloads.decode(a.data)
      case _ => Workloads.pushdown(a.data, Inputs.Params(a.seed))
    }
    val fileDir = if (a.workload == "write_roundtrip") a.work else a.data
    val manifestRows = manifest.get.files.map { case (k, v) => k -> v.rows }

    val spans = new Spans
    val listener = new Listener
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      layers("host.cpu_sentinel_s.before") = Layers.cpuSentinel()
      layers("host.io_sentinel_s.before") = Layers.ioSentinel(new File(a.work, "sentinel.bin"))
      if (a.workload != "write_roundtrip") headerPass(a.data, shapes, layers)
    }

    val opSpans = scala.collection.mutable.Map[String, Long]()
    var opSeq = 0
    def runOp(sh: Shape, traced: Boolean): Op = {
      opSeq += 1
      val id = s"op$opSeq"
      spark.sparkContext.setLocalProperty("perfbench.op", id)
      var writeS = 0.0
      var planned: Option[(Double, Int, Int)] = None
      val t0 = System.nanoTime()
      val opSpan = spans.newId()
      val st0 = spans.now()
      val res: Either[String, Map[String, Any]] = try {
        sh.write.foreach { w =>
          val w0 = System.nanoTime()
          if (traced) spans.span(opSpan, "write", id)(w(spark)) else w(spark)
          writeS = (System.nanoTime() - w0) / 1e9
        }
        val df = sh.query(spark)
        if (traced) {
          spans.span(opSpan, "plan", id)(df.queryExecution.executedPlan)
          if (sh.probes.nonEmpty) spans.span(opSpan, "connector.scan_plan", id) {
            val ps = sh.probes.map(p => Layers.planScan(fileDir, p))
            planned = Some((ps.map(_.ms).sum, ps.map(_.pushed).sum,
              ps.map(_.partitions.length).sum))
          }
        }
        Right(if (traced) spans.span(opSpan, "execute", id)(sh.eval(df))
          else sh.eval(df))
      } catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        spans.close(opSpan, 0, "op", id, st0, spans.now())
        opSpans(id) = opSpan
      }
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      val bytes = sh.files.map(f => new File(fileDir, f).length()).sum
      val rows = if (sh.write.isDefined) sh.rows else sh.files.map(manifestRows).sum
      Op(sh.name, traced, id, wall, writeS, bytes, rows,
        res.getOrElse(Map.empty), res.left.toOption, planned)
    }

    // rotate the cycle's starting shape by seed
    val order = {
      val k = (a.seed.abs % shapes.size).toInt
      shapes.drop(k) ++ shapes.take(k)
    }
    System.err.println(f"perfbench: inputs checked at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    val warm = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    def settled(sh: Shape): Boolean = warm(sh.name) match {
      case last :: prev :: _ => last >= prev * (1 - SettleFrac)
      case _ => false
    }
    var c = 0
    while (c < MaxWarm && !order.forall(settled)) {
      order.filter(sh => c < MinWarm || !settled(sh)).foreach { sh =>
        val o = runOp(sh, traced = false)
        o.error.foreach(e => System.err.println(s"warm-up ${sh.name}: $e"))
        warm(sh.name) = o.wall :: warm(sh.name)
      }
      c += 1
    }
    System.err.println(s"perfbench: warm-up runs ${order.map(sh => warm(sh.name).size).mkString(",")}")

    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - jvmStartMs) / 1000.0
    val ops = ArrayBuffer[Op]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var cycle = 0
    // whole cycles only, so every shape is timed equally often; in the
    // traced run even cycles carry spans and odd ones do not, which gives
    // the tracing overhead within one run
    while (System.nanoTime() < deadline) {
      order.foreach(sh => ops += runOp(sh, a.trace && cycle % 2 == 0))
      cycle += 1
    }

    if (a.trace) {
      if (a.workload == "write_roundtrip") headerPass(a.work, shapes, layers)
      decodePass(fileDir, shapes, layers)
      layers ++= rowsOutPass(fileDir, shapes, manifestRows)
      if (shapes.exists(_.files.exists(_.startsWith(Inputs.Dir + "/"))))
        Layers.fileMetadata(spark, new File(a.data, Inputs.Dir).getPath) match {
          case (ms, files, rows) =>
            layers("connector.file_metadata_ms") = ms
            notes += s"file_metadata.files=$files"
            notes += s"file_metadata.rows=$rows"
        }
      if (a.sfDir.nonEmpty) Layers.queries(spark, a.sfDir).foreach { case (q, p50, rows, hash) =>
        layers(s"queries.$q.p50_s") = p50
        layers(s"queries.$q.rows") = rows.toDouble
        notes += s"queries.$q.hash=$hash"
      }
      layers("host.cpu_sentinel_s.after") = Layers.cpuSentinel()
      layers("host.io_sentinel_s.after") = Layers.ioSentinel(new File(a.work, "sentinel.bin"))
    }
    val peakKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

    Output.write(a, setupS, peakKb, ops.toSeq, spans, opSpans.toMap, listener,
      layers.toMap, notes.toSeq)
  }

  private def filesOf(dir: File, shapes: Seq[Shape]): Seq[String] =
    shapes.flatMap(_.files).distinct.filter(f => new File(dir, f).isFile)

  def headerPass(dir: File, shapes: Seq[Shape],
      layers: scala.collection.mutable.Map[String, Double]): Unit = {
    val byFmt = filesOf(dir, shapes).groupBy(f => Layers.fmtOf(f))
    Layers.Formats4.foreach { fmt =>
      val ms = byFmt.getOrElse(fmt, Nil).map(f => Layers.headerMs(new File(dir, f).getPath))
      layers(s"format.header_ms.$fmt") = Layers.median(ms)
    }
  }

  /** Format decode and connector reader passes over the workload's
    * single files of each format (the small directory files excepted). */
  def decodePass(dir: File, shapes: Seq[Shape],
      layers: scala.collection.mutable.Map[String, Double]): Unit = {
    val files = filesOf(dir, shapes).filterNot(_.startsWith(Inputs.Dir + "/"))
      .filterNot(_ == Workloads.writeFile("dta_compress"))
    var cpu = 0.0
    Layers.Formats4.foreach { fmt =>
      val fs = files.filter(f => Layers.fmtOf(f) == fmt)
      val bytes = fs.map(f => new File(dir, f).length()).sum.toDouble
      val dec = fs.map(f => Layers.decode(new File(dir, f).getPath))
      cpu += dec.map(_._3).sum
      val rd = fs.map(f => Layers.readThroughConnector(dir, f))
      layers(s"format.decode_mb_per_s.$fmt") =
        if (dec.isEmpty) 0.0 else bytes / 1e6 / dec.map(_._2).sum
      layers(s"connector.reader_mb_per_s.$fmt") =
        if (rd.isEmpty) 0.0 else bytes / 1e6 / rd.map(_._2).sum
    }
    layers("format.decode_cpu_s") = cpu
  }

  /** Useful output over rows attempted, for the operations that push a
    * filter or an offset into a single file. */
  def rowsOutPass(dir: File, shapes: Seq[Shape],
      fileRows: Map[String, Long]): Map[String, Double] = {
    val probes = shapes.flatMap(_.probes)
      .filter(p => p.filters.nonEmpty || p.offset.nonEmpty)
      .filter(p => fileRows.contains(p.file))
    val counts = probes.map(p => Layers.rowsOut(dir, p, fileRows(p.file)))
    Map("format.rows_out_frac" ->
      (if (counts.isEmpty) 1.0
      else counts.map(_._1).sum.toDouble / math.max(1L, counts.map(_._2).sum)))
  }
}
