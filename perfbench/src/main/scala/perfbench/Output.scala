package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes the run's raw records as one JSON document. */
object Output {
  private def plain(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue()
    case d: scala.math.BigDecimal => d.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case o => o
  }

  def write(a: Main.Args, setupS: Double, peakKb: Long, ops: Seq[Main.Op],
      spans: Spans, opSpans: Map[String, Long], listener: Listener,
      layers: Map[String, Double], notes: Seq[String]): Unit = {
    val jobs = listener.jobs.asScala.toSeq.sortBy(_.id)
    val stages = listener.stages.asScala.map(s => s.id -> s).toMap
    val tasksByStage = listener.tasks.asScala.toSeq.groupBy(_.stage)
    val jobsByOp = jobs.groupBy(_.op)
    val all = spans.all

    // scheduler spans: a job's parent is the op's innermost span that was
    // open when the job started; a stage's parent is its job
    opSpans.foreach { case (op, opSpan) =>
      val inner = all.filter(s => s.op == op && s.parent == opSpan)
      jobsByOp.getOrElse(op, Nil).foreach { j =>
        val t0 = j.t0 * 1000000L
        val parent = inner.find(s => s.t0 <= t0 && t0 <= s.t1).map(_.id).getOrElse(opSpan)
        val jid = spans.add(parent, "spark.job", op, t0, j.t1 * 1000000L)
        j.stages.flatMap(stages.get).filter(_.t0 > 0).foreach { s =>
          spans.add(jid, "spark.stage", op, s.t0 * 1000000L, s.t1 * 1000000L)
        }
      }
    }

    def sparkOf(op: String): Map[String, Any] = {
      val js = jobsByOp.getOrElse(op, Nil)
      val st = js.flatMap(_.stages).filter(stages.contains)
      val ts = st.flatMap(s => tasksByStage.getOrElse(s, Nil))
      Map("jobs" -> js.size, "stages" -> st.size, "tasks" -> ts.size,
        "task_run_ms" -> ts.map(_.runMs).sum,
        "task_run_ms_list" -> ts.map(_.runMs),
        "task_cpu_ns" -> ts.map(_.cpuNs).sum,
        "gc_ms" -> ts.map(_.gcMs).sum,
        "shuffle_read" -> ts.map(_.shuffleRead).sum,
        "shuffle_write" -> ts.map(_.shuffleWrite).sum,
        "spill" -> ts.map(_.spill).sum,
        "peak_mem" -> (if (ts.isEmpty) 0L else ts.map(_.peakMem).max),
        "records" -> ts.map(_.records).sum)
    }

    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setupS, "peak_rss_kb" -> peakKb,
      "ops" -> ops.map { o =>
        Map("shape" -> o.shape, "traced" -> o.traced,
          "id" -> o.id, "wall_s" -> o.wall, "write_s" -> o.writeS,
          "bytes" -> o.bytes, "rows" -> o.rows,
          "observed" -> o.observed.map { case (k, v) => k -> plain(v) },
          "error" -> o.error.orNull,
          "planned" -> o.planned.map { case (ms, pushed, parts) =>
            Map("ms" -> ms, "pushed" -> pushed, "partitions" -> parts) }.orNull) ++
          (if (a.trace) Map("spark" -> sparkOf(o.id)) else Map.empty)
      },
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "t0" -> s.t0, "t1" -> s.t1)),
      "layers" -> layers,
      "notes" -> notes)
    new ObjectMapper().writeValue(a.out, Manifest.toJava(doc))
  }
}
