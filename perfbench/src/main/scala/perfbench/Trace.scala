package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory spans of the traced run. Times are epoch nanoseconds so
  * they line up with the scheduler's millisecond event times. */
object Spans {
  final case class Span(id: Long, parent: Long, name: String, op: String,
      t0: Long, t1: Long)
}

final class Spans {
  import Spans.Span

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = System.nanoTime() + base
  def newId(): Long = ids.incrementAndGet()

  def span[A](parent: Long, name: String, op: String)(f: => A): A = {
    val id = newId()
    val t0 = now()
    try f
    finally done.add(Span(id, parent, name, op, t0, now()))
  }

  def add(parent: Long, name: String, op: String, t0: Long, t1: Long): Long = {
    val id = newId()
    close(id, parent, name, op, t0, t1)
    id
  }

  /** Records a span whose id was taken before its children ran. */
  def close(id: Long, parent: Long, name: String, op: String, t0: Long, t1: Long): Unit =
    done.add(Span(id, parent, name, op, t0, t1))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Scheduler events of the run, keyed by the `perfbench.op` local
  * property each operation sets before it runs. */
object Listener {
  final case class Job(id: Int, op: String, t0: Long, t1: Long, stages: Seq[Int])
  final case class Stage(id: Int, t0: Long, t1: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long,
      records: Long)
}

final class Listener extends SparkListener {
  import Listener._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .getOrElse("")
    jobStarts.put(e.jobId, (op, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (op, t0, st) =>
      jobs.add(Job(e.jobId, op, t0, e.time, st))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.recordsRead))
    }
}
