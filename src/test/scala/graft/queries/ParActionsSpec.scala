package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.duration._

import graft.readstat.SparkTestBase

/** The roundtrip queries run their setup writes through
  * `ReadstatQueries.parActions`: a wedged action must fail its query at
  * the deadline and release the Spark job it holds. */
class ParActionsSpec extends SparkTestBase {

  test("parActions fails a wedged action at its deadline and cancels its job") {
    val group = new AtomicReference[String]
    val t0 = System.nanoTime()
    val e = intercept[TimeoutException](
      ReadstatQueries.parActions(spark, 3.seconds)(Seq(
        () => (),
        () => {
          group.set(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
          spark.sparkContext.parallelize(Seq(1), 1).foreach(_ =>
            try Thread.sleep(120000)
            catch { case _: InterruptedException => ParActionsSpec.interrupted.countDown() })
        })))
    assert(e.getMessage.contains("3 seconds"), e.getMessage)
    // the task was interrupted, not left sleeping, and its job ended
    assert(ParActionsSpec.interrupted.await(30, TimeUnit.SECONDS))
    assert((System.nanoTime() - t0) / 1e9 < 60)
    val tracker = spark.sparkContext.statusTracker
    assert(group.get != null)
    val deadline = System.nanoTime() + 30e9.toLong
    def running = tracker.getJobIdsForGroup(group.get).exists(id =>
      tracker.getJobInfo(id).forall(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    while (running && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!running)
    // a failing action still surfaces as itself
    val boom = intercept[IllegalStateException](
      ReadstatQueries.parActions(spark, 10.seconds)(
        Seq(() => throw new IllegalStateException("boom"))))
    assert(boom.getMessage == "boom")
  }

  test("parActions' write deadline grows with the input size") {
    val d = java.nio.file.Files.createTempDirectory("graft_deadline").toFile
    try {
      assert(ReadstatQueries.writeDeadline(d.getPath) == 600.seconds)
      // a sparse 256 MB table: no bytes are written
      val raf = new java.io.RandomAccessFile(new java.io.File(d, "t.parquet"), "rw")
      try raf.setLength(256L << 20) finally raf.close()
      assert(ReadstatQueries.writeDeadline(d.getPath) == 840.seconds)
    } finally { d.listFiles().foreach(_.delete()); d.delete() }
  }
}

object ParActionsSpec {
  /** Counted down by the wedged task when the cancel interrupts it. */
  val interrupted = new CountDownLatch(1)
}
