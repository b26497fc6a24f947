package graft.readstat

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** readStream over a directory of stat files: files present at start
  * form the first batch, later drops arrive as new batches exactly once
  * (offsets are the set of seen file names). */
class StreamingReadSpec extends SparkTestBase {

  test("stat-file directory streams batches of newly arrived files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream").toFile
    dir.deleteOnExit()
    def writeFile(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"row$i")).toDF("id", "s")
        .write.format("readstat").mode("overwrite")
        .save(s"$dir/$name")

    writeFile("a.dta", 1 to 100)
    writeFile("b.dta", 101 to 150)

    val stream = spark.readStream.format("readstat").load(dir.getAbsolutePath)
    val query = stream.writeStream.format("memory")
      .queryName("readstat_stream").outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      query.processAllAvailable()
      val n1 = spark.table("readstat_stream").count()
      assert(n1 == 150L, s"first batch: $n1")

      writeFile("c.dta", 151 to 170)
      query.processAllAvailable()
      val rows = spark.table("readstat_stream")
      assert(rows.count() == 170L)
      // exactly once: no id duplicated across batches
      assert(rows.select("id").distinct().count() == 170L)
      // dta has no int64 storage, so ids round-trip as double
      assert(rows.agg(sum("id").cast("long")).collect()(0).getLong(0) ==
        (1L to 170L).sum)
    } finally query.stop()
  }

  test("an empty landing zone streams with an explicit schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_empty").toFile
    dir.deleteOnExit()
    // batch read of the empty dir with a schema: zero rows, not an error
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id DOUBLE, s STRING")
    assert(spark.read.format("readstat").schema(schema)
      .load(dir.getAbsolutePath).count() == 0L)
    // streaming: start on the empty dir, then drop the first file
    val stream = spark.readStream.format("readstat").schema(schema)
      .load(dir.getAbsolutePath)
    val query = stream.writeStream.format("memory")
      .queryName("readstat_stream_empty").outputMode("append")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      query.processAllAvailable()
      assert(spark.table("readstat_stream_empty").count() == 0L)
      Seq((1.0, "a"), (2.0, "b")).toDF("id", "s")
        .write.format("readstat").mode("overwrite").save(s"$dir/first.dta")
      query.processAllAvailable()
      assert(spark.table("readstat_stream_empty").count() == 2L)
    } finally query.stop()
  }

  test("mergeSchema streams null-fill and widen a later arrival") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_merge").toFile
    dir.deleteOnExit()
    Seq((1.0, 1.5, "a"), (2.0, 2.5, "b")).toDF("id", "x", "s")
      .write.format("readstat").mode("overwrite").save(s"$dir/a.dta")
    val stream = spark.readStream.format("readstat")
      .schema("id DOUBLE, x DOUBLE, s STRING")
      .option("mergeSchema", "true").load(dir.getAbsolutePath)
    val query = stream.writeStream.format("memory")
      .queryName("readstat_stream_merge").outputMode("append")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      query.processAllAvailable()
      // the later file lacks s and stores x as an integer
      Seq((3.0, 30), (4.0, 40)).toDF("id", "x")
        .write.format("readstat").mode("overwrite").save(s"$dir/b.dta")
      assert(spark.read.format("readstat").load(s"$dir/b.dta").schema("x").dataType ==
        org.apache.spark.sql.types.IntegerType)
      query.processAllAvailable()
      val rows = spark.table("readstat_stream_merge").orderBy("id").collect()
      assert(rows.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
        Seq((1.0, 1.5), (2.0, 2.5), (3.0, 30.0), (4.0, 40.0)))
      assert(rows.map(r => Option(r.getString(2))).toSeq ==
        Seq(Some("a"), Some("b"), None, None))
    } finally query.stop()
  }

  test("a file still being written is not admitted until its bytes settle") {
    val dir = Files.createTempDirectory("graft_stream_stab").toFile
    dir.deleteOnExit()
    val stabilityMs = 300L
    val stream = new graft.spark.readstat.ReadstatMicroBatchStream(
      dir.getAbsolutePath,
      org.apache.spark.sql.types.StructType.fromDDL("id DOUBLE"),
      graft.spark.readstat.ReadstatOptions(streamStabilityMs = stabilityMs))
    val f = new java.io.File(dir, "grow.dta")
    val out = new java.io.FileOutputStream(f)
    out.write(new Array[Byte](16)); out.flush()
    @volatile var stop = false
    val writer = new Thread(() => {
      while (!stop) { out.write(1); out.flush(); Thread.sleep(20) }
    })
    writer.start()
    try {
      // actively growing: the signature keeps changing between calls,
      // and each call must return WITHOUT sleeping out the stability
      // window (round-6 advice: no Thread.sleep in latestOffset)
      (0 until 3).foreach { _ =>
        val t0 = System.nanoTime()
        val o = stream.latestOffset().json()
        val ms = (System.nanoTime() - t0) / 1e6
        assert(!o.contains("grow.dta"), s"admitted a half-written file: $o")
        assert(ms < stabilityMs, s"latestOffset blocked ${ms}ms")
        Thread.sleep(50)
      }
    } finally { stop = true; writer.join(); out.close() }
    // quiesced: admitted once the signature has been stable for the
    // window across calls — admission lags by >= one trigger, never 0
    val deadline = System.currentTimeMillis() + 5000
    var o2 = stream.latestOffset().json()
    while (!o2.contains("grow.dta") && System.currentTimeMillis() < deadline) {
      Thread.sleep(60)
      o2 = stream.latestOffset().json()
    }
    assert(o2.contains("grow.dta"), o2)
  }

  test("an admitted file deleted before commit is un-admitted; committed names survive cleanup") {
    val dir = Files.createTempDirectory("graft_stream_prune").toFile
    dir.deleteOnExit()
    import spark.implicits._
    val stream = new graft.spark.readstat.ReadstatMicroBatchStream(
      dir.getAbsolutePath,
      org.apache.spark.sql.types.StructType.fromDDL("id DOUBLE, s STRING"),
      graft.spark.readstat.ReadstatOptions())
    Seq((1.0, "a")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(s"$dir/one.dta")
    val o1 = stream.latestOffset().json()
    assert(o1.contains("one.dta"))
    // vanishes before any batch commits it: the next offset must drop
    // it, or planInputPartitions would scan a missing file forever
    assert(new java.io.File(dir, "one.dta").delete())
    assert(!stream.latestOffset().json().contains("one.dta"))
    // committed files stay in the offset even after landing-zone cleanup
    Seq((2.0, "b")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(s"$dir/two.dta")
    val o2 = stream.latestOffset()
    assert(o2.json().contains("two.dta"))
    stream.commit(o2)
    assert(new java.io.File(dir, "two.dta").delete())
    assert(stream.latestOffset().json().contains("two.dta"))
  }

  test("leftover .inprogress temps are invisible to directory reads and streams") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inprog").toFile
    dir.deleteOnExit()
    Seq((1.0, "a"), (2.0, "b")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(s"$dir/ok.dta")
    // a crashed writer's residue: valid-looking prefix at a temp name
    val residue = new java.io.File(dir, ".ok.dta.12345.inprogress")
    java.nio.file.Files.copy(new java.io.File(s"$dir/ok.dta").toPath,
      residue.toPath)
    val junk = new java.io.FileOutputStream(residue, true)
    junk.write(new Array[Byte](7)); junk.close() // corrupt the tail
    assert(spark.read.format("readstat").load(dir.getAbsolutePath)
      .count() == 2L)
    assert(spark.read.format("readstat-file-metadata")
      .load(dir.getAbsolutePath).count() == 1L)
    val stream = new graft.spark.readstat.ReadstatMicroBatchStream(
      dir.getAbsolutePath,
      org.apache.spark.sql.types.StructType.fromDDL("id DOUBLE, s STRING"),
      graft.spark.readstat.ReadstatOptions())
    val off = stream.latestOffset().json()
    assert(off.contains("ok.dta") && !off.contains("inprogress"), off)
  }

  test("schema inference on an empty directory stays a clear error") {
    val dir = Files.createTempDirectory("graft_stream_empty2").toFile
    dir.deleteOnExit()
    val e = intercept[Exception] {
      spark.read.format("readstat").load(dir.getAbsolutePath)
    }
    assert(Option(e.getMessage).exists(_.contains("explicit .schema")), e.getMessage)
  }

  test("streaming a bare file path is rejected with a clear error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream2").toFile
    dir.deleteOnExit()
    Seq((1L, "x")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(s"$dir/one.dta")
    val e = intercept[Exception] {
      spark.readStream.format("readstat").load(s"$dir/one.dta")
        .writeStream.format("memory").queryName("readstat_stream_bad")
        .start().processAllAvailable()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("requires exactly one directory")),
      msgs(e).mkString(" | "))
  }
}
