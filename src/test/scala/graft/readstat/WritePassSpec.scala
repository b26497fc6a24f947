package graft.readstat

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.Readstat
import graft.spark.readstat.writers.{WriteCompress, WritePass, WriteStats}

/** Pass structure and output bytes of the batch stat-file writers.
  *
  * A plain single-file write is one job (`writers.WritePass`): each task
  * folds its stats (`writers.WriteStats`: row count, string widths,
  * integer ranges), spills its rows and encodes them under its own
  * layout; partitions whose layout differs from the global one are
  * re-encoded from their spills. `compress=true` (whose stats fold also
  * runs the narrowing analysis) and `multiFile=true` are one stats fold
  * plus one encode job. A SparkListener counts the jobs one
  * `Readstat.write` starts, and the SHA-256 of every target's output for
  * fixed, seeded frames pins that neither change moved a byte.
  */
class WritePassSpec extends SparkTestBase {

  // NOTE: like ShuffleVolumeSpec, the listener is session-global; the
  // local property scopes the count to jobs submitted by this thread.

  private val Seed = 20261017L

  private def h(salt: Int, m: Long): Column =
    pmod(xxhash64(lit(Seed), col("id"), lit(salt)), lit(m))

  /** 2000 seeded rows in 3 partitions: every stats kind the writers
    * read (multi-byte strings with nulls, byte/short/int/date ranges
    * including a byte column outside Stata's byte range), plus the
    * shapes compress narrows (integral doubles, midnight timestamps,
    * a 0/1 column). No shuffle, so every job is one stage. */
  private def frame: DataFrame = spark.range(0, 2000, 1, 3).select(
    (col("id") * 1000).cast("int").as("id"),
    (h(1, 100000) / 4.0).as("x"),
    h(2, 50).cast("double").as("code"),
    when(h(3, 10) === 0, lit(null)).otherwise(h(4, 30000).cast("short")).as("sh"),
    (h(5, 200) - 100).cast("byte").as("b"),
    (h(6, 28) + 100).cast("byte").as("hib"),
    when(h(7, 7) === 0, lit(null))
      .otherwise(concat(lit("é"), repeat(lit("ab"), h(8, 20).cast("int"))))
      .as("s"),
    date_add(lit("2000-01-01").cast("date"), h(9, 9000).cast("int")).as("d"),
    timestamp_seconds(lit(946684800L) + h(10, 5000) * 86400L).as("tmid"),
    h(11, 2).cast("double").as("flag"))

  /** 300 rows in 3 partitions whose own layouts differ: partition 0
    * holds the narrowest strings, and only partition 1 holds a byte above
    * Stata's byte range (dta widens the column to int). So partition 0
    * is re-encoded for every target, partition 2 for dta only, and
    * partition 1's chunk is spliced as it is. */
  private def skewed: DataFrame = {
    val part = (col("id") / 100).cast("int")
    val k = when(part === 0, lit(2)).otherwise(lit(5))
    spark.range(0, 300, 1, 3).select(
      col("id").cast("double").as("v"),
      when(pmod(col("id"), lit(7)) === 3, lit(null))
        .otherwise(repeat(lit("é"), (pmod(col("id"), k) + 1).cast("int"))).as("s"),
      when(part === 1 && pmod(col("id"), lit(10)) === 0, lit(120))
        .otherwise(pmod(col("id"), lit(50)) - 25).cast("byte").as("b"),
      date_add(lit("2000-01-01").cast("date"), col("id").cast("int")).as("d"))
  }

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft_writepass").toFile
    d.deleteOnExit()
    d
  }

  /** Jobs started by this thread while `action` runs (listener events
    * are async — polls until the count stabilizes). */
  private def jobsOf(action: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("graft.writepass") == tag) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.writepass", tag)
    try {
      action
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 50) {
        Thread.sleep(100)
        waited += 1
        val now = n.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      n.get()
    } finally {
      sc.setLocalProperty("graft.writepass", null)
      sc.removeSparkListener(listener)
    }
  }

  /** SHA-256 of a file, or of a directory's files in name order. */
  private def sha256(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = if (f.isDirectory) f.listFiles().filter(_.isFile).sortBy(_.getName).toSeq
      else Seq(f)
    files.foreach { p =>
      if (f.isDirectory) md.update(p.getName.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val Targets = Seq("dta", "sav", "zsav", "sas7bdat", "xpt")

  test("one Readstat.write runs at most two Spark jobs, plain and compress") {
    val dir = tmpDir()
    val got = for (ext <- Targets; compress <- Seq(false, true)) yield {
      val opts = if (compress) Map("compress" -> "true") else Map.empty[String, String]
      val df = frame
      val jobs = jobsOf(Readstat.write(df, s"$dir/jobs_$compress.$ext", opts))
      s"$ext${if (compress) "+compress" else ""}" -> jobs
    }
    assert(got.forall(_._2 <= 2), got.mkString(", "))
    assert(got.forall(_._2 >= 1), s"no job recorded — listener broken? $got")
  }

  test("a plain single-file write runs one Spark job; compress and multiFile at most two") {
    val dir = tmpDir()
    val plain = Targets.map(ext => ext -> jobsOf(Readstat.write(frame, s"$dir/one.$ext")))
    assert(plain.forall(_._2 == 1), plain.mkString(", "))
    val two = Targets.flatMap { ext => Seq(
      s"$ext+compress" -> jobsOf(Readstat.write(frame, s"$dir/two_c.$ext",
        Map("compress" -> "true"))),
      s"$ext.multiFile" -> jobsOf(Readstat.write(frame, s"$dir/two_m_$ext",
        Map("multiFile" -> "true", "fileFormat" -> ext))))
    }
    assert(two.forall { case (_, n) => n >= 1 && n <= 2 }, two.mkString(", "))
  }

  /** (case name, target file, options) → SHA-256 of the output. */
  private val Cases: Seq[(String, String, Map[String, String])] =
    Targets.flatMap(ext => Seq(
      (ext, s"out.$ext", Map.empty[String, String]),
      (s"$ext+compress", s"out_c.$ext", Map("compress" -> "true")))) ++ Seq(
      ("dta117", "out117.dta", Map("dtaVersion" -> "117")),
      ("dta117+compress", "out117_c.dta",
        Map("dtaVersion" -> "117", "compress" -> "true")),
      ("csv", "out.csv", Map.empty[String, String])) ++
    Seq("dta", "sav", "sas7bdat", "xpt").map(ext =>
      (s"$ext.multiFile", s"multi_$ext", Map("multiFile" -> "true", "fileFormat" -> ext)))

  /** Recorded with the per-writer `Dataset.agg` stats jobs, before the
    * single stats fold replaced them. */
  private val Pinned: Map[String, String] = Map(
    "csv" -> "d711d8170f7fb5579eb0660e02917f587519f7fc5308d71c42a2c52882a331c0",
    "csv.sas" -> "784443955aceb144fb7590e97c484e7c74f1aaf97531beec9fd300b20b12fdbc",
    "dta" -> "f5547920076193a9aa60bbdd334c7fc196e0faf3f5a8084f7696043304c31796",
    "dta+compress" -> "614b7069bb95375d0edd15bccb94aec615f0b7a5824b75bac52c4884cb1e952b",
    "dta.multiFile" -> "8bc4b62dfee68d73c47f3e076a159cd549af6422c82c55b28c27dbd903e79a5f",
    "dta117" -> "d79b318d821811a0cb2f6166216c915c29324033d0285cb08147d808b97c0740",
    "dta117+compress" -> "cd625903e1f7bf3dc94ebebc28d7febfb9d9a15b9da60dcc94f5c37d339a1700",
    "sas7bdat" -> "36cfe288ad48e818efbdd4a0968573e4254348163c5cf627ad958418d5759026",
    "sas7bdat+compress" -> "140bef7297451f584cf9253db107fd81ed61bfb5728d47a633a80dd28a14892a",
    "sas7bdat.multiFile" -> "b7904c0ce0e1e25abb3e1e9ecec10fdab98aa1859ca3106c0acaa36a8130a750",
    "sav" -> "ade8f1e8cbca062823d5671ff1d4a0c7b022130fe1ba9cbfb1fceeab0148ae5d",
    "sav+compress" -> "edaaeb2e92a13b8ce999dc2c8809bc8331e15fb7222e483beb7e9c96ff703b98",
    "sav.multiFile" -> "7f736f938305ead5fc5c0c2a39c609bcf7c9508e007c16df67328e47c7f0da2b",
    "xpt" -> "a7dc9217cc34ca09c16557b267bb4a31ffc4c7c4f2e26d342738283d5e84c1bd",
    "xpt+compress" -> "b1f749bee07fa3adca9c172b8cd5ca6d4074bded21d1ba3f47d12ae91cba186c",
    "xpt.multiFile" -> "0bb2465042541096d2d6a684fe78e99bc7f877c283081da4325b886f48758bea",
    "zsav" -> "a6a52fff47825d62cf8d11a3541ce2520102936e0222710f41b8201168937031",
    "zsav+compress" -> "6aca582df78c011143cb6b53258727861df8a07b0d9ac24e8e6397af9038cc3d")

  test("every target's output matches the digest pinned before the stats fold") {
    val dir = tmpDir()
    val got = Cases.flatMap { case (name, file, opts) =>
      Readstat.write(frame, s"$dir/$file", opts)
      val main = name -> sha256(new File(s"$dir/$file"))
      if (file.endsWith(".csv"))
        Seq(main, "csv.sas" -> sha256(new File(s"$dir/${file.stripSuffix(".csv")}.sas")))
      else Seq(main)
    }.toMap
    assert(got == Pinned)
  }

  /** Framing shapes the pins above leave out: the legacy dta layout,
    * label sections, and the strL section between the data and the
    * value labels. (case name, target file, options, long strings). */
  private val FrameCases: Seq[(String, String, Map[String, String], Boolean)] = {
    val labels = Map(
      "valueLabels" -> "b:-1=minus one,0=zero,7=seven|sh:0=none,12=twelve",
      "varLabels" -> "x:Quarter of a hash|s:Accented text|d:A date")
    Seq(
      ("dta114", "f114.dta", Map("dtaVersion" -> "114"), false),
      ("dta+labels", "flab.dta", labels, false),
      ("dta117+labels", "flab117.dta", labels + ("dtaVersion" -> "117"), false),
      ("sav+labels", "flab.sav", labels, false),
      ("zsav+labels", "flab.zsav", labels, false),
      ("dta+strl", "fstrl.dta", Map.empty[String, String], true),
      ("dta117+strl", "fstrl117.dta", Map("dtaVersion" -> "117"), true))
  }

  /** Recorded before the batch writers and the streaming sinks shared
    * one file assembler. */
  private val FramePinned: Map[String, String] = Map(
    "dta+labels" -> "6d16d147c78a914bf0fef8e45f56e892edb74f9cb2e9e3d110ec8ee8dc6d0ff9",
    "dta+strl" -> "481131f174a0d80dfe6dbb413551031b30012883aa965e12b6fc6df06bb5dae3",
    "dta114" -> "7b4b6a5031314041c4cb25c2373a96166e7f0a79e96dfd0326231d08e3460bd3",
    "dta117+labels" -> "34f952b24a9eabc16f23ddbb1b8f84b1ab0b33ecd2e7b3334d08089079c9380c",
    "dta117+strl" -> "00854b0a56d5a63263c40b42fe66cd1742e9dcd49a9e2b11f06ad30637c2b934",
    "sav+labels" -> "d6efd692a0cd1e85c4dc6dbbc48ad1035c224add78a5274db61dd3e5ac258113",
    "zsav+labels" -> "26554e4ddb0fdc85d02df3fb3b5e51479f0c81aec401dfb4c425babff01e3283")

  test("label, legacy and strL framings match their pinned digests") {
    val dir = tmpDir()
    // every fifth row holds a string past dta's 2045-byte str# cap
    val strl = frame.withColumn("long", when(h(12, 5) === 0,
      repeat(concat(lit("strL "), col("id").cast("string")), 300))
      .otherwise(concat(lit("short "), col("id").cast("string"))))
    val got = FrameCases.map { case (name, file, opts, long) =>
      Readstat.write(if (long) strl else frame, s"$dir/$file", opts)
      name -> sha256(new File(s"$dir/$file"))
    }.toMap
    assert(got == FramePinned, got.toSeq.sorted.map { case (k, v) => s"\"$k\" -> \"$v\"" }
      .mkString(",\n"))
  }

  /** Recorded at the commit before the one-job pass (two jobs, one
    * global layout for every partition). */
  private val SkewedPinned: Map[String, String] = Map(
    "dta" -> "4f5b49dd817500d2eaaa316014abcc1921038f84e229e897ac9d53dfa030c9c9",
    "sav" -> "e5b2f8ff7466297ead19221865938e34220fb9f5433a0f617680892114707b92",
    "zsav" -> "f8cd683970c5baf4d683493cd54a474f82486ebffaf5fb5714720a874fe1c75d",
    "sas7bdat" -> "8ffdb9b994cd038d98f0f74ef3e5065ea83f35f6caf3cedcdea14f36a58c3d1d",
    "xpt" -> "40841857a1fb222b33470efd5f9c7b94486086a572e228c9a484ad9624e16d6b")

  test("partitions whose own layout differs are re-encoded to the same bytes") {
    val dir = tmpDir()
    val reencoded = Targets.map { ext =>
      val before = WritePass.reencoded.get()
      Readstat.write(skewed, s"$dir/skew.$ext")
      ext -> (WritePass.reencoded.get() - before)
    }.toMap
    val got = Targets.map(ext => ext -> sha256(new File(s"$dir/skew.$ext"))).toMap
    assert(got == SkewedPinned)
    assert(reencoded == Map("dta" -> 2L, "sav" -> 1L, "zsav" -> 1L,
      "sas7bdat" -> 1L, "xpt" -> 1L))
  }

  test("compress derives the narrowed frame's stats exactly as a fold over it measures them") {
    import spark.implicits._
    val edge = Seq(
      (Some(1.0), Some(Double.NaN), "12", Some("2024-01-01 00:00:00"), Some(3.toShort), Option.empty[Int]),
      (Some(-7.0), Some(2.0), " 3 ", Some("2024-03-05 00:00:00"), None, None),
      (None, Some(0.5), "", None, Some(-300.toShort), None))
      .toDF("i", "nan", "numstr", "ts", "sh", "allnull")
      .select($"i", $"nan", $"numstr", $"ts".cast("timestamp_ntz").as("ntz"),
        $"ts".cast("timestamp").as("ts"), $"sh", $"allnull")
    val cases = Seq(
      frame -> Map("compress" -> "true"),
      edge -> Map.empty[String, String],
      edge -> Map("compressCheckString" -> "true", "compressNoBoolean" -> "true"),
      edge -> Map("compressCols" -> "i,ts", "compressAllNullToBoolean" -> "false"),
      edge.limit(0) -> Map.empty[String, String])
    for (((df, o), k) <- cases.zipWithIndex; dta <- Seq(true, false)) {
      val (out, stats) = WriteCompress.applyWithStats(df, WriteCompress.Opts.from(o, dta))
      assert(stats == WriteStats.of(out), s"case $k (dta=$dta): ${out.schema.simpleString}")
    }
  }

  test("the stats fold evaluates only the columns it measures") {
    // a column no writer measures (doubles here) must not be computed —
    // or, from a stat file, decoded — by the stats pass
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("unmeasured column evaluated")
      0.0
    }
    // (a dotted name is a column name, not a struct field path)
    val df = spark.range(0, 50, 1, 3).select(boom(col("id")).as("x"),
      concat(lit("v"), col("id").cast("string")).as("s.1"), col("id").cast("int").as("i"))
    assert(WriteStats.of(df) ==
      WriteStats(50L, Map("s.1" -> 3), Map("s.1" -> 3), Map("i" -> (0L, 49L))))
    // nothing measured: the count folds the zero-column projection
    assert(WriteStats.of(df.select("x")) == WriteStats(50L, Map.empty, Map.empty, Map.empty))
  }

  test("a numeric-only stat file's row count comes from its metadata") {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val p = s"${tmpDir()}/numeric.dta"
    Readstat.write(frame.select("x", "code", "flag"), p)
    val src = spark.read.format("readstat").load(p)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    def pushed = plans.toArray.exists(_.toString.contains("count-star (metadata-only)"))
    val stats = try {
      val st = WriteStats.of(src)
      var waited = 0 // listener events are async
      while (!pushed && waited < 50) { Thread.sleep(100); waited += 1 }
      st
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stats == WriteStats(2000L, Map.empty, Map.empty, Map.empty))
    assert(pushed, plans.toArray.mkString("\n"))
  }

  /** Single partition: its second evaluation yields twice the rows and
    * twice-as-long strings. */
  private def drifting: DataFrame = {
    val pass = udf { (id: Long) =>
      if (id == 0L) WritePassSpec.evaluations.incrementAndGet()
      WritePassSpec.evaluations.get()
    }.asNondeterministic()
    spark.range(0, 20, 1, 1)
      .withColumn("pass", pass(col("id")))
      .where(col("id") < col("pass") * 10)
      .select(col("id").cast("double").as("v"),
        repeat(lit("x"), col("pass")).as("s"))
  }

  test("a plain write evaluates its source once and writes that evaluation") {
    val dir = tmpDir()
    for (ext <- Seq("dta", "sav", "xpt", "sas7bdat")) {
      WritePassSpec.evaluations.set(0)
      val target = s"$dir/once.$ext"
      Readstat.write(drifting, target)
      assert(WritePassSpec.evaluations.get() == 1, s"$ext: source evaluated again")
      val back = spark.read.format("readstat").load(target)
        .select(col("v").cast("double"), col("s")).collect()
        .map(r => (r.getDouble(0), r.getString(1))).toSeq
      assert(back == (0 until 10).map(i => (i.toDouble, "x")), s"$ext: $back")
    }
  }

  test("a source that drifts between the stats fold and the encode job fails the write") {
    // compress and multiFile still evaluate the source twice: the encode
    // job must refuse to splice a file whose header describes the first
    // evaluation
    val dir = tmpDir()
    for (ext <- Seq("dta", "sav", "xpt", "sas7bdat");
         opts <- Seq(Map("compress" -> "true"), Map("multiFile" -> "true", "fileFormat" -> ext))) {
      WritePassSpec.evaluations.set(0)
      val target = new File(s"$dir/drift_${opts.size}.$ext")
      val e = intercept[Exception](Readstat.write(drifting, target.getPath, opts))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("row count drift") ||
        msgs.contains("different rows across jobs"), s"$ext $opts: $msgs")
      assert(WritePassSpec.evaluations.get() >= 2, s"$ext $opts: source evaluated once")
      // (multiFile parts are assembled before the count check)
      if (opts.contains("compress"))
        assert(!target.exists(), s"$ext $opts: a file was left at $target")
    }
  }

  test("every scratch file goes to scratchDir") {
    val notADir = File.createTempFile("graft_scratch_", ".file")
    notADir.deleteOnExit()
    val dir = tmpDir()
    for (ext <- Targets :+ "csv"; multi <- Seq(false, true)) {
      intercept[Exception](Readstat.write(frame, s"$dir/nodir.$ext",
        Map("scratchDir" -> notADir.getPath, "multiFile" -> multi.toString)))
      assert(!new File(s"$dir/nodir.$ext").exists(), s"$ext multiFile=$multi")
    }
  }

  test("a failed write leaves no scratch file behind") {
    // one of three partitions throws mid-encode; the double column is
    // unmeasured, so only the encode evaluates it
    val boom = udf { (id: Long) =>
      if (id == 250L) throw new IllegalStateException("boom")
      id.toDouble
    }
    val df = spark.range(0, 300, 1, 3).select(boom(col("id")).as("x"),
      concat(lit("v"), col("id").cast("string")).as("s"))
    val dir = tmpDir()
    for (ext <- Targets :+ "csv"; multi <- Seq(false, true)) {
      val ctx = s"$ext multiFile=$multi"
      val scratch = Files.createTempDirectory(dir.toPath, "scratch").toFile
      val target = new File(s"$dir/fail_$multi.$ext")
      val e = intercept[Exception](Readstat.write(df, target.getPath,
        Map("scratchDir" -> scratch.getPath, "multiFile" -> multi.toString)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), s"$ctx: $e")
      // a multiFile part task keeps its chunks on its own host and
      // removes them, and its part if the failed job killed it, when it
      // ends, which can be after the write has returned
      def settled(cond: => Boolean): Boolean = if (!multi) cond else {
        val end = System.nanoTime + 10000000000L
        while (!cond && System.nanoTime < end) Thread.sleep(20)
        cond
      }
      assert(settled(scratch.list().isEmpty), s"$ctx: left ${scratch.list().mkString(", ")}")
      // the driver removes the parts of the partitions that finished,
      // and the directory a multiFile write made for them
      assert(settled(Option(target.list()).forall(_.isEmpty)) && (multi || !target.exists()),
        s"$ctx: left ${Option(target.list()).map(_.mkString(", "))}")
    }
  }
}

object WritePassSpec {
  /** JVM-static evaluation counter for the drifting source (local mode
    * runs every task in this JVM). */
  val evaluations = new AtomicInteger
}
