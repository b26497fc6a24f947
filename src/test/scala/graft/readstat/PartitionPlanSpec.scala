package graft.readstat

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.spark.readstat.{Formats, RangePartition, ReadstatOptions, SasModule,
  SpssModule, SplitRule, StataModule}

/** The one split rule behind every module's range planning
  * (`SplitRule`): at least `ceil(units / (target / unitBytes))` ranges,
  * rounded up to whole waves of the session's task slots as long as no
  * range falls under `spark.sql.files.openCostInBytes`, capped at the
  * units, all on one stride `ceil(units / n)` so only the last range is
  * short. The session is `local[4]`, so a wave is 4 tasks. */
class PartitionPlanSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_plan").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `n` rows of one double column (8-byte dta/sav records). */
  private def write(name: String, n: Int): String = {
    import spark.implicits._
    val p = s"$dir/$name"
    (1 to n).map(_ * 0.5).toDF("x").coalesce(1)
      .write.format("readstat").mode("overwrite").save(p)
    p
  }

  /** Run `body` with session confs set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Options resolved the way a scan resolves them, under `floor`. */
  private def opts(target: Long, floor: Long): ReadstatOptions =
    withConf("spark.sql.files.openCostInBytes" -> floor.toString) {
      ReadstatOptions.from(Map("partitionTargetBytes" -> target.toString).asJava)
    }

  private def plan(path: String, o: ReadstatOptions): Seq[RangePartition] =
    Formats.moduleFor(path).planPartitions(path, o, None)

  /** Ranges are contiguous from row 0 and sum to `rows`. */
  private def assertCovers(parts: Seq[RangePartition], rows: Long): Unit = {
    assert(parts.head.startRow == 0)
    parts.zip(parts.tail).foreach { case (a, b) =>
      assert(a.startRow + a.numRows == b.startRow, parts)
    }
    assert(parts.map(_.numRows).sum == rows, parts)
  }

  test("options resolve the session's slots and open cost") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(ReadstatOptions.from(Map.empty[String, String].asJava).split ==
      SplitRule(4, 4L << 20))
    withConf("spark.sql.files.minPartitionNum" -> "3",
        "spark.sql.files.openCostInBytes" -> "1000") {
      assert(ReadstatOptions.from(Map.empty[String, String].asJava).split ==
        SplitRule(3, 1000))
    }
    assert(ReadstatOptions().split == SplitRule.Plain)
  }

  test("a dta of 5.25 targets plans 8 ranges on one stride") {
    for (rows <- Seq(21000, 21003)) {
      val p = write(s"tall_$rows.dta", rows)
      assert(StataModule.metadata(p).rowLen == 8)
      val parts = plan(p, opts(target = 4000L * 8, floor = 16000))
      assert(parts.length == 8, parts)
      assertCovers(parts, rows)
      val sizes = parts.map(_.numRows)
      assert(sizes.init.distinct == Seq((rows + 7) / 8) && sizes.last <= sizes.head, sizes)
      // without the wave fill the same file plans n0 = 6 ranges
      assert(plan(p, opts(4000L * 8, floor = 1L << 30)).length == 6)
      // explicit slots: 6 is already a whole number of 3-task waves
      withConf("spark.sql.files.minPartitionNum" -> "3",
          "spark.sql.files.openCostInBytes" -> "16000") {
        val o = ReadstatOptions.from(
          Map("partitionTargetBytes" -> (4000L * 8).toString).asJava)
        assert(plan(p, o).length == 6)
      }
      // the scan plans the same ranges
      withConf("spark.sql.files.openCostInBytes" -> "16000") {
        val df = spark.read.format("readstat")
          .option("partitionTargetBytes", (4000L * 8).toString).load(p)
        assert(df.rdd.getNumPartitions == 8)
        assert(df.count() == rows)
      }
    }
  }

  test("no range holds more than partitionTargetBytes") {
    for (units <- Seq(1L, 7L, 1000L, 21003L); unitBytes <- Seq(1L, 8L, 80L, 65536L);
         target <- Seq(1L, 8L, 100L, 32000L, 1L << 20, 128L << 20);
         rule <- Seq(SplitRule(4, 16000), SplitRule(4, 4L << 20), SplitRule(1, 1), SplitRule(7, 1))) {
      val ctx = s"units=$units unitBytes=$unitBytes target=$target $rule"
      val q = rule.stride(units, unitBytes, target)
      assert(q >= 1 && q <= units, ctx)
      assert(q == 1 || q * unitBytes <= target, ctx)
    }
    // and through a module: an 8-byte-row dta under tiny targets
    val p = write("bound.dta", 1000)
    for (target <- Seq(1L, 8L, 100L, 4096L, 5000L)) {
      val parts = plan(p, opts(target, floor = 1))
      assertCovers(parts, 1000)
      assert(parts.forall(r => r.numRows == 1 || r.numRows * 8 <= target), parts)
    }
    assert(plan(p, opts(1, floor = 1)).length == 1000)
  }

  test("a file under 2 x openCostInBytes plans one range") {
    val small = write("small.dta", 3999) // 31,992 bytes of rows
    val two = write("two.dta", 4000)     // 32,000 bytes of rows
    assert(plan(small, opts(128L << 20, floor = 16000)).length == 1)
    assert(plan(two, opts(128L << 20, floor = 16000)).length == 2)
    // the session default (4 MB) keeps both whole
    assert(plan(two, opts(128L << 20, floor = 4L << 20)).length == 1)
  }

  test("a zsav builds one checkpoint skim for a full read and an OFFSET read") {
    val p = write("mid.zsav", 20000)
    withConf("spark.sql.files.openCostInBytes" -> "16000") {
      val df = spark.read.format("readstat").load(p)
      assert(df.rdd.getNumPartitions == 4)
      assert(df.count() == 20000)
      assert(SpssModule.savIndexEntries(p) == 1)
      val page = df.offset(12345)
      val leaves = page.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(leaves.contains("offset=12345"), leaves)
      val xs = page.collect().map(_.getDouble(0)).toSeq
      assert(xs == (12346 to 20000).map(_ * 0.5))
      assert(SpssModule.savIndexEntries(p) == 1)
      // the offset read resumes at the checkpoint of the range holding
      // its first row, then splits the rest on the same boundaries
      val o = ReadstatOptions.from(Map.empty[String, String].asJava)
      val full = plan(p, o)
      val at = SpssModule.planPartitionsAt(p, o, 12345, None).get
      assert(full.map(_.startRow) == Seq(0, 5000, 10000, 15000))
      assert(at.map(r => (r.startRow, r.numRows, r.skipRows)) ==
        Seq((12345, 2655, 2345), (15000, 5000, 0)))
      assert(at.map(_.sav) == full.drop(2).map(_.sav))
    }
  }

  test("POR and sas7bdat plan the same counts as the fixed-width formats") {
    import spark.implicits._
    val n = 60000
    val frame = (1 to n).map(i => (i * 0.5, i.toDouble)).toDF("x", "y").coalesce(1)
    val paths = Seq("dta", "sav", "xpt", "sas7bdat", "por").map { ext =>
      val p = s"$dir/same.$ext"
      frame.write.format("readstat").mode("overwrite").save(p)
      p
    }
    val sasPages = SasModule.metadata(paths(3)).pageCount
    assert(sasPages >= 8, s"$sasPages pages")
    for (p <- paths) {
      val size = new File(p).length()
      // the default target fills one wave when ranges stay above the floor
      val wave = plan(p, opts(128L << 20, floor = size / 10))
      assert(wave.length == 4, s"$p: $wave")
      // and stays one range under 2 x floor
      assert(plan(p, opts(128L << 20, floor = size)).length == 1, p)
      // 5.25 targets' worth rounds up to two waves
      val two = plan(p, opts((size / 5.25).toLong, floor = 1))
      assert(two.length == 8, s"$p: ${two.length}")
      val back = spark.read.format("readstat")
        .option("partitionTargetBytes", (size / 5.25).toLong.toString).load(p)
      assert(back.count() == n, p)
    }
    // POR ranges resume at checkpoints and cover every row
    val por = plan(paths(4), opts(128L << 20, floor = new File(paths(4)).length() / 10))
    assert(por.forall(_.por.isDefined))
    assertCovers(por, n)
  }

  test("a file of a scan fills its byte share of the slots") {
    val rule = SplitRule(4, 16000)
    assert(rule.share(100, 100) == rule)
    assert(rule.share(50, 100) == SplitRule(2, 16000))
    assert(rule.share(1, 1000) == SplitRule(1, 16000))
    // a 5.25-target file that is half the scan's bytes fills 2 slots
    assert(rule.stride(21000, 8, 4000L * 8) == 2625)
    assert(rule.share(1, 2).stride(21000, 8, 4000L * 8) == 3500)
    assert(rule.stride(20000, 8, 128L << 20) == 5000)
    assert(rule.share(1, 2).stride(20000, 8, 128L << 20) == 10000)
    assert(rule.share(1, 8).stride(20000, 8, 128L << 20) == 20000)
  }
}
