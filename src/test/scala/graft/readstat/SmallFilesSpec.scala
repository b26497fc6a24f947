package graft.readstat

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Small-file packing: a directory of tiny stat files must not plan one
  * task per file — whole small files bin together up to
  * partitionTargetBytes, while values and per-file row decoding stay
  * exact. */
class SmallFilesSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_small").toFile
    d.deleteOnExit()
    import spark.implicits._
    (0 until 40).foreach { i =>
      Seq.tabulate(50)(j => (i * 50L + j, s"f${i}_r$j"))
        .toDF("id", "s")
        .write.format("readstat").mode("overwrite").save(f"$d/f$i%02d.dta")
    }
    d.getAbsolutePath
  }

  test("tiny files pack into few partitions; values stay exact") {
    val df = spark.read.format("readstat").load(dir)
    val nParts = df.rdd.getNumPartitions
    assert(nParts < 10, s"expected packed partitions, got $nParts for 40 files")
    assert(df.count() == 2000L)
    assert(df.agg(sum("id").cast("long")).collect()(0).getLong(0) ==
      (0L until 2000L).sum)
    assert(df.select("s").distinct().count() == 2000L)
  }

  test("a small byte target splits the same directory into more tasks") {
    val df = spark.read.format("readstat")
      .option("partitionTargetBytes", "1").load(dir)
    assert(df.rdd.getNumPartitions >= 40)
    assert(df.count() == 2000L)
  }

  test("mid-size files that fill the slots between them still pack") {
    // each file alone is 8 open costs of rows, so on its own it splits
    // into a wave of 4 ranges; eight of them fill the 4 slots between
    // them, so each keeps one range and they pack as small files do
    import spark.implicits._
    val mid = Files.createTempDirectory("graft_mid").toFile
    mid.deleteOnExit()
    (0 until 8).foreach { i =>
      Seq.tabulate(4000)(j => i * 4000.0 + j).toDF("x").coalesce(1)
        .write.format("readstat").mode("overwrite").save(f"$mid/m$i%02d.dta")
    }
    val old = spark.conf.getOption("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "4000")
    try {
      val one = spark.read.format("readstat").load(f"$mid/m00.dta")
      assert(one.rdd.getNumPartitions == 4)
      val df = spark.read.format("readstat").load(mid.getPath)
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 32000L)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.files.openCostInBytes", v)
      case None => spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
