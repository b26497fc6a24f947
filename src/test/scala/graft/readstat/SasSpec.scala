package graft.readstat

import java.io.File

/** SAS .sas7bdat reader: fixture sweep + value parity vs pandas goldens
  * (covers LE/BE × 32/64-bit via the pandas test matrix, RLE (test2/test16)
  * and RDC (test4/test15) compression, truncated doubles, temporal formats,
  * MIX pages, multi-page files).
  */
class SasSpec extends SparkTestBase {

  test("compressed sas reads in parallel page partitions == serial") {
    // test4 = RLE, test15 = RDC; a tiny partition target forces per-page
    // partitions, each capped by the plan-time page-row prefix index
    var sawMultiPage = false
    Seq("test4.sas7bdat", "test15.sas7bdat", "test2.sas7bdat",
      "dates_binary.sas7bdat").foreach { f =>
      val path = s"${res("fixtures/sas")}/$f"
      val pages = graft.spark.readstat.SasModule.metadata(path).pageCount
      val serial = spark.read.format("readstat").load(path)
      val parallel = spark.read.format("readstat")
        .option("partitionTargetBytes", "1").load(path)
      if (pages > 1) {
        sawMultiPage = true
        assert(parallel.rdd.getNumPartitions == pages,
          s"$f: expected $pages per-page partitions, got ${parallel.rdd.getNumPartitions}")
      }
      assert(parallel.count() == serial.count(), f)
      val cols = serial.columns.map(org.apache.spark.sql.functions.col).toSeq
      val a = serial.orderBy(cols: _*).collect().map(_.toString).toSeq
      val b = parallel.orderBy(cols: _*).collect().map(_.toString).toSeq
      assert(a == b, f)
    }
    assert(sawMultiPage, "no multi-page compressed fixture exercised the index")
  }

  test("header text trim keeps trailing bytes >= 0x80 (non-ASCII tails)") {
    // "aé" in latin-1: 0x61 0xE9 — 0xE9 is negative as a signed JVM byte,
    // and the old signed compare (b < 32) stripped it
    val cs = java.nio.charset.Charset.forName("ISO-8859-1")
    val bytes = Array[Byte](' ', 'a', 0xE9.toByte, ' ', ' ')
    assert(graft.core.sas.SasCore.trimmedText(bytes, 0, bytes.length, cs) == "aé")
    // control chars and spaces still trim from both ends
    val ctl = Array[Byte](0, 9, 'x', 'y', 0, ' ')
    assert(graft.core.sas.SasCore.trimmedText(ctl, 0, ctl.length, cs) == "xy")
    // all-blank slice collapses to empty
    assert(graft.core.sas.SasCore.trimmedText(Array[Byte](' ', 0), 0, 2, cs) == "")
  }

  private def fixdir = res("fixtures/sas")

  test("all sas fixtures open and read fully") {
    new File(fixdir).listFiles().toSeq.sortBy(_.getName).foreach { f =>
      val df = spark.read.format("readstat").load(f.getAbsolutePath)
      assert(df.schema.nonEmpty, f.getName)
      val md = graft.spark.readstat.SasModule.metadata(f.getAbsolutePath)
      assert(df.count() == md.rowCount, f.getName)
    }
  }

  test("fixture values match pandas goldens") {
    val goldenDir = new File(res("golden/sas"))
    goldenDir.listFiles().toSeq.sortBy(_.getName).foreach { g =>
      val name = g.getName.stripSuffix(".parquet")
      val sas = s"$fixdir/$name.sas7bdat"
      val got = spark.read.format("readstat")
        .option("missingStringAsNull", "false").load(sas)
      assertSameData(got, sasGolden(got, g.getAbsolutePath), name)
    }
  }

  test("parallel page-range read == serial read") {
    val sas = s"$fixdir/owner.sas7bdat" // 27570 rows, 50 pages, uncompressed
    val serial = spark.read.format("readstat").load(sas)
    val parallel = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536").load(sas)
    assert(parallel.rdd.getNumPartitions > 1)
    // compare as sorted multisets (page ranges reorder rows)
    import org.apache.spark.sql.functions._
    val cols = serial.columns.map(col).toIndexedSeq
    assertSameData(parallel.orderBy(cols: _*), serial.orderBy(cols: _*),
      "sas-parallel")
  }

  test("projection pushdown on sas scan") {
    val df = spark.read.format("readstat").load(s"$fixdir/test.sas7bdat")
    val two = df.select(df.columns.take(2).map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    assert(two.count() == 10000)
    assert(two.queryExecution.executedPlan.toString.contains("cols="))
  }

  test("sas7bcat catalog labels apply to matching format columns") {
    val catPath = "/root/reference/crates/polars_readstat_rs/tests/sas/data/data_gov/formats.sas7bcat"
    val cat = graft.core.sas.SasCatalog.read(catPath)
    assert(cat.numeric.size + cat.string.size > 100)
    assert(cat.numeric("REGIONF") ==
      Map(1.0 -> "Northeast", 2.0 -> "Midwest", 3.0 -> "South", 4.0 -> "West"))
    // apply to the matching data file from the same source directory
    val dat = "/root/reference/crates/polars_readstat_rs/tests/sas/data/data_gov/school.sas7bdat"
    if (new java.io.File(dat).exists()) {
      val df = spark.read.format("readstat")
        .option("catalog", catPath)
        .option("valueLabelsAsStrings", "true").load(dat)
      val labeled = df.schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.StringType)
      assert(labeled.nonEmpty)
    }
  }

  test("sas informative nulls expose .A-.Z tags") {
    val f = "/root/reference/crates/polars_readstat_rs/tests/sas/data/info_nulls.sas7bdat"
    val df = spark.read.format("readstat")
      .option("informativeNulls", "true").load(f)
    val indCols = df.columns.filter(_.endsWith("_null"))
    assert(indCols.nonEmpty)
    val tags = df.collect().flatMap(r =>
      indCols.flatMap(c => Option(r.getAs[String](c))))
    assert(tags.exists(_.matches("\\.[A-Z_]")), s"tags: ${tags.mkString(",")}")
  }

  test("sas row index is exact across page-range partitions") {
    val sas = s"$fixdir/owner.sas7bdat"
    val df = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536")
      .option("rowIndexName", "_idx").load(sas)
    val idx = df.select("_idx").collect().map(_.getLong(0)).sorted
    assert(idx.length == 27570)
    assert(idx.toSeq == (0L until 27570L))
  }
}
