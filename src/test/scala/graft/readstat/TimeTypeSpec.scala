package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimeType}

/** `timeAsTimeType` must be honored by EVERY format module (reference
  * time kinds: stata %tcHH:MM:SS → polars_output.rs:713-780, SAS
  * TIME_FORMATS → constants.rs:23-39, xpt col_kind → xpt.rs:487-504),
  * not just SPSS: a time-kind column surfaces as Spark 4.1 TIME(6)
  * with the option on, and as the documented nanos-of-day LongType
  * with it off — same physical values either way. */
class TimeTypeSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("graft_timetype").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/$name"
  }

  test("timeAsTimeType surfaces TIME(6) on dta, sas7bdat, xpt and por") {
    import spark.implicits._
    // stored value per format: stata %tc carries ms-of-day, SAS/XPT/POR
    // TIME carries seconds-of-day; both decode to the same nanos-of-day
    val cases = Seq(
      ("t.dta", "t:%tcHH:MM:SS", 36610000.0, 45296000.0),
      ("t.sas7bdat", "t:TIME8", 36610.0, 45296.0),
      ("t.xpt", "t:TIME8", 36610.0, 45296.0),
      ("t.por", "t:TIME8", 36610.0, 45296.0))
    for ((name, fmt, v1, v2) <- cases) {
      val p = tmp(name)
      Seq((1.0, Some(v1)), (2.0, Some(v2)), (3.0, None: Option[Double]))
        .toDF("id", "t")
        .write.format("readstat").mode("overwrite")
        .option("varFormats", fmt).save(p)

      val on = spark.read.format("readstat")
        .option("timeAsTimeType", "true").load(p)
      val Array(idCol, tCol) = on.columns // xpt/por uppercase names
      assert(on.schema(tCol).dataType == TimeType(6),
        s"$name: ${on.schema.treeString}")
      // TIME(6) rides the columnar path since r11 (vectors hold its
      // physical nanos long) — the option must not force the row path
      if (name.endsWith(".dta") || name.endsWith(".xpt")) {
        val plan = on.queryExecution.executedPlan.toString
        assert(plan.contains("ColumnarToRow"), s"$name not columnar:\n$plan")
      }
      val strs = on.orderBy(idCol)
        .selectExpr(s"cast($tCol as string) AS s").collect()
        .map(r => Option(r.getString(0)).orNull).toSeq
      assert(strs == Seq("10:10:10", "12:34:56", null), s"$name: $strs")

      // option off: the documented nanos-of-day LongType, same values
      val off = spark.read.format("readstat").load(p)
      assert(off.schema(tCol).dataType == LongType, s"$name (off)")
      val nanos = off.orderBy(idCol).select(tCol).collect()
        .map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
        .toSeq
      assert(nanos == Seq(36610000000000L, 45296000000000L, null),
        s"$name (off): $nanos")
    }
  }

  test("TimeType columns write to every format and roundtrip") {
    // the reference writes polars Time to dta/sav/xpt (writer.rs:1610,
    // writer.rs:416, xpt_writer.rs:129); sas7bdat + por are beyond it.
    // source of a real TIME(6) column: the SPSS fixture read
    val src = spark.read.format("readstat")
      .option("timeAsTimeType", "true").load(res("fixtures/spss/sample.sav"))
      .select(col("mytime"))
    assert(src.schema("mytime").dataType == TimeType(6))
    val want = src.selectExpr("cast(mytime as string) AS t").collect()
      .map(r => Option(r.getString(0)).orNull).toSeq
    assert(want.contains("10:10:10") && want.contains(null), want.toString)
    for (ext <- Seq("dta", "sav", "zsav", "sas7bdat", "xpt", "por")) {
      val p = tmp(s"t_rt.$ext")
      src.write.format("readstat").mode("overwrite").save(p)
      val back = spark.read.format("readstat")
        .option("timeAsTimeType", "true").load(p)
      val tCol = back.columns(0)
      assert(back.schema(tCol).dataType == TimeType(6),
        s"$ext: ${back.schema.treeString}")
      val got = back.selectExpr(s"cast($tCol as string) AS t").collect()
        .map(r => Option(r.getString(0)).orNull).toSeq
      assert(got == want, s"$ext: $got vs $want")
    }
  }

  test("compress writes a frame with a TIME column to every format and roundtrips") {
    // the compress analysis must not build the TIME-gated row encoder
    // (Dataset.agg did: UNSUPPORTED_TIME_TYPE on any frame with a TIME)
    val src = spark.read.format("readstat")
      .option("timeAsTimeType", "true").load(res("fixtures/spss/sample.sav"))
    assert(src.schema("mytime").dataType == TimeType(6))
    val want = src.orderBy("mynum")
      .selectExpr("cast(mytime as string) AS t").collect()
      .map(r => Option(r.getString(0)).orNull).toSeq
    for (ext <- Seq("dta", "sav", "xpt", "sas7bdat")) {
      val p = tmp(s"t_compress.$ext")
      graft.api.Readstat.write(src, p, Map("compress" -> "true"))
      val back = spark.read.format("readstat")
        .option("timeAsTimeType", "true").load(p)
      def named(n: String): String = back.columns.find(_.equalsIgnoreCase(n)).get
      assert(back.schema(named("mytime")).dataType == TimeType(6),
        s"$ext: ${back.schema.treeString}")
      val got = back.orderBy(named("mynum"))
        .selectExpr(s"cast(${named("mytime")} as string) AS t").collect()
        .map(r => Option(r.getString(0)).orNull).toSeq
      assert(got == want, s"$ext: $got vs $want")
    }
  }

  test("streaming TIME is gated by Spark itself, not by our sinks") {
    import spark.implicits._
    // `Dataset.writeStream` eagerly builds the (TIME-gated) row encoder
    // in DataStreamWriter's constructor — a streaming TIME frame throws
    // Spark's UNSUPPORTED_TIME_TYPE before any sink is consulted. The
    // sinks' colSpecs already accept TimeType for when Spark lifts the
    // encoder gate; pin the CURRENT boundary so a Spark upgrade that
    // lifts it flips this test and we enable the roundtrip.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_tsrc").toFile
    srcDir.deleteOnExit()
    Seq((1.0, Some(36610000.0)), (2.0, None: Option[Double]))
      .toDF("id", "t")
      .write.format("readstat").mode("overwrite")
      .option("varFormats", "t:%tcHH:MM:SS").save(s"$srcDir/src.dta")
    val stream = spark.readStream.format("readstat")
      .option("timeAsTimeType", "true").load(srcDir.getAbsolutePath)
    assert(stream.schema("t").dataType == TimeType(6))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      stream.writeStream
    }
    assert(e.getMessage.contains("TIME"), e.getMessage)
    // the nanos-of-day default (option off) streams fine
    val dir = java.nio.file.Files.createTempDirectory("graft_tsink").toFile
    dir.deleteOnExit()
    val q = spark.readStream.format("readstat").load(srcDir.getAbsolutePath)
      .writeStream.format("readstat")
      .option("checkpointLocation", s"$dir/ckpt")
      .start(s"$dir/out.dta")
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("readstat").load(s"$dir/out.dta").count() == 2L)
  }

  test("TIME columns read through the row reshapes (struct, merged, mergeSchema)") {
    // the reshapes read rows off columnar batches, whose generic getter
    // has no TIME case: every reshape must read TIME as its long
    val sav = res("fixtures/spss/sample.sav")
    def times(df: org.apache.spark.sql.DataFrame, expr: String) =
      df.selectExpr(s"cast($expr as string) AS t").collect()
        .map(r => Option(r.getString(0)).orNull).toSeq
    val want = times(spark.read.format("readstat")
      .option("timeAsTimeType", "true").load(sav), "mytime")
    assert(want.contains("10:10:10"), want.toString)
    val struct = spark.read.format("readstat").option("timeAsTimeType", "true")
      .option("informativeNulls", "true")
      .option("informativeNullMode", "struct").load(sav)
    assert(times(struct, "mytime.mytime") == want)
    val merged = spark.read.format("readstat").option("timeAsTimeType", "true")
      .option("informativeNulls", "true")
      .option("informativeNullMode", "merged").load(sav)
    assert(merged.collect().length == want.length)
    // mergeSchema null-fill: the TIME file lacks `extra`, the other file
    // lacks the TIME column
    import spark.implicits._
    val dir = tmp("t_merge")
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(sav),
      java.nio.file.Paths.get(s"$dir/a.sav"))
    Seq((1.5, "x")).toDF("mynum", "extra").write.format("readstat")
      .mode("overwrite").save(s"$dir/b.sav")
    val both = spark.read.format("readstat").option("timeAsTimeType", "true")
      .option("mergeSchema", "true").load(dir)
    assert(both.columns.contains("extra"))
    assert(times(both, "mytime").filter(_ != null).sorted ==
      want.filter(_ != null).sorted)
  }

  test("por varFormats validate loudly") {
    import spark.implicits._
    val df = Seq((1.0, "x")).toDF("v", "s")
    def err(opts: (String, String)*): String = {
      intercept[Exception] {
        val w = df.write.format("readstat").mode("overwrite")
        opts.foreach { case (k, x) => w.option(k, x) }
        w.save(tmp("bad.por"))
      }.getMessage
    }
    assert(err("varFormats" -> "nope:TIME8").contains("unknown column"))
    assert(err("varFormats" -> "s:TIME8").contains("string column"))
    assert(err("varFormats" -> "v:WEIRD9").contains("not a supported"))
  }
}
