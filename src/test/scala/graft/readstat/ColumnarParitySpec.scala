package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Columnar coverage: POR batch decode, dictionary-encoded label decode
  * and column-mode informative-null indicators on all five formats
  * (r12), plus compress / schemaOverrides narrowing through the
  * connector's vector-cast wrapper (r13). Each case pins BOTH
  * properties: the plan actually runs ColumnarToRow, and the values
  * equal an expectation built without the reader — the frame the test
  * wrote, mapped through the labels / missing declarations / casts the
  * read options ask for.
  */
class ColumnarParitySpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_colpar").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `want` is renamed positionally to the read's column names (the
    * SAS family and POR upper-case names on write). */
  private def assertColumnarReads(read: DataFrame, want: DataFrame,
      ctx: String): Unit = {
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"$ctx not columnar:\n$plan")
    assertSameData(read, want.toDF(read.columns.toIndexedSeq: _*), ctx)
  }

  test("por scan runs the columnar path and returns the written rows") {
    import spark.implicits._
    val p = s"$dir/plain.por"
    val src = (1 to 4000).map(i =>
      (i.toDouble, if (i % 7 == 0) null else s"s$i", i % 13 * 0.25))
      .toDF("num", "txt", "frac")
    src.write.format("readstat").mode("overwrite").save(p)
    assertColumnarReads(spark.read.format("readstat").load(p), src,
      "por plain")
    // projection skim + row index stay correct through the batch path
    val withIdx = spark.read.format("readstat")
      .option("rowIndexName", "_ri").load(p).select("frac", "_ri")
    assert(withIdx.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val got = withIdx.orderBy("_ri").collect()
    assert(got.length == 4000)
    assert(got(0).getDouble(0) == 0.25 && got(0).getLong(1) == 0L)
    assert(got(3999).getLong(1) == 3999L)
  }

  test("por parallel checkpoint partitions serve columnar batches") {
    import spark.implicits._
    val p = s"$dir/par.por"
    (1 to 60000).map(i => (i.toDouble, s"v${i % 50}", i * 0.5))
      .toDF("a", "s", "b")
      .write.format("readstat").mode("overwrite").save(p)
    val par = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536").load(p)
    assert(par.rdd.getNumPartitions > 1, "expected a parallel por scan")
    assert(par.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val serial = spark.read.format("readstat").load(p)
    assert(par.agg(sum("a"), sum("b"), count("s")).collect()(0) ==
      serial.agg(sum("a"), sum("b"), count("s")).collect()(0))
    assert(par.count() == 60000)
  }

  test("labeled dta scan decodes through the columnar path") {
    import spark.implicits._
    val p = s"$dir/lab.dta"
    // codes beyond the label table exercise the code-form fallback;
    // nulls exercise missing handling inside the labeled loop
    (1 to 5000).map(i =>
      (if (i % 11 == 0) null else Integer.valueOf(i % 7), i * 1.5))
      .toDF("code", "x")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "code:1=One,2=Two,3=Three").save(p)
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    val dtaLabels = Map(1 -> "One", 2 -> "Two", 3 -> "Three")
    assertColumnarReads(labeled,
      (1 to 5000).map(i =>
        (if (i % 11 == 0) null else dtaLabels.getOrElse(i % 7, (i % 7).toString),
          i * 1.5)).toDF("code", "x"),
      "dta labeled")
    val vals = labeled.select("code").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set(null, "One", "Two", "Three", "0", "4", "5", "6"))
  }

  test("labeled sav scan decodes through the columnar path") {
    import spark.implicits._
    val p = s"$dir/lab.sav"
    (1 to 5000).map(i =>
      (if (i % 11 == 0) null else Integer.valueOf(i % 5),
        if (i % 3 == 0) "ab" else "zz", i * 0.5))
      .toDF("sex", "tag", "x")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "sex:1=Male,2=Female|tag:ab=Alpha").save(p)
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    val sexLabels = Map(1 -> "Male", 2 -> "Female")
    assertColumnarReads(labeled,
      (1 to 5000).map(i =>
        (if (i % 11 == 0) null else sexLabels.getOrElse(i % 5, (i % 5).toString),
          if (i % 3 == 0) "Alpha" else "zz", i * 0.5)).toDF("sex", "tag", "x"),
      "sav labeled")
    val sexes = labeled.select("sex").distinct().collect().map(_.getString(0)).toSet
    assert(sexes == Set(null, "Male", "Female", "0", "3", "4"))
    val tags = labeled.select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(tags == Set("Alpha", "zz"))
  }

  test("labeled por scan decodes through the columnar path") {
    import spark.implicits._
    val p = s"$dir/lab.por"
    (1 to 3000).map(i => (Integer.valueOf(i % 4), i * 2.0))
      .toDF("grade", "x")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "grade:1=Low,2=Mid,3=High").save(p)
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    val gradeLabels = Map(1 -> "Low", 2 -> "Mid", 3 -> "High")
    assertColumnarReads(labeled,
      (1 to 3000).map(i =>
        (gradeLabels.getOrElse(i % 4, (i % 4).toString), i * 2.0))
        .toDF("grade", "x"),
      "por labeled")
    val vals = labeled.select("grade").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set("0", "Low", "Mid", "High"))
  }

  test("catalog-labeled xpt and sas7bdat scans decode through the columnar path") {
    import spark.implicits._
    for (ext <- Seq("xpt", "sas7bdat")) {
      val p = s"$dir/lab.$ext"
      (1 to 4000).map(i => (Integer.valueOf(i % 4).doubleValue(),
        if (i % 3 == 0) "ab" else "zz", i * 1.5))
        .toDF("sex", "tag", "x")
        .write.format("readstat").mode("overwrite")
        .option("valueLabels", "sex:1=Male,2=Female|tag:ab=Alpha").save(p)
      val catPath = p.stripSuffix(s".$ext") + ".sas7bcat"
      def labeled = spark.read.format("readstat")
        .option("catalog", catPath)
        .option("valueLabelsAsStrings", "true").load(p)
      val sexLabels = Map(1 -> "Male", 2 -> "Female")
      assertColumnarReads(labeled,
        (1 to 4000).map(i =>
          (sexLabels.getOrElse(i % 4, (i % 4).toString),
            if (i % 3 == 0) "Alpha" else "zz", i * 1.5)).toDF("sex", "tag", "x"),
        s"$ext catalog-labeled")
      val sexCol = if (ext == "xpt") "SEX" else "sex"
      val tagCol = if (ext == "xpt") "TAG" else "tag"
      val sexes = labeled.select(sexCol).distinct().collect().map(_.getString(0)).toSet
      assert(sexes == Set("0", "Male", "Female", "3"), s"$ext: $sexes")
      val tags = labeled.select(tagCol).distinct().collect().map(_.getString(0)).toSet
      assert(tags == Set("Alpha", "zz"), s"$ext: $tags")
    }
  }

  test("informativeNulls (column mode) runs columnar on dta/sav/xpt/sas7bdat") {
    import spark.implicits._
    // dta + xpt + sas7bdat: .a-.z tagged missings driven by an indicator
    // column on write, re-derived on read
    for (ext <- Seq("dta", "xpt", "sas7bdat")) {
      val p = s"$dir/inul.$ext"
      // dta tags are .a-.z; the SAS family writes .A-.Z
      val (ta, tz) = if (ext == "dta") (".a", ".z") else (".A", ".Z")
      val src = (1 to 3000).map { i =>
        val tag = i % 7 match {
          case 0 => ta
          case 3 => tz
          case _ => null
        }
        (if (tag == null) java.lang.Double.valueOf(i.toDouble) else null,
          tag, i.toDouble)
      }.toDF("v", "v_null", "ord")
      src.write.format("readstat").mode("overwrite")
        .option("taggedMissings", "v:v_null").save(p)
      def read = spark.read.format("readstat")
        .option("informativeNulls", "true")
        .option("informativeNullUseValueLabels", "false").load(p)
      // the indicator column the write consumed is exactly what the
      // read re-derives next to its value column; ord has no missings
      assertColumnarReads(read,
        src.withColumn("ord_null", lit(null).cast("string")),
        s"$ext informativeNulls")
      val vCol = if (ext == "dta") "v_null" else "V_null"
      val ordCol = if (ext == "dta") "ord" else "ORD"
      val inds = read.orderBy(ordCol).select(vCol).collect()
        .map(r => Option(r.getString(0)).orNull)
      // xpt/sas tags are upper-case .A-.Z, dta lower
      val (a, z) = if (ext == "dta") (".a", ".z") else (".A", ".Z")
      assert(inds(6) == a && inds(2) == z && inds(0) == null,
        s"$ext: ${inds.take(8).mkString(",")}")
    }
    // sav: declared discrete user-missings + a string missing value
    val p = s"$dir/inul.sav"
    (1 to 3000).map(i =>
      (java.lang.Double.valueOf((i % 10).toDouble),
        if (i % 5 == 0) "NA" else s"ok$i", i.toDouble))
      .toDF("q", "s", "ord")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "q:9=Refused")
      .option("missingValues", "q:9|s:NA").save(p)
    def savRead = spark.read.format("readstat")
      .option("informativeNulls", "true").load(p)
    assertColumnarReads(savRead,
      (1 to 3000).map { i =>
        val q = i % 10
        val s = if (i % 5 == 0) "NA" else s"ok$i"
        (if (q == 9) null else java.lang.Double.valueOf(q.toDouble),
          if (q == 9) "Refused" else null,
          if (s == "NA") null else s, if (s == "NA") "NA" else null,
          i.toDouble, null: String)
      }.toDF("q", "q_null", "s", "s_null", "ord", "ord_null"),
      "sav informativeNulls")
    val qInds = savRead.select("q_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(qInds == Set(null, "Refused"), qInds.toString) // label beats code
    val sInds = savRead.select("s_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(sInds == Set(null, "NA"), sInds.toString)

    // por: sav-semantics indicators through the por columnar path, with
    // a pushed filter layered on top (prefix-buffered indicator flush)
    val pp = s"$dir/inul.por"
    (1 to 3000).map(i =>
      (java.lang.Double.valueOf((i % 10).toDouble), i.toDouble))
      .toDF("q", "ord")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "q:9=Refused")
      .option("missingValues", "q:9").save(pp)
    def porRead = spark.read.format("readstat")
      .option("informativeNulls", "true").load(pp)
    assertColumnarReads(porRead,
      (1 to 3000).map { i =>
        val q = i % 10
        (if (q == 9) null else java.lang.Double.valueOf(q.toDouble),
          if (q == 9) "Refused" else null, i.toDouble, null: String)
      }.toDF("q", "q_null", "ord", "ord_null"),
      "por informativeNulls")
    val pInds = porRead.select("Q_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(pInds == Set(null, "Refused"), pInds.toString)
    val filtered = porRead.filter(col("ORD") > 1500.0)
    assert(filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString.contains("PushedFilters:"))
    assert(filtered.filter(col("Q_null").isNotNull).count() ==
      (1501 to 3000).count(_ % 10 == 9))
  }

  test("sav user-missing codes stay null in the labeled columnar path") {
    import spark.implicits._
    val p = s"$dir/miss.sav"
    (1 to 2000).map(i => (Integer.valueOf(i % 10), i.toDouble))
      .toDF("q", "x")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "q:1=Yes,2=No,9=Refused")
      .option("missingValues", "q:9").save(p)
    val labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    assert(labeled.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val vals = labeled.select("q").distinct().collect().map(_.getString(0)).toSet
    // 9 is user-missing → null even though labeled; others label or code
    assert(vals == Set(null, "Yes", "No", "0", "3", "4", "5", "6", "7", "8"))
  }

  test("compress narrowing runs columnar through the vector-cast wrapper (r13)") {
    import spark.implicits._
    val p = s"$dir/cmp.dta"
    // int-valued doubles (→ int8/int16), 0/1 (→ boolean), midnight
    // timestamps (→ date), numeric strings (→ double), plus a genuinely
    // fractional column that must stay double
    (1 to 6000).map { i =>
      (i % 2 * 1.0, (i % 100).toDouble, (i % 20000 - 10000).toDouble,
        i * 0.25, (i % 50).toString,
        java.sql.Timestamp.valueOf(f"2020-05-${i % 28 + 1}%02d 00:00:00"))
    }.toDF("flag", "small", "wide", "frac", "numstr", "ts")
      .write.format("readstat").mode("overwrite").save(p)
    def compressed = spark.read.format("readstat")
      .option("compress", "true").option("compressProbeRows", "6000").load(p)
    assertColumnarReads(compressed,
      (1 to 6000).map { i =>
        (i % 2 == 1, (i % 100).toByte, (i % 20000 - 10000).toShort,
          i * 0.25, (i % 50).toDouble, java.time.LocalDate.of(2020, 5, i % 28 + 1))
      }.toDF("flag", "small", "wide", "frac", "numstr", "ts"),
      "dta compress")
    val sch = compressed.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(sch("flag") == "BOOLEAN" && sch("small") == "TINYINT" &&
      sch("wide") == "SMALLINT" && sch("frac") == "DOUBLE" &&
      sch("numstr") == "DOUBLE" && sch("ts") == "DATE", sch.toString)
    // aggregates over the cast vectors agree with raw values
    assert(compressed.agg(sum(col("small").cast("long"))).collect()(0).getLong(0) ==
      (1 to 6000).map(_ % 100).sum.toLong)
  }

  test("schemaOverrides run columnar through the vector-cast wrapper (r13)") {
    import spark.implicits._
    val p = s"$dir/ovr.sav"
    val src = (1 to 4000).map(i => ((i % 120).toDouble, i.toDouble, s"${i % 7}"))
      .toDF("a", "b", "s")
    src.write.format("readstat").mode("overwrite").save(p)
    def overridden = spark.read.format("readstat")
      .option("schemaOverrides", "a TINYINT, s DOUBLE").load(p)
    assertColumnarReads(overridden,
      src.select(col("a").cast("tinyint"), col("b"), col("s").cast("double")),
      "sav overrides")
    val sch = overridden.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(sch("a") == "TINYINT" && sch("b") == "DOUBLE" && sch("s") == "DOUBLE")
    // untouched column passes through by reference; strict downcast
    // overflow still throws (castValue's strict rule)
    val bad = spark.read.format("readstat")
      .option("schemaOverrides", "b TINYINT").load(p)
    val e = intercept[org.apache.spark.SparkException] { bad.collect() }
    assert(String.valueOf(e.getMessage).contains("does not fit") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("does not fit")), e.getMessage)
  }
}
