package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Struct and merged informative-null shapes on the SPSS family. Both are
  * reshapes of the column-mode read (value column + `<name>_null`
  * indicator), so each case checks them against the column-mode read of
  * the same file: struct carries the same value and indicator, merged
  * carries the value's string form, else the indicator, else null.
  * Files are written with declared user-missing values (discrete,
  * range, string) plus system-missing cells, and read in small batches
  * so rows cross many batch boundaries.
  */
class InformativeNullShapeSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_inshape").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def read(path: String, mode: String): DataFrame =
    spark.read.format("readstat")
      .option("informativeNulls", "true")
      .option("informativeNullMode", mode)
      .option("batchRows", "64")
      .load(path)

  private def str(v: Any): String = if (v == null) null else String.valueOf(v)

  /** Checks both shapes against column mode; returns the column-mode
    * indicator values per main column, for the caller's coverage checks. */
  private def checkShapes(path: String): Map[String, Set[String]] = {
    val sep = read(path, "column")
    val st = read(path, "struct")
    val mg = read(path, "merged")
    // both shapes are built from the decoded batches, not from rows
    Seq(st, mg).foreach(df =>
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow")))
    val mains = sep.columns.filter(c => sep.columns.contains(c + "_null")).toSeq
    assert(mains.nonEmpty, s"$path: no indicator columns")
    assert(st.columns.toSeq == sep.columns.filterNot(_.endsWith("_null")).toSeq)
    assert(mg.columns.toSeq == st.columns.toSeq)
    val sepRows = sep.collect()
    val stRows = st.collect()
    val mgRows = mg.collect()
    assert(stRows.length == sepRows.length && mgRows.length == sepRows.length)
    st.columns.zipWithIndex.foreach { case (c, oi) =>
      val si = sep.columns.indexOf(c)
      if (!mains.contains(c)) {
        // untouched columns pass through both reshapes unchanged
        sepRows.indices.foreach { r =>
          assert(str(stRows(r).get(oi)) == str(sepRows(r).get(si)), s"$c row $r")
          assert(str(mgRows(r).get(oi)) == str(sepRows(r).get(si)), s"$c row $r")
        }
      } else {
        val ii = sep.columns.indexOf(c + "_null")
        st.schema(c).dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            assert(s.fieldNames.toSeq == Seq(c, "null_indicator"))
            assert(s(c).dataType == sep.schema(c).dataType)
          case other => fail(s"$c: expected struct, got $other")
        }
        assert(mg.schema(c).dataType == org.apache.spark.sql.types.StringType)
        sepRows.indices.foreach { r =>
          val v = sepRows(r).get(si)
          val ind = sepRows(r).getString(ii)
          val cell = stRows(r).getStruct(oi)
          assert(str(cell.get(0)) == str(v), s"$c row $r struct value")
          assert(cell.getString(1) == ind, s"$c row $r struct indicator")
          val want = if (v != null) str(v) else ind
          assert(mgRows(r).getString(oi) == want, s"$c row $r merged")
        }
      }
    }
    mains.map { m =>
      m -> sepRows.map(_.getString(sep.columns.indexOf(m + "_null"))).toSet
    }.toMap
  }

  private def written(ext: String, missing: String) = {
    import spark.implicits._
    val p = s"$dir/shapes.$ext"
    (1 to 1200).map { i =>
      (if (i % 13 == 0) null else java.lang.Double.valueOf((i % 10).toDouble),
        java.lang.Double.valueOf((i % 100).toDouble),
        if (i % 5 == 0) "NA" else s"ok$i",
        i.toDouble)
    }.toDF("q", "r", "s", "ord")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "q:9=Refused")
      .option("missingValues", missing).save(p)
    p
  }

  test("sav struct and merged informative nulls match the column-mode read") {
    val inds = checkShapes(written("sav", "q:9|r:90..99|s:NA"))
    // label beats code; range-only missing renders MISSING; strings
    // carry their declared missing value; system-missing has no indicator
    assert(inds("q") == Set(null, "Refused"), inds)
    assert(inds("r") == Set(null, "MISSING"), inds)
    assert(inds("s") == Set(null, "NA"), inds)
  }

  test("zsav struct and merged informative nulls match the column-mode read") {
    val inds = checkShapes(written("zsav", "q:9|r:90..99|s:NA"))
    assert(inds("q") == Set(null, "Refused"), inds)
    assert(inds("r") == Set(null, "MISSING"), inds)
  }

  test("struct and merged shapes read through compress narrowing") {
    val p = written("sav", "q:9|r:90..99|s:NA")
    def narrowed(mode: String) = spark.read.format("readstat")
      .option("informativeNulls", "true")
      .option("informativeNullMode", mode)
      .option("compress", "true").load(p)
    val sep = narrowed("column")
    val st = narrowed("struct")
    assert(sep.schema("q").dataType == org.apache.spark.sql.types.ByteType)
    // the struct's value field takes the narrowed type and values
    assert(st.schema("q").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("q").dataType ==
      sep.schema("q").dataType)
    assert(st.select("q.q", "q.null_indicator").collect().toSeq ==
      sep.select("q", "q_null").collect().toSeq)
    // merged columns are strings either way: compress leaves them as is
    val mains = Seq("q", "r", "s")
    val mergedRows = narrowed("merged").select(mains.head, mains.tail: _*).collect()
    assert(mergedRows.exists(_.getString(0) == "Refused"))
    assert(mergedRows.toSeq ==
      read(p, "merged").select(mains.head, mains.tail: _*).collect().toSeq)
  }

  test("por struct and merged informative nulls match the column-mode read") {
    val inds = checkShapes(written("por", "q:9|r:90..99"))
    assert(inds("Q") == Set(null, "Refused"), inds)
    assert(inds("R") == Set(null, "MISSING"), inds)
  }
}
