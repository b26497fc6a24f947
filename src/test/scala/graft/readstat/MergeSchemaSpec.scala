package graft.readstat

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** mergeSchema option: union-by-name reads over stat files with
  * differing schemas — missing columns null-fill, integer widths widen,
  * int/double widens to double, and the formats can even be mixed
  * (.dta + .sav in one load). Without the option, schema drift is a
  * descriptive error, never silent nulls. */
class MergeSchemaSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_merge").toFile
    d.deleteOnExit()
    import spark.implicits._
    // a.dta: (id long, x double, shared int-ish)  b.dta: (id, y string, shared double)
    Seq((1L, 1.5, 10), (2L, 2.5, 20)).toDF("id", "x", "shared")
      .write.format("readstat").mode("overwrite").save(s"$d/a.dta")
    Seq((3L, "hey", 30.5), (4L, "ho", 40.5)).toDF("id", "y", "shared")
      .write.format("readstat").mode("overwrite").save(s"$d/b.dta")
    Seq((5L, 5.5, "E")).toDF("id", "x", "z")
      .write.format("readstat").mode("overwrite").save(s"$d/c.sav")
    d.getAbsolutePath
  }

  test("union-by-name with null fill across dta files") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta")
    assert(df.columns.toSeq == Seq("id", "x", "shared", "y"))
    // shared: int-ish in a, double in b -> double
    assert(df.schema("shared").dataType == DoubleType)
    // the null-fill is a constant column: the scan stays columnar
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).getDouble(1) == 1.5 && rows(0).isNullAt(3))
    assert(rows(2).isNullAt(1) && rows(2).getString(3) == "hey")
    assert(rows.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.5, 40.5))
  }

  test("mixed formats merge: dta + sav in one load") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/c.sav")
    assert(df.columns.toSeq == Seq("id", "x", "shared", "z"))
    // id: integral in .dta, double in .sav (sav numerics are doubles) ->
    // widened to double across the merge
    assert(df.schema("id").dataType == DoubleType)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(2).getDouble(0) == 5.0 && rows(2).getDouble(1) == 5.5 &&
      rows(2).isNullAt(2) && rows(2).getString(3) == "E")
  }

  test("projection of a column absent from one file null-fills only there") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta")
      .select("y") // a.dta has NO requested column -> all-null pacer path
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val ys = df.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(ys.count(_ == null) == 2 && ys.filter(_ != null).toSet == Set("hey", "ho"))
  }

  test("struct and merged informative nulls null-fill a column one file lacks") {
    import spark.implicits._
    // a.sav (q, s) and b.sav (q): q declares 9 user-missing in both
    val ab = s"$dir/inull"
    (1 to 50).map(i => (java.lang.Double.valueOf((i % 10).toDouble), s"s$i"))
      .toDF("q", "s").write.format("readstat").mode("overwrite")
      .option("missingValues", "q:9").save(s"$ab/a.sav")
    (51 to 80).map(i => Tuple1(java.lang.Double.valueOf((i % 10).toDouble)))
      .toDF("q").write.format("readstat").mode("overwrite")
      .option("missingValues", "q:9").save(s"$ab/b.sav")
    def read(mode: String) = spark.read.format("readstat")
      .option("informativeNulls", "true").option("informativeNullMode", mode)
      .option("mergeSchema", "true").load(s"$ab/a.sav", s"$ab/b.sav")
    val sep = read("column").select("q", "q_null", "s").collect()
    assert(sep.length == 80)
    assert(sep.count(_.getString(1) != null) == 8) // q = 9 in 8 of 80 rows
    def str(v: Any): String = if (v == null) null else String.valueOf(v)
    Seq("struct", "merged").foreach { mode =>
      val df = read(mode)
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"), mode)
      val got = df.select("q", "s").collect()
      assert(got.length == 80, mode)
      got.indices.foreach { r =>
        val (v, ind) = (sep(r).get(0), sep(r).getString(1))
        if (mode == "struct") {
          val cell = got(r).getStruct(0)
          assert(str(cell.get(0)) == str(v) && cell.getString(1) == ind, s"$mode row $r")
        } else
          assert(got(r).getString(0) == (if (v != null) str(v) else ind), s"$mode row $r")
        // s (a string without declared missings, so no pair): a's
        // values, null-filled for b's rows
        if (r < 50) assert(got(r).getString(1) == sep(r).getString(2), s"$mode row $r s")
        else assert(got(r).isNullAt(1), s"$mode row $r s")
      }
    }
  }

  test("aggregate over merged load is correct") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta", s"$dir/c.sav")
    val agg = df.agg(count(lit(1)), sum("shared"), count(col("x"))).collect()(0)
    assert(agg.getLong(0) == 5L)
    assert(math.abs(agg.getDouble(1) - (10 + 20 + 30.5 + 40.5)) < 1e-9)
    assert(agg.getLong(2) == 3L) // x present in a.dta (2 rows) + c.sav (1 row)
  }

  test("schema drift without mergeSchema is a descriptive error") {
    val df = spark.read.format("readstat")
      .load(s"$dir/a.dta", s"$dir/b.dta") // schema = a.dta's: id, x, shared
    val e = intercept[Exception] {
      df.select("x").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("mergeSchema")),
      s"expected a mergeSchema hint in: ${msgs(e).mkString(" | ")}")
  }
}
