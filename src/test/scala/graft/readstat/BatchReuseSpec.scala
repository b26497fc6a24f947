package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.spark.readstat.{Formats, ReadstatOptions, ReusedBatch}

/** Every decoder refills one batch per partition (`ReusedBatch`): a
  * batch is valid until the next `next()`. These reads push every shape
  * that writes into the reused vectors — dictionary-encoded labels,
  * informative-null indicators in all three modes, the mergeSchema
  * null-fill, compress casts, pushed filters that compact rows, OFFSET
  * and the row index — through batches of 1 row, 7 rows and the default
  * size, which must all return the same rows. */
class BatchReuseSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_reuse").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val n = 3000

  /** A frame of `n` rows: a row id, a numeric with declared or tagged
    * missings every 17th row, a string with empties, trailing blanks
    * and a non-ASCII value, a labelled code and a date. */
  private def frame(tag: String, withIndicator: Boolean): DataFrame = {
    import spark.implicits._
    val strs = Seq("alpha", "", "tail  ", "café", null, "v")
    val rows = (0 until n).map { i =>
      val miss = i % 17 == 0
      (i, if (miss) None else Some(i % 50 * 1.0),
        if (miss && i % 34 == 0) Some(tag) else None,
        Option(strs(i % 6)).map(s => if (s == "v") s"v$i" else s),
        i % 5, java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(i % 900)))
    }
    val df = rows.toDF("id", "x", "x_null", "s", "code", "d")
    if (withIndicator) df else df.drop("x_null")
  }

  /** Writes `ext`'s file (and a second file lacking `s` and `d`, for the
    * mergeSchema null-fill) and returns the directory holding both. */
  private def written(ext: String, writeOpts: Map[String, String],
      tag: String, withIndicator: Boolean): (String, String) = {
    val sub = s"$dir/$ext-${writeOpts.values.mkString("-").hashCode.abs}"
    val full = frame(tag, withIndicator)
    full.coalesce(1).write.format("readstat").mode("overwrite")
      .options(writeOpts).save(s"$sub/a.$ext")
    full.drop("s", "d").coalesce(1).write.format("readstat").mode("overwrite")
      .options(writeOpts).save(s"$sub/b.$ext")
    (s"$sub/a.$ext", sub)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => r.getLong(r.fieldIndex("_ri")) -> r.toString)

  /** The reads that must not depend on the batch size, each with the
    * option map it adds and the frame transform it applies. */
  private def variants(file: String, dirOfTwo: String, idCol: String)
      : Seq[(String, String, Map[String, String], DataFrame => DataFrame)] = Seq(
    ("plain", file, Map.empty[String, String], identity[DataFrame] _),
    ("labels", file, Map("valueLabelsAsStrings" -> "true"), identity[DataFrame] _),
    ("infonull column", file, Map("informativeNulls" -> "true"), identity[DataFrame] _),
    ("infonull struct", file, Map("informativeNulls" -> "true",
      "informativeNullMode" -> "struct"), identity[DataFrame] _),
    ("infonull merged", file, Map("informativeNulls" -> "true",
      "informativeNullMode" -> "merged"), identity[DataFrame] _),
    ("compress", file, Map("compress" -> "true"), identity[DataFrame] _),
    ("filter", file, Map.empty[String, String], (df: DataFrame) => df.filter(col(idCol) < 60)),
    ("offset", file, Map.empty[String, String], (df: DataFrame) => df.offset(1234)),
    ("mergeSchema", dirOfTwo, Map("mergeSchema" -> "true"), identity[DataFrame] _))

  private def assertBatchSizeFree(file: String, dirOfTwo: String, idCol: String): Unit =
    variants(file, dirOfTwo, idCol).foreach { case (name, path, opts, f) =>
      def read(batchRows: Option[Int]): Seq[Row] = rows(f(spark.read.format("readstat")
        .options(opts ++ batchRows.map(b => "batchRows" -> b.toString))
        .option("rowIndexName", "_ri").load(path)))
      val want = read(None)
      assert(want.nonEmpty, s"$file $name read no rows")
      Seq(1, 7).foreach { b =>
        val got = read(Some(b))
        assert(got.length == want.length, s"$file $name batchRows=$b: ${got.length} rows")
        got.zip(want).foreach { case (g, w) =>
          assert(g == w, s"$file $name batchRows=$b: $g vs $w")
        }
      }
    }

  /** Two consecutive batches of one partition's iterator are the same
    * vectors, refilled: the reuse contract is pinned, not incidental. */
  private def assertVectorsShared(file: String): Unit = {
    val m = Formats.moduleFor(file)
    val opts = ReadstatOptions(batchRows = 7)
    val schema = m.schema(file, opts)
    val part = m.planPartitions(file, opts, None).head
    val it = m.columnarRows(part, opts, schema)
    val first = it.next()
    val cols = (0 until first.numCols).map(first.column)
    assert(first.numRows == 7, s"$file: first batch ${first.numRows} rows")
    val second = it.next()
    assert(second.numRows == 7, s"$file: second batch ${second.numRows} rows")
    (0 until second.numCols).foreach { c =>
      assert(second.column(c) eq cols(c), s"$file column $c: a new vector per batch")
    }
  }

  private val formats: Seq[(String, String, Map[String, String], String, Boolean)] = Seq(
    // (case, ext, write options, missing tag, tags via indicator column)
    ("dta 118", "dta", Map("valueLabels" -> "code:1=One,2=Two",
      "taggedMissings" -> "x:x_null"), ".a", true),
    ("dta 114", "dta", Map("dtaVersion" -> "114", "valueLabels" -> "code:1=One,2=Two",
      "taggedMissings" -> "x:x_null"), ".b", true),
    ("sav", "sav", Map("valueLabels" -> "code:1=One,2=Two", "missingValues" -> "x:49"),
      "", false),
    ("zsav", "zsav", Map("valueLabels" -> "code:1=One,2=Two", "missingValues" -> "x:49"),
      "", false),
    ("sas7bdat", "sas7bdat", Map("taggedMissings" -> "x:x_null"), ".A", true),
    ("sas7bdat rle", "sas7bdat", Map("compression" -> "rle",
      "taggedMissings" -> "x:x_null"), ".C", true),
    ("xpt", "xpt", Map("taggedMissings" -> "x:x_null"), ".B", true),
    ("por", "por", Map("valueLabels" -> "code:1=One,2=Two", "missingValues" -> "x:49"),
      "", false))

  for ((name, ext, writeOpts, tag, withIndicator) <- formats) {
    test(s"$name reads the same rows in batches of 1, 7 and the default size") {
      val (file, both) = written(ext, writeOpts, tag, withIndicator)
      val idCol = spark.read.format("readstat").load(file).columns.head
      assertBatchSizeFree(file, both, idCol)
      assertVectorsShared(file)
    }
  }

  test("a batchRows beyond one byte array's reach is capped, and a wide sav reads the same") {
    // a decoder's chunk is rows x record length bytes in one array
    Seq(1L, 12L, 4800L, 1L << 20).foreach { w =>
      val k = ReusedBatch.rows(ReadstatOptions(batchRows = 1000000), w, Long.MaxValue)
      assert(k >= 1 && k.toLong * w <= Int.MaxValue, s"$w-byte records: $k rows")
    }
    import spark.implicits._
    val wide = (0 until 200).map(i => (i, i * 0.5)).toDF("id", "x")
      .select(col("id") +: (0 until 600).map(j => (col("x") + j).as(s"v$j")): _*)
    val p = s"$dir/wide.sav"
    wide.coalesce(1).write.format("readstat").mode("overwrite").save(p)
    def read(opts: Map[String, String]) = rows(spark.read.format("readstat")
      .options(opts).option("rowIndexName", "_ri").load(p))
    val want = read(Map.empty)
    assert(want.length == 200 && want.head.length == 602)
    assert(read(Map("batchRows" -> "1000000")) == want)
  }

  test("bytecode sav reads the same rows in batches of 1, 7 and the default size") {
    // the writers emit uncompressed sav and zsav; this fixture is bytecode
    val file = res("fixtures/spss/sample.sav")
    val bytecode = s"$dir/bytecode"
    new java.io.File(bytecode).mkdirs()
    Files.copy(java.nio.file.Paths.get(file), java.nio.file.Paths.get(s"$bytecode/a.sav"))
    spark.read.format("readstat").load(file).drop("mychar")
      .coalesce(1).write.format("readstat").mode("overwrite").save(s"$bytecode/b.sav")
    val variantsOf = variants(s"$bytecode/a.sav", bytecode, "mynum")
      .filterNot(_._1 == "offset") // 5 rows: an offset of 1234 reads none
    variantsOf.foreach { case (vname, path, opts, f) =>
      def read(batchRows: Option[Int]): Seq[Row] = rows(f(spark.read.format("readstat")
        .options(opts ++ batchRows.map(b => "batchRows" -> b.toString))
        .option("rowIndexName", "_ri").load(path)))
      val want = read(None)
      Seq(1, 7).foreach(b => assert(read(Some(b)) == want, s"bytecode $vname batchRows=$b"))
    }
    val m = Formats.moduleFor(file)
    val opts = ReadstatOptions(batchRows = 2)
    val it = m.columnarRows(m.planPartitions(file, opts, None).head, opts, m.schema(file, opts))
    val first = it.next().column(0)
    assert(it.next().column(0) eq first, "bytecode sav: a new vector per batch")
  }
}
