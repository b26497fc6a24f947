package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Readstat

/** Deterministic benchmark inputs.
  *
  * Every value is a hash of (seed, row id, salt) reduced to a small
  * integer, so every column sums exactly in any partition order and the
  * expected aggregates are computed from the generating frames, never
  * through the reader under test. Bump [[Version]] whenever a generator
  * or a size changes: cached inputs are keyed by (version, seed).
  */
object Inputs {
  val Version = "g5"

  // Tall, narrow survey shape (IPUMS-like): three numerics, a short
  // string and a date. The same rows go to .dta and .sav; the .zsav
  // holds their first quarter, so a zlib full read lasts about as long
  // as an uncompressed one.
  val TallRows = 3000000L
  val ZsavRows = TallRows / 4
  // Wide shape (ACS PUMS geometry): one id plus small-int columns stored
  // at SAS LENGTH 4.
  val WideRows = 140000L
  val WideCols = 200
  // ~1000 small .sas7bdat files: DirTemplates distinct files, copied
  // round-robin.
  val DirTemplates = 4
  val DirFiles = 1000
  val DirRows = 6000L

  val BaseDate = "1990-01-01"
  val DateSpan = 5000
  val DateBand = 100 // days: 2% of DateSpan
  val NumCut = 20    // v < 20 of 0..999: 2%

  // written-frame rows per target, sized so every write+read-back
  // operation lasts about as long as the others
  val WriteRows: Seq[(String, Long)] = Seq(
    "dta" -> 350000L, "sav" -> 350000L, "zsav" -> 125000L,
    "sas7bdat" -> 350000L, "xpt" -> 280000L, "dta_compress" -> 220000L)

  def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))

  def tallIds(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      h(seed, 1, 1000).cast("double").as("v"),
      h(seed, 2, 100000).cast("double").as("w"),
      h(seed, 3, 50).cast("int").as("code"),
      concat(lit("k"), h(seed, 4, 997).cast("string")).as("s"),
      date_add(lit(BaseDate).cast("date"), h(seed, 5, DateSpan).cast("int")).as("d"))

  def wideIds(spark: SparkSession, seed: Long): DataFrame =
    spark.range(WideRows).select(
      (col("id") +: col("id").cast("double").as("C0") +:
        (1 until WideCols).map(i => h(seed, 100 + i, 997).cast("double").as(s"C$i"))): _*)

  def dirTemplate(spark: SparkSession, seed: Long, t: Int): DataFrame =
    spark.range(DirRows).select(col("id"),
      col("id").cast("double").as("rid"),
      h(seed, 200 + t, 1000).cast("double").as("x"),
      h(seed, 210 + t, 100000).cast("double").as("y"),
      concat(lit("t"), h(seed, 220 + t, 97).cast("string")).as("tag"))

  def writeFrame(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      h(seed, 301, 1000000).cast("double").as("x"),
      h(seed, 302, 50).cast("int").as("code"),
      concat(lit("t"), h(seed, 303, 997).cast("string")).as("s"),
      date_add(lit(BaseDate).cast("date"), h(seed, 304, DateSpan).cast("int")).as("d"))

  val CodeLabels: String =
    (0 until 50).map(i => s"$i=level $i").mkString("code:", ",", "")

  def agg(df: DataFrame, checks: Seq[Column]): Map[String, Any] = {
    val r = df.agg(checks.head, checks.tail: _*).collect()(0)
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
  }

  /** Seed-dependent operation parameters (filter band, offsets, columns). */
  final case class Params(seed: Long) {
    val dateLo: Int = ((seed * 7919L) % (DateSpan - DateBand)).toInt.abs
    val tallOffset: Long = TallRows * 9 / 10 + (seed.abs % 1000)
    val zsavOffset: Long = ZsavRows * 9 / 10 + (seed.abs % 1000)
    private val ia = (seed.abs % (WideCols - 1)).toInt
    val wideA: String = s"C${1 + ia}"
    val wideB: String = s"C${1 + (ia + 1 + (seed.abs % (WideCols - 2)).toInt) % (WideCols - 1)}"
    val dirTotal: Long = DirFiles * DirRows
    val dirOffset: Long = dirTotal * 6 / 10 + DirRows / 2 + (seed.abs % 100)
    def dateFilter(d: Column): Column =
      d >= date_add(lit(BaseDate).cast("date"), dateLo) &&
        d < date_add(lit(BaseDate).cast("date"), dateLo + DateBand)
  }

  /** File names of the scan inputs, relative to the input set's directory. */
  val TallDta = "tall.dta"
  val TallSav = "tall.sav"
  val TallZsav = "tall.zsav"
  val Wide = "wide.sas7bdat"
  val Dir = "dir"

  def dirFile(i: Int): String = f"$Dir/f_$i%04d.sas7bdat"

  /** Writes any missing or mismatching scan input and returns the
    * manifest: each file's size and row count plus the expected result
    * of every scan operation, computed from the generating frames. */
  def prepareScan(spark: SparkSession, seed: Long, dir: File,
      old: Option[Manifest.Doc]): Manifest.Doc = {
    dir.mkdirs()
    val p = Params(seed)
    val tall = tallIds(spark, seed, TallRows)
    val zsav = tall.filter(col("id") < ZsavRows)
    def ok(name: String): Boolean =
      old.exists(m => Manifest.fileMatches(new File(dir, name), m.files.get(name)))
    def write(name: String, df: DataFrame, opts: Map[String, String]): Unit =
      if (!ok(name)) Readstat.write(df, new File(dir, name).getPath, opts)
    val labels = Map("valueLabels" -> CodeLabels)
    write(TallDta, tall.drop("id"), labels)
    write(TallSav, tall.drop("id"), labels)
    write(TallZsav, zsav.drop("id"), labels)
    write(Wide, wideIds(spark, seed).drop("id"),
      Map("storageWidths" -> (1 until WideCols).map(i => s"C$i:4").mkString("|")))
    val templates = (0 until DirTemplates).map(t => dirTemplate(spark, seed, t))
    val dirOk = (0 until DirFiles).forall(i => ok(dirFile(i)))
    if (!dirOk) {
      val d = new File(dir, Dir)
      d.mkdirs()
      val tmp = new File(dir, "templates")
      templates.zipWithIndex.foreach { case (df, t) =>
        Readstat.write(df.drop("id"), new File(tmp, s"t$t.sas7bdat").getPath)
      }
      (0 until DirFiles).foreach { i =>
        Files.copy(new File(tmp, s"t${i % DirTemplates}.sas7bdat").toPath,
          new File(dir, dirFile(i)).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      (0 until DirTemplates).foreach(t => new File(tmp, s"t$t.sas7bdat").delete())
      tmp.delete()
    }

    val files: Map[String, Manifest.FileEntry] =
      Seq(TallDta -> TallRows, TallSav -> TallRows, TallZsav -> ZsavRows,
        Wide -> WideRows).map { case (n, rows) =>
        n -> Manifest.FileEntry(new File(dir, n).length(), rows)
      }.toMap ++ (0 until DirFiles).map { i =>
        dirFile(i) -> Manifest.FileEntry(new File(dir, dirFile(i)).length(), DirRows)
      }

    val expected: Map[String, Map[String, Any]] = old.map(_.expected)
      .getOrElse(scanExpected(spark, seed, tall, zsav, templates, p))
    Manifest.Doc(Version, seed, files, expected)
  }

  private def scanExpected(spark: SparkSession, seed: Long, tall: DataFrame,
      zsav: DataFrame, templates: Seq[DataFrame], p: Params)
      : Map[String, Map[String, Any]] = {
    val fullTall = Checksum.of(tall.drop("id"))
    val wide = Checksum.of(wideIds(spark, seed).drop("id"))
    // the pushdown operations over the three tall files in one
    // conditional aggregation: a matching row counts once in the .dta,
    // once in the .sav and, when its id is below ZsavRows, in the .zsav
    val z = col("id") < ZsavRows
    def copies(c: org.apache.spark.sql.Column, inZsav: org.apache.spark.sql.Column) =
      (when(c, 2L).otherwise(0L) + when(c && inZsav, 1L).otherwise(0L))
    val num = col("v") < NumCut
    val date = p.dateFilter(col("d"))
    val offTall = col("id") >= p.tallOffset
    val offZsav = col("id") >= p.zsavOffset && z
    val offW = when(offTall, 2L).otherwise(0L) + when(offZsav, 1L).otherwise(0L)
    val c = agg(tall, Seq(
      sum(copies(num, z)).as("num_n"), sum(copies(num, z) * col("w")).as("num_w"),
      sum(copies(date, z)).as("date_n"), sum(copies(date, z) * col("w")).as("date_w"),
      sum(offW).as("off_n"), sum(offW * col("v")).as("off_v"),
      sum(offW * col("w")).as("off_w")))
    // the directory lists in name order: file i is a copy of template i % T
    val t = templates.map(df => Checksum.of(df.drop("id")))
    val perTemplate = (DirFiles / DirTemplates).toLong
    val f0 = (p.dirOffset / DirRows).toInt
    val local = p.dirOffset % DirRows
    val head = Checksum.of(templates(f0 % DirTemplates).filter(col("id") >= local).drop("id"))
    val rest = (f0 + 1 until DirFiles).map(i => t(i % DirTemplates))
    def total(k: String, ms: Seq[Map[String, Any]]) =
      ms.map(_(k).asInstanceOf[Long]).sum
    Map(
      "full.dta" -> fullTall,
      "full.sav" -> fullTall,
      "full.zsav" -> Checksum.of(zsav.drop("id")),
      "full.sas_wide" -> wide,
      "filter_num" -> Map("n" -> c("num_n"), "w" -> c("num_w")),
      "filter_date" -> Map("n" -> c("date_n"), "w" -> c("date_w")),
      "offset" -> Map("n" -> c("off_n"), "v" -> c("off_v"), "w" -> c("off_w")),
      "subset.sas_wide" -> Map("a" -> wide(p.wideA), "b" -> wide(p.wideB)),
      "dir_subset" -> Map("n" -> total("n", t) * perTemplate,
        "y" -> total("y", t) * perTemplate),
      "dir_offset" -> Map("n" -> total("n", head +: rest),
        "x" -> total("x", head +: rest), "y" -> total("y", head +: rest)))
  }

  /** Manifest of the write workload: the expected projected read-back of
    * every target, computed from the frame before it is written. */
  def prepareWrite(spark: SparkSession, seed: Long): Manifest.Doc = {
    val expected = WriteRows.map { case (target, n) =>
      s"write.$target" -> agg(writeFrame(spark, seed, n), writeChecks)
    }.toMap
    Manifest.Doc(Version, seed, Map.empty, expected)
  }

  val writeChecks: Seq[Column] =
    Seq(count(lit(1)).as("n"), sum("x").as("x"), sum("code").as("code"))
}
