package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}

import graft.api.Readstat

/** A direct drive of the connector for one file of an operation: the
  * columns it reads, the filters it pushes and the offset it pushes. */
final case class Probe(file: String, cols: Seq[String],
    filters: Array[Filter] = Array.empty, offset: Option[Long] = None)

/** One operation shape. `query` builds the one-row aggregate that is
  * checked against the manifest entry named `name`; `write`, when set,
  * runs before it and produces the file the query reads back; `eval`
  * executes the query into the observed values. `files` are the
  * manifest files the operation covers (byte accounting). */
final case class Shape(name: String, files: Seq[String],
    query: SparkSession => DataFrame,
    probes: Seq[Probe],
    write: Option[SparkSession => Unit] = None,
    rows: Long = 0L,
    eval: DataFrame => Map[String, Any] = Shape.firstRow)

object Shape {
  def firstRow(df: DataFrame): Map[String, Any] = {
    val row = df.collect()(0)
    row.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> row.get(i) }.toMap
  }
}

object Workloads {
  val Names = Seq("decode_scan", "pushdown_scan", "write_roundtrip")

  /** Scan options of every read. Partitions of 16 MB (the connector's
    * default is 128 MB) let files of tens of MB spread over nproc
    * cores, as files of gigabytes do with the default. */
  val ScanOptions = Map("partitionTargetBytes" -> (16L << 20).toString)

  def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.format("readstat").options(ScanOptions).load(path)

  import Inputs._

  private val tallCols = Seq("v", "w", "code", "s", "d")
  private val tallFiles = Seq(TallDta, TallSav, TallZsav)

  def decode(dir: File): Seq[Shape] = {
    def f(n: String) = new File(dir, n).getPath
    def full(name: String, file: String, cols: Seq[String]) =
      Shape(name, Seq(file), s => scan(s, f(file)), Seq(Probe(file, cols)),
        eval = Checksum.of)
    Seq(
      full("full.dta", TallDta, tallCols),
      full("full.sav", TallSav, tallCols),
      full("full.zsav", TallZsav, tallCols),
      full("full.sas_wide", Wide, (0 until WideCols).map(i => s"C$i")))
  }

  def pushdown(dir: File, p: Params): Seq[Shape] = {
    def f(n: String) = new File(dir, n).getPath
    val dirPath = f(Dir)
    val dirFiles = (0 until DirFiles).map(dirFile)
    def overTall(g: (DataFrame, String) => DataFrame): SparkSession => DataFrame =
      s => tallFiles.map(n => g(scan(s, f(n)), n)).reduce(_ unionByName _)
    val lo = java.sql.Date.valueOf(java.time.LocalDate.parse(BaseDate).plusDays(p.dateLo))
    val hi = java.sql.Date.valueOf(java.time.LocalDate.parse(BaseDate)
      .plusDays(p.dateLo + DateBand))
    def offsetOf(n: String) = if (n == TallZsav) p.zsavOffset else p.tallOffset
    Seq(
      Shape("filter_num", tallFiles,
        s => overTall((df, _) => df.filter(col("v") < NumCut).select("w"))(s)
          .agg(count(lit(1)).as("n"), sum("w").as("w")),
        tallFiles.map(n => Probe(n, Seq("v", "w"),
          Array[Filter](LessThan("v", NumCut.toDouble))))),
      Shape("filter_date", tallFiles,
        s => overTall((df, _) => df.filter(p.dateFilter(col("d"))).select("w"))(s)
          .agg(count(lit(1)).as("n"), sum("w").as("w")),
        tallFiles.map(n => Probe(n, Seq("d", "w"),
          Array[Filter](GreaterThanOrEqual("d", lo), LessThan("d", hi))))),
      Shape("offset", tallFiles,
        s => overTall((df, n) => df.select("v", "w").offset(offsetOf(n).toInt))(s)
          .agg(count(lit(1)).as("n"), sum("v").as("v"), sum("w").as("w")),
        tallFiles.map(n => Probe(n, Seq("v", "w"), offset = Some(offsetOf(n))))),
      Shape("subset.sas_wide", Seq(Wide),
        s => scan(s, f(Wide)).select(p.wideA, p.wideB)
          .agg(sum(p.wideA).as("a"), sum(p.wideB).as("b")),
        Seq(Probe(Wide, Seq(p.wideA, p.wideB)))),
      Shape("dir_subset", dirFiles,
        s => scan(s, dirPath).select("y")
          .agg(count(lit(1)).as("n"), sum("y").as("y")),
        Seq(Probe(Dir, Seq("y")))),
      Shape("dir_offset", dirFiles,
        s => scan(s, dirPath).offset(p.dirOffset.toInt)
          .agg(count(lit(1)).as("n"), sum("x").as("x"), sum("y").as("y")),
        Seq(Probe(Dir, Seq("rid", "x", "y", "tag"), offset = Some(p.dirOffset)))))
  }

  /** Output file of each write target, relative to the work directory. */
  def writeFile(target: String): String = target match {
    case "dta_compress" => "out_compress.dta"
    case t => s"out.$t"
  }

  def writes(work: File, seed: Long): Seq[Shape] = WriteRows.map { case (target, n) =>
    val name = writeFile(target)
    val path = new File(work, name).getPath
    val opts =
      (if (Set("dta", "sav", "zsav", "dta_compress")(target))
        Map("valueLabels" -> CodeLabels) else Map.empty[String, String]) ++
        (if (target == "dta_compress") Map("compress" -> "true") else Map.empty)
    Shape(s"write.$target", Seq(name),
      s => scan(s, path).select("x", "code").agg(writeChecks.head, writeChecks.tail: _*),
      Seq(Probe(name, Seq("x", "code"))),
      write = Some(s => Readstat.write(writeFrame(s, seed, n), path, opts)),
      rows = n)
  }
}
