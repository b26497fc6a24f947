package graft.tools

import org.apache.spark.sql.SparkSession

/** Repro harness: drives the single-file streaming .sas7bdat sink with
  * TWO epochs (so the file's pages were produced by the epoch-append
  * splice, not the batch assembler) and leaves the file for an
  * independent reader:
  *
  *   sbt "runMain graft.tools.DevSasStreamPandas /tmp/ps.sas7bdat none"
  *   sbt "runMain graft.tools.DevSasStreamPandas /tmp/psr.sas7bdat rle"
  *   python3 - <<'PY'
  *   import pandas as pd
  *   for p in ("/tmp/ps.sas7bdat", "/tmp/psr.sas7bdat"):
  *       df = pd.read_sas(p)
  *       print(p, len(df), df["v"].sum())
  *   PY
  *
  * The sink dispatches on the extension, so the same harness produces
  * streamed .dta (pd.read_stata) and .xpt (pd.read_sas format="xport")
  * files too.
  *
  * Last verified (this round): pandas 2.x reads the streamed sas7bdat
  * in both compression modes, the streamed dta, and the streamed xpt
  * exactly — 5002 rows, exact sums. The xpt result REQUIRES the
  * tail-pad dodge in XptWriterImpl.finish: before it, pandas'
  * aligned-space-block heuristic dropped the final row (5001/5002).
  */
object DevSasStreamPandas {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/pandas_stream_check.sas7bdat")
    val compression = if (args.length > 1) args(1) else "none"
    val spark = SparkSession.builder.master("local[2]").appName("devsasstream")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("devsasstream").toString
    new java.io.File(out).delete()
    new java.io.File(out + ".stream_state").delete()
    val input = MemoryStream[(Long, Double, String)]
    val q = input.toDF().toDF("id", "v", "s").writeStream
      .format("readstat")
      .option("checkpointLocation", ckpt)
      .option("compression", compression)
      .option("strWidth.s", "24")
      .start(out)
    try {
      input.addData((1L, 1.5, "alpha"), (2L, 2.5, "bee"))
      q.processAllAvailable()
      input.addData((3L to 5002L).map(i => (i, i * 0.5, s"padded row ${i % 10}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    println(s"wrote $out ($compression) — two-epoch streamed file")
    spark.stop()
  }
}
