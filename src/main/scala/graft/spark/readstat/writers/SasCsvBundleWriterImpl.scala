package graft.spark.readstat.writers

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SAS import bundle: there is no public sas7bdat *write* format, so —
  * like the reference (src/sas/writer.rs:55-494) — we emit a CSV plus a
  * generated `.sas` script (DATA step with INFILE/LENGTH/FORMAT/LABEL/
  * INPUT, temporal columns pre-converted to SAS epoch values) that
  * recreates the dataset inside SAS.
  *
  * Options (reference write_sas_csv_import kwargs):
  *   - `datasetName`: DATA-step dataset name (default: file stem),
  *     sanitized to SAS rules (alnum+underscore, letter start, ≤32)
  *   - `valueLabels`: "col:1=A,2=B|col2:x=Left" — numeric codes become
  *     `value` formats, string codes on char columns `value $` formats
  *   - `varLabels`: "col:Label text|…" → LABEL statement
  *   - `library`: emits `libname <lib> "<dir>";` and `data <lib>.<ds>`
  *   - `deleteCsvOnImport`: script deletes the CSV via %sysfunc(fdelete)
  *
  * The CSV body is written distributed (per-partition chunks, driver
  * splice); the script is pure driver-side templating.
  */
object SasCsvBundleWriter {

  /** SAS identifier rules: alphanumeric + underscore, starts with a
    * letter or underscore, max 32 chars (reference sanitize rules;
    * duplicates after sanitization get a numeric suffix). */
  private[writers] def sasName(raw: String, used: scala.collection.mutable.Set[String]): String = {
    var s = raw.replaceAll("[^A-Za-z0-9_]", "_")
    if (s.isEmpty || !(s(0).isLetter || s(0) == '_')) s = "_" + s
    s = s.take(32)
    var cand = s; var i = 1
    while (!used.add(cand.toLowerCase)) {
      val suf = i.toString; cand = s.take(32 - suf.length) + suf; i += 1
    }
    cand
  }

  private def sasQuote(s: String): String = s.replace("\"", "\"\"")

  /** Parse valueLabels allowing string codes: "col:1=A|grp:x=Left".
    * Returns col → Seq[(code, label)] with the raw code text. */
  private[writers] def parseAnyValueLabels(spec: String): Map[String, Seq[(String, String)]] =
    if (spec == null || spec.trim.isEmpty) Map.empty
    else spec.split("\\|").flatMap { part =>
      val i = part.indexOf(':')
      if (i <= 0) None
      else {
        val colName = part.substring(0, i).trim
        val pairs = part.substring(i + 1).split(",").flatMap { kv =>
          val j = kv.indexOf('=')
          if (j <= 0) None else Some(kv.substring(0, j).trim -> kv.substring(j + 1))
        }
        Some(colName -> pairs.toSeq)
      }
    }.toMap

  def write(df: DataFrame, path: String, options: Map[String, String],
      stats: => WriteStats): Unit = {
    val schema = df.schema
    require(path.toLowerCase.endsWith(".csv"), "sas bundle path must end in .csv")

    // temporal → SAS epoch numerics; everything else → csv-safe strings
    val csvCols = schema.fields.map { f =>
      f.dataType match {
        case DateType =>
          (datediff(col(f.name), lit(java.sql.Date.valueOf("1960-01-01"))))
            .cast(IntegerType).as(f.name)
        case TimestampType | TimestampNTZType =>
          (col(f.name).cast(TimestampType).cast(DoubleType) + lit(3653.0 * 86400))
            .cast(LongType).as(f.name)
        // the script declares booleans numeric (length 3): Spark's csv
        // writer would emit true/false, which best32. reads as missing
        case BooleanType => col(f.name).cast(IntegerType).as(f.name)
        case _ => col(f.name)
      }
    }

    // the stats fold: max observed string widths drive the LENGTH
    // statements and $w. informats (reference max_string_width), and
    // int-column ranges gate the length-5 narrowing (SAS length-5
    // numerics are exact only to ±536,870,912 — Int32 can exceed that)
    val strCols = schema.fields.filter(_.dataType == StringType).map(_.name)
    val intCols = schema.fields.filter(_.dataType == IntegerType).map(_.name)
    val (widths: Map[String, Int], intMaxAbs: Map[String, Long]) =
      if (strCols.isEmpty && intCols.isEmpty) (Map.empty[String, Int], Map.empty[String, Long])
      else {
        val st = stats
        (strCols.map(c => c -> math.max(1, st.octets(c))).toMap,
          intCols.map(c => c -> st.ranges.get(c)
            .fold(0L) { case (lo, hi) => math.max(math.abs(lo), math.abs(hi)) }).toMap)
      }

    // the CSV parts go to a directory of this write under scratchDir,
    // removed however the write ends
    val scratch = new File(StreamSinkCore.scratchDir(options),
      "graft_sascsv_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    try {
      df.select(csvCols.toIndexedSeq: _*)
        .write.mode("overwrite")
        .option("header", "false").option("nullValue", "")
        .csv(scratch.getAbsolutePath)
      // driver splice: header + part files in order (temp + atomic rename)
      val header = (schema.fieldNames.mkString(",") + "\n").getBytes(StandardCharsets.UTF_8)
      val parts = FileAssembler.sized(scratch.listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).map(_.getPath).toSeq)
      FileAssembler.write(path, FileAssembler.Layout(header, header.length,
        parts, header.length + parts.map(_._2).sum), "sas csv bundle")
    } finally WritePass.remove(scratch)

    // ---- generated SAS import script (reference writer.rs:330-470) ----
    val usedNames = scala.collection.mutable.Set[String]()
    val dsDefault = new File(path).getName.stripSuffix(".csv")
    val dsName = sasName(options.getOrElse("datasetName", dsDefault), usedNames)
    // column identifiers, sanitized + deduplicated in schema order
    val colIds: Map[String, String] = {
      val u = scala.collection.mutable.Set[String]()
      schema.fieldNames.map(n => n -> sasName(n, u)).toMap
    }
    // PROC FORMAT names: colId + "_fmt" would breach SAS's 32-char
    // (numeric) / 31-char (char) format-name cap for long column names,
    // so the base is re-capped at 27 and re-deduplicated; "_fmt" also
    // satisfies the no-trailing-digit rule for format names
    val fmtIds: Map[String, String] = {
      val u = scala.collection.mutable.Set[String]()
      schema.fieldNames.map { n =>
        val s = colIds(n).take(27)
        var cand = s; var i = 1
        while (!u.add(cand.toLowerCase)) {
          val suf = i.toString; cand = s.take(27 - suf.length) + suf; i += 1
        }
        n -> (cand + "_fmt")
      }.toMap
    }

    // metadata-df-driven labels/value labels (reference `metadata=`
    // path): entries filter to present columns; numeric columns keep
    // only numeric codes (PROC FORMAT VALUE statements need them);
    // explicit options win per column
    val metaOpts = options.get("metadataPath")
      .map(p => MetadataDfOptions.read(df.sparkSession, p))
    val fieldSet = schema.fieldNames.toSet
    def metaFil[T](m: MetadataDfOptions => Map[String, T]): Map[String, T] =
      metaOpts.map(o => m(o).filter { case (k, _) => fieldSet(k) })
        .getOrElse(Map.empty)
    val metaValLabels = metaFil(_.valLabels).flatMap { case (c, pairs) =>
      val ok =
        if (schema(c).dataType == StringType) pairs
        else pairs.filter { case (code, _) =>
          try { code.toDouble; true }
          catch { case _: NumberFormatException => false }
        }
      if (ok.isEmpty) None else Some(c -> ok)
    }
    val valueLabels = metaValLabels ++
      parseAnyValueLabels(options.getOrElse("valueLabels", ""))
    val unknownVl = valueLabels.keySet.diff(schema.fieldNames.toSet)
    require(unknownVl.isEmpty,
      s"sas bundle: valueLabels names unknown column(s): ${unknownVl.mkString(", ")}")
    val varLabels = metaFil(_.varLabels) ++
      StataDtaWriter.parseVarLabels(options.getOrElse("varLabels", ""))
    val unknownL = varLabels.keySet.diff(schema.fieldNames.toSet)
    require(unknownL.isEmpty,
      s"sas bundle: varLabels names unknown column(s): ${unknownL.mkString(", ")}")
    val library = options.getOrElse("library", "")
    require(library.isEmpty || library.matches("[A-Za-z_][A-Za-z0-9_]{0,7}"),
      s"sas bundle: library must be a valid 8-char SAS libref (got '$library')")
    val deleteCsv = options.get("deleteCsvOnImport").exists(_.toBoolean)

    // char vs numeric decides $-format and quoted codes (reference
    // format_name_for_column); string codes on numeric columns are loud
    val isChar: Map[String, Boolean] =
      schema.fields.map(f => f.name -> (f.dataType == StringType)).toMap
    valueLabels.foreach { case (c, pairs) =>
      if (!isChar(c)) pairs.foreach { case (code, _) =>
        require(code.matches("-?\\d+(\\.\\d+)?"),
          s"sas bundle: valueLabels.$c has string code '$code' on a numeric column")
      }
    }

    val sb = new StringBuilder
    if (library.nonEmpty) {
      val dir = new File(path).getAbsoluteFile.getParent
      sb.append(s"""libname $library "$dir";\n\n""")
    }
    sb.append("proc format;\n")
    valueLabels.foreach { case (c, pairs) =>
      if (pairs.nonEmpty) {
        val dollar = if (isChar(c)) "$" else ""
        sb.append(s"  value $dollar${fmtIds(c)}\n")
        pairs.foreach { case (code, label) =>
          val key = if (isChar(c)) "\"" + sasQuote(code) + "\"" else code
          sb.append(s"""    $key = "${sasQuote(label)}"\n""")
        }
        sb.append("  ;\n")
      }
    }
    sb.append("run;\n\n")

    val target = if (library.nonEmpty) s"$library.$dsName" else dsName
    sb.append(s"data $target;\n")
    sb.append(s"""  infile "${new File(path).getName}" dsd dlm=',' firstobs=2 truncover encoding='utf-8';\n""")
    // LENGTH: exact char widths, then narrowed numeric storage.
    // Reference sas_numeric_length maps Int8/Bool→3, Int16/Float→4,
    // Int32→5, but SAS length-N numerics are truncated doubles exact
    // only to 2^(8N-19) (4→2,097,152; 5→536,870,912): blind narrowing
    // silently corrupts large values on read-back. Deliberate
    // divergences: Int32 narrows to 5 only when the OBSERVED |max|
    // fits (else 6, exact to 2^37); Float stays at 5 (28 mantissa
    // bits ≥ float's 24 — length 4 keeps only 21 and corrupts most
    // real float data).
    schema.fields.foreach { f =>
      if (f.dataType == StringType)
        sb.append(s"  length ${colIds(f.name)} $$${widths(f.name)};\n")
    }
    schema.fields.foreach { f =>
      val len = f.dataType match {
        case BooleanType | ByteType => Some(3)
        case ShortType => Some(4)
        case FloatType => Some(5)
        case IntegerType =>
          Some(if (intMaxAbs.getOrElse(f.name, 0L) <= 536870912L) 5 else 6)
        case _ => None
      }
      len.foreach(l => sb.append(s"  length ${colIds(f.name)} $l;\n"))
    }
    // FORMAT: value-label formats + temporal display formats
    val fmtParts = scala.collection.mutable.ArrayBuffer[String]()
    valueLabels.foreach { case (c, pairs) =>
      if (pairs.nonEmpty) {
        val dollar = if (isChar(c)) "$" else ""
        fmtParts += s"${colIds(c)} $dollar${fmtIds(c)}."
      }
    }
    schema.fields.foreach { f =>
      f.dataType match {
        case DateType => fmtParts += s"${colIds(f.name)} yymmdd10."
        case TimestampType | TimestampNTZType =>
          fmtParts += s"${colIds(f.name)} datetime19."
        case _ =>
      }
    }
    if (fmtParts.nonEmpty)
      sb.append("  format " + fmtParts.mkString(" ") + ";\n")
    if (varLabels.nonEmpty) {
      val parts = schema.fieldNames.toSeq.flatMap(n =>
        varLabels.get(n).map(l => s"""${colIds(n)} = "${sasQuote(l)}""""))
      sb.append("  label " + parts.mkString(" ") + ";\n")
    }
    sb.append("  input\n")
    schema.fields.foreach { f =>
      val informat = f.dataType match {
        case StringType => s"$$${widths(f.name)}."
        case _ => "best32."
      }
      sb.append(s"    ${colIds(f.name)} : $informat\n")
    }
    sb.append("  ;\nrun;\n")
    if (deleteCsv)
      sb.append(
        s"""\nfilename _grfcsv "${new File(path).getName}";\n""" +
          "%let _grfrc = %sysfunc(fdelete(_grfcsv));\nfilename _grfcsv clear;\n")

    AtomicFile.write(path.stripSuffix(".csv") + ".sas")(tmp =>
      Files.writeString(Paths.get(tmp), sb.toString))
  }
}
