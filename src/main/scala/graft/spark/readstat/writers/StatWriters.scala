package graft.spark.readstat.writers

import org.apache.spark.sql.DataFrame

/** Extension-dispatched write entry (`df.write.format("readstat").save(p)`
  * and `graft.api.Readstat.write`). Mirrors the reference's
  * `write_readstat` dispatch (reference: __init__.py:708-878).
  */
object StatWriters {
  def write(df: DataFrame, path: String, options: Map[String, String],
      overwrite: Boolean = true): Unit = {
    // `fileFormat` overrides extension detection (reference
    // write_readstat `format=`, __init__.py:743: "dta"/"stata",
    // "sav"/"zsav"/"spss", "por"/"spss_por"; xpt added since our
    // dispatch covers it — the csv bundle stays extension-bound because
    // its companion .sas script path derives from the .csv name) — lets
    // a pipeline write stat files to extension-less staging paths
    val lower = options.get("fileFormat").map(_.trim.toLowerCase) match {
      case None => path.toLowerCase
      case Some(f) =>
        "." + (f match {
          case "dta" | "stata" => "dta"
          case "sav" | "spss" => "sav"
          case "zsav" => "zsav"
          case "por" | "spss_por" => "por"
          case "xpt" => "xpt"
          case "sas7bdat" | "sas" => "sas7bdat"
          case other => throw new IllegalArgumentException(
            s"readstat writer: unknown fileFormat '$other' (expected " +
              "dta|stata|sav|spss|zsav|por|spss_por|xpt|sas7bdat)")
        })
    }
    // append (mode("append") / INSERT INTO) only makes sense for
    // multiFile directories, where it adds new uniquely-named parts;
    // a single stat file has one header and cannot be appended to.
    // Silently overwriting on append would DROP existing data.
    if (!overwrite && new java.io.File(path).exists()) {
      require(options.get("multiFile").exists(_.toBoolean),
        s"readstat writer: append to $path requires multiFile=true — " +
          "single stat files have one header and cannot be appended; " +
          "use mode(\"overwrite\") or a multiFile directory")
    }
    val opts = options + ("__overwrite" -> overwrite.toString)
    // the batch writers' stats (row count, string widths, integer
    // ranges) come from ONE fold, then one encode job writes the file.
    // Write-side compress (reference `with_compress`) folds its
    // narrowing analysis into that same pass and hands the writer the
    // narrowed frame with its stats — the reference only wires compress
    // into its Stata writer, but the pre-cast is format-independent so
    // every sink gets it here. Without compress the stats run lazily,
    // after the writer has validated its options.
    val (out, compressed) =
      if (options.get("compress").exists(_.toBoolean)) {
        val (narrowed, stats) = WriteCompress.applyWithStats(df,
          WriteCompress.Opts.from(options, isDta = lower.endsWith(".dta")))
        (narrowed, Some(stats))
      } else (df, None)
    lazy val stats = compressed.getOrElse(WriteStats.of(out))
    write0(out, path, opts, lower, stats)
  }

  // format-specific metadata options refused on formats that cannot
  // carry them, instead of silently dropping the user's declaration
  // (the reference's per-format writers reject unexpected kwargs the
  // same way): the SPSS dictionary surface on non-SPSS targets, and
  // NaN-payload tagged missings where no such encoding exists
  // missingValues is NOT here: both SPSS formats (sav/zsav AND por)
  // accept user-missing declarations now
  private val SpssOnlyOpts =
    Seq("varMeasures", "varDisplayWidths", "varAlignments")
  private[writers] def refuseForeign(who: String,
      options: Map[String, String], foreign: Seq[String]): Unit =
    foreign.foreach { k =>
      require(!options.get(k).exists(_.trim.nonEmpty),
        s"$who writer: option '$k' does not apply to this format and " +
          "would be silently dropped — remove it or switch the target " +
          "format")
    }

  private def write0(df: DataFrame, path: String,
      options: Map[String, String], lower: String, stats: => WriteStats): Unit = {
    if (!lower.endsWith(".sav") && !lower.endsWith(".zsav")) {
      val who =
        if (lower.endsWith(".csv")) "sas csv bundle"
        else lower.substring(lower.lastIndexOf('.') + 1)
      refuseForeign(who, options, SpssOnlyOpts)
    }
    // user-missing declarations exist in the SPSS family only
    // (sav/zsav var records, por tag-8/B records)
    if (!lower.endsWith(".sav") && !lower.endsWith(".zsav") &&
        !lower.endsWith(".por")) {
      val who =
        if (lower.endsWith(".csv")) "sas csv bundle"
        else lower.substring(lower.lastIndexOf('.') + 1)
      refuseForeign(who, options, Seq("missingValues"))
    }
    if (lower.endsWith(".sav") || lower.endsWith(".zsav") ||
        lower.endsWith(".por") || lower.endsWith(".csv"))
      refuseForeign(
        if (lower.endsWith(".csv")) "sas csv bundle"
        else lower.substring(lower.lastIndexOf('.') + 1),
        options, Seq("taggedMissings"))
    // single-format options: refuse on any other target rather than
    // silently dropping (e.g. dtaVersion on a .sav write)
    locally {
      val who =
        if (lower.endsWith(".csv")) "sas csv bundle"
        else lower.substring(lower.lastIndexOf('.') + 1)
      val formatOnly: Seq[(String, Boolean)] = Seq(
        "dtaVersion" -> lower.endsWith(".dta"),
        "xptVersion" -> lower.endsWith(".xpt"),
        "compression" -> lower.endsWith(".sas7bdat"),
        "storageWidths" ->
          (lower.endsWith(".xpt") || lower.endsWith(".sas7bdat")),
        "tableName" ->
          (lower.endsWith(".xpt") || lower.endsWith(".sas7bdat")),
        "catalogPath" ->
          (lower.endsWith(".xpt") || lower.endsWith(".sas7bdat")),
        "library" -> lower.endsWith(".csv"),
        "datasetName" -> lower.endsWith(".csv"),
        "deleteCsvOnImport" -> lower.endsWith(".csv"))
      formatOnly.foreach { case (k, applies) =>
        if (!applies) refuseForeign(who, options, Seq(k))
      }
    }
    if (lower.endsWith(".dta")) StataDtaWriter.write(df, path, options, stats)
    else if (lower.endsWith(".sav")) SpssSavWriter.write(df, path, options, stats, zlib = false)
    else if (lower.endsWith(".zsav")) SpssSavWriter.write(df, path, options, stats, zlib = true)
    else if (lower.endsWith(".xpt")) XptWriterImpl.write(df, path, options, stats)
    else if (lower.endsWith(".por")) PorWriterImpl.write(df, path, options)
    else if (lower.endsWith(".sas7bdat")) SasBinaryWriter.write(df, path, options, stats)
    else if (lower.endsWith(".csv")) SasCsvBundleWriter.write(df, path, options, stats)
    else throw new IllegalArgumentException(
      s"readstat writer: unsupported extension for $path " +
        "(expected .dta/.sav/.zsav/.xpt/.por/.sas7bdat/.csv[+sas script])")
  }
}
