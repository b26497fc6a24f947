package graft.spark.readstat.writers

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Bin

/** Distributed .dta writer (versions 114, 117, 118, 119).
  *
  * Auto-selection matches the reference (`choose_dta_version`, reference:
  * writer.rs:528-535): 118 normally, 119 only when the variable count
  * overflows 118's u16 field. `dtaVersion=114|117` opt in to the legacy
  * layouts for old-Stata consumers: 117 keeps the xmlish structure with
  * narrow (33/49/81-byte) metadata records, u32 strL refs and
  * windows-1252 strings; 114 is the pre-xml binary layout (no strL,
  * 244-byte string cap).
  *
  * Stat-file headers need row count and max string widths before any row
  * is written. A single-file write is one `WritePass` job, mirroring the
  * reference's streaming sink (`sink_stata`, reference:
  * pybindings.rs:951-1096):
  *
  *   Tasks:  each folds its partition's `WriteStats` while spilling its
  *          rows, then encodes the spill under the layout its own stats
  *          give into a scratch chunk (records are fixed-width and
  *          independent; strL payloads go to a per-partition GSO chunk
  *          keyed (v,o) = (partitionId+1, localIdx), which stays valid
  *          under plain concatenation).
  *   Driver: merges the stats into the global layout; partitions whose
  *          layout differs are re-encoded from their spills in one small
  *          job. Then it streams header + metadata tables, splices data
  *          chunks, GSO chunks, value-label section; all offsets are
  *          computed up front so the file is written in one forward pass.
  *
  * `compress=true` hands over stats measured while narrowing, so its
  * tasks encode directly; `multiFile=true` runs a stats job, then one
  * encode job that assembles a part file per partition.
  *
  * On a real cluster the scratch dir must be shared storage (set
  * `scratchDir`); the final splice is sequential IO on the driver —
  * the encode (CPU-bound part) is fully distributed.
  */
object StataDtaWriter {

  private[writers] val MaxStrWidth = 2045
  private val MaxStrWidth114 = 244

  // Stata's valid value ranges per storage type; everything outside
  // collides with the sysmiss/.a–.z sentinels (byte 0x65+, int 0x7fe5+,
  // long 0x7fffffe5+) or the type's reserved minimum. The reference
  // writer raises NumericOutOfRange for these (writer.rs write_i8/
  // write_i16/write_i32); we instead measure min/max per promotable
  // column in the stats fold and widen the storage type
  // (byte→int→long→double) when the observed range collides. RowEncoder
  // still range-checks as a backstop (throws like the reference) in case
  // the source changes between a stats job and the encode job.
  private[writers] val ByteMin = -127L;        private[writers] val ByteMax = 100L
  private[writers] val IntMin  = -32767L;      private[writers] val IntMax  = 32740L
  private[writers] val LongMin = -2147483647L; private[writers] val LongMax = 2147483620L

  private[writers] sealed trait W { def width: Int; def typeCode: Int }
  private[writers] case object WByte extends W { val width = 1; val typeCode = 65530 }
  private[writers] case object WInt extends W { val width = 2; val typeCode = 65529 }
  private[writers] case object WLong extends W { val width = 4; val typeCode = 65528 }
  private[writers] case object WFloat extends W { val width = 4; val typeCode = 65527 }
  private[writers] case object WDouble extends W { val width = 8; val typeCode = 65526 }
  private[writers] case class WStr(w: Int) extends W { def width: Int = w; def typeCode: Int = w }
  private[writers] case object WStrL extends W { val width = 8; val typeCode = 32768 }

  private[writers] case class ColSpec(name: String, stataName: String, w: W,
      fmt: String, src: DataType)

  /** Parse the `varLabels` option: "col:Label text|col2:Other label" —
    * the option-level form of the reference's `variable_labels` dict
    * (write_readstat kwarg / sink_stata, pybindings.rs:963). */
  def parseVarLabels(spec: String): Map[String, String] =
    if (spec == null || spec.trim.isEmpty) Map.empty
    else spec.split("\\|").map { part =>
      val i = part.indexOf(':')
      // a colon-less segment is a typo'd separator or a '|' inside a
      // label — silently dropping it would silently lose the label
      require(i > 0,
        s"cannot parse per-variable entry '$part' — expected " +
          "'col:value' segments separated by '|' (the separator cannot " +
          "appear inside values)")
      part.substring(0, i).trim -> part.substring(i + 1)
    }.toMap

  /** Parse the `valueLabels` option: "col:1=Male,2=Female|col2:0=No,1=Yes". */
  def parseValueLabels(spec: String): Map[String, Seq[(Int, String)]] =
    if (spec == null || spec.trim.isEmpty) Map.empty
    else spec.split("\\|").flatMap { part =>
      val i = part.indexOf(':')
      if (i <= 0) None
      else {
        val colName = part.substring(0, i).trim
        val pairs = part.substring(i + 1).split(",").flatMap { kv =>
          val j = kv.indexOf('=')
          if (j <= 0) None else Some(kv.substring(0, j).trim.toInt -> kv.substring(j + 1))
        }
        Some(colName -> pairs.toSeq)
      }
    }.toMap



  def write(df: DataFrame, path: String, options: Map[String, String],
      known: Option[WriteStats]): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val metaOpts = options.get("metadataPath")
      .map(p => MetadataDfOptions.read(spark, p))
    val metaVarLabels = metaOpts.map(_.varLabels).getOrElse(Map.empty)
    // Stata value labels are int-keyed: numeric metadata-df codes carry
    // over, foreign string codes (e.g. from a sav with string labels)
    // are skipped — same silent-narrowing rule as foreign formats below
    val metaValLabels: Map[String, Seq[(Int, String)]] =
      metaOpts.map(_.valLabels.map { case (c, pairs) =>
        c -> pairs.flatMap { case (code, l) =>
          try Some(code.toDouble.toInt -> l)
          catch { case _: NumberFormatException => None }
        }
      }.filter(_._2.nonEmpty)).getOrElse(Map.empty)
    // explicit valueLabels/varLabels options win over metadata-df entries
    val valueLabels = metaValLabels ++
      parseValueLabels(options.getOrElse("valueLabels", ""))
    val varLabels = metaVarLabels ++
      parseVarLabels(options.getOrElse("varLabels", ""))
    // per-variable display formats (reference `variable_formats` dict,
    // writer.rs merge_variable_formats): "col:%9.2f|dt:%tdCCYY-NN-DD".
    // Overrides the derived format only — storage type is unaffected.
    // metadata-df formats seed entries (reference
    // _stata_variable_metadata_to_write_kwargs extracts variable_format);
    // non-%-formats from foreign-format metadata are skipped silently,
    // explicit entries still fail loudly.
    val metaFormats = metaOpts
      .map(_.formats.filter { case (c, f) =>
        schema.fieldNames.contains(c) && f.startsWith("%") })
      .getOrElse(Map.empty[String, String])
    val varFormats = metaFormats ++
      parseVarLabels(options.getOrElse("varFormats", ""))
    varFormats.foreach { case (c, f) =>
      require(f.startsWith("%"),
        s"stata writer: varFormats.$c must be a %-format (got $f)") }
    // typo'd column names in the explicit options fail loudly (metadata-
    // df entries may legitimately describe absent variables)
    val colNames = schema.fieldNames.toSet
    Seq("varFormats" -> varFormats.keySet,
        "varLabels" -> parseVarLabels(options.getOrElse("varLabels", "")).keySet,
        "valueLabels" -> parseValueLabels(options.getOrElse("valueLabels", "")).keySet)
      .foreach { case (opt, keys) =>
        val unknown = keys.diff(colNames)
        require(unknown.isEmpty,
          s"stata writer: $opt names unknown column(s): ${unknown.mkString(", ")}")
      }

    // ---- write-side informative nulls (BEYOND the reference, whose
    // writer flattens user missings to sysmiss): `taggedMissings` maps a
    // numeric data column to a STRING indicator column carrying
    // '.'/'.a'-'.z'. The indicator column is dropped from the output and
    // its tag rides the missing sentinel (byte/int/long step by n,
    // float by n<<11, double by n<<40) — the exact inverse of the
    // read-side informativeNulls separate-column capture, so a
    // read → write → read roundtrip preserves Stata user missings.
    val taggedMissings: Map[String, String] =
      parseVarLabels(options.getOrElse("taggedMissings", ""))
    taggedMissings.foreach { case (dataCol, indCol) =>
      require(colNames(dataCol),
        s"stata writer: taggedMissings names unknown column '$dataCol'")
      require(colNames(indCol.trim),
        s"stata writer: taggedMissings.$dataCol indicator column '${indCol.trim}' not found")
      require(schema(indCol.trim).dataType == StringType,
        s"stata writer: taggedMissings.$dataCol indicator '${indCol.trim}' must be a string column")
      require(schema(dataCol).dataType != StringType,
        s"stata writer: taggedMissings.$dataCol targets a string column — " +
          "tags ride numeric missing sentinels only")
    }
    val tagByData: Map[String, String] =
      taggedMissings.map { case (d, ind) => d -> ind.trim }
    val indicatorCols = tagByData.values.toSet
    require(tagByData.keySet.intersect(indicatorCols).isEmpty,
      "stata writer: a taggedMissings indicator column cannot itself be tagged")
    val writtenFields: Array[StructField] =
      schema.fields.filterNot(f => indicatorCols(f.name))
    require(writtenFields.nonEmpty,
      "stata writer: taggedMissings drops every column")

    // ---- record layout from the stats: max string widths, ranges ----
    // dta <118 encodes strings in windows-1252, where every char is one
    // byte (unmappable chars degrade to a 1-byte '?'), so the stored
    // width is the CHAR count; 118/119 store UTF-8, so it's the octet
    // count. Measuring 114/117 in UTF-8 octets would reject valid writes
    // (200 'é' chars = 400 octets but only 200 cp1252 bytes).
    val legacyCharset = options.getOrElse("dtaVersion", "auto") match {
      case "114" | "117" => true
      case _ => false
    }
    val layoutOf = (st: WriteStats) =>
      colSpecs(schema, writtenFields, varFormats, legacyCharset, st)
    // row ordinals for the encoder: the written schema is a projection
    // of the incoming rows when indicator columns are dropped
    val ordinalsArr: Array[Int] = writtenFields.map(f => schema.fieldIndex(f.name))
    val tagOrdinalsArr: Array[Int] = writtenFields.map(f =>
      tagByData.get(f.name).map(schema.fieldIndex).getOrElse(-1))

    // ---- version selection (before any job: 114/117 encode differently) ----
    // auto matches the reference (writer.rs choose_dta_version): 119
    // ("wide") only when the 118 u16 variable-count field overflows.
    // 114/117 are explicit opt-ins for old-Stata consumers.
    val nCols = writtenFields.length
    val version = options.getOrElse("dtaVersion", "auto") match {
      case "auto" => if (nCols > 32767) 119 else 118
      case v @ ("114" | "117" | "118") =>
        require(nCols <= 32767,
          s"stata writer: $nCols variables exceed the dta $v limit")
        v.toInt
      case "119" => 119
      case other => throw new IllegalArgumentException(
        s"stata writer: dtaVersion must be auto, 114, 117, 118 or 119 (got $other)")
    }
    // the version's limits on what the stats measured
    def checkVersion(cols: Array[ColSpec], nObs: Long): Unit = if (version < 118) {
      require(nObs <= 0xFFFFFFFFL,
        s"stata writer: $nObs rows overflow the dta $version u32 row count")
      if (version == 114) cols.foreach { c => c.w match {
        case WStrL => throw new IllegalArgumentException(
          s"stata writer: column ${c.name} exceeds $MaxStrWidth114 bytes — " +
            "dta 114 has no strL; use dtaVersion=117 or newer")
        case WStr(w) if w > MaxStrWidth114 => throw new IllegalArgumentException(
          s"stata writer: column ${c.name} is $w bytes wide — dta 114 caps " +
            s"strings at $MaxStrWidth114; use dtaVersion=117 or newer")
        case _ => ()
      } }
    }
    // strings (names, labels, data) are windows-1252 before 118, UTF-8 after
    val csName = graft.core.stata.StataTypes.charsetFor(version).name()
    // custom formats must fit the version's fixed fmt record (NUL-
    // terminated) — putZPad would otherwise truncate mid-spec silently
    if (varFormats.nonEmpty) {
      val maxFmt = graft.core.stata.StataParser.layoutFor(
        math.max(version, 117)).fmtLen - 1
      varFormats.foreach { case (c, f) =>
        require(f.getBytes(csName).length <= maxFmt,
          s"stata writer: varFormats.$c exceeds the dta $version format " +
            s"field ($maxFmt bytes)") }
    }

    // ---- multiFile mode: one self-contained .dta per partition ----
    // `path` becomes a DIRECTORY of part-NNNNN.dta files (parquet-style),
    // each with the full header/metadata/value-label sections and its own
    // row count, encoded AND assembled on the executor — the write is
    // fully parallel with no driver splice, which is the 100 TB write
    // path (single-file stat formats are inherently single-writer; a
    // directory of them is not). Global widths/promotions from a stats
    // job keep every part file's schema identical, so `load(dir)` reads
    // the set back as one frame.
    if (options.get("multiFile").exists(_.toBoolean)) {
      val st = known.getOrElse(WriteStats.of(df))
      val nObs = st.rows
      val cols = layoutOf(st)
      checkVersion(cols, nObs)
      val partPrefix = MultiFileParts.prepare(new File(path), "dta", options)
      val specsB = spark.sparkContext.broadcast(cols)
      val ordsB = spark.sparkContext.broadcast(ordinalsArr)
      val tagOrdsB = spark.sparkContext.broadcast(tagOrdinalsArr)
      val vls = valueLabels
      val mvl = varLabels
      val counts: Array[Long] =
        df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          if (!it.hasNext) Iterator.empty
          else {
            val specs = specsB.value
            val cs2 = java.nio.charset.Charset.forName(csName)
            val dataF = File.createTempFile(s"graft_mdta_${pid}_", ".chunk")
            val gsoF = File.createTempFile(s"graft_mgso_${pid}_", ".chunk")
            val out = new BufferedOutputStream(new FileOutputStream(dataF), 1 << 20)
            val gso = new BufferedOutputStream(new FileOutputStream(gsoF), 1 << 20)
            // v16 = 1: each part file is self-contained, so strL refs
            // restart as if it were a single-chunk file
            val enc = new RowEncoder(specs, version, cs2, 1, out, gso,
              ordsB.value, tagOrdsB.value)
            it.foreach(enc.encode)
            out.close(); gso.close()
            val rows = enc.rows
            assembleFile(s"$path/$partPrefix" + f"$pid%05d.dta", version, specs, rows,
              Seq((dataF.getAbsolutePath, gsoF.getAbsolutePath)), vls, mvl)
            dataF.delete(); gsoF.delete()
            Iterator(rows)
          }
        }.collect()
      require(counts.sum == nObs,
        s"row count drift: agg=$nObs write=${counts.sum}")
      return
    }

    // ---- one pass: each partition's records to a data chunk, its strL
    // payloads to a GSO chunk keyed (v,o) = (partitionId+1, localIdx),
    // which stays valid under plain concatenation ----
    require(df.queryExecution.toRdd.getNumPartitions <= 0xFFFE,
      "too many partitions for strL v field")
    val encode: WritePass.Encode[Array[ColSpec], (String, String)] =
      (cols, pid, rows, scratch) => {
        val dataF = scratch("dta")
        val gsoF = scratch("gso")
        val out = new BufferedOutputStream(new FileOutputStream(dataF), 1 << 20)
        val gso = new BufferedOutputStream(new FileOutputStream(gsoF), 1 << 20)
        try {
          val enc = new RowEncoder(cols, version, java.nio.charset.Charset.forName(csName),
            pid + 1, out, gso, ordinalsArr, tagOrdinalsArr)
          rows.foreach(enc.encode)
        } finally { out.close(); gso.close() }
        (dataF.getAbsolutePath, gsoF.getAbsolutePath)
      }
    // ---- driver: assemble final file in one forward pass ----
    WritePass.run(df, options, known, layoutOf, encode) { pass =>
      checkVersion(pass.layout, pass.stats.rows)
      assembleFile(path, version, pass.layout, pass.stats.rows, pass.chunks,
        valueLabels, varLabels)
    }
  }

  /** Column specs from the stats. Promotable integer-backed columns
    * (byte/short/int/date): their natural Stata storage type has a valid
    * range narrower than the Spark type, so the observed min/max (as the
    * value Stata would store: dates as days since 1960) decides whether
    * to widen it. */
  private def colSpecs(schema: StructType, writtenFields: Array[StructField],
      varFormats: Map[String, String], legacyCharset: Boolean,
      st: WriteStats): Array[ColSpec] = {
    def widths(c: String): Int = math.max(1, (if (legacyCharset) st.chars else st.octets)(c))
    def fits(name: String, lo: Long, hi: Long): Boolean =
      st.ranges.get(name).forall { case (mn, mx) =>
        val shift =
          if (schema(name).dataType == DateType) graft.core.stata.StataTypes.EpochShiftDays
          else 0L
        mn + shift >= lo && mx + shift <= hi
      }
    val usedNames = scala.collection.mutable.Set[String]()
    writtenFields.map { f =>
      val w: W = f.dataType match {
        case BooleanType => WByte
        case ByteType => if (fits(f.name, ByteMin, ByteMax)) WByte else WInt
        case ShortType => if (fits(f.name, IntMin, IntMax)) WInt else WLong
        case IntegerType => if (fits(f.name, LongMin, LongMax)) WLong else WDouble
        case LongType => WDouble // Stata has no int64 storage
        case FloatType => WFloat
        case DoubleType => WDouble
        case _: DecimalType => WDouble
        case DateType => if (fits(f.name, LongMin, LongMax)) WLong else WDouble
        case TimestampType | TimestampNTZType => WDouble
        case _: TimeType => WDouble // ms-of-day (reference writer.rs:1610)
        case StringType =>
          val mw = widths(f.name)
          if (mw > MaxStrWidth) WStrL else WStr(mw)
        case other =>
          throw new IllegalArgumentException(
            s"stata writer: unsupported type $other for column ${f.name}")
      }
      val fmt = varFormats.getOrElse(f.name, f.dataType match {
        case DateType => "%td"
        case TimestampType | TimestampNTZType => "%tc"
        case _: TimeType => "%tcHH:MM:SS" // reference writer.rs:573
        case StringType => s"%${math.min(widths(f.name), MaxStrWidth)}s"
        case FloatType | DoubleType | LongType | _: DecimalType => "%10.0g"
        case _ => "%8.0g"
      })
      ColSpec(f.name, stataName(f.name, usedNames), w, fmt, f.dataType)
    }
  }

  private[writers] def stataName(name: String, used: scala.collection.mutable.Set[String]): String = {
    var s = name.map(c =>
      if (c.isLetterOrDigit && c < 128 || c == '_') c else '_').mkString
    if (s.isEmpty || (!s(0).isLetter && s(0) != '_')) s = "_" + s
    s = s.take(32)
    var candidate = s
    var i = 1
    while (!used.add(candidate)) {
      val suffix = i.toString
      candidate = s.take(32 - suffix.length) + suffix
      i += 1
    }
    candidate
  }

  /** Per-partition specialized row encoder. Resolves each column's
    * (storage, source-type) pairing ONCE into an array of cell closures,
    * then encodes every row into a reusable little-endian buffer with a
    * single stream write per row. The generic per-cell path (a double
    * pattern-match plus per-byte DataOutputStream calls for every cell)
    * measured ~12 MB/s per thread on the encode-bound roundtrips; this
    * removes all per-cell dispatch, so the encode job tracks IO speed.
    */
  private[writers] final class RowEncoder(specs: Array[ColSpec], version: Int,
      cs: java.nio.charset.Charset, v16: Int,
      out: java.io.OutputStream, gso: java.io.OutputStream,
      // row ordinals per spec (the written schema may be a projection of
      // the incoming rows when taggedMissings drops indicator columns)
      // and the indicator-column ordinal per spec (-1 = none)
      ordinals: Array[Int] = null, tagOrdinals: Array[Int] = null) {
    private val ords: Array[Int] =
      if (ordinals != null) ordinals else specs.indices.toArray
    private val tagOrds: Array[Int] =
      if (tagOrdinals != null) tagOrdinals else Array.fill(specs.length)(-1)
    private val rowLen = specs.map(_.w.width).sum
    private val buf = new Array[Byte](math.max(rowLen, 1))
    private val bb =
      java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    private val utf8 = cs == StandardCharsets.UTF_8
    private val gsoTag = "GSO".getBytes(StandardCharsets.US_ASCII)
    private var strlIdx = 0L
    var rows = 0L

    private def outOfRange(spec: ColSpec, v: Long, lo: Long, hi: Long): Nothing =
      throw new IllegalArgumentException(
        s"stata writer: value $v for column ${spec.stataName} outside " +
          s"[$lo, $hi] — collides with Stata missing sentinels " +
          "(NumericOutOfRange). Batch writes widen storage from observed " +
          "ranges in a stats fold, so this means the source changed " +
          "between jobs; the streaming sink maps types directly (future batches " +
          "are unknowable), so pre-cast the column to a wider type")

    private type Cell = org.apache.spark.sql.catalyst.InternalRow => Unit

    // Days since 1960-01-01 for a DateType cell (Stata %td storage);
    // DateType's internal representation is days since 1970.
    private def stataDays(row: org.apache.spark.sql.catalyst.InternalRow,
        i: Int): Long =
      row.getInt(i).toLong + graft.core.stata.StataTypes.EpochShiftDays

    private def strBytes(row: org.apache.spark.sql.catalyst.InternalRow,
        i: Int): Array[Byte] =
      if (utf8) row.getUTF8String(i).getBytes
      else row.getUTF8String(i).toString.getBytes(cs) // legacy 1252

    /** Tag index for a missing cell: 0 = plain sysmiss, 1-26 = .a-.z
      * from the indicator column (write-side informative nulls — the
      * inverse of the read-side separate-column capture). */
    private def tagK(row: org.apache.spark.sql.catalyst.InternalRow,
        tag: Int): Int = {
      if (tag < 0 || row.isNullAt(tag)) return 0
      val s = row.getUTF8String(tag).toString.trim
      if (s.isEmpty || s == ".") 0
      else if (s.length == 2 && s.charAt(0) == '.' &&
          s.charAt(1) >= 'a' && s.charAt(1) <= 'z') s.charAt(1) - 'a' + 1
      else throw new IllegalArgumentException(
        s"stata writer: taggedMissings indicator value '$s' is not '.' or " +
          "'.a'-'.z' — if the source was read with informative nulls, use " +
          "informativeNullUseValueLabels=false so indicators keep their " +
          "code form")
    }

    private def buildCell(spec: ColSpec, i: Int, tag: Int): Cell = spec.w match {
      case WByte => spec.src match {
        case BooleanType => row =>
          if (row.isNullAt(i)) bb.put((0x65 + tagK(row, tag)).toByte)
          else bb.put(if (row.getBoolean(i)) 1.toByte else 0.toByte)
        case _ => row =>
          if (row.isNullAt(i)) bb.put((0x65 + tagK(row, tag)).toByte)
          else {
            val v = row.getByte(i).toInt
            if (v < ByteMin || v > ByteMax) outOfRange(spec, v, ByteMin, ByteMax)
            bb.put(v.toByte)
          }
      }
      case WInt =>
        val get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Int =
          spec.src match {
            case ByteType => (r, j) => r.getByte(j).toInt // promoted byte→int
            case _ => (r, j) => r.getShort(j).toInt
          }
        row =>
          if (row.isNullAt(i)) bb.putShort((0x7fe5 + tagK(row, tag)).toShort)
          else {
            val v = get(row, i)
            if (v < IntMin || v > IntMax) outOfRange(spec, v, IntMin, IntMax)
            bb.putShort(v.toShort)
          }
      case WLong =>
        val get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Long =
          spec.src match {
            case DateType => stataDays
            case ByteType => (r, j) => r.getByte(j).toLong // promoted
            case ShortType => (r, j) => r.getShort(j).toLong // promoted
            case _ => (r, j) => r.getInt(j).toLong
          }
        row =>
          if (row.isNullAt(i)) bb.putInt(0x7fffffe5 + tagK(row, tag))
          else {
            val v = get(row, i)
            if (v < LongMin || v > LongMax) outOfRange(spec, v, LongMin, LongMax)
            bb.putInt(v.toInt)
          }
      case WFloat => row =>
        // float user-missings step by n<<11 (stata.com/help.cgi?missing).
        // The read side surfaces TAGGED missings as NaN values (sysmiss
        // as null), so a NaN with a tag re-encodes as that tag — the
        // read→write→read fixpoint.
        if (row.isNullAt(i)) bb.putInt(0x7f000000 + (tagK(row, tag) << 11))
        else {
          val v = row.getFloat(i)
          val k = if (v.isNaN) tagK(row, tag) else 0
          if (k > 0) bb.putInt(0x7f000000 + (k << 11)) else bb.putFloat(v)
        }
      case WDouble =>
        val get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Double =
          spec.src match {
            case TimestampType | TimestampNTZType =>
              // internal = micros since epoch (NTZ identical under the
              // session UTC timezone) → Stata %tc milliseconds
              (r, j) => r.getLong(j) / 1000.0 +
                graft.core.stata.StataTypes.EpochShiftMs
            case _: TimeType =>
              // internal = nanos-of-day → %tc ms-of-day (the format's
              // native resolution; sub-ms floors like the reference)
              (r, j) => (r.getLong(j) / 1000000L).toDouble
            case LongType => (r, j) => r.getLong(j).toDouble
            case dt: DecimalType =>
              (r, j) => r.getDecimal(j, dt.precision, dt.scale).toDouble
            case ByteType => (r, j) => r.getByte(j).toDouble // promoted
            case ShortType => (r, j) => r.getShort(j).toDouble // promoted
            case IntegerType => (r, j) => r.getInt(j).toDouble // promoted
            case DateType => (r, j) => stataDays(r, j).toDouble // promoted
            case _ => (r, j) => r.getDouble(j)
          }
        row =>
          // double user-missings step by n<<40; NaN + tag re-encodes as
          // the tag (see WFloat)
          if (row.isNullAt(i))
            bb.putLong(0x7fe0000000000000L + (tagK(row, tag).toLong << 40))
          else {
            val v = get(row, i)
            val k = if (v.isNaN) tagK(row, tag) else 0
            if (k > 0) bb.putLong(0x7fe0000000000000L + (k.toLong << 40))
            else bb.putDouble(v)
          }
      case WStr(w) => row => {
        val start = bb.position()
        if (!row.isNullAt(i)) {
          val bytes = strBytes(row, i)
          bb.put(bytes, 0, math.min(bytes.length, w))
        }
        // zero-pad to the declared width (the buffer is reused per row)
        var p = bb.position()
        val end = start + w
        while (p < end) { buf(p) = 0; p += 1 }
        bb.position(end)
      }
      case WStrL => row =>
        if (row.isNullAt(i)) bb.putLong(0L) // (0,0) = empty strL ref
        else {
          val bytes = strBytes(row, i)
          strlIdx += 1
          val o = strlIdx
          if (version >= 118) {
            // data-section ref: v(2) + o(6) little-endian
            bb.putShort(v16.toShort)
            var k = 0
            var ov = o
            while (k < 6) { bb.put((ov & 0xff).toByte); ov >>= 8; k += 1 }
            // GSO record: "GSO" v(4) o(8) t(1)=130 len(4) payload+NUL
            gso.write(gsoTag)
            Bin.putU32(gso, v16.toLong)
            Bin.putU64(gso, o)
          } else {
            // 117: data ref and GSO both use v(4) + o(4)
            bb.putInt(v16)
            bb.putInt(o.toInt)
            gso.write(gsoTag)
            Bin.putU32(gso, v16.toLong)
            Bin.putU32(gso, o)
          }
          gso.write(0x82)
          Bin.putU32(gso, (bytes.length + 1).toLong)
          gso.write(bytes); gso.write(0)
        }
    }

    private val cells: Array[Cell] =
      specs.zipWithIndex.map { case (s, i) => buildCell(s, ords(i), tagOrds(i)) }

    def encode(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      bb.clear()
      var i = 0
      while (i < cells.length) { cells(i)(row); i += 1 }
      out.write(buf, 0, rowLen)
      rows += 1
    }
  }

  /** Build the per-column value-label tables (n, txtlen, offsets, values,
    * text) shared by every dta version; text in the version's charset. */
  private[writers] def buildVlTables(cols: Array[ColSpec],
      valueLabels: Map[String, Seq[(Int, String)]],
      cs: java.nio.charset.Charset): Seq[(String, Array[Byte])] =
    cols.toSeq.flatMap { c =>
      valueLabels.get(c.name).filter(_ => c.w == WLong || c.w == WInt || c.w == WByte)
        .map { pairs =>
          val sorted = pairs.sortBy(_._1)
          val txt = new java.io.ByteArrayOutputStream()
          val offs = sorted.map { case (_, label) =>
            val o = txt.size()
            txt.write(label.getBytes(cs)); txt.write(0)
            o
          }
          val table = new java.io.ByteArrayOutputStream()
          Bin.putU32(table, sorted.length.toLong)
          Bin.putU32(table, txt.size().toLong)
          offs.foreach(o => Bin.putU32(table, o.toLong))
          sorted.foreach { case (v, _) => Bin.putU32(table, v.toLong & 0xffffffffL) }
          table.write(txt.toByteArray)
          (c.stataName, table.toByteArray)
        }
    }

  private def spliceChunks(ch: java.nio.channels.FileChannel,
      files: Iterator[String]): Unit =
    files.foreach { f =>
      val in = java.nio.channels.FileChannel.open(Paths.get(f), StandardOpenOption.READ)
      try { var p = 0L; val n = in.size()
        while (p < n) p += in.transferTo(p, n - p, ch)
      } finally in.close()
    }

  private def openOut(path: String): java.nio.channels.FileChannel = {
    val outPath = Paths.get(path)
    Option(outPath.getParent).foreach(Files.createDirectories(_))
    java.nio.channels.FileChannel.open(outPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Assemble the final .dta via a same-directory temp + atomic rename
    * (partial files are never visible at the target name). `chunks` are
    * (data, GSO) file pairs in partition order. */
  private def assembleFile(path: String, version: Int, cols: Array[ColSpec],
      nObs: Long, chunks: Seq[(String, String)],
      valueLabels: Map[String, Seq[(Int, String)]],
      varLabels: Map[String, String]): Unit =
    AtomicFile.write(path)(tmp => assembleFileRaw(tmp, version, cols, nObs,
      chunks, valueLabels, varLabels))

  private def assembleFileRaw(path: String, version: Int, cols: Array[ColSpec],
      nObs: Long, chunks: Seq[(String, String)],
      valueLabels: Map[String, Seq[(Int, String)]],
      varLabels: Map[String, String]): Unit = {
    if (version < 117) {
      assembleLegacy(path, version, cols, nObs, chunks, valueLabels, varLabels)
      return
    }
    val k = cols.length
    // per-version record widths — same matrix the reader uses
    val layout = graft.core.stata.StataParser.layoutFor(version)
    val cs = graft.core.stata.StataTypes.charsetFor(version)
    val nameLen = layout.varNameLen      // 33 before 118, 129 after
    val fmtRecLen = layout.fmtLen        // 49 before 118, 57 after
    val varLabelLen = layout.varLabelLen // 81 before 118, 321 after
    val bos = new java.io.ByteArrayOutputStream()

    def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
    def tag(s: String): Unit = bos.write(ascii(s))

    // header — 119 ("wide") widens K to u32 and sortlist entries to u32;
    // 117 narrows N to u32 and the data label length to u8
    tag(s"<stata_dta><header><release>$version</release><byteorder>LSF</byteorder><K>")
    if (version >= 119) Bin.putU32(bos, k.toLong) else Bin.putU16(bos, k)
    tag("</K><N>")
    if (version >= 118) Bin.putU64(bos, nObs) else Bin.putU32(bos, nObs)
    tag("</N><label>")
    if (version >= 118) Bin.putU16(bos, 0) else bos.write(0)
    tag("</label><timestamp>")
    bos.write(0)
    tag("</timestamp></header>")

    // section sizes after <map> are all fixed → compute offsets forward
    val mapOff = bos.size().toLong
    val mapLen = 5 + 14 * 8 + 6
    val vtOff = mapOff + mapLen
    val vtLen = 16 + 2 * k + 17
    val vnOff = vtOff + vtLen
    val vnLen = 10 + nameLen * k + 11
    val srtEntryLen = layout.srtEntryLen
    val soOff = vnOff + vnLen
    val soLen = 10 + srtEntryLen * (k + 1) + 11
    val fmtOff = soOff + soLen
    val fmtLen = 9 + fmtRecLen * k + 10
    val vlnOff = fmtOff + fmtLen
    val vlnLen = 19 + nameLen * k + 20
    val vlbOff = vlnOff + vlnLen
    val vlbLen = 17 + varLabelLen * k + 18
    val chOff = vlbOff + vlbLen
    val chLen = 17 + 18
    val dataOff = chOff + chLen
    val dataLen = 6 + chunks.map(c => new File(c._1).length()).sum + 7
    val strlOff = dataOff + dataLen
    val strlLen = 7 + chunks.map(c => new File(c._2).length()).sum + 8
    val vlTables = buildVlTables(cols, valueLabels, cs)
    val vlBody = vlTables.map { case (_, t) => 5 + 4 + nameLen + 3 + t.length + 6 }.sum
    val vlOff = strlOff + strlLen
    val vlLen = 14 + vlBody + 15
    val endOff = vlOff + vlLen
    val eofOff = endOff + 12

    tag("<map>")
    Seq(0L, mapOff, vtOff, vnOff, soOff, fmtOff, vlnOff, vlbOff, chOff,
      dataOff, strlOff, vlOff, endOff, eofOff).foreach(Bin.putU64(bos, _))
    tag("</map>")

    tag("<variable_types>")
    cols.foreach(c => Bin.putU16(bos, c.w.typeCode))
    tag("</variable_types>")
    tag("<varnames>")
    cols.foreach(c => Bin.putZPad(bos, c.stataName, nameLen, cs))
    tag("</varnames>")
    tag("<sortlist>")
    (0 to k).foreach(_ =>
      if (version >= 119) Bin.putU32(bos, 0L) else Bin.putU16(bos, 0))
    tag("</sortlist>")
    tag("<formats>")
    cols.foreach(c => Bin.putZPad(bos, c.fmt, fmtRecLen, cs))
    tag("</formats>")
    tag("<value_label_names>")
    cols.foreach { c =>
      val lbl = if (valueLabels.contains(c.name) &&
          (c.w == WLong || c.w == WInt || c.w == WByte)) c.stataName else ""
      Bin.putZPad(bos, lbl, nameLen, cs)
    }
    tag("</value_label_names>")
    tag("<variable_labels>")
    cols.foreach(c =>
      Bin.putZPad(bos, varLabels.getOrElse(c.name, ""), varLabelLen, cs))
    tag("</variable_labels>")
    tag("<characteristics></characteristics>")
    tag("<data>")

    val ch = openOut(path)
    try {
      ch.write(java.nio.ByteBuffer.wrap(bos.toByteArray))
      spliceChunks(ch, chunks.iterator.map(_._1))
      ch.write(java.nio.ByteBuffer.wrap(ascii("</data><strls>")))
      spliceChunks(ch, chunks.iterator.map(_._2))
      val vlOut = new java.io.ByteArrayOutputStream()
      vlOut.write(ascii("</strls><value_labels>"))
      vlTables.foreach { case (name, table) =>
        vlOut.write(ascii("<lbl>"))
        Bin.putU32(vlOut, table.length.toLong)
        Bin.putZPad(vlOut, name, nameLen, cs)
        vlOut.write(0); vlOut.write(0); vlOut.write(0) // padding
        vlOut.write(table)
        vlOut.write(ascii("</lbl>"))
      }
      vlOut.write(ascii("</value_labels></stata_dta>"))
      ch.write(java.nio.ByteBuffer.wrap(vlOut.toByteArray))
    } finally ch.close()
  }

  /** Pre-xml binary layout (dta 114). Same chunk encode; only the
    * metadata framing differs: fixed header, one-byte typlist codes,
    * 5-zero-byte expansion terminator, value-label tables to EOF. */
  private def assembleLegacy(path: String, version: Int, cols: Array[ColSpec],
      nObs: Long, chunks: Seq[(String, String)],
      valueLabels: Map[String, Seq[(Int, String)]],
      varLabels: Map[String, String]): Unit = {
    require(version == 114, s"legacy dta writer supports 114 (got $version)")
    val k = cols.length
    val layout = graft.core.stata.StataParser.layoutFor(version)
    val cs = graft.core.stata.StataTypes.charsetFor(version)
    val bos = new java.io.ByteArrayOutputStream()

    // header: version, byteorder (2 = LSF), filetype, unused, K, N
    bos.write(version); bos.write(0x02); bos.write(0x01); bos.write(0)
    Bin.putU16(bos, k)
    Bin.putU32(bos, nObs)
    Bin.putZPad(bos, "", layout.dataLabelLen, cs)   // data label (81)
    Bin.putZPad(bos, "", layout.timestampLen, cs)   // timestamp (18)

    // typlist: one byte per var — str widths 1..244 raw, numerics 251..255
    cols.foreach { c =>
      val code = c.w match {
        case WStr(w) => w
        case WByte => 251
        case WInt => 252
        case WLong => 253
        case WFloat => 254
        case WDouble => 255
        case WStrL => throw new IllegalStateException("strL in dta 114")
      }
      bos.write(code)
    }
    cols.foreach(c => Bin.putZPad(bos, c.stataName, layout.varNameLen, cs))
    (0 to k).foreach(_ => Bin.putU16(bos, 0)) // srtlist
    cols.foreach(c => Bin.putZPad(bos, c.fmt, layout.fmtLen, cs))
    cols.foreach { c =>
      val lbl = if (valueLabels.contains(c.name) &&
          (c.w == WLong || c.w == WInt || c.w == WByte)) c.stataName else ""
      Bin.putZPad(bos, lbl, layout.lblNameLen, cs)
    }
    cols.foreach(c =>
      Bin.putZPad(bos, varLabels.getOrElse(c.name, ""), layout.varLabelLen, cs))
    // expansion fields: terminator only (type u8 = 0, len u32 = 0)
    bos.write(0); Bin.putU32(bos, 0L)

    val ch = openOut(path)
    try {
      ch.write(java.nio.ByteBuffer.wrap(bos.toByteArray))
      spliceChunks(ch, chunks.iterator.map(_._1))
      // value-label section runs to EOF: {len, labname[33], pad[3], table}
      val vlOut = new java.io.ByteArrayOutputStream()
      buildVlTables(cols, valueLabels, cs).foreach { case (name, table) =>
        Bin.putU32(vlOut, table.length.toLong)
        Bin.putZPad(vlOut, name, layout.vlLabnameLen, cs)
        vlOut.write(0); vlOut.write(0); vlOut.write(0)
        vlOut.write(table)
      }
      ch.write(java.nio.ByteBuffer.wrap(vlOut.toByteArray))
    } finally ch.close()
  }
}
