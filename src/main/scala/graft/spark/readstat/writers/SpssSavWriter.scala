package graft.spark.readstat.writers

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Bin
import graft.core.spss.SpssCore

/** Distributed SPSS .sav writer (uncompressed, layout code 2, LE, UTF-8).
  *
  * Same one-job shape as [[StataDtaWriter]] (`WritePass`): each task
  * folds its partition's stats and encodes its fixed-width records to a
  * scratch chunk under its own layout, and the driver splices.
  * Uncompressed records keep the written files row-range partitionable
  * on re-read (the scale path); `.zsav` writes deflated blocks instead.
  *
  * Layout follows the public SAV spec; behavioral reference:
  * /root/reference crates/polars_readstat_rs/src/spss/writer.rs
  * (header/var records/subtypes 3,4,11,13,14,20 and the 252/255 very-long-
  * string segmentation at writer.rs:440-453, 926-949).
  */
object SpssSavWriter {

  private[writers] sealed trait W
  private[writers] case object WNum extends W
  private[writers] case class WStr(declLen: Int) extends W

  private[writers] case class ColSpec(name: String, short: String, w: W,
      fmtType: Int, fmtWidth: Int, fmtDec: Int, src: DataType) {
    def segmentSizes: Seq[Int] = w match {
      case WNum => Seq.empty
      case WStr(len) if len <= 255 => Seq(len)
      case WStr(len) =>
        val n = (len + 251) / 252
        Seq.fill(n - 1)(255) :+ (len - (n - 1) * 252)
    }
    /** 8-byte units this column's data occupies. */
    def widthUnits: Int = w match {
      case WNum => 1
      case WStr(len) if len <= 255 => (len + 7) / 8
      case WStr(len) =>
        val n = (len + 251) / 252
        val last = len - (n - 1) * 252
        ((n - 1) * 256 + (last + 7) / 8 * 8) / 8
    }
  }

  def write(df: DataFrame, path: String, options: Map[String, String],
      known: Option[WriteStats], zlib: Boolean): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    // metadata-df entries seed labels/measures/formats; explicit options
    // win per key (reference write_readstat metadata= extraction for
    // SPSS: "variable labels, value labels, formats, measure" —
    // __init__.py write_readstat docstring; entries for absent or
    // inapplicable variables are dropped, like the dta writer's)
    val meta = options.get("metadataPath")
      .map(p => MetadataDfOptions.read(spark, p))
    val colSet = schema.fieldNames.toSet
    def metaFil[T](m: MetadataDfOptions => Map[String, T]): Map[String, T] =
      meta.map(o => m(o).filter { case (k, _) => colSet(k) }).getOrElse(Map.empty)
    // string-code entries are accepted too (BEYOND the reference, whose
    // SPSS writer rejects string value labels outright, writer.rs:855):
    // ≤8-byte strings land in standard type-3 records, wider ones in a
    // subtype-21 long-string value label record — both read back by our
    // reader and by SPSS/pyreadstat.
    val valueLabels: Map[String, Seq[(String, String)]] =
      metaFil(_.valLabels) ++
      SasCsvBundleWriter.parseAnyValueLabels(options.getOrElse("valueLabels", ""))
    val varLabels = metaFil(_.varLabels) ++ StataDtaWriter.parseVarLabels(
      options.getOrElse("varLabels", ""))
    val varMeasures =
      metaFil(_.measures).filter(kv =>
        Set("nominal", "ordinal", "scale")(kv._2.trim.toLowerCase)) ++
      StataDtaWriter.parseVarLabels(options.getOrElse("varMeasures", ""))
    // per-variable print formats (reference SPSS writer's formats dict):
    // "price:DOLLAR12.2|score:F8.4". Numeric columns only — a string's
    // A-format is bound to its storage width. NOTE: date/time format
    // classes change the READ-BACK Spark type (DATE → DateType), which
    // is the SPSS semantic: the format IS the type annotation.
    val varFormats: Map[String, (Int, Int, Int)] = {
      // metadata sav formats arrive as the parsed (type, width, decimals)
      // triple — the frame's `format` string is null for sav by design.
      // Best-effort: skip string columns (A-formats bind to storage
      // width); explicit option entries still fail loudly below
      val metaF = metaFil(_.formatTriples).filter { case (c, _) =>
        schema(c).dataType != StringType
      }
      metaF ++ StataDtaWriter.parseVarLabels(options.getOrElse("varFormats", ""))
        .map { case (c, spec) => c -> parseSavFormat(c, spec) }
    }
    // fail typos and wasted jobs EARLY, on the driver, before the
    // width-agg and encode jobs run: unknown columns, bad measure
    // values, and formats on string columns (a string's A-format is
    // bound to its storage width and cannot be overridden)
    // reference variable_display_width / variable_alignment dicts
    // (docs/write.md:58-59): per-column subtype-11 display params
    val varDisplayWidths: Map[String, Int] =
      metaFil(_.displayWidths) ++
      StataDtaWriter.parseVarLabels(options.getOrElse("varDisplayWidths", ""))
        .map { case (c, w) =>
          val n = try w.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"sav writer: varDisplayWidths.$c must be an integer (got '$w')")
          }
          require(n >= 1 && n <= 32767,
            s"sav writer: varDisplayWidths.$c must be in [1, 32767]")
          c -> n
        }
    val varAlignments: Map[String, String] =
      metaFil(_.alignments) ++
      StataDtaWriter.parseVarLabels(options.getOrElse("varAlignments", ""))
        .map { case (c, a) => c -> a.trim.toLowerCase }
    // write-side declared missing values (beyond the reference writer):
    // numerics take discrete values and/or a "lo..hi" range; strings
    // take discrete values (var-record slots ≤8 bytes, subtype 22 above)
    val missingValues: Map[String, MissSpec] =
      parseMissingValues(options.getOrElse("missingValues", ""))
    val colNames = schema.fieldNames.toSet
    Seq("varFormats" -> varFormats.keySet,
        "varMeasures" -> varMeasures.keySet,
        "varLabels" -> varLabels.keySet,
        "varDisplayWidths" -> varDisplayWidths.keySet,
        "varAlignments" -> varAlignments.keySet,
        "missingValues" -> missingValues.keySet)
      .foreach { case (opt, keys) =>
        val unknown = keys.diff(colNames)
        require(unknown.isEmpty,
          s"sav writer: $opt names unknown column(s): ${unknown.mkString(", ")}")
      }
    varMeasures.values.foreach(v => require(
      Set("nominal", "ordinal", "scale")(v.trim.toLowerCase),
      s"sav writer: varMeasures values must be nominal|ordinal|scale (got $v)"))
    varAlignments.values.foreach(v => require(
      Set("left", "right", "center")(v),
      s"sav writer: varAlignments values must be left|right|center (got $v)"))
    varFormats.keys.foreach(c => require(
      schema(c).dataType != StringType,
      s"sav writer: varFormats.$c targets a string column — string " +
        "A-formats are bound to the storage width and cannot be overridden"))

    // ---- record layout from the stats: max string octet widths ----
    val layoutOf = (st: WriteStats) => colSpecs(schema, varFormats, st)
    val zlibB = zlib

    // ---- multiFile mode: one self-contained .sav/.zsav per partition ----
    // (same contract as the dta writer: `path` becomes a directory of
    // part files, executor-side assembly, no driver splice; global
    // widths from a stats job keep every part's dictionary identical)
    if (options.get("multiFile").exists(_.toBoolean)) {
      val st = known.getOrElse(WriteStats.of(df))
      val nObs = st.rows
      val specsB = spark.sparkContext.broadcast(layoutOf(st))
      val ext = if (zlib) "zsav" else "sav"
      val partPrefix = MultiFileParts.prepare(new File(path), "(sav|zsav)", options)
      val vls = valueLabels
      val vlbB = varLabels
      val vmB = varMeasures
      val vdwB = varDisplayWidths
      val vaB = varAlignments
      val mvB = missingValues
      val counts: Array[Long] =
        df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          if (!it.hasNext) Iterator.empty
          else {
            val specs = specsB.value
            val f = File.createTempFile(s"graft_msav_${pid}_", ".chunk")
            val (rows, blocks) = encodeChunk(specs, zlibB, it, f)
            val dictLocal = buildDictionary(specs, rows, zlibB, vls, vlbB,
              vmB, vdwB, vaB, mvB)
            assembleSav(s"$path/$partPrefix" + f"$pid%05d.$ext", dictLocal, zlibB,
              Seq(f.getAbsolutePath), blocks)
            f.delete()
            Iterator(rows)
          }
        }.collect()
      require(counts.sum == nObs,
        s"row count drift: agg=$nObs write=${counts.sum}")
      return
    }

    // ---- one pass, then the driver writes header + dictionary and
    // splices the chunks ----
    val encode: WritePass.Encode[Array[ColSpec], (String, Seq[(Int, Int)])] =
      (cols, pid, rows, scratch) => {
        val f = scratch("sav")
        (f.getAbsolutePath, encodeChunk(cols, zlibB, rows, f)._2)
      }
    WritePass.run(df, options, known, layoutOf, encode) { pass =>
      val dict = buildDictionary(pass.layout, pass.stats.rows, zlib, valueLabels,
        varLabels, varMeasures, varDisplayWidths, varAlignments, missingValues)
      assembleSav(path, dict, zlib, pass.chunks.map(_._1), pass.chunks.flatMap(_._2))
    }
  }

  private def colSpecs(schema: StructType,
      varFormats: Map[String, (Int, Int, Int)], st: WriteStats): Array[ColSpec] = {
    def widths(c: String): Int = math.max(1, st.octets(c))
    schema.fields.zipWithIndex.map { case (f, i) =>
      val short = s"V${i + 1}"
      f.dataType match {
        case StringType =>
          val wdt = widths(f.name)
          ColSpec(f.name, short, WStr(wdt), 1, math.min(wdt, 255), 0, f.dataType)
        case DateType => ColSpec(f.name, short, WNum, 20, 11, 0, f.dataType)
        case TimestampType | TimestampNTZType =>
          ColSpec(f.name, short, WNum, 22, 20, 0, f.dataType)
        case _: TimeType => // fmt 21 = TIME8 (reference writer.rs:416)
          ColSpec(f.name, short, WNum, 21, 8, 0, f.dataType)
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
          ColSpec(f.name, short, WNum, 5, 8, 0, f.dataType)
        case FloatType | DoubleType | _: DecimalType =>
          ColSpec(f.name, short, WNum, 5, 8, 2, f.dataType)
        case other => throw new IllegalArgumentException(
          s"sav writer: unsupported type $other for ${f.name}")
      }
    }.map { c =>
      varFormats.get(c.name).filter(_ => c.w == WNum) match {
        case Some((t, wd, d)) => c.copy(fmtType = t, fmtWidth = wd, fmtDec = d)
        case None => c
      }
    }
  }

  /** One partition's records into `f`: raw fixed-width records, or for
    * zsav bytecode-encoded (all-literal 253 codes, control groups of 8
    * padded with 0s) into ~4 MB deflated blocks. Returns the row count
    * and the zsav blocks' (raw, deflated) sizes. */
  private def encodeChunk(specs: Array[ColSpec], zlib: Boolean,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      f: File): (Long, List[(Int, Int)]) = {
    val raw = new java.io.BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try {
      val enc = new SavRowEncoder(specs)
      var rows = 0L
      if (!zlib) {
        it.foreach { row =>
          enc.encode(row)
          raw.write(enc.buf, 0, enc.recordLen)
          rows += 1
        }
        (rows, Nil)
      } else {
        val zenc = new ZsavBlockEncoder(raw)
        it.foreach { row =>
          enc.encode(row)
          zenc.addRow(enc.buf, 0, enc.recordLen)
          rows += 1
        }
        (rows, zenc.finish())
      }
    } finally raw.close()
  }

  /** SPSS print-format spec "NAME[width[.dec]]" → (type code, width,
    * decimals). Codes are the public sav spec's format-type table. */
  private val SavFmtCodes = Map(
    "COMMA" -> 3, "DOLLAR" -> 4, "F" -> 5, "Z" -> 15, "N" -> 16, "E" -> 17,
    "DATE" -> 20, "TIME" -> 21, "DATETIME" -> 22, "ADATE" -> 23,
    "JDATE" -> 24, "PCT" -> 31, "DOT" -> 32, "EDATE" -> 38, "SDATE" -> 39)
  private val SavFmtRe = "([A-Za-z]+)(\\d+)?(?:\\.(\\d+))?".r

  private def parseSavFormat(col: String, spec: String): (Int, Int, Int) =
    spec.trim match {
      case SavFmtRe(name, w, d) =>
        val t = SavFmtCodes.getOrElse(name.toUpperCase,
          throw new IllegalArgumentException(
            s"sav writer: varFormats.$col: unknown format '$name' " +
              s"(supported: ${SavFmtCodes.keys.toSeq.sorted.mkString(", ")})"))
        // the packed format word holds one byte each of width/decimals:
        // out-of-range values would bleed into the neighboring byte and
        // silently corrupt the recorded format type
        val width = Option(w).map(v => BigInt(v)).getOrElse(BigInt(8))
        val dec = Option(d).map(v => BigInt(v)).getOrElse(BigInt(0))
        require(width >= 1 && width <= 255,
          s"sav writer: varFormats.$col: width $width outside [1, 255]")
        require(dec >= 0 && dec <= width,
          s"sav writer: varFormats.$col: decimals $dec outside [0, width]")
        (t, width.toInt, dec.toInt)
      case other => throw new IllegalArgumentException(
        s"sav writer: varFormats.$col: cannot parse format '$other'")
    }

  /** Validated `varFormats` parse for the streaming sink: numeric
    * columns only, same spec grammar as the batch writer. */
  private[writers] def parseStreamFormats(schema: StructType,
      options: Map[String, String]): Map[String, (Int, Int, Int)] = {
    val parsed = StataDtaWriter.parseVarLabels(
      options.getOrElse("varFormats", ""))
      .map { case (c, spec) => c -> parseSavFormat(c, spec) }
    val colNames = schema.fieldNames.toSet
    val unknown = parsed.keySet.diff(colNames)
    require(unknown.isEmpty,
      s"sav streaming sink: varFormats names unknown column(s): ${unknown.mkString(", ")}")
    parsed.keys.foreach(c => require(schema(c).dataType != StringType,
      s"sav streaming sink: varFormats.$c targets a string column"))
    parsed
  }

  /** Header + dictionary, then the data chunks (raw records, or zsav
    * blocks + zheader/ztrailer). Pure IO — runs on the driver for the
    * single-file splice and on executors for multiFile part assembly.
    * Emits via a same-directory temp + atomic rename (no partial files
    * at the final name). */
  private def assembleSav(path: String, dict: Array[Byte], zlib: Boolean,
      chunkPaths: Seq[String], zsavBlocks: Seq[(Int, Int)]): Unit =
    AtomicFile.write(path)(tmp => assembleSavRaw(tmp, dict, zlib, chunkPaths, zsavBlocks))

  private def assembleSavRaw(path: String, dict: Array[Byte], zlib: Boolean,
      chunkPaths: Seq[String], zsavBlocks: Seq[(Int, Int)]): Unit = {
    val outPath = Paths.get(path)
    Option(outPath.getParent).foreach(Files.createDirectories(_))
    val ch = java.nio.channels.FileChannel.open(outPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(dict))
      if (!zlib) {
        chunkPaths.foreach { c =>
          val in = java.nio.channels.FileChannel.open(Paths.get(c), StandardOpenOption.READ)
          try { var p = 0L; val n = in.size()
            while (p < n) p += in.transferTo(p, n - p, ch)
          } finally in.close()
        }
      } else {
        // terminal block: [252,0,0,0,0,0,0,0] control group, deflated
        val endDef = new java.util.zip.Deflater()
        val endRaw = Array[Byte](252.toByte, 0, 0, 0, 0, 0, 0, 0)
        endDef.setInput(endRaw); endDef.finish()
        val endBuf = new Array[Byte](64)
        val endLen = endDef.deflate(endBuf)
        endDef.end()

        val allBlocks = zsavBlocks :+ (8, endLen)
        val zheaderOfs = dict.length.toLong
        val totalCompressed = allBlocks.map(_._2.toLong).sum
        val ztrailerOfs = zheaderOfs + 24 + totalCompressed
        val hb = new java.io.ByteArrayOutputStream()
        Bin.putU64(hb, zheaderOfs)
        Bin.putU64(hb, ztrailerOfs)
        Bin.putU64(hb, 24L + 24L * allBlocks.length)
        ch.write(java.nio.ByteBuffer.wrap(hb.toByteArray))
        chunkPaths.foreach { c =>
          val in = java.nio.channels.FileChannel.open(Paths.get(c), StandardOpenOption.READ)
          try { var p = 0L; val n = in.size()
            while (p < n) p += in.transferTo(p, n - p, ch)
          } finally in.close()
        }
        ch.write(java.nio.ByteBuffer.wrap(java.util.Arrays.copyOf(endBuf, endLen)))
        // trailer: bias, zero, block_size, n_blocks, then per-block entries
        val tb = new java.io.ByteArrayOutputStream()
        Bin.putU64(tb, -100L)
        Bin.putU64(tb, 0L)
        Bin.putU32(tb, 0x3FF000L)
        Bin.putU32(tb, allBlocks.length.toLong)
        var uOfs = zheaderOfs
        var cOfs = zheaderOfs + 24
        allBlocks.foreach { case (u, c0) =>
          Bin.putU64(tb, uOfs); Bin.putU64(tb, cOfs)
          Bin.putU32(tb, u.toLong); Bin.putU32(tb, c0.toLong)
          uOfs += u; cOfs += c0
        }
        ch.write(java.nio.ByteBuffer.wrap(tb.toByteArray))
      }
    } finally ch.close()
  }

  /** Bytecode+deflate block encoder for zsav: elements become literal
    * (253) codes; control groups of 8 are zero-padded at flush so blocks
    * stay independently concatenable across partitions. */
  private[writers] final class ZsavBlockEncoder(out: java.io.OutputStream) {
    private val blockTarget = 4 << 20
    private val buf = new java.io.ByteArrayOutputStream(blockTarget + 65536)
    private val ctrl = new Array[Byte](8)
    private var ctrlN = 0
    private val payloads = new java.io.ByteArrayOutputStream(8 * 8)
    private var blocks = List.newBuilder[(Int, Int)]

    def addRow(row: Array[Byte]): Unit = addRow(row, 0, row.length)

    def addRow(row: Array[Byte], off0: Int, len: Int): Unit = {
      var off = off0
      val end = off0 + len
      while (off < end) {
        ctrl(ctrlN) = 253.toByte; ctrlN += 1
        payloads.write(row, off, 8)
        off += 8
        if (ctrlN == 8) flushGroup()
      }
      if (buf.size() >= blockTarget) flushBlock()
    }

    private def flushGroup(): Unit = {
      var i = ctrlN
      while (i < 8) { ctrl(i) = 0; i += 1 }
      buf.write(ctrl, 0, 8)
      payloads.writeTo(buf)
      payloads.reset()
      ctrlN = 0
    }

    private def flushBlock(): Unit = {
      if (ctrlN > 0) flushGroup()
      if (buf.size() == 0) return
      val rawBytes = buf.toByteArray
      val d = new java.util.zip.Deflater()
      d.setInput(rawBytes); d.finish()
      val outBuf = new Array[Byte](rawBytes.length + 1024)
      var n = 0
      while (!d.finished()) n += d.deflate(outBuf, n, outBuf.length - n)
      d.end()
      out.write(outBuf, 0, n)
      blocks += ((rawBytes.length, n))
      buf.reset()
    }

    def finish(): List[(Int, Int)] = {
      flushBlock()
      blocks.result()
    }
  }

  /** Per-partition specialized row encoder (same rationale as the dta
    * writer's RowEncoder): each column's (storage, source-type) pairing
    * resolves once into a cell closure writing into a reusable
    * little-endian record buffer, so the per-cell cost is one closure
    * call instead of a double pattern-match plus per-byte
    * DataOutputStream writes. Callers emit `buf[0, recordLen)` per row.
    */
  private[writers] final class SavRowEncoder(specs: Array[ColSpec]) {
    val recordLen: Int = specs.map(_.widthUnits).sum * 8
    val buf = new Array[Byte](math.max(recordLen, 1))
    private val bb =
      java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)

    private type Cell = org.apache.spark.sql.catalyst.InternalRow => Unit

    private def buildCell(spec: ColSpec, i: Int): Cell = spec.w match {
      case WNum =>
        val get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Double =
          spec.src match {
            case DateType => // internal = days since 1970
              (r, j) => r.getInt(j).toDouble * 86400.0 + SpssCore.SecShift
            case TimestampType | TimestampNTZType =>
              // internal = micros since epoch (NTZ identical under the
              // session UTC timezone) → SPSS seconds
              (r, j) => r.getLong(j) / 1000000.0 + SpssCore.SecShift
            case _: TimeType =>
              // internal = nanos-of-day → SPSS seconds-of-day; fractional
              // seconds survive (the reference truncates, writer.rs:1485)
              (r, j) => r.getLong(j) / 1e9
            case ByteType => (r, j) => r.getByte(j).toDouble
            case ShortType => (r, j) => r.getShort(j).toDouble
            case IntegerType => (r, j) => r.getInt(j).toDouble
            case LongType => (r, j) => r.getLong(j).toDouble
            case BooleanType => (r, j) => if (r.getBoolean(j)) 1.0 else 0.0
            case FloatType => (r, j) => r.getFloat(j).toDouble
            case dt: DecimalType =>
              (r, j) => r.getDecimal(j, dt.precision, dt.scale).toDouble
            case _ => (r, j) => r.getDouble(j)
          }
        row => bb.putLong(
          if (row.isNullAt(i)) SpssCore.MissingBits
          else java.lang.Double.doubleToRawLongBits(get(row, i)))
      case WStr(declLen) =>
        val storage = spec.widthUnits * 8
        row => {
          val start = bb.position()
          java.util.Arrays.fill(buf, start, start + storage, ' '.toByte)
          if (!row.isNullAt(i)) {
            val s = row.getUTF8String(i).getBytes
            if (declLen <= 255) {
              System.arraycopy(s, 0, buf, start, math.min(s.length, storage))
            } else {
              // 255 payload bytes per 256-byte chunk
              var src = 0; var dst = 0
              while (src < s.length && dst < storage) {
                val chunk = math.min(255, math.min(s.length - src, storage - dst))
                System.arraycopy(s, src, buf, start + dst, chunk)
                src += chunk
                dst += 256
              }
            }
          }
          bb.position(start + storage)
        }
    }

    private val cells: Array[Cell] =
      specs.zipWithIndex.map { case (s, i) => buildCell(s, i) }

    def encode(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      bb.clear()
      var i = 0
      while (i < cells.length) { cells(i)(row); i += 1 }
    }
  }

  /** Declared missing values (write-side; the reference writer has no
    * missing-value surface): per column, up to three discrete values, or
    * a numeric range "lo..hi" plus at most one discrete. Read back via
    * the var-record missing fields (numerics and ≤8-byte strings) or a
    * subtype-22 record (longer strings, discrete only).
    */
  private[writers] final case class MissSpec(range: Option[(Double, Double)],
      discrete: Seq[String])

  private[writers] def parseMissingValues(spec: String): Map[String, MissSpec] =
    StataDtaWriter.parseVarLabels(spec).map { case (c, body) =>
      var range: Option[(Double, Double)] = None
      val discrete = Seq.newBuilder[String]
      body.split(",").map(_.trim).filter(_.nonEmpty).foreach { e =>
        val i = e.indexOf("..")
        if (i > 0) {
          require(range.isEmpty,
            s"sav writer: missingValues.$c declares more than one range")
          val (lo, hi) = (e.substring(0, i).trim, e.substring(i + 2).trim)
          try range = Some((lo.toDouble, hi.toDouble))
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"sav writer: missingValues.$c range '$e' is not numeric")
          }
        } else discrete += e
      }
      val d = discrete.result()
      require(if (range.isDefined) d.length <= 1 else d.length <= 3,
        s"sav writer: missingValues.$c allows at most 3 discrete values " +
          "(or a range plus one)")
      require(range.isDefined || d.nonEmpty,
        s"sav writer: missingValues.$c is empty")
      c -> MissSpec(range, d)
    }

  private[writers] def buildDictionary(cols: Array[ColSpec], nObs: Long,
      zlib: Boolean, valueLabels: Map[String, Seq[(String, String)]],
      varLabels: Map[String, String] = Map.empty,
      varMeasures: Map[String, String] = Map.empty,
      varDisplayWidths: Map[String, Int] = Map.empty,
      varAlignments: Map[String, String] = Map.empty,
      missingValues: Map[String, MissSpec] = Map.empty): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = Bin.putU32(o, v)
    def ascii(s: String, len: Int): Unit =
      Bin.putZPadSpace(o, s, len)

    // header (176 bytes)
    o.write((if (zlib) "$FL3" else "$FL2").getBytes(StandardCharsets.US_ASCII))
    ascii("@(#) SPSS DATA FILE graft polars_readstatspark", 60)
    u32(2) // layout code
    u32(cols.map(_.widthUnits).sum.toLong) // nominal case size (units)
    u32(if (zlib) 2 else 0) // compression: 0=none, 2=zsav
    u32(0) // weight index
    u32(if (nObs <= Int.MaxValue) nObs else -1L) // ncases
    Bin.putF64(o, 100.0) // bias
    ascii("01 Jan 26", 9)
    ascii("00:00:00", 8)
    ascii("", 64) // file label
    ascii("", 3)  // padding

    // variable records; the reference SPSS writer supports per-variable
    // labels (has_var_label + length-prefixed text padded to 4 bytes) —
    // attached to the primary record only, never continuations/segments
    def varLabel(name: String): Unit = varLabels.get(name) match {
      case Some(lbl) =>
        val b = lbl.getBytes(StandardCharsets.UTF_8)
        var len = math.min(b.length, 255)
        // never cut mid-codepoint: back off past UTF-8 continuation
        // bytes so the stored label stays valid UTF-8
        while (len > 0 && len < b.length && (b(len) & 0xC0) == 0x80)
          len -= 1
        u32(len.toLong)
        o.write(b, 0, len)
        val padded = (len + 3) / 4 * 4
        (len until padded).foreach(_ => o.write(' '))
      case None => ()
    }
    def numMiss(c: ColSpec): Seq[Double] = missingValues.get(c.name) match {
      case None => Nil
      case Some(MissSpec(range, discrete)) =>
        val d = discrete.map { v =>
          try v.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"sav writer: missingValues.${c.name} value '$v' is not " +
                "numeric (the column is numeric)")
          }
        }
        range.map { case (lo, hi) => Seq(lo, hi) }.getOrElse(Nil) ++ d
    }
    def strMiss(c: ColSpec, declLen: Int): Seq[Array[Byte]] =
      missingValues.get(c.name) match {
        case None => Nil
        case Some(MissSpec(range, discrete)) =>
          require(range.isEmpty,
            s"sav writer: missingValues.${c.name} declares a range on a " +
              "string column — strings take discrete values only")
          discrete.map { v =>
            val vb = v.getBytes(StandardCharsets.UTF_8)
            require(vb.length <= 8 && vb.length <= declLen,
              s"sav writer: missingValues.${c.name} value '$v' exceeds " +
                s"the 8-byte missing-value slot (width $declLen)")
            val slot = Array.fill[Byte](8)(' ')
            System.arraycopy(vb, 0, slot, 0, vb.length)
            slot
          }
      }
    cols.foreach { c =>
      c.w match {
        case WNum =>
          val miss = numMiss(c)
          val hasRange = missingValues.get(c.name).exists(_.range.isDefined)
          u32(2); u32(0)
          u32(if (varLabels.contains(c.name)) 1 else 0)
          u32((if (hasRange) -miss.length else miss.length).toLong & 0xffffffffL)
          u32(((c.fmtType.toLong << 16) | (c.fmtWidth.toLong << 8) | c.fmtDec))
          u32(((c.fmtType.toLong << 16) | (c.fmtWidth.toLong << 8) | c.fmtDec))
          ascii(c.short, 8)
          varLabel(c.name)
          miss.foreach(Bin.putF64(o, _))
        case WStr(declLen) =>
          // ≤8-byte strings carry declared missings in the var record;
          // wider strings route through a subtype-22 record below
          val miss = if (declLen <= 8) strMiss(c, declLen) else Nil
          val segs = c.segmentSizes
          segs.zipWithIndex.foreach { case (segLen, si) =>
            val segName =
              if (si == 0) c.short
              else c.short.take(5) + (if (si < 10) ('0' + si).toChar else ('A' + si - 10).toChar)
            u32(2); u32(segLen.toLong)
            u32(if (si == 0 && varLabels.contains(c.name)) 1 else 0)
            u32(if (si == 0) miss.length.toLong else 0L)
            val fmt = (1L << 16) | (math.min(segLen, 255).toLong << 8)
            u32(fmt); u32(fmt)
            ascii(segName, 8)
            if (si == 0) varLabel(c.name)
            if (si == 0) miss.foreach(o.write)
            // continuation records for this segment's extra 8-byte units
            val units = (math.min(segLen, 255) + 7) / 8
            (1 until units).foreach { _ =>
              u32(2); u32(0xFFFFFFFFL); u32(0); u32(0); u32(0); u32(0)
              ascii("", 8)
            }
          }
      }
    }

    // value labels: record type 3 (entries) + type 4 (1-based unit
    // offsets) for numerics and ≤8-byte strings (type-3 values are raw
    // 8-byte slots); strings wider than 8 bytes collect into a
    // subtype-21 long-string value label record written below.
    var unitOff = 0
    val colUnits = cols.map { c => val u = unitOff + 1; unitOff += c.widthUnits; u }
    val longStrLabels = Vector.newBuilder[(ColSpec, Seq[(String, String)])]
    // slots: pre-encoded 8-byte value field per (value, label) pair
    def writeType3(slots: Seq[(Array[Byte], String)], unit: Int): Unit = {
      u32(3); u32(slots.length.toLong)
      slots.foreach { case (vb, label) =>
        o.write(vb, 0, 8)
        val lb = label.getBytes(StandardCharsets.UTF_8)
        val len = math.min(lb.length, 255)
        o.write(len)
        o.write(lb, 0, len)
        val padded = (len + 8) / 8 * 8 - 1
        (len until padded).foreach(_ => o.write(' '))
      }
      u32(4); u32(1); u32(unit.toLong)
    }
    cols.zipWithIndex.foreach { case (c, ci) =>
      valueLabels.get(c.name).filter(_.nonEmpty).foreach { pairs =>
        c.w match {
          case WNum =>
            writeType3(pairs.map { case (code, label) =>
              val d = try code.trim.toDouble catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"sav writer: valueLabels.${c.name} code '$code' is not " +
                    "numeric (the column is numeric)")
              }
              val vb = new Array[Byte](8)
              java.nio.ByteBuffer.wrap(vb)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d)
              (vb, label)
            }, colUnits(ci))
          case WStr(declLen) =>
            pairs.foreach { case (code, _) =>
              require(code.getBytes(StandardCharsets.UTF_8).length <= declLen,
                s"sav writer: valueLabels.${c.name} value '$code' exceeds " +
                  s"the declared string width $declLen")
            }
            if (declLen <= 8)
              writeType3(pairs.map { case (code, label) =>
                val cb = code.getBytes(StandardCharsets.UTF_8)
                val vb = Array.fill[Byte](8)(' ')
                System.arraycopy(cb, 0, vb, 0, cb.length)
                (vb, label)
              }, colUnits(ci))
            else longStrLabels += ((c, pairs))
        }
      }
    }
    // subtype 3: integer info (version, machine, fp rep, compression, endian, charcode)
    u32(7); u32(3); u32(4); u32(8)
    Seq(20, 0, 0, -1, 1, 0, 2, 65001).foreach(v => u32(v.toLong & 0xffffffffL))
    // subtype 4: fp info (sysmis, highest, lowest)
    u32(7); u32(4); u32(8); u32(3)
    Bin.putU64(o, SpssCore.MissingBits)
    Bin.putU64(o, SpssCore.HighestBits)
    Bin.putU64(o, SpssCore.LowestBits)
    // subtype 13: long variable names
    val pairs = cols.map(c => s"${c.short}=${c.name}").mkString("\t")
      .getBytes(StandardCharsets.UTF_8)
    u32(7); u32(13); u32(1); u32(pairs.length.toLong)
    o.write(pairs)
    // subtype 14: very long strings
    val vl = cols.collect { case c @ ColSpec(_, short, WStr(len), _, _, _, _) if len > 255 =>
      s"$short=${len % 100000} \t" }.mkString
    if (vl.nonEmpty) {
      val b = vl.getBytes(StandardCharsets.US_ASCII)
      u32(7); u32(14); u32(1); u32(b.length.toLong)
      o.write(b)
    }
    // subtype 21: value labels for strings wider than 8 bytes (same
    // layout our reader parses: pascal long name, u32 declared width,
    // u32 count, then u32-len value / u32-len label pairs)
    val lsl = longStrLabels.result()
    if (lsl.nonEmpty) {
      val payload = new java.io.ByteArrayOutputStream()
      def pu32(v: Long): Unit = Bin.putU32(payload, v)
      lsl.foreach { case (c, pairs) =>
        val nb = c.name.getBytes(StandardCharsets.UTF_8)
        pu32(nb.length.toLong); payload.write(nb)
        pu32(c.w.asInstanceOf[WStr].declLen.toLong)
        pu32(pairs.length.toLong)
        pairs.foreach { case (code, label) =>
          val cb = code.getBytes(StandardCharsets.UTF_8)
          val lb = label.getBytes(StandardCharsets.UTF_8)
          pu32(cb.length.toLong); payload.write(cb)
          pu32(lb.length.toLong); payload.write(lb)
        }
      }
      val b = payload.toByteArray
      u32(7); u32(21); u32(1); u32(b.length.toLong)
      o.write(b)
    }
    // subtype 22: declared missing values for strings wider than the
    // 8-byte var-record slot (same layout our reader parses: pascal
    // long name, u8 count, u32 shared value length, then the values)
    val lsm = cols.collect {
      case c @ ColSpec(_, _, WStr(declLen), _, _, _, _)
          if declLen > 8 && missingValues.contains(c.name) =>
        val spec = missingValues(c.name)
        require(spec.range.isEmpty,
          s"sav writer: missingValues.${c.name} declares a range on a " +
            "string column — strings take discrete values only")
        val vals = spec.discrete.map { v =>
          val vb = v.getBytes(StandardCharsets.UTF_8)
          require(vb.length <= declLen,
            s"sav writer: missingValues.${c.name} value '$v' exceeds the " +
              s"declared string width $declLen")
          vb
        }
        (c, vals)
    }
    if (lsm.nonEmpty) {
      val payload = new java.io.ByteArrayOutputStream()
      def pu32(v: Long): Unit = Bin.putU32(payload, v)
      lsm.foreach { case (c, vals) =>
        val nb = c.name.getBytes(StandardCharsets.UTF_8)
        pu32(nb.length.toLong); payload.write(nb)
        payload.write(vals.length)
        val len = vals.map(_.length).max
        pu32(len.toLong)
        vals.foreach { vb =>
          val slot = Array.fill[Byte](len)(' ')
          System.arraycopy(vb, 0, slot, 0, vb.length)
          payload.write(slot)
        }
      }
      val b = payload.toByteArray
      u32(7); u32(22); u32(1); u32(b.length.toLong)
      o.write(b)
    }
    // subtype 11: display parameters (measure / display width /
    // alignment), written only when the user declares measures — the
    // reference SPSS writer exposes the same per-variable measure dict.
    // One triple per FINAL column; undeclared columns get the SPSS
    // defaults (scale + right for numeric, nominal + left for strings).
    if (varMeasures.nonEmpty || varDisplayWidths.nonEmpty ||
        varAlignments.nonEmpty) {
      // one (measure, width, alignment) triple per DICTIONARY VARIABLE:
      // very-long-string SEGMENTS each count (they have their own
      // rec_type-2 record), continuation records do not — the counting
      // rule real SPSS/PSPP readers apply
      val nDictVars = cols.map(c => math.max(1, c.segmentSizes.length)).sum
      u32(7); u32(11); u32(4); u32(3L * nDictVars)
      cols.foreach { c =>
        val isNum = c.w == WNum
        val m = varMeasures.get(c.name).map(_.trim.toLowerCase) match {
          case Some("nominal") => 1L
          case Some("ordinal") => 2L
          case Some("scale") => 3L
          case Some(other) => throw new IllegalArgumentException(
            s"sav writer: varMeasures.${c.name} must be nominal|ordinal|scale (got $other)")
          case None => if (isNum) 3L else 1L
        }
        // reference variable_display_width / variable_alignment dicts;
        // SPSS alignment codes: 0 left, 1 right, 2 centre
        val dw = varDisplayWidths.get(c.name).map(_.toLong)
          .getOrElse(c.fmtWidth.toLong.max(1L))
        val al = varAlignments.get(c.name) match {
          case Some("left") => 0L
          case Some("right") => 1L
          case Some("center") => 2L
          case _ => if (isNum) 1L else 0L
        }
        (0 until math.max(1, c.segmentSizes.length)).foreach { _ =>
          u32(m)
          u32(dw)
          u32(al)
        }
      }
    }
    // subtype 20: encoding
    val enc = "UTF-8".getBytes(StandardCharsets.US_ASCII)
    u32(7); u32(20); u32(1); u32(enc.length.toLong)
    o.write(enc)
    // dictionary termination
    u32(999); u32(0)
    o.toByteArray
  }
}
