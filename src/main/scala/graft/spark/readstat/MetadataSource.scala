package graft.spark.readstat

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("readstat-metadata").load(path)` — per-variable
  * metadata as a DataFrame with the reference's canonical 12 columns
  * (reference: src/metadata_df.rs:149-198). One row per variable.
  */
class ReadstatMetadataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "readstat-metadata"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MetadataRows.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val raw = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("readstat-metadata: no path"))
    val path = MetadataPaths.localPath(raw)
    // a directory (e.g. a multiFile dataset) is ONE dataset whose parts
    // share a schema, so its per-variable metadata is the first file's —
    // under the tolerant modes, the first file whose header PARSES
    // (mirroring the data scan, which drops corrupt-header members);
    // per-FILE rows live in readstat-file-metadata
    val resolved =
      if (new java.io.File(path).isDirectory) {
        val members = MetadataPaths.expandDirectory(path)
        val pick =
          if (!ReadstatOptions.from(properties).tolerant) members.headOption
          else members.find(p =>
            try { MetadataRows.rowsFor(p); true }
            catch { case scala.util.control.NonFatal(_) => false })
        pick.getOrElse(throw new IllegalArgumentException(
          s"readstat-metadata: no readable stat files under directory $path"))
      } else path
    new MetadataTable(resolved)
  }
}

object MetadataRows {
  val schema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("label", StringType),
    StructField("value_label_codes", ArrayType(StringType)),
    StructField("value_label_labels", ArrayType(StringType)),
    StructField("format", StringType),
    StructField("format_type", IntegerType),
    StructField("format_width", IntegerType),
    StructField("format_decimals", IntegerType),
    StructField("measure", StringType),
    StructField("display_width", IntegerType),
    StructField("alignment", StringType),
    StructField("string_width_bytes", IntegerType)))

  private def s(v: String): Any =
    if (v == null || v.isEmpty) null else UTF8String.fromString(v)
  private def arr(v: Seq[String]): ArrayData =
    if (v.isEmpty) null
    else new GenericArrayData(v.map(x => UTF8String.fromString(x)).toArray[Any])

  def rowsFor(path: String): Seq[InternalRow] = {
    val lower = path.toLowerCase
    // Note on format_type/format_width/format_decimals for dta and SAS:
    // the reference leaves them null for both formats — its accumulator is
    // called with `None, None, None` (reference: src/stata/metadata.rs:87,
    // src/sas/metadata.rs:884); only SPSS/POR numeric print formats carry
    // the parsed triple. We mirror that: format strings ("%9.2f", "DATE9.")
    // are surfaced verbatim in `format`, the triple stays null.
    if (lower.endsWith(".dta")) {
      val md = StataModule.metadata(path)
      md.variables.map { v =>
        val vl = v.valueLabelName.flatMap(n => md.valueLabels.find(_.name == n))
        val codes = vl.map(_.mapping.keys.toSeq.sorted.map(_.toString)).getOrElse(Nil)
        val labels = vl.map(t => t.mapping.keys.toSeq.sorted.map(t.mapping)).getOrElse(Nil)
        mk(v.name, v.label.orNull, codes, labels, v.format.orNull, -1, -1, -1,
          null, -1, null,
          v.varType match {
            case graft.core.stata.StataTypes.TStr(w) => w
            case _ => -1
          })
      }
    } else if (lower.endsWith(".sav") || lower.endsWith(".zsav")) {
      val md = SpssModule.metadata(path)
      md.vars.map { v =>
        val codes = (v.numLabels.keys.toSeq.sorted.map(NumRender.code) ++
          v.strLabels.keys.toSeq.sorted)
        val labels = (v.numLabels.toSeq.sortBy(_._1).map(_._2) ++
          v.strLabels.toSeq.sortBy(_._1).map(_._2))
        mk(v.name, v.label.orNull, codes, labels, null,
          v.formatType, v.formatWidth, v.formatDecimals,
          v.measure.orNull, v.displayWidth.getOrElse(-1), v.alignment.orNull,
          if (v.isString) v.stringLen else -1)
      }
    } else if (lower.endsWith(".sas7bdat")) {
      val md = SasModule.metadata(path)
      md.columns.map { c =>
        mk(c.name, c.label, Nil, Nil, c.format, -1, -1, -1, null, -1, null,
          if (c.isChar) c.length else -1)
      }
    } else if (lower.endsWith(".xpt") || lower.endsWith(".xpt5") ||
        lower.endsWith(".xpt8")) {
      val md = XptModule.metadata(path)
      md.columns.map { c =>
        mk(c.name, c.label, Nil, Nil, c.format, -1, -1, -1, null, -1, null,
          if (c.isChar) c.width else -1)
      }
    } else if (lower.endsWith(".por")) {
      val md = PorModule.metadata(path)
      md.vars.map { v =>
        val codes = v.numLabels.keys.toSeq.sorted.map(NumRender.code) ++
          v.strLabels.keys.toSeq.sorted
        val labels = v.numLabels.toSeq.sortBy(_._1).map(_._2) ++
          v.strLabels.toSeq.sortBy(_._1).map(_._2)
        mk(v.name, v.label.orNull, codes, labels, null, v.fmtType, v.fmtWidth,
          v.fmtDec, null, -1, null, if (v.isString) v.width else -1)
      }
    } else throw new IllegalArgumentException(s"readstat-metadata: $path")
  }

  private def mk(name: String, label: String, codes: Seq[String],
      labels: Seq[String], format: String, ft: Int, fw: Int, fd: Int,
      measure: String, dw: Int, align: String, strW: Int): InternalRow = {
    val r = new GenericInternalRow(12)
    r.update(0, s(name)); r.update(1, s(label))
    r.update(2, arr(codes)); r.update(3, arr(labels))
    r.update(4, s(format))
    r.update(5, if (ft < 0) null else ft)
    r.update(6, if (fw < 0) null else fw)
    r.update(7, if (fd < 0) null else fd)
    r.update(8, s(measure))
    r.update(9, if (dw < 0) null else dw)
    r.update(10, s(align))
    r.update(11, if (strW < 0) null else strW)
    r
  }
}

/** `spark.read.format("readstat-file-metadata").load(path)` — one row of
  * file-level metadata per stat file: row count, variable count, encoding,
  * file label, creation timestamp, plus a `details` JSON string with the
  * format-specific header fields. Mirrors the reference's per-file metadata
  * JSON (reference: src/stata/mod.rs:70-116, src/sas/mod.rs:44-88) with the
  * per-variable detail living in the `readstat-metadata` frame instead of a
  * nested "variables" array — the relational shape for joining against.
  */
class ReadstatFileMetadataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "readstat-file-metadata"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileMetadataRows.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val paths = MetadataPaths.fromProperties(properties)
    // the `mode` option makes this source a corpus HEALTH AUDIT: under
    // dropmalformed/permissive a file whose header fails to parse emits
    // an error row (null row_count, details={"error":…}) instead of
    // failing the scan — one metadata query sweeps a 100 TB drop
    // directory and lists exactly which files a tolerant data scan
    // would skip
    val opts = ReadstatOptions.from(properties)
    new FileMetadataTable(paths, opts.tolerant, opts.split.slots)
  }
}

object MetadataPaths {
  private val StatExts = Seq(".dta", ".sav", ".zsav", ".sas7bdat", ".xpt",
    ".xpt5", ".xpt8", ".por")

  /** Normalize a `file:` URI to a plain local path. The session catalog
    * qualifies table locations to URIs (`CREATE TABLE ... USING readstat`
    * hands the connector `file:/tmp/x.dta`), while every decoder here
    * opens `java.io` local files. Non-file schemes are rejected with a
    * clear error instead of a FileNotFoundException naming a path that
    * plainly exists. */
  def localPath(p: String): String =
    if (!p.contains(":") || p.startsWith("/")) p
    else if (p.startsWith("file:")) {
      try new java.io.File(new java.net.URI(p)).getPath
      catch { case _: Exception => p.replaceFirst("^file:(//)?", "/").replaceFirst("^//+", "/") }
    } else if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      throw new IllegalArgumentException(
        s"readstat: unsupported URI scheme in '$p' — the connector reads " +
          "local/shared-filesystem paths (mount remote storage or copy locally)")
    else p

  /** DSv2 passes a single `load(p)` as "path" and `load(p1, p2, …)` as a
    * JSON array under "paths". Directories expand to the stat files they
    * contain (non-recursive), so `load(dir)` fans a whole drop of files
    * out one-partition-each. */
  def fromProperties(properties: util.Map[String, String]): Seq[String] = {
    // the "paths" property is a JSON array — parse it as one (a naive
    // split(",") mangles any path containing a comma or escaped quote)
    val multi = Option(properties.get("paths")).map { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(js)
      require(node.isArray, s"readstat metadata: 'paths' is not a JSON array: $js")
      (0 until node.size()).map(i => node.get(i).asText()).filter(_.nonEmpty)
    }.getOrElse(Nil)
    val single = Option(properties.get("path")).toSeq
    val all = (single ++ multi).map(localPath).distinct.flatMap { p =>
      val f = new java.io.File(p)
      if (f.isDirectory) expandDirectory(p) else Seq(p)
    }
    if (all.isEmpty)
      throw new IllegalArgumentException("readstat metadata: no stat files under the given path(s)")
    all
  }

  /** Non-recursive listing of the stat files a directory contains,
    * sorted for deterministic partition order. Shared by the data and
    * metadata sources. */
  def expandDirectory(p: String): Seq[String] = {
    val children = new java.io.File(p).listFiles() // null on IO/permission error
    if (children == null)
      throw new IllegalArgumentException(
        s"readstat: cannot list directory $p (unreadable?)")
    children.toSeq
      .filter(c => StatExts.exists(c.getName.toLowerCase.endsWith))
      .map(_.getAbsolutePath).sorted
  }
}

object FileMetadataRows {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("format", StringType),
    StructField("row_count", LongType),
    StructField("var_count", IntegerType),
    StructField("encoding", StringType),
    StructField("file_label", StringType),
    StructField("created", StringType),
    StructField("details", StringType)))

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def jsonObj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val vs = v match {
        case null => "null"
        case s: String => "\"" + jsonEscape(s) + "\""
        case b: Boolean => b.toString
        case n => n.toString
      }
      "\"" + k + "\":" + vs
    }.mkString("{", ",", "}")

  /** Tolerant-mode (`mode=dropmalformed`/`permissive`) audit row for a
    * file whose header failed to parse: format guessed from the
    * extension, null counts, the failure message in the details JSON —
    * the row a corpus-health sweep joins against to find exactly which
    * files a tolerant data scan would skip. */
  def errorRow(path: String, e: Throwable): InternalRow = {
    val i = path.lastIndexOf('.')
    val ext = if (i < 0) null else path.substring(i + 1).toLowerCase
    val r = new GenericInternalRow(8)
    r.update(0, UTF8String.fromString(path))
    r.update(1, if (ext == null) null else UTF8String.fromString(ext))
    r.update(2, null); r.update(3, null); r.update(4, null)
    r.update(5, null); r.update(6, null)
    r.update(7, UTF8String.fromString(jsonObj(Seq("error" ->
      (if (e.getMessage == null) e.getClass.getSimpleName else e.getMessage)))))
    r
  }

  /** SAS/SPSS header timestamps use the 1960-01-01 epoch in seconds. */
  private def sasEpochToIso(sasSeconds: Double): String =
    if (sasSeconds.isNaN || sasSeconds == 0.0) null
    else java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        sasSeconds.toLong - graft.core.stata.StataTypes.EpochShiftDays * 86400L))

  def rowFor(path: String): InternalRow = {
    val lower = path.toLowerCase
    def mk(format: String, rowCount: Long, varCount: Int, encoding: String,
        label: String, created: String, details: String): InternalRow = {
      val r = new GenericInternalRow(8)
      r.update(0, UTF8String.fromString(path))
      r.update(1, UTF8String.fromString(format))
      r.update(2, if (rowCount < 0) null else rowCount)
      r.update(3, varCount)
      r.update(4, if (encoding == null) null else UTF8String.fromString(encoding))
      r.update(5, if (label == null || label.isEmpty) null else UTF8String.fromString(label))
      r.update(6, if (created == null || created.isEmpty) null else UTF8String.fromString(created))
      r.update(7, UTF8String.fromString(details))
      r
    }
    if (lower.endsWith(".dta")) {
      val md = StataModule.metadata(path)
      mk("dta", md.nObs, md.nVars, md.charset.name(),
        md.dataLabel.orNull, md.timestamp.orNull,
        jsonObj(Seq(
          "version" -> md.version,
          "byte_order" -> (if (md.littleEndian) "LittleEndian" else "BigEndian"),
          "data_offset" -> md.dataOffset,
          "strls_offset" -> md.strlsOffset,
          "value_labels_offset" -> md.valueLabelsOffset,
          "value_label_count" -> md.valueLabels.size)))
    } else if (lower.endsWith(".sav") || lower.endsWith(".zsav")) {
      val md = SpssModule.metadata(path)
      val created = (md.creationDate, md.creationTime) match {
        case (Some(d), Some(t)) => s"$d $t"
        case (d, t) => d.orElse(t).orNull
      }
      mk(if (md.compression == 2) "zsav" else "sav", md.nCases,
        md.vars.size, md.charset.name(), md.fileLabel.orNull, created,
        jsonObj(Seq(
          "compression" -> (md.compression match {
            case 0 => "None"; case 1 => "Bytecode"; case _ => "Zsav"
          }),
          "bias" -> md.bias,
          "byte_order" -> (if (md.little) "LittleEndian" else "BigEndian"),
          "data_offset" -> md.dataOffset)))
    } else if (lower.endsWith(".sas7bdat")) {
      val md = SasModule.metadata(path)
      mk("sas7bdat", md.rowCount, md.columns.size, md.charset.name(),
        null, sasEpochToIso(md.dateCreatedSas),
        jsonObj(Seq(
          "compression" -> (md.compression match {
            case 0 => "None"; case 1 => "RLE"; case _ => "RDC"
          }),
          "table_name" -> (if (md.datasetName.isEmpty) null else md.datasetName),
          "sas_release" -> md.sasRelease,
          "encoding_byte" -> md.encodingByte,
          "row_length" -> md.rowLength,
          "page_size" -> md.pageLength,
          "page_count" -> md.pageCount,
          "header_length" -> md.headerLength,
          "byte_order" -> (if (md.little) "LittleEndian" else "BigEndian"),
          "bit64" -> md.bit64)))
    } else if (lower.endsWith(".xpt") || lower.endsWith(".xpt5") ||
        lower.endsWith(".xpt8")) {
      val md = XptModule.metadata(path)
      // the parse records mid-row truncation instead of throwing (so
      // mode=permissive can salvage); the AUDIT must keep the loud
      // invariant — failfast metadata reads throw here, tolerant reads
      // turn this into the file's error row
      if (md.truncatedTail)
        throw new java.io.IOException(
          s"xpt: non-padding bytes after the last whole row of $path — " +
            "file appears truncated mid-row")
      mk("xpt", md.rowCount, md.columns.size, "ISO-8859-1",
        md.fileLabel, md.created,
        jsonObj(Seq(
          "version" -> md.version,
          "table_name" -> md.tableName,
          "row_length" -> md.rowLength,
          "data_offset" -> md.dataOffset,
          "modified" -> (if (md.modified.isEmpty) null else md.modified))))
    } else if (lower.endsWith(".por")) {
      val md = PorModule.metadata(path)
      // POR records no case count in its header; row_count is unknown
      // without a full sequential read (same as the reference).
      mk("por", -1L, md.vars.size, "ISO-8859-1", md.fileLabel,
        md.created.orNull, jsonObj(Nil))
    } else throw new IllegalArgumentException(s"readstat-file-metadata: $path")
  }
}

class FileMetadataTable(paths: Seq[String], tolerant: Boolean, slots: Int)
    extends Table with SupportsRead {
  override def name(): String = s"readstat-file-metadata:${paths.mkString(",")}"
  override def schema(): StructType = FileMetadataRows.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = FileMetadataRows.schema
      override def toBatch: Batch = this
      // a header parse costs a millisecond or two, far less than a task:
      // consecutive files pack into two waves of the session's slots
      override def planInputPartitions(): Array[InputPartition] =
        paths.grouped(math.max(1, (paths.length - 1) / (2 * slots) + 1)).map { g =>
          MultiFilePartition(g.map(RangePartition(_, 0, 1)).toArray): InputPartition
        }.toArray
      override def createReaderFactory(): PartitionReaderFactory =
        FileMetadataReaderFactory(tolerant)
    }
}

/** Top-level so the task closure serializes only the `tolerant` flag,
  * not the enclosing (non-serializable) scan builder. */
private[readstat] case class FileMetadataReaderFactory(tolerant: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[MultiFilePartition].parts.iterator.map { rp =>
      if (!tolerant) FileMetadataRows.rowFor(rp.path)
      else try FileMetadataRows.rowFor(rp.path) catch {
        case scala.util.control.NonFatal(e) =>
          FileMetadataRows.errorRow(rp.path, e)
      }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

class MetadataTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"readstat-metadata:$path"
  override def schema(): StructType = MetadataRows.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = MetadataRows.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(RangePartition(path, 0, 1))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val it = MetadataRows.rowsFor(p.asInstanceOf[RangePartition].path).iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean =
                if (it.hasNext) { cur = it.next(); true } else false
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}
