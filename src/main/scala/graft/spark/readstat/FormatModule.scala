package graft.spark.readstat

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** One statistical-file format (dta/sav/sas7bdat/xpt/por) as seen by the
  * DSv2 connector: driver-side schema + partition planning, executor-side
  * decoding. Each format has ONE decoder, [[columnarRows]]: per-column
  * tight loops into ColumnarBatches (the reference's columnar chunk
  * stream); the connector casts and reshapes those batches.
  * Implementations must keep `metadata` cheap (header/meta parse only —
  * no data read) because it runs at planning time, and the decode
  * embarrassingly parallel across disjoint row ranges.
  *
  * Batch reuse contract (Spark's own, as in its vectorized Parquet
  * reader): a batch and its vectors are valid until the next `next()` of
  * the iterator that returned it. Every decoder refills one
  * [[ReusedBatch]] per partition, so consumers must read (or copy) a
  * batch before pulling the next one.
  */
trait FormatModule extends Serializable {

  /** Full (unpruned) schema for the file under the given options. */
  def schema(path: String, opts: ReadstatOptions): StructType

  /** Plan row-range partitions. `limit` is the pushed-down row cap.
    * Every regime sizes its ranges with the session's [[SplitRule]]
    * (`opts.split`): fixed-width rows and SAS pages split by arithmetic;
    * compressed sav and POR split at the checkpoints of a driver-side
    * skim, which a file the rule plans as one range never pays.
    */
  def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition]

  /** Whether [[planPartitions]] with a limit plans partitions that emit
    * EXACTLY the first-`limit` file rows — the precondition for the
    * scan builder to accept the limit with `isPartiallyPushed=false`
    * (Catalyst then deletes its Limit operator). SAS overrides false:
    * its page-range planner cannot map a row limit to pages without an
    * index pass, so it plans every page and relies on Catalyst's kept
    * Limit — accepting there would silently return the whole file. */
  def plansExactLimit: Boolean = true

  /** Plan partitions that emit exactly the first-`limit` rows of the
    * file with the first `offset` of them dropped — the DSv2
    * OFFSET-pushdown contract (rows [offset, min(limit, rowCount))).
    * None when the format cannot START at an arbitrary row without
    * decoding everything before it (compressed/sequential regimes,
    * page-grained SAS) — the scan builder then refuses `pushOffset`
    * and Catalyst keeps its Offset operator, so refusal is always
    * correct, just unaccelerated. */
  def planPartitionsAt(path: String, opts: ReadstatOptions, offset: Long,
      limit: Option[Long]): Option[Seq[RangePartition]] = None

  /** Cheap (no index build, no file read) answer to "would
    * [[planPartitionsAt]] with no limit be defined for this file?" —
    * the multi-file pushOffset probe, where calling planPartitionsAt
    * per file could build a checkpoint index per file before the push
    * is even accepted. Must be consistent with planPartitionsAt. */
  def plansOffset(path: String, opts: ReadstatOptions): Boolean = false

  /** Shared clamp arithmetic for the O(1)-seekable planners
    * (dta/xpt/uncompressed sav, with and without an offset): row ranges
    * covering [clamp(offset), min(limit, rowCount)), split by the
    * session's [[SplitRule]]. One definition — an edge-case fix here
    * must not be applied three times. The split strides only over the
    * rows the file's length holds ([[rowsHeld]]): rows a corrupt header
    * declares beyond them go into one final range, whose decode fails
    * (or is salvaged) like any truncated tail, instead of planning one
    * range per target's worth of bytes that are not there. */
  protected final def seekableRowRanges(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long], rowCount: Long,
      rowLen: Int, dataStart: Long, dataEnd: Long = Long.MaxValue): Seq[RangePartition] = {
    val total = limit.map(math.min(_, rowCount)).getOrElse(rowCount)
    val start0 = math.min(math.max(0L, offset), total)
    if (total - start0 <= 0) return Seq(RangePartition(path, start0, 0))
    val held = math.max(start0, math.min(total, rowsHeld(path, dataStart, rowLen, dataEnd)))
    val stride = opts.split.stride(held - start0, rowLen, opts.partitionTargetBytes)
    (start0 until held by stride).map { start =>
      RangePartition(path, start, math.min(stride, held - start))
    } ++ (if (held < total) Seq(RangePartition(path, held, total - held)) else Nil)
  }

  /** Complete `rowLen`-byte rows the file holds between `dataStart` and
    * `dataEnd` (the file's end, when that comes first): the
    * truncated-tail arithmetic of the fixed-width regimes'
    * [[salvageableRowCount]]. */
  protected final def rowsHeld(path: String, dataStart: Long, rowLen: Int,
      dataEnd: Long = Long.MaxValue): Long =
    math.max(0L, math.min(dataEnd, new java.io.File(path).length()) - dataStart) /
      math.max(1, rowLen)

  /** Exact total data-row count when obtainable from metadata alone
    * (header fields, record-length arithmetic, page indexes) — the basis
    * for COUNT(*) aggregate pushdown, where a count never touches row
    * data. None when the format can only learn the count by decoding
    * (e.g. POR's end-marker-terminated stream). */
  def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = None

  /** Rows decodable from the intact prefix of a possibly-truncated file
    * (`mode=permissive`): for fixed-width seekable regimes this is exact
    * arithmetic — complete rows physically present in the data region,
    * capped at the header's row count — so the planner can clamp its
    * row-addressed partitions instead of relying on where mid-decode
    * exceptions happen to land. Only meaningful for modules whose
    * [[RangePartition]]s are row-addressed; None where the row count
    * cannot be known without decoding (compressed/sequential regimes,
    * page-grained SAS — the executor-side salvage backstop covers
    * those). Must never throw on a file whose [[schema]] parsed. */
  def salvageableRowCount(path: String, opts: ReadstatOptions): Option[Long] = None

  /** Whether [[columnarRows]] can serve this (path, options, schema)
    * combination: every required field carries the module's own name and
    * (natural) type. Compress narrowing and schema overrides do not
    * change a module's schema — the connector decodes natural types and
    * casts afterwards — so they need no check here. Must be cheap:
    * called at planning time. */
  final def supportsColumnar(path: String, opts: ReadstatOptions,
      required: StructType): Boolean = {
    val byName = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    required.fields.forall(f => byName.get(f.name).contains(f.dataType))
  }

  /** Whether this module can evaluate the pushed filter against its
    * decoded output values (the basis of the scan builder's
    * pushedFilters() claim): any filter over columns that decode numeric
    * or string, label-decoded and indicator columns included. Compress
    * narrowing and overrides reshape types AFTER the decode, so the
    * value a predicate would see differs from the filter's typed
    * literal: refuse them. Purely advisory: every pushed filter is also
    * returned as a residual, so a decoder that cannot skip on a claimed
    * column stays correct — it just skips fewer rows. See
    * [[PushedFilters]]. */
  final def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean =
    !opts.compress && opts.schemaOverrides.isEmpty && {
      val types = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
      PushedFilters.isSupported(filter, types.get)
    }

  /** Decode one partition, emitting only `required` columns (names are a
    * subset of `schema` under these options, in requested order) as
    * [[org.apache.spark.sql.vectorized.ColumnarBatch]]es. Runs on
    * executors. Implementations that honor `pushed` must only SKIP rows
    * the filters definitely reject (Catalyst re-applies the residual
    * predicate, so emitting extra rows is always safe — dropping a
    * passing row never is). Only called when [[supportsColumnar]] holds. */
  def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]

  /** [[columnarRows]] with no pushed filters. */
  final def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    columnarRows(part, opts, required, Array.empty)
}

/** One partition's batch: its vectors are allocated once, at the first
  * batch's row count, and every later batch `reset`s and refills them
  * (growing them if a batch is larger). A `new OnHeapColumnVector` costs
  * two `SQLConf.get` lookups, which on a task thread build a conf object
  * each, so a decoder allocating per batch pays for them on every batch. */
final class ReusedBatch(schema: StructType) {
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _

  /** Empties every vector for a batch of up to `rows` rows. */
  def reset(rows: Int): Unit =
    if (vectors == null) {
      vectors = schema.fields.map(f => new OnHeapColumnVector(math.max(1, rows), f.dataType))
      batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
    } else {
      var i = 0
      while (i < vectors.length) { vectors(i).reset(); vectors(i).reserve(rows); i += 1 }
    }

  /** The `i`th column's vector, emptied by the last [[reset]]. */
  def apply(i: Int): OnHeapColumnVector = vectors(i)

  /** The batch of the vectors' first `rows` rows. */
  def emit(rows: Int): ColumnarBatch = { batch.setNumRows(rows); batch }
}

object ReusedBatch {
  /** Source bytes per batch: the row-major chunk a decoder walks once per
    * column stays in the core's cache, where a 4 MB chunk is streamed
    * from memory once per column. From a sweep of 64 KB, 256 KB and 1 MB
    * (CHANGES.md): the three read the same end to end, and one thread
    * decoded dta and sav fastest at 64-256 KB. */
  val TargetBytes: Int = 256 << 10

  /** THE batch-size rule of every decoder, for a batch of `rowBytes`-byte
    * records with `remaining` rows left: `batchRows` when set, else
    * [[TargetBytes]] of records (at least one). */
  def rows(opts: ReadstatOptions, rowBytes: Long, remaining: Long): Int = {
    val rule =
      if (opts.batchRows > 0) opts.batchRows.toLong
      else math.max(1L, TargetBytes / math.max(1L, rowBytes))
    // a decoder's chunk of rows x rowBytes is one byte array
    math.min(math.min(rule, remaining), Int.MaxValue / math.max(1L, rowBytes)).toInt
  }
}

/** String cells that go into a vector as their file bytes. A cell whose
  * bytes are all below 0x80 decodes, in a charset that maps 0x00-0x7F to
  * the same ASCII characters, to exactly those bytes in UTF-8 — so the
  * String round trip (decode, trim, encode) can be skipped for it. Every
  * other cell takes the String path. */
private[readstat] object AsciiCells {
  private val compat = new java.util.concurrent.ConcurrentHashMap[java.nio.charset.Charset, java.lang.Boolean]()

  /** Whether `cs` decodes every byte 0x00-0x7F, alone and in a run, to
    * the same character (UTF-16 and EBCDIC do not; ISO-2022-JP reads
    * escape sequences out of ASCII bytes). */
  def compatible(cs: java.nio.charset.Charset): Boolean =
    compat.computeIfAbsent(cs, c => {
      val all = Array.tabulate(128)(_.toByte)
      val ascii = new String(all, java.nio.charset.StandardCharsets.ISO_8859_1)
      java.lang.Boolean.valueOf(new String(all, c) == ascii &&
        all.forall(b => new String(Array(b), c) == ascii.substring(b, b + 1)))
    }).booleanValue

  /** Whether `buf[from, until)` holds only bytes below 0x80. */
  def isAscii(buf: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until && buf(i) >= 0) i += 1
    i == until
  }

  /** End of a cell's content in `buf[from, until)` once trailing blanks
    * and NULs are trimmed. */
  def trimEnd(buf: Array[Byte], from: Int, until: Int): Int = {
    var end = until
    while (end > from && (buf(end - 1) == ' ' || buf(end - 1) == 0)) end -= 1
    end
  }
}

/** THE integral-rendering rule for numeric value-label codes: exact
  * integers print without a decimal point (the form label tables key
  * on), the 1e15 guard keeps huge doubles off the lossy Long render.
  * One definition — per-format copies of this rule drifted once
  * (review r11: a metadata branch lost the 1e15 guard). */
private[readstat] object NumRender {
  def code(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Decoder state at a row boundary of a compressed SPSS stream: the
  * uncompressed-logical offset of the next byte, plus the pending
  * control-byte group. Lets an executor start decoding mid-stream
  * without replaying everything before its range. */
final case class SavCheckpoint(uOff: Long, ctrl: Array[Byte], ctrlI: Int)

/** Decoder state at a row boundary of a POR stream: file byte offset,
  * position within the current 80-char line, and pending pad spaces —
  * the POR analog of [[SavCheckpoint]] (r11: parallel POR partitions
  * via the plan-time cell-boundary skim in `PorCore.buildIndex`). */
final case class PorResume(byteOff: Long, pos: Int, pending: Int)

/** A contiguous row range of one file. `startRow`/`numRows` are in file row
  * order. `sav` carries the compressed-stream entry point for SPSS
  * bytecode/zsav partitions (None for seekable formats and for legacy
  * sequential reads). `rowsBefore` is the exact number of data rows before
  * this partition's range (SAS page-range partitions: row-index base and
  * the global row-count cap without a sequential scan).
  */
final case class RangePartition(
    path: String,
    startRow: Long,
    numRows: Long,
    sav: Option[SavCheckpoint] = None,
    rowsBefore: Option[Long] = None,
    por: Option[PorResume] = None,
    // SAS OFFSET pushdown: data rows to drop from the front of this
    // partition's page range (the pushed offset lands mid-page; slots
    // are addressed without decode, so the skip is free). Other
    // formats plan partitions AT the offset row and never set this.
    skipRows: Long = 0L)
  extends org.apache.spark.sql.connector.read.InputPartition

/** The one rule that sizes a file's range partitions, after SplitDF
  * (PAPERS.md): size the splits to the slots that run them. A range of
  * `units` units of `unitBytes` each (rows × record length, pages × page
  * length, checkpoint intervals × their mean bytes) needs at least
  * `n0 = ceil(units / (targetBytes / unitBytes))` ranges, so no range
  * holds more than `targetBytes` (or one unit, when a unit is larger).
  * `n0` rounds up to whole waves of `slots` tasks, but to no more than
  * `work / floorBytes` ranges, so a range under 2 × `floorBytes` stays
  * one range. The ranges share one stride, `ceil(units / n)`, so only
  * the last is short. `slots` and `floorBytes` are what Spark's own file
  * scans size splits by (`FilePartition.maxSplitBytes`). */
final case class SplitRule(slots: Int, floorBytes: Long) {
  /** Units per range (at least 1). */
  def stride(units: Long, unitBytes: Long, targetBytes: Long): Long = {
    if (units <= 1) return 1L
    val ub = math.max(1L, unitBytes)
    val n0 = (units - 1) / math.max(1L, targetBytes / ub) + 1
    val work = if (units > Long.MaxValue / ub) Long.MaxValue else units * ub
    val wave = if (n0 > Long.MaxValue - slots) n0 else (n0 + slots - 1) / slots * slots
    val n = math.min(units, math.max(n0, math.min(wave, work / floorBytes)))
    (units - 1) / n + 1
  }

  /** The rule for one file of a scan: the file fills its byte share of
    * the slots, so files that fill the slots between them keep one range
    * each (and pack) rather than each splitting toward a full wave. */
  def share(bytes: Long, scanBytes: Long): SplitRule =
    if (bytes >= scanBytes) this
    else copy(slots = math.max(1, (slots.toDouble * bytes / scanBytes).toInt))
}

object SplitRule {
  /** No slots to fill: one range per target's worth. */
  val Plain = SplitRule(1, 4L << 20)

  /** The active session's `spark.sql.files.minPartitionNum`, else its
    * leaf-node default parallelism, and `spark.sql.files.openCostInBytes`;
    * [[Plain]] without a session. */
  def session(): SplitRule = try {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val slots = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
    SplitRule(math.max(1, slots), math.max(1L, conf.filesOpenCostInBytes))
  } catch { case scala.util.control.NonFatal(_) => Plain }
}

/** Scan/write options (mirrors the reference's ScanOptions surface,
  * reference: src/lib.rs:80-132, python __init__.py:498-676).
  */
final case class ReadstatOptions(
    valueLabelsAsStrings: Boolean = false,
    missingStringAsNull: Boolean = true,
    rowIndexName: Option[String] = None,
    catalog: Option[String] = None,
    informativeNulls: Boolean = false,
    informativeNullSuffix: String = "_null",
    informativeNullMode: String = "column", // column | struct | merged
    // reference InformativeNullOpts.columns ("all" | named list) and
    // use_value_labels (default true): prefer a defined value label for
    // the indicator string over the code form (lib.rs:115-131)
    informativeNullCols: Set[String] = Set.empty, // empty = all eligible
    informativeNullUseValueLabels: Boolean = true,
    // upper bound on one range partition's bytes; the split rule plans
    // more, smaller ranges when that fills the session's task slots
    // (see [[SplitRule]])
    partitionTargetBytes: Long = 128L * 1024 * 1024,
    // rows per decoded batch; 0 = auto, a cache-sized byte budget of
    // records ([[ReusedBatch.rows]])
    batchRows: Int = 0,
    compress: Boolean = false,
    timeAsTimeType: Boolean = false,
    compressProbeRows: Int = 1000,
    // read-side compress sub-flags (reference CompressOptionsLite,
    // lib.rs:162-168: cols / compress_numeric / datetime_to_date /
    // string_to_numeric). All default ON so `compress=true` alone
    // matches the reference's `compress=True` bool form.
    compressCols: Set[String] = Set.empty, // empty = every column
    compressNumeric: Boolean = true,
    compressDatetimeToDate: Boolean = true,
    compressStringToNumeric: Boolean = true,
    schemaOverrides: String = "",
    mergeSchema: Boolean = false,
    // 0 = admit new stream files immediately (this library's writers
    // rename atomically into place and .inprogress temps are filtered,
    // so presence == completeness — same contract as Spark's built-in
    // file source). Set >0 for landing zones written by foreign
    // NON-atomic writers: a file is then admitted only after its
    // (size, mtime) signature has been stable that long across triggers
    // (non-blocking; admission lags arrival by >= one trigger interval).
    streamStabilityMs: Long = 0L,
    // malformed-input handling for batch scans (the CSV/JSON source's
    // mode surface, re-expressed for binary stat files — at 100 TB one
    // truncated upload must not kill a 1000-executor ingest):
    //   failfast (default) — any corruption anywhere throws (today's
    //     behavior, and the only mode the metadata-trusting pushdowns
    //     — COUNT(*), exact statistics row counts, multi-file
    //     limit/offset windows — are allowed to engage under);
    //   dropmalformed — files whose HEADER/metadata fails to parse are
    //     dropped from the scan (and from schema inference) with a
    //     warning; data-region corruption in a file whose header read
    //     fine still throws;
    //   permissive — dropmalformed, plus data-region salvage: fixed-
    //     width regimes clamp their planned row ranges to the complete
    //     rows physically present (truncated-tail arithmetic), and any
    //     remaining mid-decode failure ends that partition's output
    //     with the rows already decoded rather than the query.
    mode: String = ReadstatOptions.ModeFailfast,
    // not an option: the session's task slots and open-cost floor, which
    // size every file's ranges; `from` resolves them once on the driver
    // (like `mode`'s default) and executors receive them resolved
    split: SplitRule = SplitRule.Plain) {

  def tolerant: Boolean = mode != ReadstatOptions.ModeFailfast
  def salvage: Boolean = mode == ReadstatOptions.ModePermissive

  /** Each file's options in a scan of `paths`. The split rule's wave
    * fill is decided for the scan, as Spark's `maxSplitBytes` is: a file
    * fills its byte share of the slots ([[SplitRule.share]]). */
  def perFile(paths: Seq[String]): String => ReadstatOptions =
    if (paths.lengthCompare(2) < 0) _ => this
    else {
      val sizes = paths.iterator.map(p => p -> new java.io.File(p).length()).toMap
      val total = sizes.values.sum
      p => copy(split = split.share(sizes(p), total))
    }

  /** Reference InformativeNullColumns: empty set = "all" eligible. */
  def infoNullEligible(name: String): Boolean =
    informativeNullCols.isEmpty || informativeNullCols.contains(name)

  /** The same options with the type-reshaping regimes stripped: modules
    * decode the format's NATURAL types and the connector casts whole
    * vectors afterwards ([[Narrowing.castingBatchIterator]]). */
  def decodeNatural: ReadstatOptions =
    if (!compress && schemaOverrides.isEmpty) this
    else copy(compress = false, schemaOverrides = "")
}

object ReadstatOptions {
  val ModeFailfast = "failfast"
  val ModeDropMalformed = "dropmalformed"
  val ModePermissive = "permissive"

  def from(m: java.util.Map[String, String]): ReadstatOptions = {
    def parse[T](k: String, dflt: T)(f: String => T): T =
      Option(m.get(k)).map { raw =>
        try f(raw.trim)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"readstat: invalid value '$raw' for option '$k': ${e.getMessage}") }
      }.getOrElse(dflt)
    def b(k: String, dflt: Boolean) = parse(k, dflt)(_.toBoolean)
    ReadstatOptions(
      valueLabelsAsStrings = b("valueLabelsAsStrings", dflt = false),
      missingStringAsNull = b("missingStringAsNull", dflt = true),
      rowIndexName = Option(m.get("rowIndexName")).filter(_.nonEmpty),
      catalog = Option(m.get("catalog")).filter(_.nonEmpty),
      informativeNulls = b("informativeNulls", dflt = false),
      informativeNullSuffix =
        Option(m.get("informativeNullSuffix")).getOrElse("_null"),
      informativeNullMode = parse("informativeNullMode", "column") { v =>
        val norm = v.toLowerCase
        require(Set("column", "struct", "merged").contains(norm),
          "expected one of: column, struct, merged")
        norm
      },
      informativeNullCols = Option(m.get("informativeNullCols")).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      informativeNullUseValueLabels = b("informativeNullUseValueLabels", dflt = true),
      partitionTargetBytes =
        parse("partitionTargetBytes", 128L * 1024 * 1024)(_.toLong),
      batchRows = parse("batchRows", 0)(_.toInt),
      compress = b("compress", dflt = false),
      timeAsTimeType = b("timeAsTimeType", dflt = false),
      compressProbeRows = parse("compressProbeRows", 1000)(_.toInt),
      compressCols = Option(m.get("compressCols")).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      compressNumeric = b("compressNumeric", dflt = true),
      compressDatetimeToDate = b("compressDatetimeToDate", dflt = true),
      compressStringToNumeric = b("compressStringToNumeric", dflt = true),
      schemaOverrides = Option(m.get("schemaOverrides")).getOrElse(""),
      mergeSchema = b("mergeSchema", dflt = false),
      streamStabilityMs = parse("streamStabilityMs", 0L)(_.toLong),
      mode = parse("mode", defaultMode(m)) { v =>
        val norm = v.toLowerCase
        require(Set(ModeFailfast, ModeDropMalformed, ModePermissive)
          .contains(norm),
          "expected one of: failfast, dropmalformed, permissive")
        norm
      },
      split = SplitRule.session())
  }

  /** Spark-idiomatic default: with no explicit `mode` option, honor the
    * session's `spark.sql.files.ignoreCorruptFiles` (the built-in file
    * sources' corrupt-file switch) as `dropmalformed`. Resolved ONCE on
    * the driver at option parse — every call site is planning-side and
    * executors receive the resolved options object, so the decision
    * cannot diverge across the cluster. An explicit `mode` always wins
    * (including `mode=failfast` overriding the conf). */
  private def defaultMode(m: java.util.Map[String, String]): String =
    if (m.containsKey("mode")) ModeFailfast // unused: explicit value parses
    else try {
      if (org.apache.spark.sql.internal.SQLConf.get.ignoreCorruptFiles)
        ModeDropMalformed
      else ModeFailfast
    } catch { case scala.util.control.NonFatal(_) => ModeFailfast }
}
