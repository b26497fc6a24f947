package graft.spark.readstat

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** `spark.read.format("readstat").load(path)` — DataSource V2 connector for
  * SAS/Stata/SPSS statistical files (SURVEY.md §2.1). Format is dispatched
  * on file extension like the reference's `scan_readstat`
  * (reference: polars_readstat/__init__.py:498-676).
  *
  * Pushdown surface: required-column pruning and limit reach the binary
  * decoders (unprojected columns are never decoded; limit caps partition
  * planning). Filters are evaluated by Catalyst post-scan, matching the
  * reference's per-batch predicate application (__init__.py:657-661).
  */
class ReadstatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "readstat"

  override def supportsExternalMetadata(): Boolean = true

  private def rawPathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // Spark encodes multiple load() paths as a JSON array — parse it as
      // one (naive split(",") mangles paths containing commas/quotes)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      require(node.isArray, s"readstat: 'paths' is not a JSON array: $js")
      (0 until node.size()).map(i => node.get(i).asText()).filter(_.nonEmpty)
    }
    // the session catalog qualifies CREATE TABLE locations to file: URIs
    (single ++ multi).map(MetadataPaths.localPath)
  }

  private def pathsOf(options: CaseInsensitiveStringMap,
      allowEmptyDirs: Boolean = false): Seq[String] = {
    // directories expand to the stat files they contain (non-recursive,
    // same rule as the file-metadata source) so `load(dir)` fans a drop
    // of same-schema files out one-scan-partition-set-per-file — the
    // files must share a schema, like spark.read.parquet on a directory
    val raw = rawPathsOf(options)
    val all = raw.flatMap { p =>
      val f = new java.io.File(p)
      if (f.isDirectory) MetadataPaths.expandDirectory(p) else Seq(p)
    }
    // an EMPTY directory is only readable with a user-supplied schema
    // (the streaming landing-zone case: the dir fills up later; a batch
    // read of it is simply zero rows) — schema inference has nothing to
    // parse and keeps erroring
    require(all.nonEmpty ||
      (allowEmptyDirs && raw.nonEmpty &&
        raw.forall(p => new java.io.File(p).isDirectory)),
      "readstat: no stat files found — schema inference needs at least " +
        "one file; pass an explicit .schema(...) to read or stream an " +
        "empty directory")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ReadstatOptions.from(options.asCaseSensitiveMap())
    val paths = Formats.droppingMalformed(pathsOf(options), opts)
    require(paths.nonEmpty,
      "readstat: every file failed metadata parse under mode=" +
        s"${opts.mode} — schema inference needs at least one readable file")
    val schema =
      if (opts.mergeSchema && paths.length > 1) Formats.mergedSchema(paths, opts)
      else Formats.effectiveSchema(paths.head, opts)
    // a typo'd informativeNullCols entry would otherwise silently
    // disable the tracking the user asked for (every write-side
    // per-column option validates membership loudly). Checked against
    // the effective schema so mergeSchema unions validate as a whole.
    if (opts.informativeNulls && opts.informativeNullCols.nonEmpty) {
      val known = schema.fieldNames.toSet
      val unknown = opts.informativeNullCols.diff(known)
      require(unknown.isEmpty,
        s"readstat: informativeNullCols names unknown variable(s): ${unknown.mkString(", ")}")
    }
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    // reaching here with an empty directory means the schema was user-
    // supplied (inference would have errored above) — allow it
    val opts = ReadstatOptions.from(properties)
    new ReadstatTable(
      Formats.droppingMalformed(pathsOf(options, allowEmptyDirs = true), opts),
      rawPathsOf(options), schema, opts)
  }
}

/** Bounded-parallel, order-preserving map for driver-side planning loops.
  * Multi-file loads pay one header parse (and, for compressed SPSS, a
  * control skim) per file at planning time; at directory scale that
  * sequential loop — not the cluster — becomes the bottleneck, so fan it
  * out over a transient pool sized to the driver's cores. */
private[readstat] object DriverPar {
  def mapOrdered[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val par = math.min(xs.length, Runtime.getRuntime.availableProcessors)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) })
        }
        futures.map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
}

/** Extension → format module dispatch. */
object Formats {
  private[readstat] val log =
    org.slf4j.LoggerFactory.getLogger("graft.spark.readstat")

  /** Under the tolerant modes (`dropmalformed`/`permissive`), the paths
    * whose header/metadata actually parses — corrupt files are dropped
    * from the scan with a warning instead of killing it (the schema
    * parse is memoized per module, so this costs nothing the planner
    * wasn't already going to pay). Identity under `failfast`: the first
    * consumer of the corrupt file throws, loudly. */
  def droppingMalformed(paths: Seq[String], opts: ReadstatOptions): Seq[String] =
    if (!opts.tolerant) paths
    else DriverPar.mapOrdered(paths) { p =>
      try { effectiveSchema(p, opts); Some(p) }
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"readstat: mode=${opts.mode} dropping malformed file " +
            s"$p: ${e.getMessage}")
          None
      }
    }.flatten
  /** Declared schema + compress narrowing + user overrides + informative-
    * null output mode (column/struct/merged). */
  def effectiveSchema(path: String, opts: ReadstatOptions): StructType = {
    val module = moduleFor(path)
    var schema = module.schema(path, opts)
    val nullPairs =
      if (opts.informativeNulls) {
        val base = module.schema(path, opts.copy(informativeNulls = false))
        InformativeNulls.checkCollisions(schema, opts.informativeNullSuffix)
        InformativeNulls.pairs(schema, base, opts.informativeNullSuffix)
      } else Nil
    if (opts.compress)
      schema = Narrowing.inferNarrowed(module, path, opts, schema,
        opts.compressProbeRows)
    val overrides = Narrowing.parseOverrides(opts.schemaOverrides)
    if (overrides.nonEmpty)
      schema = StructType(schema.fields.map(f =>
        overrides.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)))
    if (nullPairs.nonEmpty && opts.informativeNullMode != "column")
      schema = InformativeNulls.transformSchema(schema, nullPairs,
        opts.informativeNullMode)
    schema
  }

  /** Union-by-name over every file's effective schema (`mergeSchema`
    * option — the semantics of spark.read.parquet's mergeSchema, extended
    * to heterogeneous stat formats: a .dta and a .sav can merge). Name
    * collisions with different types widen within the numeric tower
    * (integral→larger integral, anything fractional→double), and a
    * struct-mode informative-null column absorbs its bare value type;
    * any other conflict is an error naming the column and files. Columns absent
    * from at least one file become nullable (those files null-fill).
    */
  def mergedSchema(paths: Seq[String], opts: ReadstatOptions): StructType = {
    import org.apache.spark.sql.types._
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    def widen(a: DataType, b: DataType, name: String): DataType = (a, b) match {
      case (x, y) if x == y => x
      // struct informative nulls: where a file declares no missing values
      // the column has no indicator, and reads as the value, indicator null;
      // two such structs widen by their value types
      case (x: StructType, y) if InformativeNulls.structValue(x).isDefined =>
        InformativeNulls.structType(x(0).name, widen(x(0).dataType,
          InformativeNulls.structValue(y).getOrElse(y), name))
      case (x, y: StructType) if InformativeNulls.structValue(y).isDefined =>
        widen(y, x, name)
      case (x, y) if integral.contains(x) && integral.contains(y) =>
        if (x.defaultSize >= y.defaultSize) x else y
      case (x: NumericType, y: NumericType) => DoubleType
      case _ => throw new IllegalArgumentException(
        s"readstat: mergeSchema cannot reconcile column '$name': $a vs $b")
    }
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
    val presentIn = scala.collection.mutable.HashMap[String, Int]()
    val schemas = DriverPar.mapOrdered(paths)(p => effectiveSchema(p, opts))
    schemas.foreach { s =>
      s.fields.foreach { f =>
        presentIn.updateWith(f.name)(c => Some(c.getOrElse(0) + 1))
        fields.updateWith(f.name) {
          case None => Some(f)
          case Some(ex) => Some(ex.copy(
            dataType = widen(ex.dataType, f.dataType, f.name),
            nullable = ex.nullable || f.nullable))
        }
      }
    }
    StructType(fields.values.map(f =>
      if (presentIn(f.name) < paths.length) f.copy(nullable = true) else f).toArray)
  }

  /** Memoized [[FormatModule.exactRowCount]], keyed by (path, length,
    * mtime, content stamp, options). Pushdown negotiation, statistics,
    * and count-star planning each ask for the same count during a single
    * plan — and for zsav every un-memoized call re-reads and validates
    * the full trailer block index, so a 1000-file directory would pay
    * that skim several times over at planning time.
    *
    * The content stamp (first+last 64 bytes hashed) closes the
    * (length, mtime) collision window: the atomic-rename writers make
    * replacing a file in place under its old name a NORMAL operation,
    * and a same-length replacement within the filesystem's mtime
    * granularity would otherwise serve a stale count — which COUNT(*)
    * pushdown would then return as a wrong query result. 128 bytes per
    * file keeps count-star planning metadata-only; the tail bytes are
    * value/trailer data in every supported format, so equal-layout
    * files with different contents stamp differently. */
  private val rowCountCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Long, ReadstatOptions), Option[Long]]()

  private[readstat] def contentStamp(f: java.io.File, len: Long): Long =
    try {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(64L, math.max(0L, len)).toInt
        val head = new Array[Byte](n); val tail = new Array[Byte](n)
        if (n > 0) { raf.readFully(head); raf.seek(len - n); raf.readFully(tail) }
        var h = 1125899906842597L
        var i = 0
        while (i < n) { h = h * 31 + head(i); i += 1 }
        i = 0
        while (i < n) { h = h * 31 + tail(i); i += 1 }
        h
      } finally raf.close()
    } catch { case _: java.io.IOException => 0L } // unreadable: let the module throw

  def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = {
    val f = new java.io.File(path)
    val len = f.length()
    val key = (path, len, f.lastModified(), contentStamp(f, len), opts)
    if (rowCountCache.size > 8192) rowCountCache.clear()
    val cached = rowCountCache.get(key)
    if (cached != null) cached
    else {
      val v = moduleFor(path).exactRowCount(path, opts)
      // only DEFINITE counts memoize: a None is cheap to recompute (the
      // expensive skims all end in Some) and may stop being true — por's
      // count appears once a parallel read builds its checkpoint index
      if (v.isDefined) rowCountCache.put(key, v)
      v
    }
  }

  def moduleFor(path: String): FormatModule = {
    val lower = path.toLowerCase
    if (lower.endsWith(".dta")) StataModule
    else if (lower.endsWith(".sav") || lower.endsWith(".zsav")) SpssModule
    else if (lower.endsWith(".sas7bdat")) SasModule
    else if (lower.endsWith(".xpt") || lower.endsWith(".xpt5") ||
      lower.endsWith(".xpt8") || lower.endsWith(".xpt9")) XptModule
    else if (lower.endsWith(".por")) PorModule
    else sniffModule(path).getOrElse(throw new IllegalArgumentException(
      s"readstat: unsupported extension for $path (expected " +
        ".dta/.sav/.zsav/.sas7bdat/.xpt/.por) and the content matches " +
        "no known stat-format signature"))
  }

  /** Magic-byte fallback for extension-less paths (e.g. files written
    * with the `fileFormat` writer option into staging names). Every
    * supported format except old binary dta carries an unambiguous
    * signature; old dta (102-116) is identified by its 3-byte header
    * (version, byteorder 1|2, filetype 1) as a last resort. The sniff
    * runs ONLY when the extension is unknown, so named files never pay
    * the extra read. */
  private def sniffModule(path: String): Option[FormatModule] = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length() < 8) return None
    val n = math.min(1024L, f.length()).toInt
    val head = new Array[Byte](n)
    val raf = new java.io.RandomAccessFile(f, "r")
    try raf.readFully(head) finally raf.close()
    val s = new String(head, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (s.startsWith("$FL2") || s.startsWith("$FL3")) Some(SpssModule)
    else if (s.startsWith("HEADER RECORD*******LIB")) Some(XptModule)
    else if (s.startsWith("<stata_dta>")) Some(StataModule)
    else if (n >= 32 && head.slice(0, 32).sameElements(graft.core.sas.SasCore.Magic))
      Some(SasModule)
    else if (s.contains("SPSSPORT")) Some(PorModule) // ASCII POR at ~456
    else if ((head(0) & 0xff) >= 102 && (head(0) & 0xff) <= 116 &&
      (head(1) == 1 || head(1) == 2) && head(2) == 1) Some(StataModule)
    else None
  }
}

class ReadstatTable(paths: Seq[String], rawPaths: Seq[String],
    tableSchema: StructType,
    opts: ReadstatOptions) extends Table with SupportsRead with SupportsWrite {
  // catalog labels attach to SAS-family scans only (sas7bdat + xpt);
  // if NO loaded path can consume the option it would be a silent no-op
  // — refuse instead (mixed directories where some file consumes it are
  // legitimate and pass through). Module dispatch, NOT extension
  // matching: .xpt9 and extension-less sniffed SAS-family files consume
  // the catalog too.
  if (opts.catalog.isDefined && paths.nonEmpty && !paths.exists { p =>
      val m = Formats.moduleFor(p)
      (m eq SasModule) || (m eq XptModule)
    })
    throw new IllegalArgumentException(
      "readstat: option 'catalog' applies to sas7bdat/xpt scans only — " +
        "none of the loaded paths is one, so the option would be " +
        "silently dropped; remove it (dta/sav/por carry value labels " +
        "in-file: use valueLabelsAsStrings)")
  override def name(): String = paths.mkString(",")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReadstatScanBuilder(paths, rawPaths, tableSchema, opts)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // write to the path the USER named, not the directory-expanded file
    // list: re-running an overwrite of an existing multiFile directory
    // must target the directory itself (expansion would aim the writer at
    // <dir>/part-00000.<ext>, leaving stale part files to read back as
    // duplicated data), and an existing-but-empty directory has an empty
    // expansion (paths.head would throw)
    require(rawPaths.nonEmpty, "readstat: write requires a target path")
    new ReadstatWriteBuilder(rawPaths.head, info.schema(),
      info.options().asCaseSensitiveMap().asScala.toMap, info.queryId())
  }
}

class ReadstatScanBuilder(paths: Seq[String], rawPaths: Seq[String],
    full: StructType,
    opts: ReadstatOptions)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownOffset
  with SupportsPushDownFilters
  with SupportsPushDownAggregates {

  private var required: StructType = full
  private var limit: Option[Long] = None
  private var offset: Option[Long] = None
  private var countStar: Boolean = false
  private var pushed: Array[Filter] = Array.empty

  /** Decode-skipping filter pushdown (see [[PushedFilters]]): claim the
    * conjuncts EVERY loaded path's module can evaluate on its decoded
    * values — they become visible in the plan and let fixed-width
    * decoders skip the non-filter bytes of failing rows — but return
    * ALL filters as residuals, so Catalyst keeps its Filter node and
    * correctness never depends on the source's best-effort skip (the
    * parquet row-group-pruning contract). Because the residual Filter
    * survives, a filtered COUNT(*) keeps its full scan and aggregate
    * pushdown stays exact. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      paths.nonEmpty &&
        paths.forall(p => Formats.moduleFor(p).canEvalFilter(p, opts, f)))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve file column order for the pruned subset
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => keep.contains(f.name)))
  }

  override def pushLimit(n: Int): Boolean = {
    // countStar guard: the metadata count scan ignores limit/offset, so
    // accepting here (Catalyst pushes aggregates BEFORE limit/offset)
    // would let isPartiallyPushed=false delete a Limit it never applied.
    // plansExactLimit guard: accepting implies isPartiallyPushed=false
    // (Catalyst deletes its Limit), so the module's planner must emit
    // EXACTLY the first-n rows — SAS's page planner can't and refuses.
    // Multi-file scans (r14) additionally need an exact METADATA row
    // count per file: the cap splits across the directory's cumulative
    // row prefix at plan time, so every count must be knowable without
    // decoding (a directory of 1000 small stat files pages with LIMIT
    // by opening only the files the window touches).
    if (countStar || paths.isEmpty) return false
    val ok =
      if (paths.length == 1) Formats.moduleFor(paths.head).plansExactLimit
      else !opts.tolerant && // window math trusts per-file metadata counts
        paths.forall(p => Formats.moduleFor(p).plansExactLimit &&
          Formats.exactRowCount(p, opts).isDefined)
    if (ok) { limit = Some(n.toLong); true } else false
  }

  /** An accepted limit is applied EXACTLY (partitions cover precisely
    * the first-`limit` rows in file order), so Catalyst may remove its
    * Limit operator — which is also the precondition for OFFSET
    * pushdown to engage on limit+offset plans. */
  override def isPartiallyPushed(): Boolean = false

  /** OFFSET pushdown (pagination / slice reads — the reference's
    * `with_offset`, reader.rs:230-233, exposed here through the DSv2
    * surface instead of an option): accepted when every file's format
    * can START at an arbitrary row without decoding the prefix —
    * fixed-width dta/xpt/uncompressed-sav row math, SAS via a cached
    * page-row prefix index plus a positional mid-page skip, and (r14)
    * the sequential regimes (bytecode/zsav, POR) via their checkpoint
    * indexes plus a bounded decode-forward of the mid-interval
    * remainder. Multi-file scans (r14) additionally need exact metadata
    * row counts to split the window across the directory's cumulative
    * row prefix. Contract: scan emits rows [offset, min(limit, n)). */
  override def pushOffset(n: Int): Boolean = {
    if (countStar || paths.isEmpty || n < 0) return false
    val ok =
      if (paths.length == 1)
        // under the tolerant modes a damaged file can fail the probe's
        // index build (zsav trailer gone, POR missing its Z marker) —
        // refuse the push so Catalyst keeps its Offset operator and the
        // scan proceeds to salvage/fail per its own mode rules, instead
        // of the OFFSET query dying at planning
        try Formats.moduleFor(paths.head)
          .planPartitionsAt(paths.head, opts, n.toLong, limit).isDefined
        catch {
          case scala.util.control.NonFatal(_) if opts.tolerant => false
        }
      else !opts.tolerant && // window math trusts per-file metadata counts
        paths.forall(p => Formats.exactRowCount(p, opts).isDefined &&
          Formats.moduleFor(p).plansOffset(p, opts))
    if (ok) { offset = Some(n.toLong); true } else false
  }

  // COUNT(*) with no grouping answers from metadata alone — header row
  // counts / record-length arithmetic / page indexes — so a count over a
  // 100 TB corpus reads zero data bytes. Catalyst only offers the
  // aggregate when every filter above the scan was pushed down; this
  // source pushes none, so a filtered count keeps its full scan and
  // stays exact. Complete pushdown: the scan emits the single final row.
  private def canPushCount(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !opts.tolerant && // a salvaged file's metadata count overstates its rows
      limit.isEmpty && offset.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      paths.forall(p => Formats.exactRowCount(p, opts).isDefined)

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    canPushCount(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (canPushCount(agg)) { countStar = true; true } else false
  }

  override def build(): Scan =
    if (countStar) new ReadstatCountStarScan(paths, opts)
    else new ReadstatScan(paths, rawPaths, required, opts, limit, pushed, offset)
}

/** Metadata-only COUNT(*): one partition, one row, zero data bytes read. */
class ReadstatCountStarScan(paths: Seq[String], opts: ReadstatOptions)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Array(org.apache.spark.sql.types.StructField(
      "count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"readstat count-star (metadata-only) ${paths.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val total = DriverPar.mapOrdered(paths)(p =>
      Formats.exactRowCount(p, opts).getOrElse(
        throw new IllegalStateException(s"readstat: no metadata row count for $p")))
      .sum
    Array(CountStarPartition(total))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val total = partition.asInstanceOf[CountStarPartition].count
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](total))
          override def close(): Unit = ()
        }
    }
}

final case class CountStarPartition(count: Long)
  extends org.apache.spark.sql.connector.read.InputPartition

/** Several whole small files served by one task (small-file packing). */
final case class MultiFilePartition(parts: Array[RangePartition])
  extends org.apache.spark.sql.connector.read.InputPartition

/** A partition re-planned after runtime (DPP) filters arrived. The
  * filters ride on the partition rather than the reader factory because
  * Spark creates the factory at PLANNING time (the columnar decision in
  * `DataSourceV2ScanExecBase.supportsColumnar` forces it) while
  * [[SupportsRuntimeFiltering.filter]] only fires at EXECUTION time —
  * only the re-planned partitions are guaranteed to postdate it. */
final case class RuntimeFilteredPartition(inner: InputPartition,
    filters: Array[Filter])
  extends org.apache.spark.sql.connector.read.InputPartition

class ReadstatScan(paths: Seq[String], rawPaths: Seq[String],
    required: StructType,
    opts: ReadstatOptions, limit: Option[Long],
    pushed: Array[Filter] = Array.empty,
    offset: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime (dynamic-partition-pruning-style) filters, arriving at
    * execution time from a broadcast-join build side. Volatile: set on
    * the driver by [[filter]] just before [[planInputPartitions]] is
    * re-called with it visible. */
  @volatile private var runtime: Array[Filter] = Array.empty

  /** Columns a runtime join filter may target: every required column
    * whose type/regime all loaded files' modules can evaluate pushed
    * predicates on (probed with a representative IsNotNull — the same
    * per-column gate every concrete conjunct passes). Advertising a
    * column here lets Catalyst's PartitionPruning rule attach a
    * DynamicPruningSubquery to joins on it: at 100 TB, a fact .dta
    * joined to a filtered small dimension then skips decoding every
    * fact row whose join key the broadcast build side ruled out,
    * instead of decoding all rows and discarding them in the join. */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    memoFilterAttributes

  /** Memoized: the PartitionPruning rule may call [[filterAttributes]]
    * repeatedly, and each probe is O(files × columns) metadata lookups
    * on a directory scan; the inputs (paths/opts/required) are
    * immutable after build(). */
  private lazy val memoFilterAttributes: Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    if (paths.isEmpty) Array.empty
    else required.fields.iterator
      .filter { f =>
        val probe = org.apache.spark.sql.sources.IsNotNull(f.name)
        paths.forall(p => Formats.moduleFor(p).canEvalFilter(p, opts, probe))
      }
      .map(f => org.apache.spark.sql.connector.expressions.Expressions
        .column(f.name))
      .toArray

  /** Best-effort by contract: kept filters skip decode inside the
    * readers (same advisory machinery as the statically pushed ones);
    * rows that slip through still meet the join that produced the
    * filter, so correctness never depends on the skip. */
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(f =>
      paths.nonEmpty &&
        paths.forall(p => Formats.moduleFor(p).canEvalFilter(p, opts, f)))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(rawPaths.length == 1 && new java.io.File(rawPaths.head).isDirectory,
      "readstat streaming requires exactly one directory path " +
        s"(got: ${rawPaths.mkString(", ")})")
    new ReadstatMicroBatchStream(rawPaths.head, required, opts)
  }
  override def description(): String =
    s"readstat ${paths.mkString(",")} cols=${required.fieldNames.mkString(",")}" +
      limit.map(l => s" limit=$l").getOrElse("") +
      offset.map(o => s" offset=$o").getOrElse("") +
      (if (pushed.isEmpty) ""
       else s" PushedFilters: [${pushed.mkString(", ")}]")

  /** Exact stats from metadata: file bytes scaled to the projected
    * column fraction, plus the metadata row count where the format knows
    * it. Feeds Catalyst's size estimates so a small stat-file dimension
    * joins as a broadcast without hints — without this, DSv2 relations
    * default to spark.sql.defaultSizeInBytes (= "huge") and every join
    * against a stat file shuffles. */
  override def estimateStatistics(): Statistics = {
    if (paths.isEmpty) // empty landing-zone directory: exactly zero
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(0L)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(0L)
      }
    val bytes = paths.map(p => new java.io.File(p).length()).sum
    val fullCols = math.max(1,
      Formats.effectiveSchema(paths.head, opts).fields.length)
    val frac = math.min(1.0, required.fields.length.toDouble / fullCols)
    val scaled = math.max(1L, (bytes * frac).toLong)
    val rows: Option[Long] =
      if (opts.tolerant) None // salvaged files fall short of their counts
      else try {
        val counts = paths.map(p => Formats.exactRowCount(p, opts))
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
      } catch { case _: Exception => None }
    val capped = limit.map(l => rows.map(math.min(_, l))).getOrElse(rows)
      .map(r => offset.fold(r)(o => math.max(0L, r - o)))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        capped.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val perFile: Seq[(String, Long, Seq[RangePartition])] =
      if (paths.length > 1 && (offset.isDefined || limit.isDefined)) {
        // multi-file slice (r14): the global window [offset, limit)
        // maps onto the directory's cumulative per-file row prefix —
        // push acceptance guaranteed exact METADATA counts for every
        // file, so files outside the window plan nothing and their
        // data bytes are never opened (paging a 1000-file directory
        // reads only the files the page touches)
        val counts = DriverPar.mapOrdered(paths)(p =>
          (p, new java.io.File(p).length(),
            Formats.exactRowCount(p, opts).getOrElse(
              throw new IllegalStateException(
                s"readstat: no metadata row count for $p"))))
        val totalRows = counts.iterator.map(_._3).sum
        val hi = math.min(limit.getOrElse(Long.MaxValue), totalRows)
        val lo = math.min(offset.getOrElse(0L), hi)
        var before = 0L
        counts.map { case (p, bytes, rows) =>
          val s = math.max(0L, math.min(lo - before, rows))
          val e = math.max(s, math.min(hi - before, rows))
          before += rows
          val parts: Seq[RangePartition] =
            if (e <= s) Seq.empty
            else if (s == 0 && e == rows)
              Formats.moduleFor(p).planPartitions(p, opts, None)
            else
              // defined by construction: a capped tail (e < rows) only
              // occurs under a pushed LIMIT, which every module here
              // accepted via plansExactLimit; an offset head (s > 0)
              // passed the plansOffset probe
              Formats.moduleFor(p).planPartitionsAt(p, opts, s,
                if (e == rows) None else Some(e)).get
          (p, bytes, parts)
        }
      } else DriverPar.mapOrdered(paths) { p =>
        def plan(): Seq[RangePartition] = {
          val parts = offset match {
            // pushOffset only accepted single-file + module-supported, so
            // planPartitionsAt is defined here by construction
            case Some(o) => Formats.moduleFor(p)
              .planPartitionsAt(p, opts, o, limit).get
            case None => Formats.moduleFor(p).planPartitions(p, opts, limit)
          }
          if (!opts.salvage) parts
          else Formats.moduleFor(p).salvageableRowCount(p, opts) match {
            // permissive truncated-tail clamp: the hook's contract is
            // row-addressed partitions, so trimming to the first k
            // physically-complete rows is pure range intersection —
            // deterministic, unlike waiting for the decoder to hit EOF
            // mid-chunk. Hook-less regimes rely on the executor-side
            // salvage instead.
            case Some(k) => parts.flatMap { rp =>
              if (rp.startRow >= k) None
              else Some(rp.copy(numRows = math.min(rp.numRows, k - rp.startRow)))
            }
            case None => parts
          }
        }
        // only PERMISSIVE may drop a file that fails data planning:
        // dropmalformed's contract is header-corrupt files only — a
        // parseable header with a damaged data region must still throw
        val parts =
          if (!opts.salvage) plan()
          else try plan() catch {
            case scala.util.control.NonFatal(e) =>
              Formats.log.warn(s"readstat: mode=${opts.mode} dropping " +
                s"unplannable file $p: ${e.getMessage}")
              Seq.empty[RangePartition]
          }
        (p, new java.io.File(p).length(), parts)
      }
    // small-file packing: a directory of many tiny stat files would
    // otherwise plan one task per file and drown in scheduling overhead
    // (the classic small-files problem). Whole-file partitions of files
    // under the byte target are binned together up to the target; files
    // large enough to have split into ranges keep their own partitions.
    val packed = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val bin = scala.collection.mutable.ArrayBuffer[RangePartition]()
    var binBytes = 0L
    def flush(): Unit = if (bin.nonEmpty) {
      packed += (if (bin.length == 1) bin.head else MultiFilePartition(bin.toArray))
      bin.clear(); binBytes = 0L
    }
    perFile.foreach { case (_, fileBytes, parts) =>
      if (parts.length == 1 && fileBytes < opts.partitionTargetBytes) {
        if (binBytes + fileBytes > opts.partitionTargetBytes) flush()
        bin += parts.head; binBytes += fileBytes
      } else {
        flush()
        packed ++= parts
      }
    }
    flush()
    // runtime filters present means this is the post-[[filter]] re-plan
    // (BatchScanExec.filteredPartitions): ride them on the partitions —
    // the reader factory was built at planning time and can't carry them
    val rt = runtime
    if (rt.isEmpty) packed.toArray
    else packed.iterator.map(p =>
      RuntimeFilteredPartition(p, rt): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReadstatPartitionReaderFactory(required, opts, pushed)
}

/** Every readstat scan emits ColumnarBatches in the `required` shape,
  * one file at a time (see [[batches]]). */
class ReadstatPartitionReaderFactory(required: StructType,
    opts: ReadstatOptions,
    pushed: Array[Filter] = Array.empty) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** Runtime (DPP) filters ride on re-planned partitions — peel them
    * off and union with the statically pushed set. Both sets are
    * advisory skips under the kept Catalyst residual / join recheck,
    * so the union can only skip more, never differently. */
  private def effectiveFilters(partition: InputPartition): Array[Filter] =
    partition match {
      case r: RuntimeFilteredPartition => pushed ++ r.filters
      case _ => pushed
    }

  private def rangeParts(partition: InputPartition): Seq[RangePartition] =
    partition match {
      case r: RuntimeFilteredPartition => rangeParts(r.inner)
      case m: MultiFilePartition => m.parts.toIndexedSeq
      case p: RangePartition => Seq(p)
    }

  /** `mode=permissive` executor-side salvage: keep what this range
    * partition already decoded, end it on the first decode failure
    * (logged) instead of failing the task. Scans decode whole batches,
    * so the kept prefix ends at a batch boundary. This is the
    * backstop behind the planner's truncated-tail clamp, covering
    * regimes whose damage is only discoverable by decoding (bad zlib
    * block, corrupt RLE control byte, dangling strL ref). Wraps
    * construction too: a corrupt file throws at open just as well as
    * mid-stream. Per-partition, so a damaged file inside a packed
    * [[MultiFilePartition]] doesn't take its healthy bin-mates down
    * with it. Identity under the other modes. */
  private def salvaged[T](part: RangePartition,
      mk: () => Iterator[T]): Iterator[T] =
    if (!opts.salvage) mk()
    else {
      import scala.util.control.NonFatal
      def warn(e: Throwable): Unit =
        Formats.log.warn(s"readstat: mode=permissive salvaging partition " +
          s"${part.path} rows [${part.startRow}, +${part.numRows}): $e")
      val inner: Iterator[T] =
        try mk() catch { case NonFatal(e) => warn(e); Iterator.empty }
      new Iterator[T] {
        // sentinel staging, not Option: this wraps EVERY partition's hot
        // row loop whenever mode=permissive, healthy files included — a
        // per-row Some allocation would tax the common case to serve
        // the rare failure
        private var staged: T = _
        private var hasStaged = false
        private var done = false
        private def advance(): Unit = if (!done && !hasStaged) {
          try {
            if (inner.hasNext) { staged = inner.next(); hasStaged = true }
            else done = true
          } catch { case NonFatal(e) => warn(e); done = true }
        }
        override def hasNext: Boolean = { advance(); hasStaged }
        override def next(): T = {
          advance()
          if (!hasStaged) throw new NoSuchElementException("salvaged")
          val v = staged
          staged = null.asInstanceOf[T]
          hasStaged = false
          v
        }
      }
    }

  /** One file's batches in the `required` shape. The module decodes the
    * required columns the file has, in their natural types; they are
    * cast to the required types (compress, schemaOverrides, mergeSchema
    * widening) and placed at their required positions. A column the file
    * lacks (mergeSchema) is an all-null constant; a file holding none of
    * them decodes its first column only to pace the null batches. Under
    * struct/merged informative nulls, each (main, indicator) pair becomes
    * one struct or string column. When `required` is the file's own
    * columns, the module's batches pass through untouched. */
  private def batches(part: RangePartition,
      pushed: Array[Filter]): Iterator[ColumnarBatch] = {
    val module = Formats.moduleFor(part.path)
    val nat = opts.decodeNatural
    val natural = module.schema(part.path, nat)
    val byName = natural.fields.map(f => f.name -> f).toMap
    val reshapeNulls = opts.informativeNulls && opts.informativeNullMode != "column"
    val pairs: Map[String, String] =
      if (!reshapeNulls) Map.empty
      else InformativeNulls.pairs(natural,
        module.schema(part.path, nat.copy(informativeNulls = false)),
        opts.informativeNullSuffix).toMap
    val absent = required.fields.filterNot(f => byName.contains(f.name))
    if (absent.nonEmpty && !opts.mergeSchema)
      throw new IllegalArgumentException(
        s"readstat: ${part.path} has no column(s) ${absent.map(_.name).mkString(", ")}" +
          " — reading files with differing schemas requires .option(\"mergeSchema\", \"true\")")
    // pushed filters reach the decoder only for a file that holds every
    // required column, outside the struct/merged reshapes: modules
    // compile them against their decoded output values (canEvalFilter
    // already refuses compress and overrides)
    val filters = if (reshapeNulls || absent.nonEmpty) Array.empty[Filter] else pushed
    if (required.fields.forall(f => !pairs.contains(f.name) &&
        byName.get(f.name).exists(_.dataType == f.dataType)))
      return module.columnarRows(part, nat, required, filters)
    val decode = scala.collection.mutable.ArrayBuffer[StructField]()
    def slot(f: StructField, to: DataType): Int = {
      decode += f.copy(dataType = to); decode.length - 1
    }
    val cols: Array[ColumnarBatch => ColumnVector] = required.fields.map { f =>
      (byName.get(f.name), pairs.get(f.name)) match {
        case (None, _) => (b: ColumnarBatch) =>
          val v = new ConstantColumnVector(b.numRows, f.dataType)
          v.setNull(); v
        case (Some(main), Some(ind)) if opts.informativeNullMode == "struct" =>
          // the struct's value field may be narrowed or overridden
          val mi = slot(main, f.dataType.asInstanceOf[StructType].fields(0).dataType)
          val ii = slot(byName(ind), StringType)
          (b: ColumnarBatch) =>
            InformativeNulls.structVector(f.dataType, b.column(mi), b.column(ii))
        case (Some(main), Some(ind)) =>
          // merged renders the value's natural type
          val mi = slot(main, main.dataType)
          val ii = slot(byName(ind), StringType)
          (b: ColumnarBatch) => InformativeNulls.mergedVector(b, mi, ii, main.dataType)
        case (Some(col), None) if InformativeNulls.structValue(f.dataType).isDefined =>
          // no indicator in this file (mergeSchema): a null one
          val j = slot(col, InformativeNulls.structValue(f.dataType).get)
          (b: ColumnarBatch) =>
            val ind = new ConstantColumnVector(b.numRows, StringType)
            ind.setNull()
            InformativeNulls.structVector(f.dataType, b.column(j), ind)
        case (Some(col), None) =>
          val j = slot(col, f.dataType)
          (b: ColumnarBatch) => b.column(j)
      }
    }
    if (decode.isEmpty) slot(natural.fields.head, natural.fields.head.dataType)
    val target = StructType(decode.toArray)
    val source = StructType(target.fields.map(f => byName(f.name)))
    Narrowing.castingBatchIterator(
      module.columnarRows(part, nat, source, filters), source, target)
      .map(b => new ColumnarBatch(cols.map(_(b)), b.numRows))
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val pushed = effectiveFilters(partition)
    val it = rangeParts(partition).iterator.flatMap(part =>
      salvaged(part, () => batches(part, pushed)))
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): ColumnarBatch = current
      override def close(): Unit = if (current != null) current.close()
    }
  }

  /** Rows of [[createColumnarReader]] (each one a reused view of its
    * batch), for callers that drive the factory directly. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val reader = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private var batch: ColumnarBatch = _
      private var row = 0
      override def next(): Boolean = {
        while ((batch == null || row == batch.numRows) && reader.next()) {
          batch = reader.get(); row = 0
        }
        batch != null && row < batch.numRows && { row += 1; true }
      }
      override def get(): InternalRow = batch.getRow(row - 1)
      override def close(): Unit = reader.close()
    }
  }
}

/** Write path: V1Write fallback gives us the full DataFrame, which we need
  * because stat-file headers require row counts and max string widths up
  * front — one job folds them while each partition encodes under its own
  * layout, then the driver stitches (re-encoding any partition whose
  * layout differs), the one-pass counterpart of the reference's
  * `sink_stata` (reference: pybindings.rs:951-1096). See
  * graft.spark.readstat.writers.WritePass.
  */
class ReadstatWriteBuilder(path: String, schema: StructType,
    options: Map[String, String], queryId: String = "")
  extends WriteBuilder with SupportsOverwrite {
  // mode("overwrite") reaches a V1 fallback as a truncate()/overwrite()
  // call on the builder — insert()'s boolean stays false in that flow,
  // so the mode is remembered here
  private var truncateAll = false
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    truncateAll = true; this
  }
  override def truncate(): WriteBuilder = { truncateAll = true; this }
  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          graft.spark.readstat.writers.StatWriters.write(data, path, options,
            overwrite || truncateAll)
      }
    // `df.writeStream.format("readstat").start(path)` — the single-file
    // streaming sink (reference `sink_stata`, extended to sav/zsav/xpt/
    // sas7bdat/por): every epoch appends into ONE valid file — fixed-
    // width formats at the row boundary, zsav at the deflate-block
    // boundary, por at the logical-byte boundary (its line transport is
    // re-wrapped from the committed position; no header counts exist).
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val lower = path.toLowerCase
      val fmt: Option[graft.spark.readstat.writers.StreamSinkCore.Format] =
        if (lower.endsWith(".dta"))
          Some(graft.spark.readstat.writers.StataStreamSink)
        else if (lower.endsWith(".sav"))
          Some(graft.spark.readstat.writers.SavStreamSink)
        else if (lower.endsWith(".zsav"))
          Some(graft.spark.readstat.writers.ZsavStreamSink)
        else if (lower.endsWith(".xpt"))
          Some(graft.spark.readstat.writers.XptStreamSink)
        else if (lower.endsWith(".sas7bdat"))
          Some(graft.spark.readstat.writers.SasStreamSink)
        else if (lower.endsWith(".por"))
          Some(graft.spark.readstat.writers.PorStreamSink)
        else None
      fmt.map(f => new graft.spark.readstat.writers.FixedWidthStreamingWrite(
        path, schema, options, queryId, f))
        .getOrElse(throw new IllegalArgumentException(
          "readstat streaming sink: single-file streaming supports .dta " +
            "(reference sink_stata parity), .sav, .zsav, .xpt, " +
            ".sas7bdat, and .por"))
    }
  }
}
