package graft.spark.readstat.writers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-side type compression — the Spark analog of the reference
  * writer's `with_compress` / `compress_df` pre-pass (reference:
  * crates/polars_readstat_rs/src/stata/writer.rs:185-230,
  * src/stata/compress.rs:82-202): before encoding, downcast each column
  * to the narrowest type that holds every value, so a user writing f64
  * columns that happen to hold small integers gets compact int storage
  * in one call instead of pre-casting by hand.
  *
  * Semantics per column (reference `CompressOptions` defaults):
  *  - float32/64 whose every non-null value is integral → Boolean when
  *    all values ∈ {0, 1} (unless `compressNoBoolean`), else the
  *    narrowest of int8/int16/int32 whose bounds fit min/max, else
  *    float64;
  *  - integer/boolean columns re-narrow the same way (an int64 whose
  *    values exceed int32 bounds becomes float64, like the reference);
  *  - timestamp columns whose every value is midnight → date
  *    (`compressCheckDateTime`, default on);
  *  - all-null columns → Boolean (`compressAllNullToBoolean`, default on);
  *  - string columns that fully parse as numbers → float64
  *    (`compressCheckString`, default OFF like the reference), then the
  *    parsed values re-enter the numeric narrowing;
  *  - `compressCols` restricts the pass to a named subset.
  *
  * Bounds: for .dta targets the Stata missing-sentinel-aware bounds
  * apply by default (int8 ≤ 100, int16 ≤ 32740, int32 ≤ 2147483620 —
  * reference writer.rs:25-39); other formats use the full two's-
  * complement ranges. Override with `compressStataBounds`.
  *
  * Scale shape — and the one deliberate divergence from the reference:
  * the reference probes a materialized local frame; here the stats come
  * from ONE distributed fold over the outgoing DataFrame (min/max/
  * integrality per column, merged per partition — `WriteStats`), so the
  * narrowing is EXACT over every row — no probe-undersampling failure
  * mode, no strict-cast surprise in a later partition — and the frame
  * itself never lands anywhere. The same fold measures the writers'
  * row count, widths and ranges, so compress adds no pass to a write.
  */
object WriteCompress {

  /** Stata missing-value-aware integer bounds (reference writer.rs:25-39:
    * values above these encode missing sentinels). */
  private val StataBounds = ((-127L, 100L), (-32767L, 32740L),
    (-2147483647L, 2147483620L))
  private val StandardBounds = ((Byte.MinValue.toLong, Byte.MaxValue.toLong),
    (Short.MinValue.toLong, Short.MaxValue.toLong),
    (Int.MinValue.toLong, Int.MaxValue.toLong))

  case class Opts(cols: Option[Set[String]], noBoolean: Boolean,
      stataBounds: Boolean, checkString: Boolean, checkDateTime: Boolean,
      allNullToBoolean: Boolean)

  object Opts {
    def from(options: Map[String, String], isDta: Boolean): Opts = Opts(
      cols = options.get("compressCols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
      noBoolean = options.get("compressNoBoolean").exists(_.toBoolean),
      stataBounds = options.get("compressStataBounds")
        .map(_.toBoolean).getOrElse(isDta),
      checkString = options.get("compressCheckString").exists(_.toBoolean),
      checkDateTime = options.get("compressCheckDateTime")
        .forall(_.toBoolean),
      allNullToBoolean = options.get("compressAllNullToBoolean")
        .forall(_.toBoolean))
  }

  /** The reference's `try_parse_string_to_f64` view: empty → null, else
    * a non-throwing numeric parse (compress.rs:150-170). Every consumer
    * of a checkString column — stats, null count, and the final cast —
    * goes through THIS expression, never the raw string. */
  private def parsedString(name: String): Column =
    when(length(trim(col(name))) === 0, lit(null))
      .otherwise(trim(col(name)).try_cast(DoubleType))

  private val MillisPerDay = 86400000L

  def apply(df: DataFrame, opts: Opts): DataFrame = applyWithStats(df, opts)._1

  /** The narrowed frame plus the writer stats of that frame, from ONE
    * `WriteStats` fold over a Catalyst projection of `df`'s per-row
    * inputs (each column's numeric view as a double, the string-parse
    * veto, the midnight check). The fold measures count, integrality,
    * min/max (Spark's null and NaN semantics) and the vetoes in Scala,
    * together with the raw string widths and integer/date/timestamp
    * ranges — the output frame's stats follow from those, so a compress
    * write is one stats job plus one encode job. Only the projection is
    * planned, never an aggregate: `Dataset.agg` builds the input's row
    * encoder, which Spark 4.1 still refuses for TIME columns. */
  def applyWithStats(df: DataFrame, opts: Opts): (DataFrame, WriteStats) = {
    import WriteStats._
    val fields = df.schema.fields
    val targeted = fields.filter(f => opts.cols.forall(_(f.name)))

    // the numeric view of each column that participates in narrowing:
    // floats/ints as themselves; strings only under checkString, parsed
    // (empty → null, like the reference's try_parse)
    def numericView(f: StructField): Option[Column] = f.dataType match {
      case DoubleType | FloatType | ByteType | ShortType | IntegerType |
           LongType => Some(col(f.name))
      case BooleanType => Some(col(f.name).cast(IntegerType))
      case StringType if opts.checkString => Some(parsedString(f.name))
      case _ => None
    }

    def isTemporal(f: StructField): Boolean = f.dataType match {
      case TimestampType | TimestampNTZType => opts.checkDateTime
      case _ => false
    }

    // ---- the fold's inputs: (column, measure) appended in order ----
    val inputs = scala.collection.mutable.ArrayBuffer[(Column, Int)]()
    def input(c: Column, kind: Int): Int = { inputs += (c -> kind); inputs.length - 1 }
    val isTargeted = targeted.map(_.name).toSet
    // raw columns: string widths and integer/date ranges for the
    // writers; timestamps for the date ranges of a midnight narrowing;
    // the non-null count of every other targeted column
    val raw: Map[String, Int] = fields.flatMap { f =>
      val kind = plainKind(f.dataType) match {
        case Skip if isTargeted(f.name) && isTemporal(f) => LongRange
        case Skip if isTargeted(f.name) && numericView(f).isEmpty => Count
        case k => k
      }
      if (kind == Skip) None else Some(f.name -> input(col(f.name), kind))
    }.toMap
    val view: Map[String, Int] = targeted.flatMap(f =>
      numericView(f).map(v => f.name -> input(v.cast(DoubleType), Dbl))).toMap
    // a single unparseable non-empty string vetoes the column
    val parses: Map[String, Int] = targeted.collect {
      case f if f.dataType == StringType && opts.checkString =>
        f.name -> input(length(trim(col(f.name))) === 0 ||
          trim(col(f.name)).try_cast(DoubleType).isNotNull, Bool)
    }.toMap
    // midnight check: zoned timestamps use epoch millis % 86400000 == 0
    // (UTC), exactly the reference's physical check — date_trunc("DAY")
    // on TimestampType would make the narrowing depend on
    // spark.sql.session.timeZone. NTZ has no zone, so wall-clock
    // midnight (date_trunc) IS the stable semantic there.
    val midnight: Map[String, Int] = targeted.collect {
      case f if isTemporal(f) => f.name -> input(f.dataType match {
        case TimestampType =>
          pmod(unix_millis(col(f.name)), lit(MillisPerDay)) === lit(0L)
        case _ => col(f.name) === date_trunc("DAY", col(f.name))
      }, Bool)
    }.toMap
    val kinds = inputs.map(_._2).toArray
    val acc = fold(df, inputs.map(_._1).toIndexedSeq, kinds)
    // the row count guards the all-null → Boolean rule: the reference
    // applies it only to frames with rows (compress.rs:123 `s.len() > 0`)
    val totalRows = acc.rows

    val ((b8lo, b8hi), (b16lo, b16hi), (b32lo, b32hi)) =
      if (opts.stataBounds) StataBounds else StandardBounds

    // checkString columns count the PARSED view, not the raw column:
    // the reference applies its all-null rule AFTER parsing, so a
    // column of empty strings is all-null → boolean, never numeric
    def cnt(c: String): Long = acc.n(view.getOrElse(c, raw(c)))

    def narrowType(f: StructField): DataType = {
      def allNull: DataType =
        if (opts.allNullToBoolean && totalRows > 0L) BooleanType
        else f.dataType
      def numericTarget(asFloat64: DataType): DataType = {
        val v = view(f.name)
        if (!acc.all(v)) return f.dataType
        val mn = acc.dlo(v)
        val mx = acc.dhi(v)
        if (!opts.noBoolean && mn >= 0.0 && mx <= 1.0) BooleanType
        else if (mn >= b8lo && mx <= b8hi) ByteType
        else if (mn >= b16lo && mx <= b16hi) ShortType
        else if (mn >= b32lo && mx <= b32hi) IntegerType
        else asFloat64
      }
      f.dataType match {
        case StringType if opts.checkString =>
          // reference ordering (compress.rs): parse → all-null → numeric.
          // An unparseable value vetoes the whole column FIRST; cnt is
          // the post-parse count, so all-empty columns take the
          // all-null rule instead of reading min/max of no values.
          if (!acc.all(parses(f.name))) f.dataType
          else if (cnt(f.name) == 0L) allNull
          else {
            // parseable strings become f64 even when non-integral
            val t = numericTarget(DoubleType)
            if (t == StringType) DoubleType else t
          }
        case _ if cnt(f.name) == 0L => allNull
        case DoubleType | FloatType | ByteType | ShortType | IntegerType |
             LongType | BooleanType => numericTarget(DoubleType)
        case TimestampType | TimestampNTZType if isTemporal(f) &&
            acc.all(midnight(f.name)) => DateType
        case other => other
      }
    }

    val narrowed: Map[String, DataType] =
      targeted.map(f => f.name -> narrowType(f)).toMap
    val outCols = fields.map { f =>
      narrowed.get(f.name) match {
        case Some(to) if to != f.dataType =>
          f.dataType match {
            case _ if cnt(f.name) == 0L =>
              // all-null narrowing (→ boolean by default): every value is
              // null by construction, so emit typed nulls directly — a
              // raw cast(timestamp AS boolean) would throw DATATYPE_
              // MISMATCH under ANSI even though no value is ever cast
              lit(null).cast(to).as(f.name)
            case StringType =>
              // parsed-string path for EVERY numeric target, boolean
              // included: a raw cast('' / '1.0' as boolean) throws
              // under ANSI where the reference's parse-then-cast works
              parsedString(f.name).cast(to).as(f.name)
            case TimestampType if to == DateType =>
              // UTC-day extraction matching the midnight check above;
              // a plain cast(ts as date) would re-introduce the
              // session-timezone dependence. Division is exact: the
              // check guarantees millis is a multiple of 86400000.
              date_from_unix_date(floor(unix_millis(col(f.name)) /
                lit(MillisPerDay.toDouble)).cast(IntegerType)).as(f.name)
            case _ => col(f.name).cast(to).as(f.name)
          }
        case _ => col(f.name)
      }
    }

    // the output frame's writer stats: strings pass through unchanged,
    // so their widths are the raw ones; an integer or date column keeps
    // its raw range unless narrowed — then the range is its numeric
    // view's (integral by the narrowing proof, so the double → long
    // conversion is exact) or, for a midnight timestamp, the days of
    // its min/max instant (day extraction is monotonic)
    val ranges: Map[String, (Long, Long)] = fields.flatMap { f =>
      val to = narrowed.getOrElse(f.name, f.dataType)
      (to, f.dataType) match {
        case (DateType, TimestampType | TimestampNTZType) =>
          val (r, microsPerDay) = (raw(f.name), MillisPerDay * 1000L)
          Some(f.name -> (Math.floorDiv(acc.lo(r), microsPerDay),
            Math.floorDiv(acc.hi(r), microsPerDay)))
        case (ByteType | ShortType | IntegerType, from) if from != to =>
          val v = view(f.name)
          Some(f.name -> (acc.dlo(v).toLong, acc.dhi(v).toLong))
        case (ByteType | ShortType | IntegerType | DateType, _) =>
          raw.get(f.name).filter(acc.n(_) > 0).map(r => f.name -> (acc.lo(r), acc.hi(r)))
        case _ => None
      }
    }.toMap
    val strs = fields.filter(f => narrowed.getOrElse(f.name, f.dataType) == StringType)
      .map(f => f.name -> raw(f.name))
    (df.select(outCols.toIndexedSeq: _*), WriteStats(totalRows,
      strs.map { case (c, r) => c -> acc.hi(r).toInt }.toMap,
      strs.map { case (c, r) => c -> acc.lo(r).toInt }.toMap, ranges))
  }
}
