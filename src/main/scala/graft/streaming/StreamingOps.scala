package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Structured Streaming operators for the training-data pipeline.
  *
  * These are the streaming counterparts of the batch operators in
  * graft.queries: exact dedup becomes a watermarked streaming dedup, and
  * sessionization becomes a `flatMapGroupsWithState` operator with
  * event-time timeouts — state per user is one open session (O(1), not
  * the event list), so a 1000-executor cluster shards state by user and
  * each microbatch touches only the groups with new events.
  */
object StreamingOps {

  /** Watermarks require an instant (TimestampType); parquet `timestamp[us]`
    * without a timezone arrives as TIMESTAMP_NTZ and is rejected with
    * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. Normalize here so every
    * watermarked operator below is safe regardless of the file's temporal
    * flavor (the session timezone is pinned to UTC, so the cast preserves
    * the stored micros exactly). */
  def withInstantTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  case class Event(userId: Long, ts: Timestamp, eventType: String, value: Double)

  case class SessionState(startMs: Long, lastMs: Long, n: Int, value: Double)

  case class Session(userId: Long, sessionStart: Timestamp, sessionEnd: Timestamp,
      nEvents: Int, totalValue: Double)

  /** Event-time sessionization: a session closes after `gapMinutes` of
    * inactivity. Emits closed sessions (append mode) — mid-stream gaps
    * close sessions immediately, the trailing open session closes via
    * the event-time timeout once the watermark passes it. */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, evs, state) =>
          if (evs.isEmpty) {
            // timeout: the watermark passed lastMs + gap — close the session
            val out = state.getOption.map(s => Session(userId,
              new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.value))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption.orNull
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (cur == null) cur = SessionState(t, t, 1, e.value)
              else if (t - cur.lastMs > gapMs) {
                closed += Session(userId, new Timestamp(cur.startMs),
                  new Timestamp(cur.lastMs), cur.n, cur.value)
                cur = SessionState(t, t, 1, e.value)
              } else cur = cur.copy(lastMs = math.max(cur.lastMs, t),
                n = cur.n + 1, value = cur.value + e.value)
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastMs + gapMs)
            closed.result().iterator
          }
      }
  }

  /** Per-user funnel progress for [[FunnelState]]: micros of the
    * earliest view, the earliest click strictly after it, and the
    * earliest purchase strictly after that. */
  case class FunnelState(viewUs: Long, clickUs: Long, purchaseUs: Long)

  case class FunnelCompletion(userId: Long, viewTs: Timestamp,
      purchaseTs: Timestamp, convSeconds: Long)

  /** Streaming counterpart of the batch q18_funnel: per user, track the
    * earliest view → first click after it → first purchase after that,
    * and emit one completion row the moment the third stage lands.
    *
    * State per user is three longs (O(1) — never the event list), so a
    * 1000-executor cluster shards funnel tracking by user exactly like
    * sessionization. Disorder handling, honestly stated: within a
    * micro-batch events are sorted by time, so any same-batch disorder
    * is exact; across batches a stage timestamp only moves EARLIER
    * (min) and dependent stages reset when an earlier upstream arrival
    * invalidates them — but a downstream event DISCARDED in an earlier
    * batch (because its upstream stage hadn't arrived yet) is not
    * replayed; the funnel then completes on the next qualifying event
    * instead. Exactness beyond that would require buffering candidate
    * events per user (unbounded state) — the O(1)-state trade every
    * streaming funnel makes. State expires via event-time timeout
    * `expireMinutes` past the last update.
    */
  def funnelStream(events: Dataset[Event], expireMinutes: Int,
      watermark: String = "1 hour"): Dataset[FunnelCompletion] = {
    import events.sparkSession.implicits._
    val U = Long.MaxValue
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelCompletion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, evs, state) =>
          if (evs.isEmpty) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(U, U, U))
            val done0 = st.purchaseUs != U
            var lastMs = 0L
            // true microseconds: Timestamp.getTime is MILLIS-truncated,
            // the sub-millisecond part lives in getNanos — without it a
            // click 500 µs after its view compares equal and the strict
            // ordering guard drops it (diverging from the batch funnel's
            // unix_micros comparison)
            def micros(t: Timestamp): Long =
              math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            evs.toSeq.sortBy(e => (micros(e.ts), e.eventType)).foreach { e =>
              val t = micros(e.ts)
              lastMs = math.max(lastMs, e.ts.getTime)
              e.eventType match {
                case "view" if t < st.viewUs =>
                  // earlier view: later stages stay valid only if still after it
                  st = FunnelState(t,
                    if (st.clickUs > t) st.clickUs else U,
                    if (st.clickUs > t && st.purchaseUs > st.clickUs) st.purchaseUs else U)
                case "click" if st.viewUs != U && t > st.viewUs && t < st.clickUs =>
                  st = FunnelState(st.viewUs, t,
                    if (st.purchaseUs > t) st.purchaseUs else U)
                case "purchase" if st.clickUs != U && t > st.clickUs && t < st.purchaseUs =>
                  st = FunnelState(st.viewUs, st.clickUs, t)
                case _ =>
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(lastMs + expireMinutes * 60000L)
            def toTs(us: Long): Timestamp = {
              val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
              t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
              t
            }
            if (!done0 && st.purchaseUs != U)
              Iterator.single(FunnelCompletion(userId,
                toTs(st.viewUs), toTs(st.purchaseUs),
                (st.purchaseUs - st.viewUs) / 1000000L))
            else Iterator.empty
          }
      }
  }

  case class VEvent(userId: Long, eventId: Long, ts: Timestamp, value: Double)

  case class AnomalyFlag(userId: Long, eventId: Long, value: Double,
      mu: Double, z: Double)

  /** Rolling window of the last `cap` values, micro-unit scaled longs,
    * newest last — O(cap) state per user, never the event history. */
  case class RollState(vals: List[Long])

  /** Streaming counterpart of the batch `events_anomaly` query: flag an
    * event whose value is ≥ `zThreshold` sample standard deviations from
    * the mean of that user's previous `cap` events (at least `minPrior`
    * priors required), emitting flags as events arrive.
    *
    * Numeric parity with the batch query is EXACT by construction: the
    * batch side accumulates moments in DECIMAL(18,6) and converts to
    * double only for pointwise IEEE arithmetic; here values are
    * half-up-scaled to micro-unit longs (the same rounding the decimal
    * cast applies), summed exactly in Long (v² sums are pico-units:
    * 20 · (5.6e8)² ≈ 6e18 still fits), and converted to double through
    * BigDecimal — the identical correctly-rounded rational → double
    * mapping. `StreamingOpsSpec` pins stream == batch on real testdata.
    *
    * State per user is ≤ cap longs, sharded by user like sessionize;
    * event-time timeout drops idle users. Ordering, honestly stated:
    * within a micro-batch events are sorted by (time, id) — identical
    * to the batch window order; across batches an out-of-order
    * straggler is scored against the window as of its ARRIVAL (the
    * batch query would score it against its event-time position).
    * Exactness under disorder would need buffering up to the watermark
    * delay per user; this is the O(cap)-state trade.
    *
    * Input bound: |value| must stay under ~sqrt(2^63 / (cap·1e12))
    * (≈ 679 at cap = 20) so the exact long moment sums fit; beyond it
    * the operator throws ArithmeticException rather than silently
    * wrapping (the batch DECIMAL(37,12) sums cannot overflow). */
  def anomalyStream(events: Dataset[VEvent], cap: Int = 20, minPrior: Int = 10,
      zThreshold: Double = 2.2, expireMinutes: Int = 120,
      watermark: String = "1 hour"): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[RollState, AnomalyFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, evs, state) =>
          if (evs.isEmpty) { state.remove(); Iterator.empty }
          else {
            def micros(t: Timestamp): Long =
              math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            var vals = state.getOption.map(_.vals).getOrElse(Nil)
            val out = Seq.newBuilder[AnomalyFlag]
            var lastMs = 0L
            evs.toSeq.sortBy(e => (micros(e.ts), e.eventId)).foreach { e =>
              lastMs = math.max(lastMs, e.ts.getTime)
              // half-up to 6 dp — exactly Spark's cast(value as decimal(18,6)).
              // valueOf (Double.toString-based) matches Spark's
              // Decimal(double), which rounds the SHORTEST decimal repr;
              // new BigDecimal(double) would round the binary expansion and
              // diverge on ties at the 6-dp boundary (2.675 → 2.67 vs 2.68)
              val scaled = java.math.BigDecimal.valueOf(e.value)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .unscaledValue().longValueExact()
              val n = vals.length
              if (n >= minPrior) {
                // exact-ops so a window whose v² sum exceeds Long range
                // (|value| beyond ~679 at cap=20: 20·(6.8e8)² ≈ 9.2e18)
                // fails LOUDLY instead of silently wrapping and corrupting
                // z-scores — the batch path's DECIMAL(37,12) cannot
                // overflow, so a wrap here would be a silent divergence
                var s1 = 0L; var s2 = 0L
                vals.foreach { v =>
                  s1 = Math.addExact(s1, v)
                  s2 = Math.addExact(s2, Math.multiplyExact(v, v))
                }
                // BigDecimal(unscaled, scale).doubleValue is the same
                // correctly-rounded rational→double map as the decimal cast
                val mu = java.math.BigDecimal.valueOf(s1, 6).doubleValue / n
                val ex2 = java.math.BigDecimal.valueOf(s2, 12).doubleValue / n
                val vr = (ex2 - mu * mu) * n / (n - 1)
                if (vr > 1e-9) {
                  val vD = java.math.BigDecimal.valueOf(scaled, 6).doubleValue
                  val z = (vD - mu) / math.sqrt(vr)
                  if (math.abs(z) >= zThreshold)
                    out += AnomalyFlag(userId, e.eventId,
                      // round half-up like the batch round(v, 2) — floor
                      // would turn the double 133.3799… into 133.37; and
                      // valueOf, not new BigDecimal: Spark's Round works on
                      // the shortest decimal repr (round(2.675, 2) = 2.68)
                      java.math.BigDecimal.valueOf(vD)
                        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue,
                      math.floor(mu * 1e4) / 1e4,
                      math.floor(z * 1e3) / 1e3)
                }
              }
              vals = (vals :+ scaled).takeRight(cap)
            }
            state.update(RollState(vals))
            state.setTimeoutTimestamp(lastMs + expireMinutes * 60000L)
            out.result().iterator
          }
      }
  }

  case class HHEntry(shard: Int, key: String, count: Long, err: Long)

  /** Streaming heavy hitters: the [[graft.operators.SpaceSavingTopK]]
    * sketch as CONTINUOUS state — per trigger, each shard folds its new
    * keys into a Space-Saving buffer and re-emits its current top
    * `emitK` (Update mode).
    *
    * Sharding is BY KEY HASH, so every key lives in exactly one shard
    * and per-key counts are exact below the per-shard capacity (the
    * same exact-regime contract as the batch sketch, pinned by the
    * stream==batch parity spec); shard tops are a superset of the
    * global top (merge client-side by count). State per shard is ≤
    * capacity triples — bounded forever, no per-key state entries, and
    * shards scale the aggregation like any keyed state operator.
    * The buffer serializes through its own byte codec (the aggregate's
    * shuffle format), so state storage is the sketch itself. */
  def heavyHittersStream(keys: Dataset[String], capacity: Int,
      shards: Int = 8, emitK: Int = 20): Dataset[HHEntry] = {
    import keys.sparkSession.implicits._
    keys
      .groupByKey(k => math.floorMod(if (k == null) 0 else k.hashCode, shards))
      .flatMapGroupsWithState[Array[Byte], HHEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, it, state) =>
          val buf = state.getOption
            .map(graft.operators.SpaceSavingBuffer.fromBytes)
            .getOrElse(new graft.operators.SpaceSavingBuffer(capacity))
          it.foreach(k => if (k != null) buf.add(k))
          state.update(buf.toBytes)
          buf.sortedEntries.iterator.take(emitK)
            .map { case (k, c, e) => HHEntry(shard, k, c, e) }
      }
  }

  case class DistinctEstimate(group: String, estimate: Long, isExact: Boolean)

  /** Streaming distinct counting per group (e.g. daily active users as
    * events arrive) with [[graft.operators.KmvBuffer]] state — the
    * streaming member of the KMV triad (batch `distinct_kmv`, sketch
    * algebra `distinct_kmv_union`, and this). State per group is ≤ k
    * longs FOREVER — a naive streaming COUNT(DISTINCT) holds the whole
    * key set per group. Values hash through the same xxhash64(seed 42)
    * the batch Column API applies to a LongType column, so below
    * capacity the streamed estimate is EXACTLY the batch
    * COUNT(DISTINCT) (pinned by `StreamingOpsSpec`); above it the
    * (k−1)/u(k) estimator applies with ~1/√k error. Emits the current
    * estimate per updated group each trigger (Update mode). */
  def distinctStream(pairs: Dataset[(String, Long)],
      k: Int): Dataset[DistinctEstimate] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], DistinctEstimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group, it, state) =>
          val buf = state.getOption
            .map(graft.operators.KmvBuffer.fromBytes)
            .getOrElse(new graft.operators.KmvBuffer(k))
          it.foreach { case (_, v) =>
            buf.add(org.apache.spark.sql.catalyst.expressions.XXH64
              .hashLong(v, 42L))
          }
          state.update(buf.toBytes)
          val kept = buf.size
          val est =
            if (kept < k) kept.toLong
            else {
              val u = (buf.maxKept.toDouble - Long.MinValue.toDouble) /
                1.8446744073709552e19
              math.max(kept.toLong, math.round((k - 1).toDouble / u))
            }
          Iterator.single(DistinctEstimate(group, est, kept < k))
      }
  }

  /** Stream-stream time-range join: the streaming counterpart of
    * [[graft.operators.RangeJoin.withinTolerance]] — pair rows of two
    * live streams sharing `key` whose event times lie within
    * `toleranceMinutes` of each other.
    *
    * Spark can only evict stream-stream join state when BOTH a
    * watermark and a time-range predicate bound how long a row can
    * still match; this op supplies both, so each side's state holds
    * only rows younger than watermark + tolerance — bounded at any
    * stream rate, sharded by key. (Without the range predicate the
    * state grows forever; that formulation is rejected by Spark for
    * append sinks anyway.)
    *
    * Both inputs must share ONLY the key column name; time columns are
    * normalized to instants (TIMESTAMP_NTZ-proof) before watermarking.
    */
  def streamRangeJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, toleranceMinutes: Int,
      watermark: String = "1 hour"): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared == Set(key),
      s"sides must share only the key column '$key', shared: $shared")
    val l = withInstantTime(left, leftTs).withWatermark(leftTs, watermark)
    val r = withInstantTime(right, rightTs).withWatermark(rightTs, watermark)
      .withColumnRenamed(key, "__rkey")
    l.join(r,
      col(key) === col("__rkey") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $toleranceMinutes MINUTES") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $toleranceMinutes MINUTES"))
      .drop("__rkey")
  }

  /** Streaming exact dedup by content fingerprint: md5 of normalized
    * text, deduped within the watermark window (state = one fingerprint
    * per kept row, expired once the watermark passes — bounded state,
    * unlike a naive global dropDuplicates). */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String): DataFrame =
    withInstantTime(docs, tsCol)
      .withColumn("fp", md5(lower(regexp_replace(trim(col(textCol)), graft.queries.Tables.Ws, " "))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming sink into stat-file formats: single-file formats cannot
    * append, so each microbatch writes one complete file
    * `<dir>/batch_<id>.<ext>` via the distributed batch writer — the
    * stat-format analog of a partitioned streaming parquet sink, and the
    * streaming counterpart of the reference's `sink_stata`. Consume the
    * result set with a multi-file `spark.read.format("readstat")` load
    * over the directory's batch files.
    *
    * Returns a started query; caller owns awaitTermination/stop. */
  def writeStatFiles(df: DataFrame, dir: String, ext: String,
      checkpoint: String,
      options: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val w = batch.write.format("readstat").mode("overwrite")
          options.foreach { case (k, v) => w.option(k, v) }
          w.save(s"$dir/batch_$id.$ext")
        }
      }
      .start()

  /** Streaming per-language quality stats: watermarked tumbling-window
    * aggregate over the language-ID and quality signals — the streaming
    * shape of the batch text_lang_stats/text_quality_score queries. */
  def langQualityStats(docs: DataFrame, tsCol: String, textCol: String,
      langCol: String, window: String, watermark: String): DataFrame =
    withInstantTime(docs, tsCol)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        avg(length(col(textCol))).as("avg_chars"),
        avg(size(split(trim(col(textCol)), graft.queries.Tables.Ws))).as("avg_tokens"))
}
