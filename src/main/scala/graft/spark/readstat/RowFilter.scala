package graft.spark.readstat

/** A pushed predicate over raw fixed-width rows, and the row skip of the
  * chunked decoders (dta, sav, xpt): the predicate runs over the chunk
  * FIRST — decoding only the filter columns' bytes per row — then
  * passing rows COMPACT into a contiguous buffer and the per-column
  * loops run over the survivors. Failing rows' non-filter bytes are
  * never decoded; the copy is sequential and cheap next to decode.
  *
  * `fast` is the unboxed interval path ([[PushedFilters.asInterval]]),
  * null when the filters have none; otherwise `pred` reads each filter
  * column through its slot's cell decoder. */
private[readstat] final class RowFilter(decoders: Array[(Array[Byte], Int) => Any],
    pred: PushedFilters.Pred, fast: (Array[Byte], Int) => Boolean) {

  // Decoded filter cells MEMOIZE per row (stamp array): Catalyst pushes
  // IsNotNull alongside every range conjunct, so a compiled predicate
  // reads the same slot 2-3× per row — without the memo each read
  // re-decodes the cell from bytes (the r13 date-range band paid ~2.7
  // date decodes/row and measured SLOWER than the unfiltered read).
  private var curBuf: Array[Byte] = _
  private var curBase = 0
  private var row = 0L
  private val vals = new Array[Any](decoders.length)
  private val stamp = Array.fill(decoders.length)(Long.MinValue)
  private val getter: Int => Any = slot => {
    if (stamp(slot) == row) vals(slot)
    else {
      val v = decoders(slot)(curBuf, curBase)
      vals(slot) = v; stamp(slot) = row; v
    }
  }

  /** Whether the row at `buf(base)` may pass (false only when the
    * filters definitely reject it). */
  def pass(buf: Array[Byte], base: Int): Boolean =
    if (fast != null) fast(buf, base)
    else {
      curBuf = buf; curBase = base; row += 1
      pred(getter)
    }

  private var disabled = false
  private var sinceProbe = 0
  private var compacted: Array[Byte] = Array.emptyByteArray

  /** The rows of the last [[compact]]: the chunk itself or its compacted
    * survivors. */
  var data: Array[Byte] = _

  /** Each survivor's row in the last compacted chunk; null when the
    * chunk was not compacted. */
  var sel: Array[Int] = _

  /** Filters the first `n` rows of the row-major chunk `buf` into
    * [[data]] and returns how many rows it holds. Compaction gate: the
    * copy moves selLen×rowLen bytes while the skip saves (n-selLen)×
    * (projected decode + ~16 B/row of downstream ColumnarToRow/Filter
    * work) — at high selectivity with a narrow projection the copy would
    * cost MORE than it saves (a 50%-selective 1-column count got 2×
    * slower without the gate), so such chunks pass unfiltered and the
    * Catalyst residual does the filtering alone. */
  def compact(buf: Array[Byte], n: Int, rowLen: Int, projBytes: Long): Int = {
    data = buf; sel = null
    if (disabled) {
      // periodic re-probe (r13): data sorted on the filter column can
      // turn selective mid-partition — a permanent latch would decode
      // everything for the rest of the file; the probe below costs ~256
      // cell decodes, so re-arming every 8th chunk is effectively free
      sinceProbe += 1
      if (sinceProbe >= 8) disabled = false
    }
    if (disabled) return n
    // r13 row-sample probe: the r12 warmup decoded filter cells for TWO
    // FULL chunks before concluding a 50%-selective filter never
    // compacts (+33% on stata_subset_filter). Estimate selectivity from
    // ≤256 evenly strided rows and run the full pass only when the
    // compaction byte-gate holds on the estimate; the exact per-chunk
    // gate stays as the backstop for probe misses.
    val stride = math.max(1, n / 256)
    var samples = 0
    var hits = 0
    var sr = 0
    while (sr < n) {
      if (pass(buf, sr * rowLen)) hits += 1
      samples += 1
      sr += stride
    }
    val selEst = n.toLong * hits / math.max(1, samples)
    if (hits == samples || selEst * rowLen >= (n - selEst) * (projBytes + 16)) {
      disabled = true; sinceProbe = 0
      return n
    }
    val s = new Array[Int](n)
    var selLen = 0
    var r = 0
    while (r < n) {
      if (pass(buf, r * rowLen)) { s(selLen) = r; selLen += 1 }
      r += 1
    }
    if (selLen < n && selLen.toLong * rowLen < (n - selLen).toLong * (projBytes + 16)) {
      if (compacted.length < selLen * rowLen) compacted = new Array[Byte](n * rowLen)
      var i = 0
      while (i < selLen) {
        System.arraycopy(buf, s(i) * rowLen, compacted, i * rowLen, rowLen)
        i += 1
      }
      data = compacted; sel = s
      selLen
    } else {
      // the probe misjudged a borderline chunk — ground truth says no
      // compaction; disable and let the re-probe re-arm (the Catalyst
      // residual filters regardless)
      disabled = true; sinceProbe = 0
      n
    }
  }
}
