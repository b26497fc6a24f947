package graft.spark.readstat

/** Pre-encoded numeric-label lookup (bits-keyed LongMap, no boxing):
  * labels pre-encode once per partition to raw UTF-8 byte arrays,
  * assigned stable ids 0..L-1 so the column loaders can
  * DICTIONARY-encode labeled columns — per cell one
  * dictionary-id `putInt` instead of a byte-array append, the same
  * design as Spark's parquet dictionary read path. */
private[readstat] final class DoubleByteLut(m: Map[Double, String]) {
  /** id-indexed label bytes (the dictionary base). */
  val baseBytes: Array[Array[Byte]] = m.values.map(
    _.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  private val ids = new scala.collection.mutable.LongMap[Int](m.size * 2)
  m.keys.zipWithIndex.foreach { case (k, i) =>
    ids(java.lang.Double.doubleToLongBits(k)) = i }
  /** Dictionary id of the label for this value, or -1. */
  def id(d: Double): Int =
    ids.getOrElse(java.lang.Double.doubleToLongBits(d), -1)
  def get(d: Double): Array[Byte] = {
    val i = id(d); if (i < 0) null else baseBytes(i)
  }
}

/** Int-keyed byte-array label LUT for Stata (labels key on int codes
  * there): dense id array when the code range is compact, boxing-free
  * LongMap otherwise, plus dictionary ids (see [[DoubleByteLut]]). */
private[readstat] final class IntByteLut(m: Map[Int, String]) {
  /** id-indexed label bytes (the dictionary base). */
  val baseBytes: Array[Array[Byte]] = m.values.map(
    _.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  private val keys: Array[Int] = m.keys.toArray
  private val lo: Int = if (m.isEmpty) 0 else keys.min
  private val hi: Int = if (m.isEmpty) -1 else keys.max
  // dense: id+1 per code (0 = no label); sparse fallback for wide ranges
  private val dense: Array[Int] =
    if (hi.toLong - lo.toLong < 65536L) {
      val a = new Array[Int](hi - lo + 1)
      keys.zipWithIndex.foreach { case (k, i) => a(k - lo) = i + 1 }
      a
    } else null
  private val sparse: scala.collection.mutable.LongMap[Int] =
    if (dense == null) {
      val lm = new scala.collection.mutable.LongMap[Int](m.size * 2)
      keys.zipWithIndex.foreach { case (k, i) => lm(k.toLong) = i + 1 }
      lm
    } else null
  /** Dictionary id of the label for this code, or -1. */
  def id(code: Int): Int =
    (if (dense != null) {
      if (code < lo || code > hi) 0 else dense(code - lo)
    } else sparse.getOrElse(code.toLong, 0)) - 1
  def get(code: Int): Array[Byte] = {
    val i = id(code); if (i < 0) null else baseBytes(i)
  }
}

/** Per-batch string dictionary over a shared label base: ids 0..L-1 are
  * the partition-wide pre-encoded labels; unlabeled values that fall
  * back to their code form get per-batch ids appended after the base
  * (bounded by the batch's distinct fallback values — reset each batch
  * so a high-cardinality unlabeled column can't grow a partition-wide
  * map without bound). Only binary decode is meaningful; labeled
  * columns are StringType by construction. */
private[readstat] final class LabelDictionary(base: Array[Array[Byte]])
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  private val extras = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
  private val extraIds = new scala.collection.mutable.LongMap[Int]()
  /** Id for a fallback (unlabeled) value keyed by its double bits. */
  def fallbackId(bits: Long, render: () => Array[Byte]): Int =
    extraIds.getOrElse(bits, {
      val id = base.length + extras.length
      extras += render()
      extraIds(bits) = id
      id
    })
  override def decodeToBinary(id: Int): Array[Byte] =
    if (id < base.length) base(id) else extras(id - base.length)
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("label dictionary is binary-only")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("label dictionary is binary-only")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("label dictionary is binary-only")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("label dictionary is binary-only")
}
