package graft.sketch

import scala.collection.mutable.ArrayBuffer

/** From-scratch KLL quantile sketch for doubles (Karnin, Lang, Liberty 2016,
  * the practical datasketches variant). Items live in levels; level l items
  * carry weight 2^l; a full level is sorted and every other item is promoted
  * one level up. Merge concatenates levels then re-compacts — associative up
  * to the published rank-error bound (compaction order changes bytes, not
  * guarantees; tests compare by rank error, not bytes — SURVEY.md §7.4).
  *
  * Reference analogue: the threshold confidence-interval machinery and
  * read-length statistics (/root/reference/src/hixf/search/threshold.hpp:
  * 51-81) re-expressed as a distribution sketch. Published bound: rank error
  * ≈ 1.33/k single-sided at 99% confidence for the 2/3-compaction variant;
  * we use the conservative epsilon ≈ 2.296/k (datasketches constant).
  */
final class Kll(val k: Int) extends Serializable {
  Kll.check(k)
  var n: Long = 0L
  var minV: Double = Double.PositiveInfinity
  var maxV: Double = Double.NegativeInfinity
  val levels: ArrayBuffer[DoubleBuf] =
    ArrayBuffer(new DoubleBuf)
  private var flip: Boolean = false // deterministic compaction coin

  def rankErrorBound: Double = 2.296 / k

  private def capacity(level: Int, numLevels: Int): Int =
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, numLevels - 1 - level)).toInt)

  private def totalCapacity: Int = {
    var s = 0; var l = 0
    while (l < levels.length) { s += capacity(l, levels.length); l += 1 }
    s
  }

  private def size: Int = {
    var s = 0; var l = 0
    while (l < levels.length) { s += levels(l).size; l += 1 }
    s
  }

  def update(x: Double): Unit = {
    if (x < minV) minV = x
    if (x > maxV) maxV = x
    levels(0).add(x)
    n += 1
    if (size > totalCapacity) compress()
  }

  private def compress(): Unit = {
    while (size > totalCapacity) {
      var l = 0
      while (l < levels.length && levels(l).size < capacity(l, levels.length))
        l += 1
      if (l == levels.length) l = 0 // total over cap but no level over: bottom
      compactLevel(l)
    }
  }

  private def compactLevel(l: Int): Unit = {
    if (l == levels.length - 1) levels += new DoubleBuf
    val items = levels(l)
    val sorted = items.sortedArray
    val offset = if (flip) 1 else 0
    flip = !flip
    val up = levels(l + 1)
    var i = offset
    while (i < sorted.length) { up.add(sorted(i)); i += 2 }
    items.clear()
    // odd count with offset 0 keeps nothing extra: weights stay conserved
    // approximately; KLL tolerates the one-item weight slack per compaction.
  }

  def merge(other: Kll): Kll = {
    require(other.k == k, s"kll k mismatch: $k vs ${other.k}")
    if (other.n == 0) return this
    n += other.n
    if (other.minV < minV) minV = other.minV
    if (other.maxV > maxV) maxV = other.maxV
    while (levels.length < other.levels.length)
      levels += new DoubleBuf
    var l = 0
    while (l < other.levels.length) {
      levels(l).addAll(other.levels(l))
      l += 1
    }
    if (size > totalCapacity) compress()
    this
  }

  /** All (value, weight) pairs, value-sorted. */
  private def weighted: Array[(Double, Long)] = {
    val out = new ArrayBuffer[(Double, Long)](size)
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      levels(l).foreach(v => out += ((v, w)))
      l += 1
    }
    out.sortInPlaceBy(_._1).toArray
  }

  /** Quantile at rank q in [0,1]. */
  def quantile(q: Double): Double = {
    if (n == 0) return Double.NaN
    if (q <= 0.0) return minV
    if (q >= 1.0) return maxV
    val items = weighted
    var total = 0L
    items.foreach(total += _._2)
    val target = q * total
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= target) return items(i)._1
      i += 1
    }
    maxV
  }

  /** Fraction of mass strictly below x. */
  def rank(x: Double): Double = {
    if (n == 0) return Double.NaN
    val items = weighted
    var total = 0L
    var below = 0L
    items.foreach { case (v, w) => total += w; if (v < x) below += w }
    below.toDouble / total
  }

  /** Fraction of mass at or below x. */
  def rankLE(x: Double): Double = {
    if (n == 0) return Double.NaN
    val items = weighted
    var total = 0L
    var below = 0L
    items.foreach { case (v, w) => total += w; if (v <= x) below += w }
    below.toDouble / total
  }

  /** Sorted distinct stored values — the sketch's own support grid, the
    * probe points for two-sample statistics (every data value's rank is
    * within the rank-error bound of some stored item's). */
  def support: Array[Double] = weighted.map(_._1).distinct

  def toBytes: Array[Byte] = {
    val numItems = size
    val a = new Array[Byte](Kll.HEADER + 4 * levels.length + 8 * numItems)
    a(0) = Kll.TYPE; a(1) = Kll.VER
    Bytes.putInt(a, 2, k)
    Bytes.putInt(a, 6, levels.length)
    Bytes.putLong(a, 10, n)
    Bytes.putDouble(a, 18, minV)
    Bytes.putDouble(a, 26, maxV)
    a(34) = if (flip) 1 else 0
    var off = Kll.HEADER
    levels.foreach { lvl => Bytes.putInt(a, off, lvl.size); off += 4 }
    levels.foreach { lvl =>
      lvl.foreach { v => Bytes.putDouble(a, off, v); off += 8 }
    }
    a
  }
}

object Kll {
  val TYPE: Byte = 4
  val VER: Byte = 1
  val HEADER = 35

  def check(k: Int): Unit =
    require(k >= 8 && k <= 65535, s"kll k out of range: $k")

  def empty(k: Int): Kll = new Kll(k)

  /** Two-sample Kolmogorov–Smirnov distance estimate
    * sup_x |F_a(x) − F_b(x)| from two sketches, evaluated on the union of
    * their support grids with BOTH the strictly-below and at-or-below ranks
    * probed (a difference of step CDFs attains its sup at a jump). Error ≤
    * (eps_a + eps_b) pointwise plus the same again for grid quantization —
    * gate with 3·(eps_a + eps_b) slack. */
  def ksDistance(a: Kll, b: Kll): Double = {
    require(a.n > 0 && b.n > 0, "ksDistance needs two non-empty sketches")
    val probes = a.support ++ b.support
    var m = 0.0
    probes.foreach { v =>
      val dLt = math.abs(a.rank(v) - b.rank(v))
      val dLe = math.abs(a.rankLE(v) - b.rankLE(v))
      if (dLt > m) m = dLt
      if (dLe > m) m = dLe
    }
    m
  }

  def fromBytes(a: Array[Byte]): Kll = {
    require(a(0) == TYPE, s"not a kll sketch: type=${a(0)}")
    val s = new Kll(Bytes.getInt(a, 2))
    val numLevels = Bytes.getInt(a, 6)
    s.n = Bytes.getLong(a, 10)
    s.minV = Bytes.getDouble(a, 18)
    s.maxV = Bytes.getDouble(a, 26)
    s.flip = a(34) == 1
    while (s.levels.length < numLevels) s.levels += new DoubleBuf
    val counts = new Array[Int](numLevels)
    var off = HEADER
    var l = 0
    while (l < numLevels) { counts(l) = Bytes.getInt(a, off); off += 4; l += 1 }
    l = 0
    while (l < numLevels) {
      var i = 0
      while (i < counts(l)) {
        s.levels(l).add(Bytes.getDouble(a, off)); off += 8; i += 1
      }
      l += 1
    }
    s
  }
}
