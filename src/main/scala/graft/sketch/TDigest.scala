package graft.sketch

/** From-scratch merging t-digest (Dunning & Ertl, "Computing Extremely
  * Accurate Quantiles Using t-Digests"). Centroid weights are capped by the
  * classic q(1-q) size bound `4·N·q·(1−q)/δ`, giving high accuracy at the
  * tails. Merge = treat the other digest's centroids as weighted points and
  * re-merge (associative up to the published rank-error bound; byte-identity
  * is not guaranteed under reorder — SURVEY.md §7.4).
  *
  * Reference analogue: the coverage / read-length statistics feeding
  * abundance estimation (/root/reference/src/main/taxor_profile.cpp:519-541)
  * re-expressed as a distribution sketch over turn lengths and inter-turn
  * latencies.
  *
  * Layout: [0]=type(5) [1]=ver [2..9]=delta [10..17]=n(long as weight sum is
  * integral here) [18..25]=min [26..33]=max [34..37]=numCentroids
  * [means double*][weights double*].
  */
final class TDigest(val delta: Double) extends Serializable {
  TDigest.check(delta)
  private[sketch] var means = new DoubleBuf
  private[sketch] var weights = new DoubleBuf
  private[sketch] val bufX = new DoubleBuf
  private[sketch] val bufW = new DoubleBuf
  var totalWeight: Double = 0.0
  var minV: Double = Double.PositiveInfinity
  var maxV: Double = Double.NegativeInfinity

  private def bufferCap: Int = math.max(64, (4 * delta).toInt)

  def update(x: Double): Unit = add(x, 1.0)

  def add(x: Double, w: Double): Unit = {
    if (x < minV) minV = x
    if (x > maxV) maxV = x
    bufX.add(x); bufW.add(w)
    totalWeight += w
    if (bufX.size >= bufferCap) flush()
  }

  private[sketch] def flush(): Unit = {
    if (bufX.isEmpty) return
    val nAll = means.size + bufX.size
    val xs = new Array[Double](nAll)
    val ws = new Array[Double](nAll)
    // merge-sort would be faster; nAll is O(delta) so a full sort is fine
    val idx = new Array[Integer](nAll)
    var i = 0
    while (i < means.size) { xs(i) = means(i); ws(i) = weights(i); i += 1 }
    var j = 0
    while (j < bufX.size) {
      xs(i) = bufX(j); ws(i) = bufW(j); i += 1; j += 1
    }
    i = 0
    while (i < nAll) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      java.lang.Double.compare(xs(a), xs(b)))
    val outM = new DoubleBuf(means.size + 16)
    val outW = new DoubleBuf(means.size + 16)
    var curMean = xs(idx(0))
    var curW = ws(idx(0))
    var wSoFar = 0.0
    i = 1
    while (i < nAll) {
      val m = xs(idx(i)); val w = ws(idx(i))
      val q = (wSoFar + curW + w / 2) / totalWeight
      val cap = math.max(1.0, 4.0 * totalWeight * q * (1.0 - q) / delta)
      if (curW + w <= cap) {
        curMean += (m - curMean) * (w / (curW + w))
        curW += w
      } else {
        outM.add(curMean); outW.add(curW)
        wSoFar += curW
        curMean = m; curW = w
      }
      i += 1
    }
    outM.add(curMean); outW.add(curW)
    means = outM; weights = outW
    bufX.clear(); bufW.clear()
  }

  def merge(other: TDigest): TDigest = {
    require(other.delta == delta, "tdigest delta mismatch")
    var i = 0
    while (i < other.means.size) {
      add2(other.means(i), other.weights(i)); i += 1
    }
    i = 0
    while (i < other.bufX.size) {
      add2(other.bufX(i), other.bufW(i)); i += 1
    }
    if (other.minV < minV) minV = other.minV
    if (other.maxV > maxV) maxV = other.maxV
    this
  }

  private def add2(x: Double, w: Double): Unit = {
    bufX.add(x); bufW.add(w); totalWeight += w
    if (bufX.size >= bufferCap) flush()
  }

  /** Quantile by linear interpolation between centroid midpoints. */
  def quantile(q: Double): Double = {
    flush()
    if (totalWeight == 0) return Double.NaN
    if (means.size == 1) return means(0)
    if (q <= 0.0) return minV
    if (q >= 1.0) return maxV
    val target = q * totalWeight
    var cum = 0.0
    var i = 0
    while (i < means.size) {
      val mid = cum + weights(i) / 2
      if (target < mid) {
        if (i == 0) {
          val lo = minV; val hi = means(0)
          val frac = target / (weights(0) / 2)
          return lo + frac * (hi - lo)
        }
        val prevMid = cum - weights(i - 1) / 2
        val frac = (target - prevMid) / (mid - prevMid)
        return means(i - 1) + frac * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    val lastMid = totalWeight - weights.last / 2
    val frac = (target - lastMid) / (weights.last / 2)
    means.last + frac * (maxV - means.last)
  }

  /** Fraction of mass at or below x (interpolated CDF). */
  def cdf(x: Double): Double = {
    flush()
    if (totalWeight == 0) return Double.NaN
    if (x < minV) return 0.0
    if (x >= maxV) return 1.0
    var cum = 0.0
    var i = 0
    while (i < means.size) {
      if (x < means(i)) {
        val loMean = if (i == 0) minV else means(i - 1)
        val loCum = if (i == 0) 0.0 else cum - weights(i - 1) / 2
        val hiCum = cum + weights(i) / 2
        val frac = if (means(i) == loMean) 1.0 else (x - loMean) / (means(i) - loMean)
        return (loCum + frac * (hiCum - loCum)) / totalWeight
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  /** Trimmed mean over the rank window (qlo, qhi] — Dunning & Ertl §2.9's
    * centroid walk: each centroid contributes the overlap of its cumulative
    * rank span with the window, so only the two boundary centroids are ever
    * partially (mis)assigned. Error is bounded by the boundary rank error
    * mapped through the data range — the quantity the trimmed-mean gate
    * asserts against the exact windowed sum. */
  def trimmedMean(qlo: Double, qhi: Double): Double = {
    flush()
    require(qlo >= 0 && qhi <= 1 && qlo < qhi, "bad trim window")
    if (totalWeight == 0) return Double.NaN
    val lo = qlo * totalWeight
    val hi = qhi * totalWeight
    var cum = 0.0
    var sum = 0.0
    var wsum = 0.0
    var i = 0
    while (i < means.size) {
      val w = weights(i)
      val overlap = math.min(cum + w, hi) - math.max(cum, lo)
      if (overlap > 0) { sum += overlap * means(i); wsum += overlap }
      cum += w
      i += 1
    }
    if (wsum == 0) Double.NaN else sum / wsum
  }

  def numCentroids: Int = { flush(); means.size }

  def toBytes: Array[Byte] = {
    flush()
    val c = means.size
    val a = new Array[Byte](TDigest.HEADER + 16 * c)
    a(0) = TDigest.TYPE; a(1) = TDigest.VER
    Bytes.putDouble(a, 2, delta)
    Bytes.putDouble(a, 10, totalWeight)
    Bytes.putDouble(a, 18, minV)
    Bytes.putDouble(a, 26, maxV)
    Bytes.putInt(a, 34, c)
    var off = TDigest.HEADER
    means.foreach { v => Bytes.putDouble(a, off, v); off += 8 }
    weights.foreach { v => Bytes.putDouble(a, off, v); off += 8 }
    a
  }
}

object TDigest {
  val TYPE: Byte = 5
  val VER: Byte = 1
  val HEADER = 38

  def check(delta: Double): Unit = require(delta >= 10 && delta <= 10000,
    s"tdigest delta out of range: $delta")

  def empty(delta: Double): TDigest = new TDigest(delta)

  def fromBytes(a: Array[Byte]): TDigest = {
    require(a(0) == TYPE, s"not a tdigest sketch: type=${a(0)}")
    val s = new TDigest(Bytes.getDouble(a, 2))
    s.totalWeight = Bytes.getDouble(a, 10)
    s.minV = Bytes.getDouble(a, 18)
    s.maxV = Bytes.getDouble(a, 26)
    val c = Bytes.getInt(a, 34)
    var off = HEADER
    var i = 0
    while (i < c) { s.means.add(Bytes.getDouble(a, off)); off += 8; i += 1 }
    i = 0
    while (i < c) { s.weights.add(Bytes.getDouble(a, off)); off += 8; i += 1 }
    s
  }
}
