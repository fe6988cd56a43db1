package graft.sketch

/** From-scratch partitioned Bloom filter over pre-hashed 64-bit values.
  * The bit array is split into `k` equal slices; probe i sets/tests one bit
  * in slice i (Kirsch–Mitzenmacher double hashing h1 + i*h2).
  *
  * Chosen over the reference's interleaved XOR filter
  * (/root/reference/src/main/xorfilter.hpp:142-334) because XOR filters need
  * the whole key set at construction (peeling) and cannot merge, while the
  * Bloom merge is bitwise OR — associative, commutative, idempotent — which
  * the north rule requires. Sizing uses the same closed form as the
  * reference (`bin_size_in_bits`,
  * /root/reference/src/hixf/build/bin_size_in_bits.cpp:8-14):
  * bits = ceil(-n*k / ln(1 - exp(ln(fpp)/k))).
  *
  * Layout: [0]=type(2) [1]=ver(1) [2..5]=k [6..13]=sliceBits(long)
  * [14..21]=seed [22..)=bits, slice-major.
  */
object Bloom {
  val TYPE: Byte = 2
  val VER: Byte = 1
  val HEADER = 22

  /** Reference-parity defaults (build_arguments.hpp:34-37 uses fpp=0.05,k=2;
    * XOR parity needs fpp ≤ 0.0039, xorfilter.hpp:60-62). */
  val XorParityFpp = 0.0039

  def optimalK(fpp: Double): Int =
    math.max(1, math.round(-math.log(fpp) / math.log(2.0)).toInt)

  /** Same closed form as the reference's bin_size_in_bits. */
  def bitsFor(numItems: Long, fpp: Double, k: Int): Long = {
    val n = math.max(1L, numItems).toDouble
    math.ceil(-n * k / math.log1p(-math.exp(math.log(fpp) / k))).toLong
  }

  /** (k, sliceBits) for `numItems` at false-positive rate `fpp`. */
  private def dims(numItems: Long, fpp: Double): (Int, Long) = {
    require(fpp > 0 && fpp < 1, s"bloom fpp out of range (0, 1): $fpp")
    val k = optimalK(fpp)
    (k, math.max(8L, bitsFor(numItems, fpp, k) / k + 1))
  }

  /** Rejects parameters `empty` cannot build a filter for. */
  def check(numItems: Long, fpp: Double): Unit = {
    val (k, slice) = dims(numItems, fpp)
    checkSize(k, slice)
  }

  def empty(numItems: Long, fpp: Double, seed: Long): Array[Byte] = {
    val (k, slice) = dims(numItems, fpp)
    emptyRaw(k, slice, seed)
  }

  private def checkSize(k: Int, sliceBits: Long): Long = {
    require(k >= 1 && k <= 64, s"bloom k out of range: $k")
    val bytes = HEADER + (k.toLong * sliceBits + 7) / 8
    require(bytes <= Bytes.MaxArrayBytes,
      s"bloom items/fpp need a $bytes-byte filter, over the array limit")
    bytes
  }

  def emptyRaw(k: Int, sliceBits: Long, seed: Long): Array[Byte] = {
    val a = new Array[Byte](checkSize(k, sliceBits).toInt)
    a(0) = TYPE; a(1) = VER
    Bytes.putInt(a, 2, k)
    Bytes.putLong(a, 6, sliceBits)
    Bytes.putLong(a, 14, seed)
    a
  }

  @inline def k(buf: Array[Byte]): Int = Bytes.getInt(buf, 2)
  @inline def sliceBits(buf: Array[Byte]): Long = Bytes.getLong(buf, 6)
  @inline def seed(buf: Array[Byte]): Long = Bytes.getLong(buf, 14)

  /** Sparse shuffle-wire form (see Bytes.sparseByteWire): a partial Bloom
    * built from few items has set bits only where those items hashed —
    * at a many-group filter build (Classify.buildFilters over 10k groups)
    * the per-(group, task) partials dominate the shuffle, not the final
    * per-group filters. Ships dense automatically once byte-fill ≥ 20%.
    * Eval output stays dense VER=1. */
  val VER_SPARSE: Byte = 2
  def toWire(buf: Array[Byte]): Array[Byte] =
    Bytes.sparseByteWire(buf, HEADER, VER_SPARSE)
  def fromWire(bytes: Array[Byte]): Array[Byte] =
    if (bytes(1) != VER_SPARSE) bytes
    else Bytes.sparseByteFill(
      emptyRaw(k(bytes), sliceBits(bytes), seed(bytes)), bytes, HEADER)

  @inline private def setBit(buf: Array[Byte], bit: Long): Unit = {
    val byteIdx = HEADER + (bit >>> 3).toInt
    buf(byteIdx) = (buf(byteIdx) | (1 << (bit & 7L).toInt)).toByte
  }
  @inline private def getBit(buf: Array[Byte], bit: Long): Boolean = {
    val byteIdx = HEADER + (bit >>> 3).toInt
    (buf(byteIdx) & (1 << (bit & 7L).toInt)) != 0
  }

  def update(buf: Array[Byte], hash: Long): Unit = {
    val kk = k(buf); val slice = sliceBits(buf)
    val h1 = Bytes.mix64(hash ^ seed(buf))
    val h2 = Bytes.mix64(h1) | 1L
    var i = 0
    while (i < kk) {
      val pos = ((h1 + i * h2) & Long.MaxValue) % slice
      setBit(buf, i * slice + pos)
      i += 1
    }
  }

  def contains(buf: Array[Byte], hash: Long): Boolean = {
    val kk = k(buf); val slice = sliceBits(buf)
    val h1 = Bytes.mix64(hash ^ seed(buf))
    val h2 = Bytes.mix64(h1) | 1L
    var i = 0
    while (i < kk) {
      val pos = ((h1 + i * h2) & Long.MaxValue) % slice
      if (!getBit(buf, i * slice + pos)) return false
      i += 1
    }
    true
  }

  /** In-place merge of `b` into `a`: bitwise OR. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(
      a.length == b.length && k(a) == k(b) && sliceBits(a) == sliceBits(b) &&
        seed(a) == seed(b),
      "bloom parameter mismatch")
    var i = HEADER
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }

  /** Swamidass–Baldi estimate of the number of distinct items inserted,
    * from the observed fill of each slice: every item sets exactly one bit
    * per slice, so n̂_i = -slice·ln(1 - ones_i/slice); the estimate is the
    * mean over slices. A saturated slice (fill = 1) caps at the count that
    * would fill all but one bit — callers treating the result as a load
    * signal (layout planning) only need "way over capacity" there. */
  def estimateItems(buf: Array[Byte]): Double = {
    val kk = k(buf); val slice = sliceBits(buf)
    var sum = 0.0
    var i = 0
    while (i < kk) {
      var ones = 0L
      var bit = i * slice
      val end = bit + slice
      while (bit < end) { if (getBit(buf, bit)) ones += 1; bit += 1 }
      val fill = math.min(ones, slice - 1).toDouble / slice
      sum += -slice * math.log1p(-fill)
      i += 1
    }
    sum / kk
  }

  /** Expected false-positive probability from the observed fill ratio of
    * each slice (product over slices of its load factor). */
  def expectedFpp(buf: Array[Byte]): Double = {
    val kk = k(buf); val slice = sliceBits(buf)
    var fpp = 1.0
    var i = 0
    while (i < kk) {
      var ones = 0L
      var bit = i * slice
      val end = bit + slice
      while (bit < end) { if (getBit(buf, bit)) ones += 1; bit += 1 }
      fpp *= ones.toDouble / slice
      i += 1
    }
    fpp
  }
}
