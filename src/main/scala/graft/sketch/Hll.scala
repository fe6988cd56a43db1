package graft.sketch

/** From-scratch HyperLogLog (Flajolet et al. 2007) over pre-hashed 64-bit
  * values. Dense byte-per-register layout; merge = register-wise max
  * (associative, commutative, idempotent).
  *
  * Reference analogue: the per-group chopper HLL cardinality sketch the
  * layout optimizer consumes (/root/reference/src/main/taxor_build.cpp:324,
  * 343, 351, 389, 409, 417). Published bound: relative standard error
  * ≤ 1.04/sqrt(m) with m = 2^p registers; small range uses linear counting.
  *
  * Layout: [0]=type(1) [1]=ver(1) [2]=p [3..3+m) registers (1 byte each).
  */
object Hll {
  val TYPE: Byte = 1
  val VER: Byte = 1
  val HEADER = 3

  def m(p: Int): Int = 1 << p

  def check(p: Int): Unit = require(p >= 4 && p <= 18, s"hll p out of range: $p")

  def empty(p: Int): Array[Byte] = {
    check(p)
    val a = new Array[Byte](HEADER + m(p))
    a(0) = TYPE; a(1) = VER; a(2) = p.toByte
    a
  }

  @inline def precision(buf: Array[Byte]): Int = buf(2).toInt

  /** Sparse shuffle-wire form (see Bytes.sparseByteWire): a partial HLL
    * that has seen few distinct values is mostly zero registers but 16 KB
    * dense at p=14 — at many-group aggregations the partial traffic, not
    * the final blobs, is the shuffle term that matters at scale. Eval
    * output stays dense VER=1. */
  val VER_SPARSE: Byte = 2
  def toWire(buf: Array[Byte]): Array[Byte] =
    Bytes.sparseByteWire(buf, HEADER, VER_SPARSE)
  def fromWire(bytes: Array[Byte]): Array[Byte] =
    if (bytes(1) != VER_SPARSE) bytes
    else Bytes.sparseByteFill(empty(bytes(2).toInt), bytes, HEADER)

  /** Standard relative-error bound for this sketch's register count. */
  def stdError(p: Int): Double = 1.04 / math.sqrt(m(p).toDouble)

  @inline def update(buf: Array[Byte], hash: Long): Unit = {
    val p = buf(2).toInt
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    val rank =
      (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if ((buf(HEADER + idx) & 0xff) < rank) buf(HEADER + idx) = rank.toByte
  }

  /** In-place merge of `b` into `a`; register-wise max. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a(2) == b(2), s"hll precision mismatch: ${a(2)} vs ${b(2)}")
    var i = HEADER
    while (i < a.length) {
      if ((b(i) & 0xff) > (a(i) & 0xff)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** Ertl's improved estimator ("New cardinality estimation algorithms for
    * HyperLogLog sketches", 2017): unbiased across the full range from the
    * register-value histogram alone — no empirical bias tables, no
    * small/large-range case split. */
  def estimate(buf: Array[Byte]): Double = {
    val p = buf(2).toInt
    val mm = m(p)
    val q = 64 - p // max stored rank is q+1
    val c = new Array[Int](q + 2)
    var i = 0
    while (i < mm) {
      c(math.min(buf(HEADER + i) & 0xff, q + 1)) += 1
      i += 1
    }
    if (c(0) == mm) return 0.0
    var z = mm * tau(1.0 - c(q + 1).toDouble / mm)
    var k = q
    while (k >= 1) { z = 0.5 * (z + c(k)); k -= 1 }
    z += mm * sigma(c(0).toDouble / mm)
    val alphaInf = 1.0 / (2.0 * math.log(2.0))
    alphaInf * mm.toDouble * mm.toDouble / z
  }

  private def sigma(x0: Double): Double = {
    if (x0 == 1.0) return Double.PositiveInfinity
    var x = x0
    var y = 1.0
    var z = x
    var zPrev = -1.0
    while (z != zPrev) {
      x = x * x
      zPrev = z
      z += x * y
      y += y
    }
    z
  }

  private def tau(x0: Double): Double = {
    if (x0 == 0.0 || x0 == 1.0) return 0.0
    var x = x0
    var y = 1.0
    var z = 1.0 - x
    var zPrev = -1.0
    while (z != zPrev) {
      x = math.sqrt(x)
      zPrev = z
      y *= 0.5
      z -= (1.0 - x) * (1.0 - x) * y
    }
    z / 3.0
  }
}
