package graft.sketch

/** From-scratch count-min sketch (Cormode & Muthukrishnan 2005) over
  * pre-hashed 64-bit values. depth = ceil(ln(1/delta)) rows, width =
  * ceil(e/eps) counters; estimate = min over rows; merge = element-wise add
  * (associative, commutative).
  *
  * Reference analogue: the HIXF counting agent's per-bin hit-count vectors
  * (/root/reference/src/hixf/build/hierarchical_interleaved_xor_filter.hpp:
  * 307-334) — heavy-hitter counting per group, re-expressed as a mergeable
  * aggregation. Published bound: estimate ∈ [true, true + eps*N] with
  * probability ≥ 1 − delta.
  *
  * Layout: [0]=type(3) [1]=ver(1) [2..5]=depth [6..9]=width [10..17]=seed
  * [18..25]=N(total weight) [26..)=depth*width longs, row-major.
  */
object CountMin {
  val TYPE: Byte = 3
  val VER: Byte = 1
  val HEADER = 26

  /** (depth, width) for (eps, delta); rejects a table over the array
    * limit, so it doubles as the parameter check. */
  def dims(eps: Double, delta: Double): (Int, Int) = {
    require(eps > 0 && eps < 1, s"cms eps out of range (0, 1): $eps")
    require(delta > 0 && delta < 1, s"cms delta out of range (0, 1): $delta")
    val depth = math.max(1, math.ceil(math.log(1.0 / delta)).toInt)
    val width = math.max(2.0, math.ceil(math.E / eps))
    require(HEADER + depth * width * 8 <= Bytes.MaxArrayBytes,
      s"cms eps=$eps delta=$delta need a ${depth}x${width.toLong} table, " +
        "over the array limit")
    (depth, width.toInt)
  }

  def empty(eps: Double, delta: Double, seed: Long): Array[Byte] = {
    val (depth, width) = dims(eps, delta)
    emptyRaw(depth, width, seed)
  }

  def emptyRaw(depth: Int, width: Int, seed: Long): Array[Byte] = {
    val bytes = HEADER + depth.toLong * width * 8
    require(bytes <= Bytes.MaxArrayBytes,
      s"cms ${depth}x$width table is over the array limit")
    val a = new Array[Byte](bytes.toInt)
    a(0) = TYPE; a(1) = VER
    Bytes.putInt(a, 2, depth)
    Bytes.putInt(a, 6, width)
    Bytes.putLong(a, 10, seed)
    a
  }

  @inline def depth(buf: Array[Byte]): Int = Bytes.getInt(buf, 2)
  @inline def width(buf: Array[Byte]): Int = Bytes.getInt(buf, 6)
  @inline def seed(buf: Array[Byte]): Long = Bytes.getLong(buf, 10)
  @inline def totalWeight(buf: Array[Byte]): Long = Bytes.getLong(buf, 18)
  def epsilon(buf: Array[Byte]): Double = math.E / width(buf)

  def update(buf: Array[Byte], hash: Long, inc: Long): Unit = {
    val d = depth(buf); val w = width(buf)
    val h1 = Bytes.mix64(hash ^ seed(buf))
    val h2 = Bytes.mix64(h1) | 1L
    var r = 0
    while (r < d) {
      val c = ((h1 + r * h2) & Long.MaxValue) % w
      val off = HEADER + (r * w + c.toInt) * 8
      Bytes.putLong(buf, off, Bytes.getLong(buf, off) + inc)
      r += 1
    }
    Bytes.putLong(buf, 18, totalWeight(buf) + inc)
  }

  def estimate(buf: Array[Byte], hash: Long): Long = {
    val d = depth(buf); val w = width(buf)
    val h1 = Bytes.mix64(hash ^ seed(buf))
    val h2 = Bytes.mix64(h1) | 1L
    var min = Long.MaxValue
    var r = 0
    while (r < d) {
      val c = ((h1 + r * h2) & Long.MaxValue) % w
      val v = Bytes.getLong(buf, HEADER + (r * w + c.toInt) * 8)
      if (v < min) min = v
      r += 1
    }
    min
  }

  /** In-place merge of `b` into `a`: element-wise counter add. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(
      a.length == b.length && depth(a) == depth(b) && width(a) == width(b) &&
        seed(a) == seed(b),
      "count-min parameter mismatch")
    var off = 18 // includes the N field, then all counters
    while (off < a.length) {
      Bytes.putLong(a, off, Bytes.getLong(a, off) + Bytes.getLong(b, off))
      off += 8
    }
    a
  }

  /** Inner-product estimate between two sketches built with IDENTICAL
    * (depth, width, seed) — Cormode & Muthukrishnan 2005 §4.2: the row-wise
    * dot product min_r Σ_j a[r][j]·b[r][j] estimates a·b = Σ_k fA(k)·fB(k),
    * which for two relations keyed on the sketched column is EXACTLY the
    * equi-join cardinality |A ⋈ B|. Published guarantee:
    * a·b ≤ est ≤ a·b + eps·Na·Nb with probability ≥ 1 − delta — a join-size
    * estimate from two O(1/eps)-sized blobs, no join executed.
    *
    * Reference analogue: the HIXF per-bin hit-count vectors are compared
    * bin-wise at probe time (hierarchical_interleaved_xor_filter.hpp
    * counting agent); this is the same counter-vector algebra applied
    * across two independently-built sketches. */
  def innerProduct(a: Array[Byte], b: Array[Byte]): Long = {
    require(
      depth(a) == depth(b) && width(a) == width(b) && seed(a) == seed(b),
      "count-min parameter mismatch")
    val d = depth(a); val w = width(a)
    var min = Long.MaxValue
    var r = 0
    while (r < d) {
      val base = HEADER + r * w * 8
      var s = 0L
      var j = 0
      while (j < w) {
        s += Bytes.getLong(a, base + j * 8) * Bytes.getLong(b, base + j * 8)
        j += 1
      }
      if (s < min) min = s
      r += 1
    }
    min
  }

  /** Wire version marker for the SPARSE shuffle-boundary form (the public
    * dense artifact format stays VER=1 — estimates, persisted tables and
    * the byte-identity gates never see VER_SPARSE). */
  val VER_SPARSE: Byte = 2

  /** Shuffle-boundary encode: a partial CMS buffer built from a modest key
    * cardinality is almost entirely zeros (eps=1e-4 ⇒ 27183×5 counters;
    * dozens of keys touch ≤ depth×keys of them), yet the dense form is
    * ~1.06 MB — at 64 map tasks × |groups| partials that was ~400 MB of
    * serialization+shuffle traffic per aggregation in the scaling bench,
    * and at 10^12 turns it is the partial-traffic term that matters.
    * Encodes (int index, long value) pairs when strictly smaller than
    * dense; returns the buffer unchanged otherwise (saturated sketches
    * ship dense — the encoding never loses). Decode restores the exact
    * dense bytes (round-trip byte-identity spec-gated). */
  def toWire(buf: Array[Byte]): Array[Byte] = {
    val cells = depth(buf) * width(buf)
    var nnz = 0
    var i = 0
    while (i < cells) {
      if (Bytes.getLong(buf, HEADER + i * 8) != 0L) nnz += 1
      i += 1
    }
    // Long math: a near-max sketch at moderate fill overflows an Int here
    // (nnz*12 > 2^31) and would bypass the dense fallback
    val sparseLen = HEADER.toLong + 4L + nnz.toLong * 12L
    if (sparseLen >= buf.length) buf
    else {
      val out = new Array[Byte](sparseLen.toInt)
      System.arraycopy(buf, 0, out, 0, HEADER)
      out(1) = VER_SPARSE
      Bytes.putInt(out, HEADER, nnz)
      var o = HEADER + 4
      i = 0
      while (i < cells) {
        val v = Bytes.getLong(buf, HEADER + i * 8)
        if (v != 0L) {
          Bytes.putInt(out, o, i)
          Bytes.putLong(out, o + 4, v)
          o += 12
        }
        i += 1
      }
      out
    }
  }

  /** Shuffle-boundary decode; dense input passes through untouched. */
  def fromWire(bytes: Array[Byte]): Array[Byte] =
    if (bytes(1) != VER_SPARSE) bytes
    else {
      val out = emptyRaw(depth(bytes), width(bytes), seed(bytes))
      Bytes.putLong(out, 18, Bytes.getLong(bytes, 18)) // total weight N
      val nnz = Bytes.getInt(bytes, HEADER)
      var o = HEADER + 4
      var k = 0
      while (k < nnz) {
        Bytes.putLong(out, HEADER + Bytes.getInt(bytes, o) * 8,
          Bytes.getLong(bytes, o + 4))
        o += 12
        k += 1
      }
      out
    }
}
