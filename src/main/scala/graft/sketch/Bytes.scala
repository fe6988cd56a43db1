package graft.sketch

/** Big-endian primitive codec over raw byte arrays.
  *
  * All sketches serialize to a fixed-layout `Array[Byte]` (version byte +
  * params + payload) so that scalar probe expressions can read them without
  * object allocation — the Spark analogue of the reference's versioned cereal
  * blobs (/root/reference/src/main/index.hpp:208-244).
  */
object Bytes {
  /** Largest byte array a sketch may allocate (the JVM's own limit, less
    * the words some VMs reserve; the same bound Spark rounds arrays to). */
  val MaxArrayBytes: Long = Int.MaxValue - 15L

  @inline def putInt(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte
    a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte
    a(off + 3) = v.toByte
  }
  @inline def getInt(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
      ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  @inline def putLong(a: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { a(off + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
  }
  @inline def getLong(a: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (a(off + i) & 0xffL); i += 1 }
    v
  }
  @inline def putDouble(a: Array[Byte], off: Int, v: Double): Unit =
    putLong(a, off, java.lang.Double.doubleToLongBits(v))
  @inline def getDouble(a: Array[Byte], off: Int): Double =
    java.lang.Double.longBitsToDouble(getLong(a, off))

  /** Sparse shuffle-wire encode for byte-payload sketches (HLL registers,
    * Bloom bit-bytes): (int relative-index, byte value) pairs for the
    * nonzero payload bytes, emitted only when STRICTLY smaller than the
    * dense buffer — a saturated sketch ships dense, so the encoding never
    * loses. The caller owns the header layout; byte [1] is rewritten to
    * `verSparse` in the wire form, the rest of the header copied
    * verbatim. Shuffle-boundary only: eval outputs stay dense. */
  def sparseByteWire(
      buf: Array[Byte], header: Int, verSparse: Byte): Array[Byte] = {
    var nnz = 0
    var i = header
    while (i < buf.length) { if (buf(i) != 0) nnz += 1; i += 1 }
    // Long math: a multi-hundred-MB buffer at moderate fill overflows an
    // Int here (nnz*5 > 2^31) and would bypass the dense fallback
    val sparseLen = header.toLong + 4L + nnz.toLong * 5L
    if (sparseLen >= buf.length) buf
    else {
      val out = new Array[Byte](sparseLen.toInt)
      System.arraycopy(buf, 0, out, 0, header)
      out(1) = verSparse
      putInt(out, header, nnz)
      var o = header + 4
      i = header
      while (i < buf.length) {
        if (buf(i) != 0) {
          putInt(out, o, i - header)
          out(o + 4) = buf(i)
          o += 5
        }
        i += 1
      }
      out
    }
  }

  /** Sparse wire decode into `dense` (freshly allocated by the sketch's
    * own empty(), so type/ver are already correct); header bytes [2,
    * header) are copied from the wire form (param fields, counts). */
  def sparseByteFill(
      dense: Array[Byte], wire: Array[Byte], header: Int): Array[Byte] = {
    System.arraycopy(wire, 2, dense, 2, header - 2)
    val nnz = getInt(wire, header)
    var o = header + 4
    var k = 0
    while (k < nnz) {
      dense(header + getInt(wire, o)) = wire(o + 4)
      o += 5
      k += 1
    }
    dense
  }

  /** Murmur3 64-bit finalizer — decorrelates derived hash streams from the
    * incoming xxhash64 values (reference analogue: murmur-style finalizer at
    * /root/reference/src/main/hashutil.hpp:50-57 and independent seeds per
    * sketch, hashutil.hpp:43-48).
    */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
}
