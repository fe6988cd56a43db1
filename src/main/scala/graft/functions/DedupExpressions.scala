package graft.functions

import graft.sketch.Bytes
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Runtime for MinHash / SimHash document fingerprints over shingle-hash
  * arrays (static forwarders for generated code).
  *
  * MinHash permutations use Kirsch–Mitzenmacher double hashing
  * (g_i(h) = h1 + i*h2), the same construction as the Bloom/CMS probes —
  * one mix per element, O(n · perms) mins per document.
  */
object DedupOps {
  /** numPerms minimum values under derived permutations; empty input gives
    * Long.MaxValue rows (matches "empty set" semantics for Jaccard 0). */
  def minhashSignature(hashes: ArrayData, numPerms: Int, seed: Long): ArrayData = {
    val sig = new Array[Long](numPerms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      val h1 = Bytes.mix64(h ^ seed)
      val h2 = Bytes.mix64(h1) | 1L
      var p = 0
      while (p < numPerms) {
        val v = h1 + p * h2
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Charikar SimHash: per-bit majority vote over element hashes. */
  def simhash64(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Memoized ±1 hyperplane sign tables: the planes are pure functions of
    * (seed, tables, bits, dims), so recomputing mix64 per ROW (tables ×
    * bits × dims mixes per vector) was pure waste — one cached flat array
    * per parameterization turns the kernel into plain dot-product sweeps
    * (~10x on the bucket stage). Keyed per executor JVM; bounded (a handful
    * of parameterizations per app). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Float]]()
  /** Hard cap on memoized parameterizations: ragged-dims workloads (many
    * embedding models in one session) would otherwise grow executor memory
    * unboundedly. Exceeding the cap clears the whole cache (recompute is
    * cheap; entries are equally likely to recur — no LRU bookkeeping). */
  private val PlaneCacheMax = 64

  private def srpPlanes(
      seed: Long, tables: Int, bits: Int, dims: Int): Array[Float] = {
    if (planeCache.size > PlaneCacheMax) planeCache.clear()
    planeCache.computeIfAbsent((seed, tables, bits, dims), _ => {
      val signs = new Array[Float](tables * bits * dims)
      var t = 0
      var off = 0
      while (t < tables) {
        var b = 0
        while (b < bits) {
          var d = 0
          while (d < dims) {
            val r = Bytes.mix64(seed + t * 1000003L + b * 7919L + d)
            signs(off) = if ((r & 1L) == 0L) 1.0f else -1.0f
            off += 1
            d += 1
          }
          b += 1
        }
        t += 1
      }
      signs
    })
  }

  /** Signed-random-projection LSH bucket of a float-vector: `bits` sign bits
    * from deterministic pseudo-hyperplanes (component of plane b at dim d is
    * ±1 from mix64(seed, table, b, d)); one bucket id per table. */
  def srpBuckets(vec: ArrayData, tables: Int, bits: Int, seed: Long): ArrayData = {
    val dims = vec.numElements()
    val signs = srpPlanes(seed, tables, bits, dims)
    val out = new Array[Long](tables)
    var t = 0
    var off = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var d = 0
        while (d < dims) {
          // widen BEFORE the multiply: ±1.0 * double(vec) reproduces the
          // original double-precision accumulation bit-for-bit
          dot += signs(off + d).toDouble * vec.getFloat(d)
          d += 1
        }
        off += dims
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = (t.toLong << 32) | bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}
