package graft.sketch

import java.nio.charset.StandardCharsets

/** From-scratch mergeable heavy-hitter summary — Misra–Gries (1982) counters
  * with the merge rule of Agarwal et al., "Mergeable Summaries" (PODS 2012):
  * combine counter sets by summing matching keys, then if more than
  * `capacity` counters remain subtract the (capacity+1)-th largest count from
  * every counter and drop the non-positive ones. (SpaceSaving is the same
  * summary under a count offset — this is the standard mergeable form.)
  *
  * Reference analogue: the counting HIXF's per-bin hit vectors that surface
  * hot bins (/root/reference/src/hixf/build/
  * hierarchical_interleaved_xor_filter.hpp:417-533) — re-expressed as the
  * mergeable top-k aggregate a 100 TB pipeline needs to ENUMERATE hot keys
  * (tools, URLs, vocabulary) without an exact GROUP BY over every key.
  *
  * Published guarantees with m = capacity counters over total weight N
  * (deterministic, preserved by merge):
  *   - stored count never overcounts: est <= true;
  *   - undercount <= N/(m+1) (so eps = 1/(m+1));
  *   - every key with true count > N/(m+1) is present in the summary.
  * The cumulative pruned decrement `dec` is tracked explicitly: it is a
  * per-sketch certificate with  true - est <= dec <= N/(m+1)  (each prune of
  * d removes >= (m+1)*d weight), so callers can gate on the tighter bound.
  *
  * Update cost: O(1) amortized — the live map is allowed to grow to
  * 2*capacity between prunes, and each prune halves it.
  *
  * NOT byte-deterministic across input partitionings (which keys survive a
  * prune depends on arrival order) — only the bounds above are guaranteed;
  * gates must assert bounds, not bytes (same posture as KLL/t-digest).
  *
  * Serialized layout: [0]=type(6) [1]=ver(1) [2..5]=capacity
  * [6..13]=n [14..21]=dec [22..25]=#entries, then per entry
  * [count:long][keyLen:int][key utf8 bytes].
  */
final class SpaceSaving private (
    val capacity: Int,
    var n: Long,
    var dec: Long,
    val counts: scala.collection.mutable.HashMap[String, Long]) {

  /** Add `inc` weight of `key`. */
  def update(key: String, inc: Long = 1L): Unit = {
    counts.updateWith(key) {
      case Some(c) => Some(c + inc)
      case None => Some(inc)
    }
    n += inc
    if (counts.size > 2 * capacity) prune()
  }

  /** Merge `other` into this (counter union + one prune). Associative up to
    * the documented bounds; bounds add: dec' <= dec_a + dec_b + d_prune and
    * the eps*N guarantee holds for the combined N. */
  def merge(other: SpaceSaving): SpaceSaving = {
    require(other.capacity == capacity,
      s"spacesaving capacity mismatch: $capacity vs ${other.capacity}")
    other.counts.foreach { case (k, c) =>
      counts.updateWith(k) { p => Some(p.getOrElse(0L) + c) }
    }
    n += other.n
    dec += other.dec
    if (counts.size > capacity) prune()
    this
  }

  /** Subtract the (capacity+1)-th largest count from every counter and drop
    * the non-positive — at most `capacity` counters survive. The subtracted
    * d accumulates into `dec` (the undercount certificate). */
  private def prune(): Unit = {
    if (counts.size <= capacity) return
    val vals = counts.values.toArray
    java.util.Arrays.sort(vals)
    val d = vals(vals.length - (capacity + 1)) // (capacity+1)-th largest
    if (d <= 0) return
    dec += d
    counts.filterInPlace((_, c) => c > d)
    counts.mapValuesInPlace((_, c) => c - d)
  }

  /** Stored (under-)count of `key`; 0 when absent (true count <= dec). */
  def estimate(key: String): Long = counts.getOrElse(key, 0L)

  /** Top-k entries, count desc then key asc (deterministic given the
    * surviving counter set). */
  def topK(k: Int): Seq[(String, Long)] =
    counts.toSeq.sortBy { case (key, c) => (-c, key) }.take(k)

  def toBytes: Array[Byte] = {
    val entries = counts.toArray
    val keyBytes = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    val size = 26 + entries.length * 12 + keyBytes.map(_.length).sum
    val a = new Array[Byte](size)
    a(0) = SpaceSaving.TYPE; a(1) = SpaceSaving.VER
    Bytes.putInt(a, 2, capacity)
    Bytes.putLong(a, 6, n)
    Bytes.putLong(a, 14, dec)
    Bytes.putInt(a, 22, entries.length)
    var off = 26
    var i = 0
    while (i < entries.length) {
      Bytes.putLong(a, off, entries(i)._2); off += 8
      Bytes.putInt(a, off, keyBytes(i).length); off += 4
      System.arraycopy(keyBytes(i), 0, a, off, keyBytes(i).length)
      off += keyBytes(i).length
      i += 1
    }
    a
  }
}

object SpaceSaving {
  val TYPE: Byte = 6
  val VER: Byte = 1

  def check(capacity: Int): Unit = require(capacity >= 1 && capacity <= 1000000,
    s"spacesaving capacity out of range: $capacity")

  def empty(capacity: Int): SpaceSaving = {
    check(capacity)
    new SpaceSaving(capacity, 0L, 0L, scala.collection.mutable.HashMap.empty)
  }

  def fromBytes(a: Array[Byte]): SpaceSaving = {
    require(a.length >= 26 && a(0) == TYPE,
      s"not a spacesaving sketch (type=${if (a.nonEmpty) a(0) else -1})")
    val capacity = Bytes.getInt(a, 2)
    val s = new SpaceSaving(capacity, Bytes.getLong(a, 6), Bytes.getLong(a, 14),
      scala.collection.mutable.HashMap.empty)
    val nEntries = Bytes.getInt(a, 22)
    var off = 26
    var i = 0
    while (i < nEntries) {
      val c = Bytes.getLong(a, off); off += 8
      val len = Bytes.getInt(a, off); off += 4
      s.counts.put(new String(a, off, len, StandardCharsets.UTF_8), c)
      off += len
      i += 1
    }
    s
  }
}
