package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One mergeable sketch family, with its parameters, as [[SketchAgg]] drives
  * it: an empty buffer, a per-row update, merge, the public blob, and the
  * form partial buffers take across the shuffle. A kind checks its
  * parameters when it is constructed, which is when the aggregate is
  * built: a bad `p` or `eps` fails the plan, not a task. */
abstract class SketchKind[B <: AnyRef] extends Product with Serializable {
  def prettyName: String
  def empty(): B
  /** Adds one non-null input `v`; `w` is the second input's value (the
    * weight) for two-input kinds, else null. */
  def update(buf: B, v: Any, w: Any): B
  def merge(a: B, b: B): B
  /** The public dense blob: eval output, and merge-mode input. */
  def toBytes(buf: B): Array[Byte]
  def serialize(buf: B): Array[Byte] = toBytes(buf)
  /** Inverse of [[serialize]]; also reads [[toBytes]] blobs. */
  def deserialize(bytes: Array[Byte]): B
}

/** HLL, Bloom and count-min: byte-array buffers fed pre-hashed LONGs, or an
  * ARRAY<LONG> hash set per row (e.g. per-turn shingles — avoids an explode
  * that would break one-pass multi-sketch aggregation). Partials cross the
  * shuffle in each kernel's sparse wire form; eval output stays dense. */
sealed abstract class HashSketch extends SketchKind[Array[Byte]] {
  protected def add(buf: Array[Byte], hash: Long): Unit
  final def update(buf: Array[Byte], v: Any, w: Any): Array[Byte] = {
    v match {
      case arr: ArrayData =>
        var i = 0
        val n = arr.numElements()
        while (i < n) { add(buf, arr.getLong(i)); i += 1 }
      case hash => add(buf, hash.asInstanceOf[Long])
    }
    buf
  }
  final def toBytes(buf: Array[Byte]): Array[Byte] = buf
}

/** HyperLogLog distinct-cardinality sketch; p in [4,18]. */
final case class HllSketch(p: Int) extends HashSketch {
  Hll.check(p)
  def prettyName: String = "graft_hll_agg"
  def empty(): Array[Byte] = Hll.empty(p)
  protected def add(buf: Array[Byte], hash: Long): Unit = Hll.update(buf, hash)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  override def serialize(buf: Array[Byte]): Array[Byte] = Hll.toWire(buf)
  def deserialize(bytes: Array[Byte]): Array[Byte] = Hll.fromWire(bytes)
}

/** Partitioned Bloom filter sized from (expectedItems, fpp). */
final case class BloomSketch(expectedItems: Long, fpp: Double, seed: Long)
    extends HashSketch {
  Bloom.check(expectedItems, fpp)
  def prettyName: String = "graft_bloom_agg"
  def empty(): Array[Byte] = Bloom.empty(expectedItems, fpp, seed)
  protected def add(buf: Array[Byte], hash: Long): Unit = Bloom.update(buf, hash)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Bloom.merge(a, b)
  override def serialize(buf: Array[Byte]): Array[Byte] = Bloom.toWire(buf)
  def deserialize(bytes: Array[Byte]): Array[Byte] = Bloom.fromWire(bytes)
}

/** Count-min sketch with eps–delta sizing. Partial buffers are ~99.9% zeros
  * at small key cardinalities and ~1 MB dense, so they ship sparse
  * (CountMin.toWire; never lossy, dense fallback when saturated). */
final case class CmsSketch(eps: Double, delta: Double, seed: Long)
    extends HashSketch {
  CountMin.dims(eps, delta)
  def prettyName: String = "graft_cms_agg"
  def empty(): Array[Byte] = CountMin.empty(eps, delta, seed)
  protected def add(buf: Array[Byte], hash: Long): Unit =
    CountMin.update(buf, hash, 1L)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = CountMin.merge(a, b)
  override def serialize(buf: Array[Byte]): Array[Byte] = CountMin.toWire(buf)
  def deserialize(bytes: Array[Byte]): Array[Byte] = CountMin.fromWire(bytes)
}

/** KLL quantile sketch over DOUBLE values. */
final case class KllSketch(k: Int) extends SketchKind[Kll] {
  Kll.check(k)
  def prettyName: String = "graft_kll_agg"
  def empty(): Kll = Kll.empty(k)
  def update(buf: Kll, v: Any, w: Any): Kll = {
    buf.update(v.asInstanceOf[Double]); buf
  }
  def merge(a: Kll, b: Kll): Kll = a.merge(b)
  def toBytes(buf: Kll): Array[Byte] = buf.toBytes
  def deserialize(bytes: Array[Byte]): Kll = Kll.fromBytes(bytes)
}

/** Merging t-digest over DOUBLE values. */
final case class TDigestSketch(delta: Double) extends SketchKind[TDigest] {
  TDigest.check(delta)
  def prettyName: String = "graft_tdigest_agg"
  def empty(): TDigest = TDigest.empty(delta)
  def update(buf: TDigest, v: Any, w: Any): TDigest = {
    buf.update(v.asInstanceOf[Double]); buf
  }
  def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)
  def toBytes(buf: TDigest): Array[Byte] = buf.toBytes
  def deserialize(bytes: Array[Byte]): TDigest = TDigest.fromBytes(bytes)
}

/** Misra–Gries/SpaceSaving heavy hitters over STRING keys. Unlike the
  * hash-consuming sketches it stores the KEYS themselves — enumeration
  * (`topk_items`) is the point. */
sealed abstract class SpaceSavingSketch(capacity: Int)
    extends SketchKind[SpaceSaving] {
  SpaceSaving.check(capacity)
  final def empty(): SpaceSaving = SpaceSaving.empty(capacity)
  final def merge(a: SpaceSaving, b: SpaceSaving): SpaceSaving = a.merge(b)
  final def toBytes(buf: SpaceSaving): Array[Byte] = buf.toBytes
  final def deserialize(bytes: Array[Byte]): SpaceSaving =
    SpaceSaving.fromBytes(bytes)
}

final case class TopKSketch(capacity: Int)
    extends SpaceSavingSketch(capacity) {
  def prettyName: String = "graft_topk_agg"
  def update(buf: SpaceSaving, v: Any, w: Any): SpaceSaving = {
    buf.update(v.asInstanceOf[UTF8String].toString); buf
  }
}

/** Weighted SpaceSaving: each row adds `weight` (a positive LONG — token
  * counts, bytes, revenue cents) to its key instead of 1, so the summary
  * enumerates the keys carrying the most MASS. The Misra–Gries bounds hold
  * verbatim with N = total weight W. Rows with null or non-positive weight
  * are ignored (a negative increment would break the no-overcount
  * certificate). */
final case class TopKWeightedSketch(capacity: Int)
    extends SpaceSavingSketch(capacity) {
  def prettyName: String = "graft_topk_weighted_agg"
  def update(buf: SpaceSaving, v: Any, w: Any): SpaceSaving = {
    if (w != null && w.asInstanceOf[Long] > 0L)
      buf.update(v.asInstanceOf[UTF8String].toString, w.asInstanceOf[Long])
    buf
  }
}

/** Every graft sketch aggregate: one Catalyst TypedImperativeAggregate
  * driven by its [[SketchKind]]. Inputs are the kind's values (hashes,
  * doubles, keys, and a weight), or with `mergeInput` the BINARY blobs
  * built earlier — so partial sketches persisted per partition re-merge
  * without touching raw rows. Rows whose first input is null are skipped.
  *
  * Partial/PartialMerge/Final handling is inherited from Spark: map-side
  * partial sketches are built per task and only byte blobs cross the
  * shuffle — the plan stays O(groups * sketch_size) regardless of row
  * count. */
case class SketchAgg[B <: AnyRef](
    kind: SketchKind[B],
    mergeInput: Boolean,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] {
  @transient private lazy val item = children.head
  @transient private lazy val weight = children.lift(1).orNull

  override def prettyName: String = kind.prettyName
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): B = kind.empty()
  override def update(buf: B, row: InternalRow): B = {
    val v = item.eval(row)
    if (v == null) buf
    else if (mergeInput)
      kind.merge(buf, kind.deserialize(v.asInstanceOf[Array[Byte]]))
    else kind.update(buf, v, if (weight == null) null else weight.eval(row))
  }
  override def merge(a: B, b: B): B = kind.merge(a, b)
  override def eval(buf: B): Any = kind.toBytes(buf)
  // serialize/deserialize cross ONLY the shuffle boundary
  override def serialize(buf: B): Array[Byte] = kind.serialize(buf)
  override def deserialize(bytes: Array[Byte]): B = kind.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): SketchAgg[B] = copy(children = cs)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ kind.productIterator ++
      Iterator(mergeInput, mutableAggBufferOffset, inputAggBufferOffset)
}
