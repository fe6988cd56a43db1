package graft.functions

import graft.sketch._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helpers invoked from generated code (static forwarders). */
object SketchOps {
  def hllEstimate(buf: Array[Byte]): Double = Hll.estimate(buf)
  def bloomContains(buf: Array[Byte], hash: Long): Boolean =
    Bloom.contains(buf, hash)
  def bloomFpp(buf: Array[Byte]): Double = Bloom.expectedFpp(buf)
  def cmsEstimate(buf: Array[Byte], hash: Long): Long =
    CountMin.estimate(buf, hash)
  def cmsTotal(buf: Array[Byte]): Long = CountMin.totalWeight(buf)
  def cmsEpsilon(buf: Array[Byte]): Double = CountMin.epsilon(buf)
  def kllQuantile(buf: Array[Byte], q: Double): Double =
    Kll.fromBytes(buf).quantile(q)
  def kllRank(buf: Array[Byte], x: Double): Double = Kll.fromBytes(buf).rank(x)
  def kllCount(buf: Array[Byte]): Long = Kll.fromBytes(buf).n
  def kllKs(a: Array[Byte], b: Array[Byte]): Double =
    Kll.ksDistance(Kll.fromBytes(a), Kll.fromBytes(b))
  def tdigestQuantile(buf: Array[Byte], q: Double): Double =
    TDigest.fromBytes(buf).quantile(q)
  def tdigestCdf(buf: Array[Byte], x: Double): Double =
    TDigest.fromBytes(buf).cdf(x)
  /** Ertl estimate of |A ∪ B| from two HLL sketches: register-wise max into
    * a copy (never mutates an input — Catalyst may re-evaluate it), then the
    * usual estimator. |A ∩ B| follows by inclusion–exclusion — the planning
    * primitive the reference's layout search uses
    * (/root/reference/src/main/taxor_build.cpp:470-473, chopper's
    * estimate_union). */
  def hllUnionEstimate(a: Array[Byte], b: Array[Byte]): Double =
    Hll.estimate(Hll.merge(a.clone(), b))
  def topkTotal(buf: Array[Byte]): Long = SpaceSaving.fromBytes(buf).n
  def topkDec(buf: Array[Byte]): Long = SpaceSaving.fromBytes(buf).dec
  def topkEstimate(buf: Array[Byte], key: UTF8String): Long =
    SpaceSaving.fromBytes(buf).estimate(key.toString)
  /** Top-k entries of a SpaceSaving sketch as array<struct<item,est>>,
    * count desc then item asc. */
  def topkItems(buf: Array[Byte], k: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val rows = SpaceSaving.fromBytes(buf).topK(k).map { case (item, est) =>
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(item), est)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }
  /** Count how many of `hashes` are contained in the Bloom filter — the
    * analogue of the reference's interleaved bulk count
    * (/root/reference/src/hixf/build/hierarchical_interleaved_xor_filter.hpp:
    * 307-334): one pass over a query's hash set against one group's filter.
    */
  def bloomCountContained(
      buf: Array[Byte], hashes: org.apache.spark.sql.catalyst.util.ArrayData)
      : Long = {
    var c = 0L
    var i = 0
    val n = hashes.numElements()
    while (i < n) {
      if (Bloom.contains(buf, hashes.getLong(i))) c += 1
      i += 1
    }
    c
  }
}

/** Distinct byte-k-gram hashes of a text column (see TextOps.shingleHashes). */
case class ShingleHashes(child: Expression, k: Int, seed: Long, scale: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.shingleHashes(v.asInstanceOf[UTF8String], k, seed, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.shingleHashes($c, $k, ${seed}L, ${scale}L)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
  override def prettyName: String = "graft_shingles"
}

/** Distinct scaled md5-hex k-gram fingerprints of a text column (see
  * TextOps.scaledGramHexes — the fused codegen'd twin of the
  * explode/md5/threshold/distinct Column chain in Dedup.scaledFingerprints). */
case class ScaledGramHexes(child: Expression, k: Int, scaleHex: String,
    seed: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.scaledGramHexes(v.asInstanceOf[UTF8String], k,
      UTF8String.fromString(scaleHex), UTF8String.fromString(seed))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scaleRef = ctx.addReferenceObj("scaleHex",
      UTF8String.fromString(scaleHex), classOf[UTF8String].getName)
    val seedRef = ctx.addReferenceObj("seedStr",
      UTF8String.fromString(seed), classOf[UTF8String].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.scaledGramHexes($c, $k, $scaleRef, $seedRef)")
  }
  override protected def withNewChildInternal(c: Expression): ScaledGramHexes =
    copy(child = c)
  override def prettyName: String = "graft_scaled_ghs"
}

/** Deduplicated minimizer hashes over windows of w consecutive k-grams. */
case class MinimizerHashes(child: Expression, k: Int, w: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.minimizerHashes(v.asInstanceOf[UTF8String], k, w, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.minimizerHashes($c, $k, $w, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): MinimizerHashes =
    copy(child = c)
  override def prettyName: String = "graft_minimizers"
}

/** Open-syncmer k-gram hashes (s-gram minimum at offset t); see
  * TextOps.syncmerHashes. */
case class SyncmerHashes(child: Expression, k: Int, s: Int, t: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.syncmerHashes(v.asInstanceOf[UTF8String], k, s, t, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextOps.syncmerHashes($c, $k, $s, $t, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): SyncmerHashes =
    copy(child = c)
  override def prettyName: String = "graft_syncmers"
}

case class TokenCount(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextOps.tokenCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.tokenCount($c)")
  override protected def withNewChildInternal(c: Expression): TokenCount =
    copy(child = c)
  override def prettyName: String = "graft_token_count"
}

case class Fingerprint(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextOps.fingerprint(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.fingerprint($c)")
  override protected def withNewChildInternal(c: Expression): Fingerprint =
    copy(child = c)
  override def prettyName: String = "graft_fingerprint"
}

case class HllEstimate(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    SketchOps.hllEstimate(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.hllEstimate($c)")
  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(child = c)
  override def prettyName: String = "graft_hll_estimate"
}

/** Scalar |A ∪ B| estimate from two HLL sketch columns (see
  * SketchOps.hllUnionEstimate). */
case class HllUnionEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchOps.hllUnionEstimate(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchOps.hllUnionEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HllUnionEstimate = copy(left = l, right = r)
  override def prettyName: String = "graft_hll_union_estimate"
}

/** Top-k entries of a SpaceSaving sketch, count desc then item asc. */
case class TopKItems(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    SketchOps.topkItems(v.asInstanceOf[Array[Byte]], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.topkItems($c, $k)")
  override protected def withNewChildInternal(c: Expression): TopKItems =
    copy(child = c)
  override def prettyName: String = "graft_topk_items"
}

/** Total weight N seen by a SpaceSaving sketch. */
case class TopKTotal(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SketchOps.topkTotal(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.topkTotal($c)")
  override protected def withNewChildInternal(c: Expression): TopKTotal =
    copy(child = c)
  override def prettyName: String = "graft_topk_total"
}

/** Cumulative pruned decrement — the undercount certificate
  * (true - est <= dec <= N/(capacity+1)). */
case class TopKDec(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SketchOps.topkDec(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.topkDec($c)")
  override protected def withNewChildInternal(c: Expression): TopKDec =
    copy(child = c)
  override def prettyName: String = "graft_topk_dec"
}

/** Stored count of `key` in a SpaceSaving sketch (0 when absent). */
case class TopKEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, key: Any): Any =
    SketchOps.topkEstimate(
      sketch.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, k) => s"graft.functions.SketchOps.topkEstimate($s, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TopKEstimate = copy(left = l, right = r)
  override def prettyName: String = "graft_topk_estimate"
}

case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(sketch: Any, hash: Any): Any =
    SketchOps.bloomContains(
      sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, h) => s"graft.functions.SketchOps.bloomContains($s, $h)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BloomContains = copy(left = l, right = r)
  override def prettyName: String = "graft_bloom_contains"
}

/** Count of query hashes contained in a group's Bloom filter. */
case class BloomCountContained(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, hashes: Any): Any =
    SketchOps.bloomCountContained(
      sketch.asInstanceOf[Array[Byte]],
      hashes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, h) => s"graft.functions.SketchOps.bloomCountContained($s, $h)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BloomCountContained =
    copy(left = l, right = r)
  override def prettyName: String = "graft_bloom_count_contained"
}

case class BloomFpp(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    SketchOps.bloomFpp(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.bloomFpp($c)")
  override protected def withNewChildInternal(c: Expression): BloomFpp =
    copy(child = c)
  override def prettyName: String = "graft_bloom_fpp"
}

/** Interleaved bulk count: per-bin contained-hash counts from ONE pass of
  * a query's hash set over an interleaved multi-bin Bloom blob (see
  * sketch.Interleaved — the reference's counting bulk_count port). */
case class IxfCountContained(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(blob: Any, hashes: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.sketch.Interleaved.countContained(
        blob.asInstanceOf[Array[Byte]],
        hashes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, h) =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.sketch.Interleaved.countContained($b, $h))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IxfCountContained =
    copy(left = l, right = r)
  override def prettyName: String = "graft_ixf_count_contained"
}

/** Bloom membership probe against a broadcast filter blob — the large-blob
  * twin of [[BloomContains]] (see GraftFunctions.LiteralMaxBytes for the
  * measured literal-vs-broadcast routing boundary). The expression holds
  * the Broadcast handle itself, so it is built as a Column through
  * org.apache.spark.sql.GraftColumns rather than by name.
  *
  * Both eval paths resolve `Broadcast.value()` ONCE per instance, never
  * per row: `TorrentBroadcast.getValue` is synchronized, so a per-row call
  * would serialize every task thread on one shared monitor — precisely on
  * the hot per-row probe the broadcast route exists to make cheap. Codegen
  * caches the dense byte[] in a generated-class field populated at
  * instance init; interpreted eval uses a per-task lazy val. */
case class BloomContainsBcast(
    blob: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression {
  @transient private lazy val bytes: Array[Byte] = blob.value
  override def dataType: DataType = BooleanType
  override def nullSafeEval(hash: Any): Any =
    Bloom.contains(bytes, hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBlob", blob,
      "org.apache.spark.broadcast.Broadcast")
    val cached = ctx.addMutableState("byte[]", "bloomBlobBytes",
      v => s"$v = (byte[]) $ref.value();")
    defineCodeGen(ctx, ev, h =>
      s"graft.functions.SketchOps.bloomContains($cached, $h)")
  }
  override protected def withNewChildInternal(c: Expression): BloomContainsBcast =
    copy(child = c)
  override def prettyName: String = "graft_bloom_contains_bcast"
}

/** Bulk count against a broadcast interleaved blob — built and resolved
  * like [[BloomContainsBcast]]: Broadcast.value once per instance, since
  * getValue is synchronized and must stay off the per-row path. */
case class IxfCountContainedBcast(
    blob: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression {
  @transient private lazy val bytes: Array[Byte] = blob.value
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(hashes: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.sketch.Interleaved.countContained(bytes,
        hashes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ixfBlob", blob,
      "org.apache.spark.broadcast.Broadcast")
    val cached = ctx.addMutableState("byte[]", "ixfBlobBytes",
      v => s"$v = (byte[]) $ref.value();")
    defineCodeGen(ctx, ev, h =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.sketch.Interleaved.countContained($cached, $h))")
  }
  override protected def withNewChildInternal(c: Expression): IxfCountContainedBcast =
    copy(child = c)
  override def prettyName: String = "graft_ixf_count_contained_bcast"
}

/** Swamidass–Baldi distinct-item estimate from a Bloom blob's slice fill
  * (see Bloom.estimateItems) — the load signal for coarse-layout planning. */
case class BloomItemsEstimate(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    graft.sketch.Bloom.estimateItems(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sketch.Bloom.estimateItems($c)")
  override protected def withNewChildInternal(c: Expression): BloomItemsEstimate =
    copy(child = c)
  override def prettyName: String = "graft_bloom_items_estimate"
}

case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, hash: Any): Any =
    SketchOps.cmsEstimate(
      sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, h) => s"graft.functions.SketchOps.cmsEstimate($s, $h)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsEstimate = copy(left = l, right = r)
  override def prettyName: String = "graft_cms_estimate"
}

case class CmsTotal(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SketchOps.cmsTotal(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.cmsTotal($c)")
  override protected def withNewChildInternal(c: Expression): CmsTotal =
    copy(child = c)
  override def prettyName: String = "graft_cms_total"
}

case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sketch: Any, q: Any): Any =
    SketchOps.kllQuantile(
      sketch.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, q) => s"graft.functions.SketchOps.kllQuantile($s, $q)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KllQuantile = copy(left = l, right = r)
  override def prettyName: String = "graft_kll_quantile"
}

/** Exact update count carried by a KLL blob (n is tracked exactly even
  * though ranks are approximate) — lets a windowed-sketch consumer assert
  * the window saw precisely the expected rows without a second aggregate. */
case class KllN(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SketchOps.kllCount(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.kllCount($c)")
  override protected def withNewChildInternal(c: Expression): KllN =
    copy(child = c)
  override def prettyName: String = "graft_kll_n"
}

/** Two-sample KS distance between two KLL blobs (see Kll.ksDistance) —
  * row-local, so a streaming per-window sketch can compare itself to a
  * frozen reference blob at emit time with no extra state. */
case class KllKs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchOps.kllKs(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchOps.kllKs($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KllKs = copy(left = l, right = r)
  override def prettyName: String = "graft_kll_ks"
}

case class KllRank(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sketch: Any, x: Any): Any =
    SketchOps.kllRank(sketch.asInstanceOf[Array[Byte]], x.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, x) => s"graft.functions.SketchOps.kllRank($s, $x)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KllRank = copy(left = l, right = r)
  override def prettyName: String = "graft_kll_rank"
}

case class TDigestQuantile(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sketch: Any, q: Any): Any =
    SketchOps.tdigestQuantile(
      sketch.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, q) => s"graft.functions.SketchOps.tdigestQuantile($s, $q)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TDigestQuantile = copy(left = l, right = r)
  override def prettyName: String = "graft_tdigest_quantile"
}

case class TDigestCdf(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sketch: Any, x: Any): Any =
    SketchOps.tdigestCdf(
      sketch.asInstanceOf[Array[Byte]], x.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, x) => s"graft.functions.SketchOps.tdigestCdf($s, $x)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TDigestCdf = copy(left = l, right = r)
  override def prettyName: String = "graft_tdigest_cdf"
}
