package graft.functions

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
  def topkItems(buf: Array[Byte], k: Int): ArrayData = {
    val rows = SpaceSaving.fromBytes(buf).topK(k).map { case (item, est) =>
      InternalRow(UTF8String.fromString(item), est)
    }
    new GenericArrayData(rows.toArray)
  }
  /** Count how many of `hashes` are contained in the Bloom filter — the
    * analogue of the reference's interleaved bulk count
    * (/root/reference/src/hixf/build/hierarchical_interleaved_xor_filter.hpp:
    * 307-334): one pass over a query's hash set against one group's filter.
    */
  def bloomCountContained(buf: Array[Byte], hashes: ArrayData): Long = {
    var c = 0L
    var i = 0
    val n = hashes.numElements()
    while (i < n) {
      if (Bloom.contains(buf, hashes.getLong(i))) c += 1
      i += 1
    }
    c
  }
  /** Per-bin contained-hash counts of one query hash set against an
    * interleaved multi-bin Bloom blob (see sketch.Interleaved). */
  def ixfCountContained(buf: Array[Byte], hashes: ArrayData): ArrayData =
    new GenericArrayData(Interleaved.countContained(buf, hashes))
}

/** Every graft scalar function that calls one static kernel method
  * (`GraftFunctions` holds the table of name -> kernel): a null-safe call
  * `kernel(inputs..., params...)` named `name` in SQL and plans. `params`
  * are the literal arguments (k, seed, scale, ...): node fields, not
  * children, so `sql` and auto column names show the inputs only. Both eval
  * paths are Spark's own StaticInvoke of the kernel, built once per node,
  * so interpreted eval resolves the kernel Method once, not per row. */
case class GraftScalar(name: String, children: Seq[Expression], params: Seq[Any])
    extends Expression {
  @transient private lazy val call: StaticInvoke =
    StaticInvoke(kernel.obj.getClass, kernel.dataType, kernel.method,
      children ++ params.map(Literal(_)), returnNullable = false)
  private def kernel = graft.GraftFunctions.kernel(name)
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  // StaticInvoke reuses an argument array across rows: interpreted
  // evaluators take a fresh copy of the node per use
  override def stateful: Boolean = true
  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.doGenCode(ctx, ev)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): GraftScalar = copy(children = cs)
}

/** Bloom membership probe against a broadcast filter blob — the large-blob
  * twin of `graft_bloom_contains` (see GraftFunctions.LiteralMaxBytes for the
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
    SketchOps.ixfCountContained(bytes, hashes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ixfBlob", blob,
      "org.apache.spark.broadcast.Broadcast")
    val cached = ctx.addMutableState("byte[]", "ixfBlobBytes",
      v => s"$v = (byte[]) $ref.value();")
    defineCodeGen(ctx, ev, h =>
      s"graft.functions.SketchOps.ixfCountContained($cached, $h)")
  }
  override protected def withNewChildInternal(c: Expression): IxfCountContainedBcast =
    copy(child = c)
  override def prettyName: String = "graft_ixf_count_contained_bcast"
}
