package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector math runtime (static forwarders for generated code).
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback — interpreted per row with closure allocation, which
  * made brute-force cosine scans ~50x slower than necessary. These
  * expressions run one fused primitive loop under whole-stage codegen.
  */
object VecOps {
  /** Cosine similarity over two float vectors, accumulated in double,
    * strictly left-to-right: dot / (sqrt(na) * sqrt(nb)) — the exact
    * formula the DuckDB oracle parity was validated against. Zero-norm
    * vectors return 0.0 (not NaN — NaN sorts above every real similarity
    * in Spark, which would rank a zero/padding embedding as everyone's
    * nearest neighbour). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i); i += 1 }
    dot
  }

  /** Cosine of an ArrayData float vector vs a plain float[] (centroid). */
  def cosineFA(a: ArrayData, b: Array[Float]): Double = {
    val n = math.min(a.numElements(), b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Symmetric per-vector int8 quantization: q_i = round(127 · x_i / max|x|)
    * — 4× smaller than float32. Cosine is scale-invariant, so quantized
    * cosine needs NO dequantization or stored scale. All-zero vectors map
    * to all-zero bytes (cosineQ8 then returns 0, mirroring cosineF). */
  def quantize8(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    var mx = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i)); if (a > mx) mx = a; i += 1
    }
    if (mx == 0.0f) return out
    val s = 127.0f / mx
    i = 0
    while (i < n) {
      out(i) = math.round(v.getFloat(i) * s).toByte
      i += 1
    }
    out
  }

  /** Cosine over two int8-quantized vectors: integer multiply-accumulate
    * (exact in Long for any realistic dims), one sqrt at the end. */
  def cosineQ8(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toLong
      val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Indices of the `m` nearest centroids by cosine (desc, tie idx asc).
    * The centroid matrix is a broadcast-style constant reference in the
    * generated code — per-row cost is one fused dot-product sweep, no join,
    * no shuffle (the scale fix for IVF cell assignment). */
  def nearestCentroids(
      v: ArrayData, cents: Array[Array[Float]], m: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = cents.length
    val sims = new Array[Double](n)
    var c = 0
    while (c < n) {
      val s = cosineFA(v, cents(c))
      // NaN (non-finite input) ranks BELOW every finite sim — without this
      // a NaN is sticky under `>` comparisons and would win every sweep
      sims(c) = if (s != s) Double.NegativeInfinity else s
      c += 1
    }
    val outLen = math.min(m, n)
    val out = new Array[Int](outLen)
    val used = new Array[Boolean](n)
    var o = 0
    while (o < outLen) {
      var best = -1
      var bs = Double.NegativeInfinity
      c = 0
      while (c < n) {
        // `best == -1 ||` keeps the sweep total when every sim is -Inf
        // (all-NaN input row): degrade to index order instead of crashing
        if (!used(c) && (best == -1 || sims(c) > bs)) { bs = sims(c); best = c }
        c += 1
      }
      used(best) = true
      out(o) = best
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Top-`m` nearest-centroid indices of an array<float> column against a
  * small constant centroid matrix (driver-collected, referenced as a
  * constant object in generated code). Replaces the corpus×centroids
  * crossJoin + per-id Window with a per-row codegen'd sweep. */
case class NearestCentroids(
    child: Expression, centroids: Array[Array[Float]], m: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VecOps.nearestCentroids(v.asInstanceOf[ArrayData], centroids, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecOps.nearestCentroids($c, $ref, $m)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroids =
    copy(child = c)
  override def prettyName: String = "graft_nearest_centroids"
}
