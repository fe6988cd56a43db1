package graft

import graft.agg._
import graft.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumns, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Function table + Column facade for the graft sketch engine.
  *
  * Every graft SQL function is one row of [[table]]: its name, its literal
  * parameters and their types, and its kernel (a static method and its
  * result type) or its sketch kind. `register`, `injectInto` and the facade
  * all derive from the table; all functions land in the session's
  * FunctionRegistry so they work from SQL and via `call_function` — which
  * keeps the whole pipeline inside Catalyst (codegen'd expressions, partial
  * aggregation) rather than opaque Scala UDFs.
  *
  * User columns are hashed with the built-in codegen'd `xxhash64` before
  * they reach a sketch aggregate, so every aggregate consumes LONG hashes
  * (reference analogue: everything downstream of the tokenizers operates on
  * 64-bit hash sets, /root/reference/src/hixf/build/compute_hashes.cpp).
  */
object GraftFunctions {
  val DefaultSeed: Long = TextOps.DefaultSeed

  /** The static method `obj.method` a scalar function calls, and its
    * result type. */
  final case class Kernel(obj: AnyRef, method: String, dataType: DataType)

  /** One row of the table. A call's arguments are the column inputs
    * followed by one literal per `params` entry; those become node fields
    * (never children) before `node` builds the expression. */
  private final case class Fn(name: String, params: Seq[(String, DataType)],
      kernel: Option[Kernel], node: (Seq[Expression], Seq[Any]) => Expression)

  private def scalar(name: String, obj: AnyRef, method: String,
      dataType: DataType, params: (String, DataType)*): Fn =
    Fn(name, params, Some(Kernel(obj, method, dataType)), GraftScalar(name, _, _))

  /** A sketch aggregate and, if `merge` names one, its twin over BINARY
    * blobs; both build the kind from the same params. */
  private def sketch(name: String, merge: Option[String],
      params: (String, DataType)*)(kind: Seq[Any] => SketchKind[_ <: AnyRef])
      : Seq[Fn] =
    (Seq(name -> false) ++ merge.map(_ -> true)).map { case (n, m) =>
      Fn(n, params, None, (cs, ps) => SketchAgg(kind(ps), m, cs))
    }

  private val Hashes = ArrayType(LongType, containsNull = false)

  private val table: Seq[Fn] = Seq(
    scalar("graft_shingles", TextOps, "shingleHashes", Hashes,
      "k" -> IntegerType, "seed" -> LongType, "scale" -> LongType),
    scalar("graft_minimizers", TextOps, "minimizerHashes", Hashes,
      "k" -> IntegerType, "w" -> IntegerType, "seed" -> LongType),
    scalar("graft_scaled_ghs", TextOps, "scaledGramHexes",
      ArrayType(StringType, containsNull = false),
      "k" -> IntegerType, "scaleHex" -> StringType, "seed" -> StringType),
    scalar("graft_syncmers", TextOps, "syncmerHashes", Hashes,
      "k" -> IntegerType, "s" -> IntegerType, "t" -> IntegerType,
      "seed" -> LongType),
    scalar("graft_token_count", TextOps, "tokenCount", LongType),
    scalar("graft_fingerprint", TextOps, "fingerprint", LongType),
    scalar("graft_minhash", DedupOps, "minhashSignature", Hashes,
      "numPerms" -> IntegerType, "seed" -> LongType),
    scalar("graft_simhash", DedupOps, "simhash64", LongType),
    scalar("graft_srp_buckets", DedupOps, "srpBuckets", Hashes,
      "tables" -> IntegerType, "bits" -> IntegerType, "seed" -> LongType),
    scalar("graft_vec_cosine", VecOps, "cosineF", DoubleType),
    scalar("graft_vec_dot", VecOps, "dotF", DoubleType),
    scalar("graft_quantize8", VecOps, "quantize8", BinaryType),
    scalar("graft_vec_cosine_q8", VecOps, "cosineQ8", DoubleType),
    // the centroid matrix arrives as a foldable array<array<float>> literal
    // (collected, tiny) and is folded once at plan time
    Fn("graft_nearest_centroids", Seq("centroids" -> ArrayType(
      ArrayType(FloatType)), "m" -> IntegerType), None, (cs, ps) => {
      val ad = ps.head.asInstanceOf[ArrayData]
      NearestCentroids(cs.head, Array.tabulate(ad.numElements())(i =>
        ad.getArray(i).toFloatArray()), ps(1).asInstanceOf[Int])
    }),
    scalar("graft_hll_estimate", SketchOps, "hllEstimate", DoubleType),
    scalar("graft_hll_union_estimate", SketchOps, "hllUnionEstimate",
      DoubleType),
    scalar("graft_topk_items", SketchOps, "topkItems",
      ArrayType(StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("est", LongType, nullable = false))), containsNull = false),
      "k" -> IntegerType),
    scalar("graft_topk_total", SketchOps, "topkTotal", LongType),
    scalar("graft_topk_dec", SketchOps, "topkDec", LongType),
    scalar("graft_topk_estimate", SketchOps, "topkEstimate", LongType),
    scalar("graft_bloom_contains", SketchOps, "bloomContains", BooleanType),
    scalar("graft_bloom_count_contained", SketchOps, "bloomCountContained",
      LongType),
    scalar("graft_bloom_fpp", SketchOps, "bloomFpp", DoubleType),
    scalar("graft_bloom_items_estimate", graft.sketch.Bloom, "estimateItems",
      DoubleType),
    scalar("graft_ixf_count_contained", SketchOps, "ixfCountContained",
      Hashes),
    scalar("graft_cms_estimate", SketchOps, "cmsEstimate", LongType),
    scalar("graft_cms_total", SketchOps, "cmsTotal", LongType),
    scalar("graft_kll_quantile", SketchOps, "kllQuantile", DoubleType),
    scalar("graft_kll_rank", SketchOps, "kllRank", DoubleType),
    scalar("graft_kll_ks", SketchOps, "kllKs", DoubleType),
    scalar("graft_kll_n", SketchOps, "kllCount", LongType),
    scalar("graft_tdigest_quantile", SketchOps, "tdigestQuantile", DoubleType),
    scalar("graft_tdigest_cdf", SketchOps, "tdigestCdf", DoubleType)) ++
    sketch("graft_hll_agg", Some("graft_hll_merge_agg"), "p" -> IntegerType) {
      case Seq(p: Int) => HllSketch(p)
    } ++
    sketch("graft_bloom_agg", Some("graft_bloom_merge_agg"),
      "items" -> LongType, "fpp" -> DoubleType, "seed" -> LongType) {
      case Seq(items: Long, fpp: Double, seed: Long) =>
        BloomSketch(items, fpp, seed)
    } ++
    sketch("graft_cms_agg", Some("graft_cms_merge_agg"),
      "eps" -> DoubleType, "delta" -> DoubleType, "seed" -> LongType) {
      case Seq(eps: Double, delta: Double, seed: Long) =>
        CmsSketch(eps, delta, seed)
    } ++
    sketch("graft_kll_agg", Some("graft_kll_merge_agg"), "k" -> IntegerType) {
      case Seq(k: Int) => KllSketch(k)
    } ++
    sketch("graft_tdigest_agg", Some("graft_tdigest_merge_agg"),
      "delta" -> DoubleType) { case Seq(delta: Double) => TDigestSketch(delta) } ++
    sketch("graft_topk_agg", Some("graft_topk_merge_agg"),
      "capacity" -> IntegerType) { case Seq(c: Int) => TopKSketch(c) } ++
    sketch("graft_topk_weighted_agg", None, "capacity" -> IntegerType) {
      case Seq(c: Int) => TopKWeightedSketch(c)
    }

  private val byName: Map[String, Fn] = {
    val m = table.map(f => f.name -> f).toMap
    require(m.size == table.size, "graft function names must be unique")
    m
  }

  /** The kernel of scalar function `name` (see [[GraftScalar]]). */
  def kernel(name: String): Kernel = byName(name).kernel.get

  /** A literal argument as its parameter's Scala type. */
  private def literal(e: Expression, param: (String, DataType)): Any = {
    val (name, t) = param
    require(e.foldable, s"graft function argument '$name' must be a literal")
    (t, e.eval()) match {
      case (IntegerType, i: Int) => i
      case (IntegerType, l: Long) => l.toInt
      case (LongType, i: Int) => i.toLong
      case (LongType, l: Long) => l
      case (DoubleType, d: Decimal) => d.toDouble
      case (DoubleType, n: java.lang.Number) => n.doubleValue
      case (StringType, s) if s != null => s.toString
      case (_: ArrayType, a: ArrayData) => a
      case (_, o) => throw new IllegalArgumentException(
        s"$name: expected ${t.simpleString}, got $o")
    }
  }

  private def build(fn: Fn)(es: Seq[Expression]): Expression = {
    val (inputs, literals) = es.splitAt(es.length - fn.params.length)
    require(inputs.nonEmpty, s"${fn.name}: too few arguments")
    fn.node(inputs, literals.zip(fn.params).map { case (e, p) => literal(e, p) })
  }

  /** Idempotent; call once per session before using the facade. */
  def register(spark: SparkSession): Unit = table.foreach { fn =>
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(fn.name, build(fn), "built-in")
  }

  /** SparkSessionExtensions injection (see graft.GraftExtensions). */
  def injectInto(ext: SparkSessionExtensions): Unit = table.foreach { fn =>
    ext.injectFunction((FunctionIdentifier(fn.name),
      new ExpressionInfo("graft.GraftFunctions", fn.name), build(fn)))
  }

  /** A facade call: `name` must be a table row. */
  private def call(name: String, inputs: Column*): Column =
    call_function(byName(name).name, inputs: _*)

  // ---- Column facade ------------------------------------------------------

  /** Distinct k-shingle hashes of a text column; `scale` > 1 applies
    * FracMinHash downsampling (keep iff hash <= MAX/scale). */
  def shingles(c: Column, k: Int, scale: Long = 1L,
      seed: Long = DefaultSeed): Column =
    call("graft_shingles", c, lit(k), lit(seed), lit(scale))

  def minimizers(c: Column, k: Int, w: Int, seed: Long = DefaultSeed): Column =
    call("graft_minimizers", c, lit(k), lit(w), lit(seed))

  /** Distinct scaled md5-hex k-gram fingerprints (the engine-portable
    * FracMinHash twin; see Dedup.scaledFingerprints for the contract). */
  def scaled_ghs(c: Column, k: Int, scaleHex: String, seed: String): Column =
    call("graft_scaled_ghs", c, lit(k), lit(scaleHex), lit(seed))
  /** Open-syncmer k-gram hashes: keep a k-gram iff its minimal s-gram hash
    * sits at offset t (the reference's default tokenizer mode). */
  def syncmers(c: Column, k: Int, s: Int, t: Int,
      seed: Long = DefaultSeed): Column =
    call("graft_syncmers", c, lit(k), lit(s), lit(t), lit(seed))

  def token_count(c: Column): Column = call("graft_token_count", c)
  def fingerprint(c: Column): Column = call("graft_fingerprint", c)

  /** MinHash signature over a shingle-hash array column. */
  def minhash(hashes: Column, numPerms: Int = 128,
      seed: Long = DefaultSeed): Column =
    call("graft_minhash", hashes, lit(numPerms), lit(seed))
  def simhash(hashes: Column): Column = call("graft_simhash", hashes)
  /** Codegen'd cosine of two array<float> columns (double precision). */
  def vec_cosine(a: Column, b: Column): Column =
    call("graft_vec_cosine", a, b)
  def vec_dot(a: Column, b: Column): Column =
    call("graft_vec_dot", a, b)
  /** Int8 quantization of an array<float> embedding (4× smaller binary;
    * cosine-compatible — cosine is scale-invariant). */
  def quantize8(vec: Column): Column = call("graft_quantize8", vec)
  def vec_cosine_q8(a: Column, b: Column): Column =
    call("graft_vec_cosine_q8", a, b)
  def srp_buckets(vec: Column, tables: Int = 8, bits: Int = 12,
      seed: Long = DefaultSeed): Column =
    call("graft_srp_buckets", vec, lit(tables), lit(bits), lit(seed))
  /** Indices of the m nearest centroids (cosine desc, tie idx asc);
    * `centroids` must be a literal array<array<float>> column. */
  def nearest_centroids(vec: Column, centroids: Column, m: Int): Column =
    call("graft_nearest_centroids", vec, centroids, lit(m))

  /** HLL over any column (hashed internally with xxhash64). */
  def hll_agg(c: Column, p: Int = 14): Column =
    call("graft_hll_agg", xxhash64(c), lit(p))
  /** HLL over an already-hashed LONG column, or an ARRAY<LONG> of hashes
    * (per-row hash sets, e.g. shingles — keeps multi-sketch aggregation
    * one-pass with no explode). */
  def hll_agg_hashed(c: Column, p: Int): Column =
    call("graft_hll_agg", c, lit(p))
  def hll_merge_agg(c: Column, p: Int): Column =
    call("graft_hll_merge_agg", c, lit(p))
  def hll_estimate(c: Column): Column = call("graft_hll_estimate", c)
  /** Ertl estimate of |A ∪ B| from two HLL sketch columns; |A ∩ B| follows
    * by inclusion–exclusion (estimate(a)+estimate(b)-union). */
  def hll_union_estimate(a: Column, b: Column): Column =
    call("graft_hll_union_estimate", a, b)

  /** Mergeable Misra–Gries/SpaceSaving heavy-hitter summary over a STRING
    * key column: `capacity` counters give the published eps = 1/(capacity+1)
    * guarantees (no overcount; undercount <= eps*N; every key with true
    * count > eps*N present). The one sketch family that ENUMERATES its keys
    * (`topk_items`) instead of answering point queries. */
  def topk_agg(c: Column, capacity: Int): Column =
    call("graft_topk_agg", c.cast("string"), lit(capacity))
  def topk_merge_agg(c: Column, capacity: Int): Column =
    call("graft_topk_merge_agg", c, lit(capacity))
  /** Weighted variant: each row adds `weight` (positive long — token
    * counts, bytes, cents) to its key; bounds hold with N = total weight.
    * Null/non-positive weights are ignored. */
  def topk_weighted_agg(c: Column, weight: Column, capacity: Int): Column =
    call("graft_topk_weighted_agg", c.cast("string"),
      weight.cast("long"), lit(capacity))
  /** Top-k entries as array<struct<item:string, est:long>>, est desc then
    * item asc. */
  def topk_items(sketch: Column, k: Int): Column =
    call("graft_topk_items", sketch, lit(k))
  def topk_total(sketch: Column): Column =
    call("graft_topk_total", sketch)
  /** Undercount certificate: true - est <= topk_dec <= N/(capacity+1). */
  def topk_dec(sketch: Column): Column = call("graft_topk_dec", sketch)
  def topk_estimate(sketch: Column, key: Column): Column =
    call("graft_topk_estimate", sketch, key.cast("string"))

  def bloom_agg_hashed(c: Column, items: Long, fpp: Double,
      seed: Long = DefaultSeed): Column =
    call("graft_bloom_agg", c, lit(items), lit(fpp), lit(seed))
  def bloom_agg(c: Column, items: Long, fpp: Double): Column =
    bloom_agg_hashed(xxhash64(c), items, fpp)
  def bloom_merge_agg(c: Column, items: Long, fpp: Double,
      seed: Long = DefaultSeed): Column =
    call("graft_bloom_merge_agg", c, lit(items), lit(fpp), lit(seed))
  def bloom_contains_hashed(sketch: Column, hash: Column): Column =
    call("graft_bloom_contains", sketch, hash)
  /** Measured routing boundary for scalar sketch blobs (SURVEY §9): below
    * it a binary Literal is optimal (probed in place from the codegen
    * references array, rides the task binary once); above it the Literal's
    * per-tree-compare re-hash and per-stage re-serialization dominate. */
  val LiteralMaxBytes: Int = 1 << 20
  /** Size-aware scalar-blob routing: blobs up to [[LiteralMaxBytes]] embed
    * as binary literals; larger ones travel as a TorrentBroadcast handle
    * held by the expression itself (a stub in the task binary; executors
    * fetch the blocks once, and ContextCleaner reclaims them when the plan
    * is unreferenced). */
  def bloom_contains_routed(
      spark: SparkSession, blob: Array[Byte], hash: Column): Column =
    if (blob.length <= LiteralMaxBytes) bloom_contains_hashed(lit(blob), hash)
    else GraftColumns.column(BloomContainsBcast(
      spark.sparkContext.broadcast(blob), GraftColumns.expression(hash)))
  def bloom_contains(sketch: Column, value: Column): Column =
    bloom_contains_hashed(sketch, xxhash64(value))
  def bloom_count_contained(sketch: Column, hashes: Column): Column =
    call("graft_bloom_count_contained", sketch, hashes)
  def bloom_fpp(sketch: Column): Column = call("graft_bloom_fpp", sketch)
  def bloom_items_estimate(sketch: Column): Column =
    call("graft_bloom_items_estimate", sketch)
  def ixf_count_contained(blob: Column, hashes: Column): Column =
    call("graft_ixf_count_contained", blob, hashes)
  /** [[ixf_count_contained]] against a broadcast interleaved blob. */
  def ixf_count_contained_bcast(
      blob: Broadcast[Array[Byte]], hashes: Column): Column =
    GraftColumns.column(
      IxfCountContainedBcast(blob, GraftColumns.expression(hashes)))

  def cms_agg(c: Column, eps: Double = 0.0001, delta: Double = 0.01,
      seed: Long = DefaultSeed): Column =
    call("graft_cms_agg", xxhash64(c), lit(eps), lit(delta), lit(seed))
  def cms_agg_hashed(c: Column, eps: Double, delta: Double,
      seed: Long = DefaultSeed): Column =
    call("graft_cms_agg", c, lit(eps), lit(delta), lit(seed))
  def cms_merge_agg(c: Column, eps: Double, delta: Double,
      seed: Long = DefaultSeed): Column =
    call("graft_cms_merge_agg", c, lit(eps), lit(delta), lit(seed))
  def cms_estimate(sketch: Column, value: Column): Column =
    call("graft_cms_estimate", sketch, xxhash64(value))
  def cms_estimate_hashed(sketch: Column, hash: Column): Column =
    call("graft_cms_estimate", sketch, hash)
  def cms_total(sketch: Column): Column = call("graft_cms_total", sketch)

  def kll_agg(c: Column, k: Int = 200): Column =
    call("graft_kll_agg", c.cast("double"), lit(k))
  def kll_merge_agg(c: Column, k: Int = 200): Column =
    call("graft_kll_merge_agg", c, lit(k))
  def kll_quantile(sketch: Column, q: Double): Column =
    call("graft_kll_quantile", sketch, lit(q))
  def kll_rank(sketch: Column, x: Column): Column =
    call("graft_kll_rank", sketch, x.cast("double"))
  def kll_ks(a: Column, b: Column): Column =
    call("graft_kll_ks", a, b)
  def kll_n(sketch: Column): Column = call("graft_kll_n", sketch)

  def tdigest_agg(c: Column, delta: Double = 100.0): Column =
    call("graft_tdigest_agg", c.cast("double"), lit(delta))
  def tdigest_merge_agg(c: Column, delta: Double = 100.0): Column =
    call("graft_tdigest_merge_agg", c, lit(delta))
  def tdigest_quantile(sketch: Column, q: Double): Column =
    call("graft_tdigest_quantile", sketch, lit(q))
  def tdigest_cdf(sketch: Column, x: Column): Column =
    call("graft_tdigest_cdf", sketch, x.cast("double"))
}
