package graft

import graft.agg._
import graft.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Function registry + Column facade for the graft sketch engine.
  *
  * All functions are registered into the session's FunctionRegistry so they
  * work from SQL and via `call_function` — which keeps the whole pipeline
  * inside Catalyst (codegen'd expressions, partial aggregation) rather than
  * opaque Scala UDFs.
  *
  * User columns are hashed with the built-in codegen'd `xxhash64` before
  * they reach a sketch aggregate, so every aggregate consumes LONG hashes
  * (reference analogue: everything downstream of the tokenizers operates on
  * 64-bit hash sets, /root/reference/src/hixf/build/compute_hashes.cpp).
  */
object GraftFunctions {
  val DefaultSeed: Long = TextOps.DefaultSeed

  private def arg(e: Expression, name: String): Any = {
    require(e.foldable, s"graft function argument '$name' must be a literal")
    e.eval()
  }
  private def intArg(e: Expression, name: String): Int = arg(e, name) match {
    case i: Int => i
    case l: Long => l.toInt
    case o => throw new IllegalArgumentException(s"$name: expected int, got $o")
  }
  private def longArg(e: Expression, name: String): Long = arg(e, name) match {
    case i: Int => i.toLong
    case l: Long => l
    case o => throw new IllegalArgumentException(s"$name: expected long, got $o")
  }
  private def doubleArg(e: Expression, name: String): Double =
    arg(e, name) match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case o =>
        throw new IllegalArgumentException(s"$name: expected double, got $o")
    }

  private val builders: Map[String, Seq[Expression] => Expression] = Map(
    "graft_shingles" -> { es =>
      ShingleHashes(es.head, intArg(es(1), "k"), longArg(es(2), "seed"),
        longArg(es(3), "scale"))
    },
    "graft_minimizers" -> { es =>
      MinimizerHashes(es.head, intArg(es(1), "k"), intArg(es(2), "w"),
        longArg(es(3), "seed"))
    },
    "graft_scaled_ghs" -> { es =>
      ScaledGramHexes(es.head, intArg(es(1), "k"),
        arg(es(2), "scaleHex").toString, arg(es(3), "seed").toString)
    },
    "graft_syncmers" -> { es =>
      SyncmerHashes(es.head, intArg(es(1), "k"), intArg(es(2), "s"),
        intArg(es(3), "t"), longArg(es(4), "seed"))
    },
    "graft_token_count" -> { es => TokenCount(es.head) },
    "graft_fingerprint" -> { es => Fingerprint(es.head) },
    "graft_minhash" -> { es =>
      MinHashSignature(es.head, intArg(es(1), "numPerms"), longArg(es(2), "seed"))
    },
    "graft_simhash" -> { es => SimHash64(es.head) },
    "graft_vec_cosine" -> { es => VecCosine(es.head, es(1)) },
    "graft_vec_dot" -> { es => VecDot(es.head, es(1)) },
    "graft_quantize8" -> { es => QuantizeVec(es.head) },
    "graft_vec_cosine_q8" -> { es => VecCosineQ8(es.head, es(1)) },
    "graft_srp_buckets" -> { es =>
      SrpBuckets(es.head, intArg(es(1), "tables"), intArg(es(2), "bits"),
        longArg(es(3), "seed"))
    },
    "graft_nearest_centroids" -> { es =>
      // the centroid matrix arrives as a foldable array<array<float>>
      // literal (driver-collected, tiny) and is folded once at plan time
      val ad = arg(es(1), "centroids")
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val cents = Array.tabulate(ad.numElements())(i =>
        ad.getArray(i).toFloatArray())
      NearestCentroids(es.head, cents, intArg(es(2), "m"))
    },
    "graft_hll_agg" -> { es => HllAgg(es.head, intArg(es(1), "p")) },
    "graft_hll_merge_agg" -> { es =>
      HllAgg(es.head, intArg(es(1), "p"), mergeInput = true)
    },
    "graft_hll_estimate" -> { es => HllEstimate(es.head) },
    "graft_hll_union_estimate" -> { es => HllUnionEstimate(es.head, es(1)) },
    "graft_topk_agg" -> { es => TopKAgg(es.head, intArg(es(1), "capacity")) },
    "graft_topk_merge_agg" -> { es =>
      TopKAgg(es.head, intArg(es(1), "capacity"), mergeInput = true)
    },
    "graft_topk_weighted_agg" -> { es =>
      TopKWeightedAgg(es.head, es(1), intArg(es(2), "capacity"))
    },
    "graft_topk_items" -> { es => TopKItems(es.head, intArg(es(1), "k")) },
    "graft_topk_total" -> { es => TopKTotal(es.head) },
    "graft_topk_dec" -> { es => TopKDec(es.head) },
    "graft_topk_estimate" -> { es => TopKEstimate(es.head, es(1)) },
    "graft_bloom_agg" -> { es =>
      BloomAgg(es.head, longArg(es(1), "items"), doubleArg(es(2), "fpp"),
        longArg(es(3), "seed"))
    },
    "graft_bloom_merge_agg" -> { es =>
      BloomAgg(es.head, longArg(es(1), "items"), doubleArg(es(2), "fpp"),
        longArg(es(3), "seed"), mergeInput = true)
    },
    "graft_bloom_contains" -> { es => BloomContains(es.head, es(1)) },
    "graft_bloom_count_contained" -> { es =>
      BloomCountContained(es.head, es(1))
    },
    "graft_bloom_fpp" -> { es => BloomFpp(es.head) },
    "graft_bloom_items_estimate" -> { es => BloomItemsEstimate(es.head) },
    "graft_ixf_count_contained" -> { es => IxfCountContained(es.head, es(1)) },
    "graft_cms_agg" -> { es =>
      CmsAgg(es.head, doubleArg(es(1), "eps"), doubleArg(es(2), "delta"),
        longArg(es(3), "seed"))
    },
    "graft_cms_merge_agg" -> { es =>
      CmsAgg(es.head, doubleArg(es(1), "eps"), doubleArg(es(2), "delta"),
        longArg(es(3), "seed"), mergeInput = true)
    },
    "graft_cms_estimate" -> { es => CmsEstimate(es.head, es(1)) },
    "graft_cms_total" -> { es => CmsTotal(es.head) },
    "graft_kll_agg" -> { es => KllAgg(es.head, intArg(es(1), "k")) },
    "graft_kll_merge_agg" -> { es =>
      KllAgg(es.head, intArg(es(1), "k"), mergeInput = true)
    },
    "graft_kll_quantile" -> { es => KllQuantile(es.head, es(1)) },
    "graft_kll_rank" -> { es => KllRank(es.head, es(1)) },
    "graft_kll_ks" -> { es => KllKs(es.head, es(1)) },
    "graft_kll_n" -> { es => KllN(es.head) },
    "graft_tdigest_agg" -> { es =>
      TDigestAgg(es.head, doubleArg(es(1), "delta"))
    },
    "graft_tdigest_merge_agg" -> { es =>
      TDigestAgg(es.head, doubleArg(es(1), "delta"), mergeInput = true)
    },
    "graft_tdigest_quantile" -> { es => TDigestQuantile(es.head, es(1)) },
    "graft_tdigest_cdf" -> { es => TDigestCdf(es.head, es(1)) }
  )

  /** Idempotent; call once per session before using the facade. */
  def register(spark: SparkSession): Unit = builders.foreach {
    case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
  }

  /** SparkSessionExtensions injection (see graft.GraftExtensions). */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.GraftFunctions", name),
        (es: Seq[Expression]) => b(es)))
    }

  // ---- Column facade ------------------------------------------------------

  /** Distinct k-shingle hashes of a text column; `scale` > 1 applies
    * FracMinHash downsampling (keep iff hash <= MAX/scale). */
  def shingles(c: Column, k: Int, scale: Long = 1L,
      seed: Long = DefaultSeed): Column =
    call_function("graft_shingles", c, lit(k), lit(seed), lit(scale))

  def minimizers(c: Column, k: Int, w: Int, seed: Long = DefaultSeed): Column =
    call_function("graft_minimizers", c, lit(k), lit(w), lit(seed))

  /** Distinct scaled md5-hex k-gram fingerprints (the engine-portable
    * FracMinHash twin; see Dedup.scaledFingerprints for the contract). */
  def scaled_ghs(c: Column, k: Int, scaleHex: String, seed: String): Column =
    call_function("graft_scaled_ghs", c, lit(k), lit(scaleHex), lit(seed))
  /** Open-syncmer k-gram hashes: keep a k-gram iff its minimal s-gram hash
    * sits at offset t (the reference's default tokenizer mode). */
  def syncmers(c: Column, k: Int, s: Int, t: Int,
      seed: Long = DefaultSeed): Column =
    call_function("graft_syncmers", c, lit(k), lit(s), lit(t), lit(seed))

  def token_count(c: Column): Column = call_function("graft_token_count", c)
  def fingerprint(c: Column): Column = call_function("graft_fingerprint", c)

  /** MinHash signature over a shingle-hash array column. */
  def minhash(hashes: Column, numPerms: Int = 128,
      seed: Long = DefaultSeed): Column =
    call_function("graft_minhash", hashes, lit(numPerms), lit(seed))
  def simhash(hashes: Column): Column = call_function("graft_simhash", hashes)
  /** Codegen'd cosine of two array<float> columns (double precision). */
  def vec_cosine(a: Column, b: Column): Column =
    call_function("graft_vec_cosine", a, b)
  def vec_dot(a: Column, b: Column): Column =
    call_function("graft_vec_dot", a, b)
  /** Int8 quantization of an array<float> embedding (4× smaller binary;
    * cosine-compatible — cosine is scale-invariant). */
  def quantize8(vec: Column): Column = call_function("graft_quantize8", vec)
  def vec_cosine_q8(a: Column, b: Column): Column =
    call_function("graft_vec_cosine_q8", a, b)
  def srp_buckets(vec: Column, tables: Int = 8, bits: Int = 12,
      seed: Long = DefaultSeed): Column =
    call_function("graft_srp_buckets", vec, lit(tables), lit(bits), lit(seed))
  /** Indices of the m nearest centroids (cosine desc, tie idx asc);
    * `centroids` must be a literal array<array<float>> column. */
  def nearest_centroids(vec: Column, centroids: Column, m: Int): Column =
    call_function("graft_nearest_centroids", vec, centroids, lit(m))

  /** HLL over any column (hashed internally with xxhash64). */
  def hll_agg(c: Column, p: Int = 14): Column =
    call_function("graft_hll_agg", xxhash64(c), lit(p))
  /** HLL over an already-hashed LONG column, or an ARRAY<LONG> of hashes
    * (per-row hash sets, e.g. shingles — keeps multi-sketch aggregation
    * one-pass with no explode). */
  def hll_agg_hashed(c: Column, p: Int): Column =
    call_function("graft_hll_agg", c, lit(p))
  def hll_merge_agg(c: Column, p: Int): Column =
    call_function("graft_hll_merge_agg", c, lit(p))
  def hll_estimate(c: Column): Column = call_function("graft_hll_estimate", c)
  /** Ertl estimate of |A ∪ B| from two HLL sketch columns; |A ∩ B| follows
    * by inclusion–exclusion (estimate(a)+estimate(b)-union). */
  def hll_union_estimate(a: Column, b: Column): Column =
    call_function("graft_hll_union_estimate", a, b)

  /** Mergeable Misra–Gries/SpaceSaving heavy-hitter summary over a STRING
    * key column: `capacity` counters give the published eps = 1/(capacity+1)
    * guarantees (no overcount; undercount <= eps*N; every key with true
    * count > eps*N present). The one sketch family that ENUMERATES its keys
    * (`topk_items`) instead of answering point queries. */
  def topk_agg(c: Column, capacity: Int): Column =
    call_function("graft_topk_agg", c.cast("string"), lit(capacity))
  def topk_merge_agg(c: Column, capacity: Int): Column =
    call_function("graft_topk_merge_agg", c, lit(capacity))
  /** Weighted variant: each row adds `weight` (positive long — token
    * counts, bytes, cents) to its key; bounds hold with N = total weight.
    * Null/non-positive weights are ignored. */
  def topk_weighted_agg(c: Column, weight: Column, capacity: Int): Column =
    call_function("graft_topk_weighted_agg", c.cast("string"),
      weight.cast("long"), lit(capacity))
  /** Top-k entries as array<struct<item:string, est:long>>, est desc then
    * item asc. */
  def topk_items(sketch: Column, k: Int): Column =
    call_function("graft_topk_items", sketch, lit(k))
  def topk_total(sketch: Column): Column =
    call_function("graft_topk_total", sketch)
  /** Undercount certificate: true - est <= topk_dec <= N/(capacity+1). */
  def topk_dec(sketch: Column): Column = call_function("graft_topk_dec", sketch)
  def topk_estimate(sketch: Column, key: Column): Column =
    call_function("graft_topk_estimate", sketch, key.cast("string"))

  def bloom_agg_hashed(c: Column, items: Long, fpp: Double,
      seed: Long = DefaultSeed): Column =
    call_function("graft_bloom_agg", c, lit(items), lit(fpp), lit(seed))
  def bloom_agg(c: Column, items: Long, fpp: Double): Column =
    bloom_agg_hashed(xxhash64(c), items, fpp)
  def bloom_merge_agg(c: Column, items: Long, fpp: Double,
      seed: Long = DefaultSeed): Column =
    call_function("graft_bloom_merge_agg", c, lit(items), lit(fpp), lit(seed))
  def bloom_contains_hashed(sketch: Column, hash: Column): Column =
    call_function("graft_bloom_contains", sketch, hash)
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
    call_function("graft_bloom_count_contained", sketch, hashes)
  def bloom_fpp(sketch: Column): Column = call_function("graft_bloom_fpp", sketch)
  def bloom_items_estimate(sketch: Column): Column =
    call_function("graft_bloom_items_estimate", sketch)
  def ixf_count_contained(blob: Column, hashes: Column): Column =
    call_function("graft_ixf_count_contained", blob, hashes)
  /** [[ixf_count_contained]] against a broadcast interleaved blob. */
  def ixf_count_contained_bcast(
      blob: Broadcast[Array[Byte]], hashes: Column): Column =
    GraftColumns.column(
      IxfCountContainedBcast(blob, GraftColumns.expression(hashes)))

  def cms_agg(c: Column, eps: Double = 0.0001, delta: Double = 0.01,
      seed: Long = DefaultSeed): Column =
    call_function("graft_cms_agg", xxhash64(c), lit(eps), lit(delta), lit(seed))
  def cms_agg_hashed(c: Column, eps: Double, delta: Double,
      seed: Long = DefaultSeed): Column =
    call_function("graft_cms_agg", c, lit(eps), lit(delta), lit(seed))
  def cms_merge_agg(c: Column, eps: Double, delta: Double,
      seed: Long = DefaultSeed): Column =
    call_function("graft_cms_merge_agg", c, lit(eps), lit(delta), lit(seed))
  def cms_estimate(sketch: Column, value: Column): Column =
    call_function("graft_cms_estimate", sketch, xxhash64(value))
  def cms_estimate_hashed(sketch: Column, hash: Column): Column =
    call_function("graft_cms_estimate", sketch, hash)
  def cms_total(sketch: Column): Column = call_function("graft_cms_total", sketch)

  def kll_agg(c: Column, k: Int = 200): Column =
    call_function("graft_kll_agg", c.cast("double"), lit(k))
  def kll_merge_agg(c: Column, k: Int = 200): Column =
    call_function("graft_kll_merge_agg", c, lit(k))
  def kll_quantile(sketch: Column, q: Double): Column =
    call_function("graft_kll_quantile", sketch, lit(q))
  def kll_rank(sketch: Column, x: Column): Column =
    call_function("graft_kll_rank", sketch, x.cast("double"))
  def kll_ks(a: Column, b: Column): Column =
    call_function("graft_kll_ks", a, b)
  def kll_n(sketch: Column): Column = call_function("graft_kll_n", sketch)

  def tdigest_agg(c: Column, delta: Double = 100.0): Column =
    call_function("graft_tdigest_agg", c.cast("double"), lit(delta))
  def tdigest_merge_agg(c: Column, delta: Double = 100.0): Column =
    call_function("graft_tdigest_merge_agg", c, lit(delta))
  def tdigest_quantile(sketch: Column, q: Double): Column =
    call_function("graft_tdigest_quantile", sketch, lit(q))
  def tdigest_cdf(sketch: Column, x: Column): Column =
    call_function("graft_tdigest_cdf", sketch, x.cast("double"))
}
