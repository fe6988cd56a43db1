package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The graft SQL function surface is a frozen contract: every name builds
  * through the session registry into a node whose prettyName, `sql`,
  * result type and nullability callers see in auto column names, explain
  * strings and schemas. The digest below pins them; a change meant to alter
  * the surface has to update it on purpose. */
class FunctionSurfaceSpec extends AnyFunSuite with SparkTestBase {
  private val text = StringType
  private val hashes = ArrayType(LongType, containsNull = false)
  private val vec = ArrayType(FloatType, containsNull = false)
  private val centroids = Literal.create(
    Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false))

  /** name -> (column input types, trailing literal params). */
  private val calls: Map[String, (Seq[DataType], Seq[Literal])] = Map(
    "graft_shingles" -> (Seq(text), Seq(Literal(8), Literal(42L), Literal(1L))),
    "graft_minimizers" -> (Seq(text), Seq(Literal(8), Literal(8), Literal(42L))),
    "graft_scaled_ghs" ->
      (Seq(text), Seq(Literal(8), Literal("0fffffff"), Literal("s"))),
    "graft_syncmers" ->
      (Seq(text), Seq(Literal(8), Literal(4), Literal(0), Literal(42L))),
    "graft_token_count" -> (Seq(text), Nil),
    "graft_fingerprint" -> (Seq(text), Nil),
    "graft_minhash" -> (Seq(hashes), Seq(Literal(16), Literal(42L))),
    "graft_simhash" -> (Seq(hashes), Nil),
    "graft_vec_cosine" -> (Seq(vec, vec), Nil),
    "graft_vec_dot" -> (Seq(vec, vec), Nil),
    "graft_quantize8" -> (Seq(vec), Nil),
    "graft_vec_cosine_q8" -> (Seq(BinaryType, BinaryType), Nil),
    "graft_srp_buckets" ->
      (Seq(vec), Seq(Literal(4), Literal(8), Literal(42L))),
    "graft_nearest_centroids" -> (Seq(vec), Seq(centroids, Literal(1))),
    "graft_hll_agg" -> (Seq(LongType), Seq(Literal(12))),
    "graft_hll_merge_agg" -> (Seq(BinaryType), Seq(Literal(12))),
    "graft_hll_estimate" -> (Seq(BinaryType), Nil),
    "graft_hll_union_estimate" -> (Seq(BinaryType, BinaryType), Nil),
    "graft_topk_agg" -> (Seq(text), Seq(Literal(16))),
    "graft_topk_merge_agg" -> (Seq(BinaryType), Seq(Literal(16))),
    "graft_topk_weighted_agg" -> (Seq(text, LongType), Seq(Literal(16))),
    "graft_topk_items" -> (Seq(BinaryType), Seq(Literal(3))),
    "graft_topk_total" -> (Seq(BinaryType), Nil),
    "graft_topk_dec" -> (Seq(BinaryType), Nil),
    "graft_topk_estimate" -> (Seq(BinaryType, text), Nil),
    "graft_bloom_agg" ->
      (Seq(LongType), Seq(Literal(1000L), Literal(0.01), Literal(42L))),
    "graft_bloom_merge_agg" ->
      (Seq(BinaryType), Seq(Literal(1000L), Literal(0.01), Literal(42L))),
    "graft_bloom_contains" -> (Seq(BinaryType, LongType), Nil),
    "graft_bloom_count_contained" -> (Seq(BinaryType, hashes), Nil),
    "graft_bloom_fpp" -> (Seq(BinaryType), Nil),
    "graft_bloom_items_estimate" -> (Seq(BinaryType), Nil),
    "graft_ixf_count_contained" -> (Seq(BinaryType, hashes), Nil),
    "graft_cms_agg" ->
      (Seq(LongType), Seq(Literal(0.01), Literal(0.01), Literal(42L))),
    "graft_cms_merge_agg" ->
      (Seq(BinaryType), Seq(Literal(0.01), Literal(0.01), Literal(42L))),
    "graft_cms_estimate" -> (Seq(BinaryType, LongType), Nil),
    "graft_cms_total" -> (Seq(BinaryType), Nil),
    "graft_kll_agg" -> (Seq(DoubleType), Seq(Literal(200))),
    "graft_kll_merge_agg" -> (Seq(BinaryType), Seq(Literal(200))),
    "graft_kll_quantile" -> (Seq(BinaryType, DoubleType), Nil),
    "graft_kll_rank" -> (Seq(BinaryType, DoubleType), Nil),
    "graft_kll_ks" -> (Seq(BinaryType, BinaryType), Nil),
    "graft_kll_n" -> (Seq(BinaryType), Nil),
    "graft_tdigest_agg" -> (Seq(DoubleType), Seq(Literal(100.0))),
    "graft_tdigest_merge_agg" -> (Seq(BinaryType), Seq(Literal(100.0))),
    "graft_tdigest_quantile" -> (Seq(BinaryType, DoubleType), Nil),
    "graft_tdigest_cdf" -> (Seq(BinaryType, DoubleType), Nil))

  private def build(name: String, nullable: Boolean): Expression = {
    val (types, params) = calls(name)
    val inputs = types.zipWithIndex.map { case (t, i) =>
      AttributeReference(s"in$i", t, nullable)() }
    spark.sessionState.functionRegistry
      .lookupFunction(FunctionIdentifier(name), inputs ++ params)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every registered graft function is covered here") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered == calls.keySet)
    assert(calls.size == 46)
  }

  test("names, prettyNames, sql, result types and nullability are frozen") {
    val rows = calls.keys.toSeq.sorted.map { name =>
      val e = build(name, nullable = true)
      val strict = build(name, nullable = false)
      // AttributeReference.sql carries no expression id, so `sql` is stable
      Seq(name, e.prettyName, e.sql, e.dataType.json,
        s"${e.nullable}/${strict.nullable}").mkString("\t")
    }
    assert(sha256(rows.mkString("\n")) ==
      "a8c32e451fab81c6cd72384a69addc52f5ededcc73560fa64ebced38285c88b6",
      rows.mkString("\n"))
  }
}
