package graft

import graft.GraftFunctions._
import graft.sketch._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every graft scalar function and sketch aggregate gives the same answer
  * whether Spark generates code for it or interprets it, and handles a
  * null input the same way on both paths: a null scalar result, and an
  * aggregate that skips the row. */
class EvalModesSpec extends AnyFunSuite with SparkTestBase {
  private val NullId = 99L
  private val texts = Seq("the quick brown fox", "jumps over the lazy dog",
    "pack my box with five dozen liquor jugs", "sphinx of black quartz",
    "how vexingly quick daft zebras jump", "the five boxing wizards")

  private def hll(hs: Seq[Long]) = {
    val b = Hll.empty(12); hs.foreach(Hll.update(b, _)); b
  }
  private def bloom(hs: Seq[Long]) = {
    val b = Bloom.empty(100, 0.01, DefaultSeed); hs.foreach(Bloom.update(b, _)); b
  }
  private def cms(hs: Seq[Long]) = {
    val b = CountMin.empty(0.01, 0.01, DefaultSeed)
    hs.foreach(CountMin.update(b, _, 1L)); b
  }
  private def kll(xs: Seq[Double]) = {
    val k = Kll.empty(200); xs.foreach(k.update); k.toBytes
  }
  private def td(xs: Seq[Double]) = {
    val t = TDigest.empty(100.0); xs.foreach(t.update); t.toBytes
  }
  private def topk(keys: Seq[String]) = {
    val s = SpaceSaving.empty(4); keys.foreach(s.update(_)); s.toBytes
  }

  /** Six rows with every input kind the functions take, plus one all-null
    * row (NullId). Built from an RDD so no optimizer rule folds a
    * projection over it: each query really runs in the configured mode. */
  private lazy val fixture: DataFrame = {
    val rows = texts.zipWithIndex.map { case (text, i) =>
      val hs = (0 until 5 + i).map(j => Bytes.mix64(i * 100L + j))
      val xs = hs.map(h => (h >>> 11) * (1.0 / (1L << 53)))
      val vec = Seq.tabulate(4)(d => ((i + 1) * (d - 1.5)).toFloat)
      val vec2 = Seq.tabulate(4)(d => (d * d - i).toFloat)
      val keys = hs.map(h => s"k${(h & 3L) + (i % 2)}")
      Row(i.toLong, text, hs, vec, vec2, keys.head, (i % 3).toLong - 1L,
        hs.head, xs.head, hll(hs), bloom(hs), cms(hs), kll(xs), kll(xs.tail),
        td(xs), topk(keys),
        Interleaved.fromFilters(Seq(bloom(hs), bloom(hs.take(2)))))
    } :+ Row.fromSeq(NullId +: Seq.fill(16)(null))
    val bin = BinaryType
    val schema = StructType(Seq(
      "id" -> LongType, "text" -> StringType,
      "hashes" -> ArrayType(LongType, containsNull = false),
      "vec" -> ArrayType(FloatType, containsNull = false),
      "vec2" -> ArrayType(FloatType, containsNull = false),
      "key" -> StringType, "weight" -> LongType, "h" -> LongType,
      "x" -> DoubleType, "hll" -> bin, "bloom" -> bin, "cms" -> bin,
      "kll" -> bin, "kll2" -> bin, "td" -> bin, "topk" -> bin, "ixf" -> bin)
      .map { case (n, t) => StructField(n, t, nullable = n != "id") })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private val centroids = typedLit(Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
    Seq(0f, 0f, 1f, 1f)))

  private val scalars: Seq[(String, Column)] = Seq(
    "shingles" -> shingles(col("text"), 3),
    "shingles_scaled" -> shingles(col("text"), 3, scale = 2L),
    "minimizers" -> minimizers(col("text"), 3, 2),
    "scaled_ghs" -> scaled_ghs(col("text"), 3, "80", "s"),
    "syncmers" -> syncmers(col("text"), 4, 2, 0),
    "token_count" -> token_count(col("text")),
    "fingerprint" -> fingerprint(col("text")),
    "minhash" -> minhash(col("hashes"), 8),
    "simhash" -> simhash(col("hashes")),
    "vec_cosine" -> vec_cosine(col("vec"), col("vec2")),
    "vec_dot" -> vec_dot(col("vec"), col("vec2")),
    "quantize8" -> quantize8(col("vec")),
    "vec_cosine_q8" -> vec_cosine_q8(quantize8(col("vec")), quantize8(col("vec2"))),
    "srp_buckets" -> srp_buckets(col("vec"), 2, 4),
    "nearest_centroids" -> nearest_centroids(col("vec"), centroids, 2),
    "hll_estimate" -> hll_estimate(col("hll")),
    "hll_union_estimate" -> hll_union_estimate(col("hll"), col("hll")),
    "topk_items" -> topk_items(col("topk"), 3),
    "topk_total" -> topk_total(col("topk")),
    "topk_dec" -> topk_dec(col("topk")),
    "topk_estimate" -> topk_estimate(col("topk"), col("key")),
    "bloom_contains" -> bloom_contains_hashed(col("bloom"), col("h")),
    "bloom_count_contained" -> bloom_count_contained(col("bloom"), col("hashes")),
    "bloom_fpp" -> bloom_fpp(col("bloom")),
    "bloom_items_estimate" -> bloom_items_estimate(col("bloom")),
    "ixf_count_contained" -> ixf_count_contained(col("ixf"), col("hashes")),
    "cms_estimate" -> cms_estimate_hashed(col("cms"), col("h")),
    "cms_total" -> cms_total(col("cms")),
    "kll_quantile" -> kll_quantile(col("kll"), 0.5),
    "kll_rank" -> kll_rank(col("kll"), col("x")),
    "kll_ks" -> kll_ks(col("kll"), col("kll2")),
    "kll_n" -> kll_n(col("kll")),
    "tdigest_quantile" -> tdigest_quantile(col("td"), 0.9),
    "tdigest_cdf" -> tdigest_cdf(col("td"), col("x")))

  private val aggregates: Seq[(String, Column)] = Seq(
    "hll" -> hll_agg_hashed(col("h"), 12),
    "hll_array" -> hll_agg_hashed(col("hashes"), 12),
    "bloom" -> bloom_agg_hashed(col("h"), 100, 0.01),
    "bloom_minimizers" -> bloom_agg_hashed(minimizers(col("text"), 3, 2), 100, 0.01),
    "cms" -> cms_agg_hashed(col("h"), 0.01, 0.01),
    "kll" -> kll_agg(col("x")),
    "tdigest" -> tdigest_agg(col("x")),
    "topk" -> topk_agg(col("key"), 4),
    "topk_weighted" -> topk_weighted_agg(col("key"), col("weight"), 4),
    "hll_merge" -> hll_merge_agg(col("hll"), 12),
    "bloom_merge" -> bloom_merge_agg(col("bloom"), 100, 0.01),
    "cms_merge" -> cms_merge_agg(col("cms"), 0.01, 0.01),
    "kll_merge" -> kll_merge_agg(col("kll")),
    "tdigest_merge" -> tdigest_merge_agg(col("td")),
    "topk_merge" -> topk_merge_agg(col("topk"), 4))

  /** Results as comparable strings (binary as hex). */
  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case o => o.toString
  }

  private def collect(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(show))

  /** `body` run with codegen on (the default), then interpreted. */
  private def bothModes[A](body: => A): (A, A) = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val codegen = body
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try (codegen, body)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every scalar function agrees codegen vs interpreted; null in, null out") {
    // a new Dataset per mode: a Dataset plans once and keeps that plan
    def df = fixture
      .select(col("id") +: scalars.map { case (n, c) => c.as(n) }: _*)
      .orderBy("id")
    val (codegen, interpreted) = bothModes(collect(df))
    assert(codegen.length == texts.length + 1)
    codegen.zip(interpreted).foreach { case (a, b) =>
      scalars.map(_._1).zip(a.tail.zip(b.tail)).foreach { case (n, (x, y)) =>
        assert(x == y, s"$n differs at id ${a.head}") }
    }
    val nullRow = codegen.last
    assert(nullRow.head == NullId.toString)
    scalars.map(_._1).zip(nullRow.tail).foreach { case (n, v) =>
      assert(v == "null", s"$n of a null input") }
    texts.indices.foreach(i => assert(!codegen(i).contains("null"), s"row $i"))
  }

  test("generated code calls each scalar kernel directly") {
    import org.apache.spark.sql.execution.debug._
    val code = fixture.select(scalars.map(_._2): _*)
      .queryExecution.debug.codegenToSeq().map(_._2).mkString
    val names = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    val kernels = names.flatMap(n => scala.util.Try(kernel(n)).toOption)
    assert(kernels.size == 32)
    kernels.foreach { k =>
      val call = s"${k.obj.getClass.getName.stripSuffix("$")}.${k.method}("
      assert(code.contains(call), s"no $call in the generated code")
    }
  }

  test("every sketch aggregate agrees codegen vs interpreted and skips nulls") {
    def agg(df: DataFrame) =
      collect(df.coalesce(1).agg(aggregates.head._2, aggregates.tail.map(_._2): _*)).head
    val (codegen, interpreted) = bothModes(agg(fixture))
    aggregates.map(_._1).zip(codegen.zip(interpreted)).foreach { case (n, (a, b)) =>
      assert(a == b, s"$n differs") }
    val withoutNull = agg(fixture.where(col("id") =!= NullId))
    val blobs = aggregates.map(_._1).zip(codegen.zip(withoutNull)).toMap
    for (n <- Seq("hll", "hll_array", "bloom", "bloom_minimizers", "cms",
        "hll_merge", "bloom_merge", "cms_merge")) {
      val (a, b) = blobs(n)
      assert(a == b, s"$n blob changed by a null row")
    }
    def bytes(hex: String) = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def n(kind: String, hex: String): Long = kind match {
      case "kll" => Kll.fromBytes(bytes(hex)).n
      case "td" => TDigest.fromBytes(bytes(hex)).totalWeight.toLong
      case "topk" => SpaceSaving.fromBytes(bytes(hex)).n
    }
    for ((name, kind) <- Seq("kll" -> "kll", "kll_merge" -> "kll",
        "tdigest" -> "td", "tdigest_merge" -> "td", "topk" -> "topk",
        "topk_weighted" -> "topk", "topk_merge" -> "topk")) {
      val (a, b) = blobs(name)
      assert(n(kind, a) == n(kind, b), s"$name n changed by a null row")
      assert(n(kind, a) > 0, name)
    }
  }
}
