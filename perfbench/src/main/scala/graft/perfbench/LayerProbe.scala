package graft.perfbench

import graft.GraftFunctions._
import graft.sketch.{Bloom, CountMin, Hll, Kll, TDigest}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-layer timings of the traced run, over the workload's own input:
  * each sketch aggregate alone (agg), the text hashing functions
  * (functions), and the sketch kernels called directly on a hash stream
  * drawn from the same text (sketch). */
final class LayerProbe(ctx: Ctx) {
  import ctx._

  private def best3(f: => Unit): Double =
    Main.median((0 until 3).map(_ => Main.secondsOf(f)._2))

  /** Inputs smaller than this are repeated (with distinct keys) so the
    * per-row timings are not all fixed cost. */
  val MinRows = 200000L

  def run(input: DataFrame): Seq[(String, Any)] = {
    val n = input.count()
    val copies = math.max(1L, (MinRows + n - 1) / math.max(n, 1L))
    val df = (if (copies == 1) input else input
      .crossJoin(spark.range(copies).withColumnRenamed("id", "__copy"))
      .withColumn("key", concat_ws("-", col("key"), col("__copy")))
      .drop("__copy")).persist()
    val rows = df.count().toDouble
    val out = Seq.newBuilder[(String, Any)]
    val aggs: Seq[(String, Column)] = Seq(
      "hll" -> hll_agg(col("key"), 14),
      "bloom" -> bloom_agg(col("key"), 1L << 20, 0.0039),
      "cms" -> cms_agg(col("key"), 1e-4, 0.01),
      "kll" -> kll_agg(col("num"), 200),
      "tdigest" -> tdigest_agg(col("num"), 100.0))
    val c0 = counters.map(_.snapshot())
    for ((name, a) <- aggs)
      out += s"agg.$name.s" -> tracer.span("agg", s"agg.$name")(
        best3(df.groupBy("grp").agg(a).collect()))
    val c1 = counters.map(_.snapshot())
    tracer.span("agg", "agg.all")(
      df.groupBy("grp").agg(aggs.head._2, aggs.tail.map(_._2): _*).collect())
    val c2 = counters.map(_.snapshot())
    out += "agg.shuffle_bytes_per_row" -> c2.zip(c1).map { case (b, a) =>
      (b.shuffleWriteBytes - a.shuffleWriteBytes) / rows }.getOrElse(0.0)
    out += "agg.gc_s" -> c1.zip(c0).map { case (b, a) =>
      (b.gcMs - a.gcMs) / 1e3 }.getOrElse(0.0)
    for ((name, f) <- Seq("minimizers" -> minimizers(col("text"), 8, 8),
        "shingles" -> shingles(col("text"), 8)))
      out += s"functions.$name.ns_per_row" -> tracer.span("functions",
        s"functions.$name")(best3(df.agg(sum(size(f))).collect())) * 1e9 / rows
    val hashes = df.select(explode(shingles(col("text"), 8)))
      .limit(1 << 19).collect().map(_.getLong(0))
    df.unpersist()
    out ++= tracer.span("sketch", "sketch.kernels")(kernels(hashes))
    out.result()
  }

  /** Median ns per element of `pass` over `n` elements (5 passes). */
  private def nsPer(n: Int)(pass: => Unit): Double =
    Main.median((0 until 5).map(_ => Main.secondsOf(pass)._2)) * 1e9 / n

  /** Median µs of `merge`, timing only the merge of fresh copies. */
  private def usPerMerge[A](fresh: () => A)(merge: A => Unit): Double =
    Main.median((0 until 25).map { _ =>
      val a = fresh()
      Main.secondsOf(merge(a))._2
    }) * 1e6

  private def kernels(hs: Array[Long]): Seq[(String, Any)] = {
    val n = hs.length
    val half = n / 2
    val xs = hs.map(h => (h >>> 11) * (1.0 / (1L << 53)))
    val out = Seq.newBuilder[(String, Any)]
    def hllOf(from: Int, to: Int) = {
      val b = Hll.empty(14); var i = from
      while (i < to) { Hll.update(b, hs(i)); i += 1 }
      b
    }
    def bloomOf(from: Int, to: Int) = {
      val b = Bloom.empty(n.toLong, 0.0039, 42L); var i = from
      while (i < to) { Bloom.update(b, hs(i)); i += 1 }
      b
    }
    def cmsOf(from: Int, to: Int) = {
      val b = CountMin.empty(1e-4, 0.01, 42L); var i = from
      while (i < to) { CountMin.update(b, hs(i), 1L); i += 1 }
      b
    }
    def kllOf(from: Int, to: Int) = {
      val k = Kll.empty(200); var i = from
      while (i < to) { k.update(xs(i)); i += 1 }
      k
    }
    def tdOf(from: Int, to: Int) = {
      val t = TDigest.empty(100.0); var i = from
      while (i < to) { t.update(xs(i)); i += 1 }
      t
    }
    tracer.span("sketch", "sketch.hll") {
      out += "sketch.hll.update_ns" -> nsPer(n)(hllOf(0, n))
      val (a, b) = (hllOf(0, half), hllOf(half, n))
      out += "sketch.hll.merge_us" -> usPerMerge(() => a.clone())(Hll.merge(_, b))
      out += "sketch.hll.wire_bytes" -> Hll.toWire(hllOf(0, n)).length
    }
    tracer.span("sketch", "sketch.bloom") {
      out += "sketch.bloom.update_ns" -> nsPer(n)(bloomOf(0, n))
      val full = bloomOf(0, half)
      out += "sketch.bloom.contains_ns" -> nsPer(n) {
        var i = 0; var hit = 0
        while (i < n) { if (Bloom.contains(full, hs(i))) hit += 1; i += 1 }
      }
      val b = bloomOf(half, n)
      out += "sketch.bloom.merge_us" -> usPerMerge(() => full.clone())(Bloom.merge(_, b))
      out += "sketch.bloom.wire_bytes" -> Bloom.toWire(bloomOf(0, n)).length
    }
    tracer.span("sketch", "sketch.cms") {
      out += "sketch.cms.update_ns" -> nsPer(n)(cmsOf(0, n))
      val (a, b) = (cmsOf(0, half), cmsOf(half, n))
      out += "sketch.cms.merge_us" -> usPerMerge(() => a.clone())(CountMin.merge(_, b))
      out += "sketch.cms.wire_bytes" -> CountMin.toWire(cmsOf(0, n)).length
    }
    tracer.span("sketch", "sketch.kll") {
      out += "sketch.kll.update_ns" -> nsPer(n)(kllOf(0, n))
      val (a, b) = (kllOf(0, half).toBytes, kllOf(half, n))
      out += "sketch.kll.merge_us" -> usPerMerge(() => Kll.fromBytes(a))(_.merge(b))
      out += "sketch.kll.wire_bytes" -> kllOf(0, n).toBytes.length
    }
    tracer.span("sketch", "sketch.tdigest") {
      out += "sketch.tdigest.update_ns" -> nsPer(n)(tdOf(0, n))
      val (a, b) = (tdOf(0, half).toBytes, tdOf(half, n))
      out += "sketch.tdigest.merge_us" -> usPerMerge(() => TDigest.fromBytes(a))(_.merge(b))
      out += "sketch.tdigest.wire_bytes" -> tdOf(0, n).toBytes.length
    }
    out += "sketch.hash_stream_len" -> n
    out.result()
  }
}
