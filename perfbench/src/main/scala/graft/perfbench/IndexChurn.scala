package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Conversations, Dedup, Similarity}
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The probe-then-append ingest loop over three persisted indexes side by
  * side: the conversation fingerprint index, the document fingerprint index
  * (with its `maxDf` cap) and the IVF vector index. Batches arrive as the
  * stream produces them; every fourth poll finds no new data and yields an
  * empty batch, which is passed on like any other. The document
  * fingerprint index and the IVF index are compacted every second poll. */
final class IndexChurn(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  val BaseConvs = 400
  val BatchConvs = 8
  val Polls = 16 // the stream's length; a run stops early if it gets there
  val MinPolls = 5
  val Dims = 64
  val BaseVecs = 2000
  val BatchVecs = 32
  val Queries = 8
  val K = 5
  val NProbe = 4
  val Centroids = 16
  val MaxDf = 64L
  val CompactEvery = 2
  val EmptyEvery = 4

  private val root = s"$work/churn"
  private val convDir = s"$root/idx_conv"
  private val dedupDir = s"$root/idx_dedup"
  private val ivfDir = s"$root/idx_ivf"

  /** Stream position of poll `i`, or None when the poll is empty. */
  private def slot(i: Int): Option[Int] =
    if (i % EmptyEvery == EmptyEvery - 1) None else Some(i - i / EmptyEvery)

  private val rnd = new scala.util.Random(seed)
  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private val centres = Array.fill(Centroids)(
    unit(Array.fill(Dims)(rnd.nextGaussian())))
  private def near(c: Array[Float], spread: Double): Array[Float] =
    unit(c.map(x => x + spread * rnd.nextGaussian() / math.sqrt(Dims)))
  /** (id, batch, vec): the base vectors carry batch -1. */
  private val vecs: Seq[(Long, Int, Array[Float])] = {
    val base = (0 until BaseVecs).map(i =>
      (i.toLong, -1, near(centres(rnd.nextInt(Centroids)), 1.0)))
    val stream = (0 until Polls).flatMap(i => slot(i).toSeq.flatMap { s =>
      (0 until BatchVecs).map(j => ((BaseVecs + s * BatchVecs + j).toLong, i,
        near(centres(rnd.nextInt(Centroids)), 1.0)))
    })
    base ++ stream
  }
  private val queries: Map[Int, Seq[(Long, Array[Float])]] =
    (0 until Polls).map(i => i -> (0 until Queries).map(j =>
      (1000000000L + i * Queries + j,
        near(vecs(rnd.nextInt(BaseVecs))._3, 0.3)))).toMap

  /** Seeding the three indexes is most of a cold JVM's warm-up; it runs
    * once, so the run's time goes to polls. */
  override def setupReps: Int = 1

  def setup(): Unit = {
    Main.deleteTree(new File(root))
    val total = BaseConvs + Polls * BatchConvs
    val num = col("num")
    // every fourth streamed conversation re-sends an earlier one's turns
    val src = when(num >= BaseConvs && pmod(num, lit(4)) === 3,
      pmod(xxhash64(num, lit(seed)), num)).otherwise(num)
    val streamPos = (num - BaseConvs) / BatchConvs
    val turns = Transcripts.generate(spark, total, avgTurns = 6,
        skewConvs = 0, seed = seed)
      .withColumn("src", substring_index(col("conv_id"), "-", -1).cast("long"))
      .drop("conv_id")
      .join(spark.range(total).select(col("id").as("num"), src.as("src")), "src")
      .withColumn("conv_id", format_string("conv-%06d", num))
      .withColumn("batch", when(num < BaseConvs, lit(-1))
        .otherwise(streamPos + floor(streamPos / (EmptyEvery - 1))).cast("int"))
      .where(col("batch") < Polls)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "num", "batch")
    turns.drop("num").write.partitionBy("batch").parquet(s"$root/turns")
    // one document per conversation: its turn texts in order
    turns.groupBy("num", "batch")
      .agg(sort_array(collect_list(struct(col("turn_idx"), col("text"))))
        .as("t"))
      .select(col("num").as("id"), concat_ws(" ", col("t.text")).as("text"),
        col("batch"))
      .write.partitionBy("batch").parquet(s"$root/docs")
    vecs.map { case (id, b, v) => (id, b, v.toSeq) }.toDF("id", "batch", "vec")
      .write.partitionBy("batch").parquet(s"$root/vecs")
    Conversations.buildFingerprintIndex(batch("turns", -1), convDir)
    Dedup.buildFingerprintIndex(batch("docs", -1), "id", "text", dedupDir,
      maxDf = Some(MaxDf))
    Similarity.IvfIndex.build(batch("vecs", -1), ivfDir, nCentroids = Centroids)
  }

  private def batch(table: String, i: Int): DataFrame =
    spark.read.parquet(s"$root/$table").where(col("batch") === i).drop("batch")

  private val convRows = ArrayBuffer[(Int, Int, Array[Row])]() // poll, call, rows
  private val dedupRows = ArrayBuffer[(Int, Int, Array[Row])]()
  private val ivfRows = ArrayBuffer[(Int, Int, Array[Row])]()
  private var polls = 0
  /** (files, bytes) of the indexes after the latest call (traced runs). */
  private var lastIndexSize: Option[(Long, Long)] = None

  private def op[T](kind: String)(body: => T): Option[T] = {
    val r = call("operators", kind)(body)
    if (tracer.enabled) lastIndexSize = Some(indexSize)
    r
  }

  private def indexSize: (Long, Long) =
    Seq(convDir, dedupDir, ivfDir).map(Main.walk)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def measure(): Seq[Double] = {
    val cycles = ArrayBuffer[Double]()
    loopFor(min = MinPolls, max = Polls) { i =>
      val turns = batch("turns", i)
      val docs = batch("docs", i)
      val vs = batch("vecs", i)
      val qs = queries(i).map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qvec")
      val first = calls.length
      op("conv.probe")(Conversations.dedupAgainstIndex(turns, convDir).collect())
        .foreach(r => convRows += ((i, calls.length - 1, r)))
      op("conv.append")(Conversations.appendToFingerprintIndex(turns, convDir))
      op("dedup.probe")(Dedup.dedupAgainstIndex(docs, "id", "text", dedupDir)
        .collect()).foreach(r => dedupRows += ((i, calls.length - 1, r)))
      op("dedup.append")(Dedup.appendToFingerprintIndex(docs, "id", "text", dedupDir))
      op("ivf.topk")(Similarity.IvfIndex.topK(spark, ivfDir, qs, K, NProbe)
        .collect()).foreach(r => ivfRows += ((i, calls.length - 1, r)))
      op("ivf.append")(Similarity.IvfIndex.append(vs, ivfDir))
      cycles += calls.drop(first).map(_.wallS).sum
      if (i % CompactEvery == CompactEvery - 1) {
        op("dedup.compact")(Dedup.compactFingerprintIndex(spark, dedupDir))
        op("ivf.compact")(Similarity.IvfIndex.compact(spark, ivfDir))
      }
      polls = i + 1
    }
    extra("polls") = polls
    extra("empty_polls") = (0 until polls).count(i => slot(i).isEmpty)
    extra("max_df") = MaxDf
    extra("batch_convs") = BatchConvs
    extra("batch_vecs") = BatchVecs
    lastIndexSize.foreach { case (files, bytes) =>
      extra("index_files") = files
      extra("index_bytes") = bytes
    }
    // one unit: the mean poll. Polls differ by design (the first is cold,
    // every fourth is empty), so a median would pick one of them by rank
    Seq(cycles.sum / cycles.length)
  }

  def verify(): Unit = {
    // conversations: duplicate iff the same ordered dialogue arrived in an
    // earlier poll (or the base); the match has that dialogue
    val dialogue = spark.read.parquet(s"$root/turns").where(col("batch") < polls)
      .groupBy("conv_id", "batch")
      .agg(array_join(transform(sort_array(collect_list(struct(
        col("turn_idx"), col("role"), col("text")))),
        x => concat(x("role"), lit(":"), x("text"))), "\n").as("d"))
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getInt(1))).toMap
    val firstSeen = dialogue.values.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).min }
    for ((i, c, rows) <- convRows) {
      val want = dialogue.collect { case (id, (d, b)) if b == i => id -> (firstSeen(d) < i) }
      val got = rows.map(r => r.getString(0) -> r.getBoolean(2)).toMap
      val matchesOk = rows.forall { r =>
        !r.getBoolean(2) || dialogue.get(r.getString(1)).exists { case (d, b) =>
          d == dialogue(r.getString(0))._1 && b < i }
      }
      check(got == want && matchesOk, s"conv.probe poll $i", c)
    }
    // documents: exact hits are exactly the texts seen before; every match
    // points at an earlier document
    val docs = spark.read.parquet(s"$root/docs").where(col("batch") < polls)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val textFirst = docs.values.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    for ((i, c, rows) <- dedupRows) {
      val want = docs.collect { case (id, (t, b)) if b == i && textFirst(t) < i => id }.toSet
      val exact = rows.filter(_.getString(2) == "exact")
      val ok = exact.map(_.getLong(0)).toSet == want &&
        exact.forall(r => docs(r.getLong(1))._1 == docs(r.getLong(0))._1) &&
        rows.forall(r => docs.get(r.getLong(1)).exists(_._2 < i) &&
          r.getLong(3) >= 500000L)
      check(ok, s"dedup.probe poll $i", c)
    }
    // vectors: top-k by exact cosine over the vectors in the probed cells
    val cell = spark.read.parquet(s"$ivfDir/data").select("id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = spark.read.parquet(s"$ivfDir/centroids").orderBy("cid")
      .collect().map(_.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0
      var j = 0
      while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      d / math.sqrt(na * nb)
    }
    for ((i, c, rows) <- ivfRows) {
      val seen = vecs.filter(_._2 < i)
      val ok = queries(i).forall { case (qid, q) =>
        val cs = cents.map(cos(q, _)).zipWithIndex.sortBy(-_._1)
        val ambiguous = math.abs(cs(NProbe - 1)._1 - cs(NProbe)._1) < 1e-6
        val probe = cs.take(NProbe).map(_._2).toSet
        val want = seen.filter(v => probe(cell(v._1))).map(v => cos(q, v._3))
          .sorted(Ordering[Double].reverse).take(K)
        val got = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        ambiguous || (got.length == want.length &&
          got.map(_.getDouble(3)).zip(want).forall { case (g, w) => math.abs(g - w) < 1e-4 } &&
          got.forall(r => math.abs(cos(q, vecs(r.getLong(2).toInt)._3) - r.getDouble(3)) < 1e-4))
      }
      check(ok, s"ivf.topk poll $i", c)
    }
  }

  def inputSize: (Long, Long) = {
    val parts = for (t <- Seq("turns", "docs", "vecs"); b <- -1 until polls)
      yield Main.walk(s"$root/$t/batch=$b")._2
    val rows = spark.read.parquet(s"$root/turns").where(col("batch") < polls).count()
    (rows, parts.sum)
  }

  def stored: (Long, Long) = indexSize

  def probeInput(): DataFrame =
    spark.read.parquet(s"$root/turns").select(
      pmod(xxhash64(col("role")), lit(4)).cast("int").as("grp"),
      col("conv_id").as("key"), col("text"),
      length(col("text")).cast("double").as("num"))
}
