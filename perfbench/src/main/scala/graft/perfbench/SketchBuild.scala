package graft.perfbench

import java.io.File
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.TimeUnit

import graft.GraftFunctions._
import graft.jobs.BuildTranscriptSketches
import graft.sketch.{Bloom, CountMin, Hll, Kll, TDigest}
import graft.sources.{SketchCheckpoint, Transcripts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The north-star job: the partial and merge aggregates of
  * `BuildTranscriptSketches` run through `SketchCheckpoint.buildOrResume`
  * over generated transcripts written as many parquet files: fresh builds,
  * each into a new checkpoint directory, then half of the last build's
  * commit records are deleted and that build resumes. */
final class SketchBuild(ctx: Ctx) extends Workload {
  import ctx._

  val Convs = 6000L
  val Files = 16
  val FilesPerChunk = 2
  private val input = s"$work/sketch_input"
  private var fresh: Map[String, Row] = Map.empty
  private var resumed: Map[String, Row] = Map.empty

  def setup(): Unit =
    Transcripts.generate(spark, Convs, seed = seed)
      .repartition(Files, col("conv_id"))
      .write.mode("overwrite").parquet(input)

  private def build(dir: String): DataFrame =
    SketchCheckpoint.buildOrResume(spark, input, dir, keys = Seq("role"),
      partialAggs = BuildTranscriptSketches.partialAggs,
      mergeAggs = BuildTranscriptSketches.mergeAggs,
      filesPerChunk = FilesPerChunk)

  private def byRole(df: DataFrame): Map[String, Row] =
    df.collect().map(r => r.getAs[String]("role") -> r).toMap

  private def commits(dir: String): Seq[File] =
    Option(new File(s"$dir/_commits").listFiles).toSeq.flatten
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))

  private def nowMicros(): Long =
    ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now())

  /** Per-chunk walls, timed from outside the build: the gaps between the
    * build's start and the modification times of the commit records it
    * wrote, in order. Each gap covers the chunk's partial aggregate, its
    * row count and its commit write. */
  private def chunkWalls(startMicros: Long, fs: Seq[File]): Seq[Double] = {
    val done = fs.map(f => java.nio.file.Files.getLastModifiedTime(f.toPath)
      .to(TimeUnit.MICROSECONDS)).sorted
    (startMicros +: done).sliding(2).map(p => (p(1) - p(0)) / 1e6).toSeq
  }

  def measure(): Seq[Double] = {
    val buildWalls, chunks = Seq.newBuilder[Double]
    var last = ""
    loopFor(min = 3) { i =>
      val dir = s"$work/sketch_ck/$i"
      val c = calls.length
      val start = nowMicros()
      call("sources", "build")(build(dir))
        .flatMap(df => call("sources", "readback")(byRole(df)))
        .foreach(fresh = _)
      if (calls(c).ok) {
        buildWalls += calls(c).wallS
        chunks ++= chunkWalls(start, commits(dir))
        extra("partial_bytes") = Main.walk(s"$dir/partials")._2
        if (last.nonEmpty) Main.deleteTree(new File(last))
        last = dir
      }
    }
    // drop every other commit record of the last build: those chunks are
    // rebuilt when the build resumes
    val dropped = commits(last)
      .filter(_.getName.stripSuffix(".json").toInt % 2 == 1)
    dropped.foreach(_.delete())
    val r = calls.length
    val start = nowMicros()
    call("sources", "resume")(build(last))
      .flatMap(df => call("sources", "readback")(byRole(df)))
      .foreach(resumed = _)
    if (calls(r).ok) {
      val redone = dropped.map(_.getName).toSet
      chunks ++= chunkWalls(start,
        commits(last).filter(f => redone(f.getName)))
      extra("resume_s") = Seq(calls(r).wallS)
    }
    extra("resume_chunks") = dropped.length
    extra("build_s") = buildWalls.result()
    extra("chunk_s") = chunks.result()
    extra("input_convs") = Convs
    extra("input_files") = Files
    extra("files_per_chunk") = FilesPerChunk
    buildWalls.result()
  }

  def verify(): Unit = {
    // resumed HLL/Bloom/CMS blobs are byte-identical to the fresh build
    check(fresh.nonEmpty && fresh.keySet == resumed.keySet,
      s"resumed roles ${resumed.keySet} vs fresh ${fresh.keySet}")
    for ((role, f) <- fresh; r <- resumed.get(role);
         c <- Seq("hll_convs", "bf_shingles", "cms_tools"))
      check(java.util.Arrays.equals(f.getAs[Array[Byte]](c),
        r.getAs[Array[Byte]](c)), s"resumed $c differs for role $role")
    if (fresh.nonEmpty) boundSlack()
  }

  /** Observed error divided by the published bound, per sketch kind, over
    * the fresh build's sketches against exact GROUP BY answers. */
  private def boundSlack(): Unit = {
    val in = spark.read.parquet(input)
    val distinct = in.groupBy("role").agg(countDistinct("conv_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hist = in.groupBy(col("role"), length(col("text")).as("len")).count()
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1) }
    val finalDf = spark.createDataFrame(
      spark.sparkContext.parallelize(fresh.values.toSeq), fresh.values.head.schema)
    val cms = in.where(col("tool").isNotNull).groupBy("role", "tool").count()
      .join(finalDf.select("role", "cms_tools"), "role")
      .select(col("role"), (cms_estimate(col("cms_tools"), col("tool")) -
        col("count")).as("over"), cms_total(col("cms_tools")).as("total"))
      .collect()
    val eps = BuildTranscriptSketches.CmsEps
    val rnd = new scala.util.Random(seed)
    val probes = Array.fill(200000)(rnd.nextLong())
    val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    def rankErr(h: Array[(Int, Long)], est: Double, q: Double): Double = {
      val n = h.map(_._2).sum.toDouble
      val lt = h.filter(_._1 < est).map(_._2).sum / n
      val le = h.filter(_._1 <= est).map(_._2).sum / n
      math.max(0.0, math.max(lt - q, q - le))
    }
    val slack = scala.collection.mutable.LinkedHashMap[String, Double]()
    def note(kind: String, v: Double): Unit =
      slack(kind) = math.max(slack.getOrElse(kind, 0.0), v)
    for ((role, row) <- fresh) {
      val hll = row.getAs[Array[Byte]]("hll_convs")
      val n = distinct(role).toDouble
      note("hll", math.abs(Hll.estimate(hll) - n) / n /
        (3 * Hll.stdError(BuildTranscriptSketches.HllP)))
      val bf = row.getAs[Array[Byte]]("bf_shingles")
      val fp = probes.count(h => Bloom.contains(bf, h))
      note("bloom_fpr", fp / math.max(3 * Bloom.expectedFpp(bf) * probes.length, 10.0))
      val kll = Kll.fromBytes(row.getAs[Array[Byte]]("kll_len"))
      val td = TDigest.fromBytes(row.getAs[Array[Byte]]("td_len"))
      for (q <- qs) {
        note("kll", rankErr(hist(role), kll.quantile(q), q) /
          (3 * kll.rankErrorBound + 0.005))
        note("tdigest", rankErr(hist(role), td.quantile(q), q) /
          (if (q <= 0.01 || q >= 0.99) 0.01 else 0.02))
      }
    }
    cms.foreach { r =>
      note("cms", r.getLong(1) / math.max(eps * r.getLong(2), 1.0))
    }
    val max = slack.values.max
    extra("bound_slack") = slack.toMap
    extra("bound_slack_max") = max
    check(max <= 1.0, s"sketch error above its published bound: $slack")
  }

  def inputSize: (Long, Long) =
    (spark.read.parquet(input).count(), Main.walk(input)._2)

  def stored: (Long, Long) = Main.walk(s"$work/sketch_ck")

  def probeInput(): DataFrame =
    spark.read.parquet(input).select(
      pmod(xxhash64(col("role")), lit(4)).cast("int").as("grp"),
      col("conv_id").as("key"), col("text"),
      length(col("text")).cast("double").as("num"))
}
