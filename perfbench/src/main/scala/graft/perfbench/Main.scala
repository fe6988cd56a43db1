package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftFunctions
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One library call as the workload saw it. `counts` is the Spark work the
  * call caused (traced runs only). */
final case class Call(kind: String, wallS: Double, ok: Boolean,
    error: String, counts: Option[Counts], cacheLeft: Boolean) {
  def toJson: String = Json.obj(Seq("kind" -> kind, "wall_s" -> wallS,
    "ok" -> ok, "error" -> error, "cache_left" -> cacheLeft) ++
    counts.map(c => "counts" -> Json.Raw(c.toJson)))
}

/** Shared state of one benchmark process: the session, the tracer, the
  * optional Spark counters, the calls made and the output checks. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val cores: Int, val tracer: Tracer,
    val counters: Option[SparkCounters]) {
  val calls = ArrayBuffer[Call]()
  val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
  val checkFailures = ArrayBuffer[String]()
  private val badCalls = scala.collection.mutable.Set[Int]()
  private var standalone, standaloneFailed = 0

  /** Times one library call. A call that throws is recorded as failed and
    * returns None; the loop goes on. */
  def call[T](layer: String, kind: String)(body: => T): Option[T] = {
    val before = counters.map(_.snapshot())
    tracer.op += 1
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(layer, kind)(body))
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val counts = counters.map(c => c.snapshot() - before.get)
    val left = cacheInUse()
    val err = r.left.toOption.map(e =>
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    calls += Call(kind, wall, r.isRight, err.orNull, counts, left)
    err.foreach(m => System.err.println(s"[perfbench] $kind failed: $m"))
    r.toOption
  }

  /** Records one output check. A check of a call's output (`callIdx` into
    * `calls`) marks that call failed; any other check is an operation of
    * its own. */
  def check(ok: => Boolean, what: => String, callIdx: Int = -1): Unit = {
    if (callIdx < 0) standalone += 1
    if (!(try ok catch { case _: Exception => false })) {
      if (callIdx < 0) standaloneFailed += 1 else badCalls += callIdx
      checkFailures += what
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  def attempted: Int = calls.length + standalone
  def failed: Int =
    calls.indices.count(i => !calls(i).ok || badCalls(i)) + standaloneFailed

  def cacheInUse(): Boolean =
    spark.sparkContext.getPersistentRDDs.nonEmpty ||
      !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty

  def clearCache(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Runs `body` repeatedly until `seconds` have passed, at least `min`
    * and at most `max` times; returns the number of rounds. */
  def loopFor(min: Int, max: Int = Int.MaxValue)(body: Int => Unit): Int = {
    val end = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < max && (i < min || System.nanoTime() < end)) { body(i); i += 1 }
    i
  }
}

object Main {
  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Sum of file sizes under `dir`, skipping checksum sidecars:
    * (files, bytes). */
  def walk(dir: String): (Long, Long) = {
    def go(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(go)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.getName.endsWith(".crc")) (0L, 0L)
      else (1L, f.length)
    go(new File(dir))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one scratch directory instead of 64 hash buckets: deleting a run's
      // leftovers costs per entry on disks mounted with online discard
      .config("spark.diskStore.subDirectories", "1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // no .crc sidecar next to every file written (the local file system's
    // checksums; HDFS and object stores keep none): each extra file costs
    // a slow delete on disks mounted with online discard
    FileSystem.get(s.sparkContext.hadoopConfiguration).setWriteChecksum(false)
    GraftFunctions.register(s)
    s
  }

  def main(args: Array[String]): Unit =
    // Spark's non-daemon threads would keep a failed JVM alive
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val (spark, sessionS) = secondsOf(session(work, cores))
    val tracer = new Tracer(traced)
    val counters = if (traced) Some(new SparkCounters(spark).attach()) else None
    val ctx = new Ctx(spark, work, opt("seed").toLong, opt("seconds").toInt,
      cores, tracer, counters)
    val w: Workload = workload match {
      case "gate_suite" => new GateSuite(ctx, opt("tables"))
      case "sketch_build" => new SketchBuild(ctx)
      case "index_churn" => new IndexChurn(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val setupReps = (0 until w.setupReps).map(_ => secondsOf(w.setup())._2)
    val base = counters.map(_.snapshot())
    val windowStart = System.currentTimeMillis()
    val (units, measureS) = secondsOf(w.measure())
    val windowEnd = System.currentTimeMillis()
    val totals = counters.map(c => c.snapshot() - base.get)
    val verifyS = secondsOf(
      try w.verify()
      catch { case e: Exception => ctx.check(false, s"output check crashed: $e") })._2
    val (layers, layersS) = secondsOf(
      if (traced) new LayerProbe(ctx).run(w.probeInput()) else Nil)
    counters.foreach(_.detach())
    val intervals = counters.toSeq.flatMap(c =>
      c.jobIntervals.synchronized(c.jobIntervals.toList))
      .filter { case (s, e) => e >= windowStart && s <= windowEnd }
    val (input, stored) = (w.inputSize, w.stored)
    val out = Json.obj(Seq(
      "workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
      "trace" -> traced,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> setupReps),
      "measure_s" -> measureS, "verify_s" -> verifyS, "layers_s" -> layersS,
      "units_s" -> units,
      "calls" -> Json.Raw(ctx.calls.map(_.toJson).mkString("[", ",", "]")),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "check_failures" -> ctx.checkFailures.toList,
      "extra" -> ctx.extra.toMap,
      "input" -> Map("rows" -> input._1, "bytes" -> input._2),
      "stored" -> Map("files" -> stored._1, "bytes" -> stored._2),
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> layers.toMap) ++
      totals.map(t => "counters" -> Json.Raw(t.toJson)) ++
      Seq("window_ms" -> Seq(windowStart, windowEnd),
        "job_intervals_ms" -> intervals.map { case (s, e) => Seq(s, e) }))
    Files.writeString(Paths.get(s"$work/result.json"), out)
    if (traced) tracer.writeJsonLines(s"$work/spans.jsonl")
    // everything is on disk; skip the session's orderly teardown, which
    // only deletes scratch files and costs a second or two per run
    Runtime.getRuntime.halt(0)
  }
}

/** A workload: set-up (repeatable, timed per repetition), the measured
  * region (returns the wall of each unit of work), and output checks run
  * after the measured region. */
trait Workload {
  def setup(): Unit
  /** How many times `setup` runs; `setup_s` reports the median. */
  def setupReps: Int = 3
  def measure(): Seq[Double]
  def verify(): Unit
  /** (rows, bytes) of the input the measured region consumed. */
  def inputSize: (Long, Long)
  /** (files, bytes) of the workload's persisted state after the run. */
  def stored: (Long, Long)
  /** Input for the layer probe, from this workload's own data: a cached
    * frame with (grp INT, key STRING, text STRING, num DOUBLE). */
  def probeInput(): org.apache.spark.sql.DataFrame
}
