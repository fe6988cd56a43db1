package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (0 at top level); `op` numbers the workload operation it belongs to. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: Int, startNs: Long, endNs: Long)

/** In-memory span recorder for the single client thread. Disabled, `span`
  * only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, layer, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def writeJsonLines(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Totals of the Spark work seen so far. Codegen time is the compile count
  * times the mean of Spark's compile-time histogram (a decaying sample). */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    gcMs: Long, shuffleWriteBytes: Long, outputBytes: Long, planMs: Long,
    compiles: Long, compileMs: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, outputBytes - o.outputBytes,
    planMs - o.planMs, compiles - o.compiles, compileMs - o.compileMs)

  def toJson: String = Json.obj(Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes, "output_bytes" -> outputBytes,
    "plan_s" -> planMs / 1e3, "codegen_compiles" -> compiles,
    "codegen_compile_s" -> compileMs / 1e3))
}

/** The benchmark's own Spark listener and query-execution listener. Attached
  * only in traced runs. Job intervals are kept (epoch ms) so the driver gap —
  * wall with no job running — can be computed afterwards. */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs, stages, tasks, taskMs, gcMs, shuffleW, outW, planMs =
    new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    jobIntervals.synchronized { jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(i.numTasks)
    val m = i.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      outW.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def snapshot(): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Counts(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
      shuffleW.get, outW.get, planMs.get, h.getCount,
      h.getCount * h.getSnapshot.getMean)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-serialised JSON. */
  final case class Raw(json: String)
}
