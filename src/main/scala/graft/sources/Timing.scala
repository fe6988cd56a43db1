package graft.sources

import org.apache.spark.sql.SparkSession

/** IO10 — the reference's `.time` phase-timing sink and CPU/peak-RSS report
  * (/root/reference/src/main/taxor_search.cpp:328-336 writes a one-line TSV
  * of per-phase wall seconds at 2 decimals under `<out>.time`;
  * /root/reference/src/main/main.cpp:79-84 prints CPU time and peak RSS).
  *
  * Spark already exposes task-level metrics through its listener bus; this
  * sink covers the reference's coarse per-PHASE contract (index IO vs reads
  * IO vs compute) so a pipeline driver can emit the same artifact.
  */
object Timing {
  /** Accumulates named phase wall-times; phases keep first-seen order and
    * re-entering a phase adds to its total (as the reference's `+=` does). */
  final class PhaseTimer {
    private val acc =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    def time[T](phase: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f
      finally acc(phase) =
        acc.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    def add(phase: String, seconds: Double): Unit =
      acc(phase) = acc.getOrElse(phase, 0.0) + seconds
    def phases: Seq[(String, Double)] = acc.toSeq
  }

  /** Write `<outFile>.time`: a header line of tab-separated phase names,
    * then their wall seconds at fixed precision 2 — the reference's exact
    * shape ("Index I/O\tReads I/O\tCompute"). */
  def writeTimeFile(
      spark: SparkSession, outFile: String,
      phases: Seq[(String, Double)]): Unit =
    SketchTable.writeText(spark, outFile + ".time",
      phases.map(_._1).mkString("\t") + "\n" +
        phases.map(x => f"${x._2}%.2f").mkString("\t"))

  /** (CPU seconds, peak RSS MiB) of this JVM — the reference's end-of-run
    * report. Returns -1 components where the platform doesn't expose them. */
  def cpuAndPeakRss(): (Double, Long) = {
    val cpu = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean match {
      case x: com.sun.management.OperatingSystemMXBean =>
        x.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    val rssMb =
      try {
        val src = scala.io.Source.fromFile("/proc/self/status")
        try src.getLines()
          .find(_.startsWith("VmHWM"))
          .map(_.replaceAll("[^0-9]", "").toLong / 1024)
          .getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    (cpu, rssMb)
  }
}
