package graft

import graft.GraftFunctions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** An out-of-range sketch parameter fails while the plan is built, with
  * an IllegalArgumentException that names it — not inside a task after
  * the job started (nor, for a huge count-min, by allocating a
  * multi-GB table per task). */
class SketchParamSpec extends AnyFunSuite with SparkTestBase {
  private val cases: Seq[(String, String, Column)] = Seq(
    ("hll", "p", hll_agg(col("id"), 30)),
    ("bloom", "fpp", bloom_agg(col("id"), 1000L, 1.5)),
    ("cms", "eps", cms_agg(col("id"), 1e-8, 0.01)),
    ("kll", "k", kll_agg(col("id"), 4)),
    ("tdigest", "delta", tdigest_agg(col("id"), 1.0)),
    ("topk", "capacity", topk_agg(col("id"), 0)))

  test("bad sketch parameters are rejected at plan time, naming the parameter") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-param-check", "plan-time parameter checks")
      for ((kind, param, agg) <- cases) {
        val e = intercept[IllegalArgumentException](spark.range(10).select(agg))
        assert(s"\\b$param\\b".r.findFirstIn(e.getMessage).isDefined,
          s"$kind: '${e.getMessage}' does not name $param")
      }
      // listener events arrive in order: once this job is seen, any job
      // the checks above started has been seen too
      sc.setJobGroup("graft-param-check-done", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("graft-param-check-done") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("graft-param-check-done"))
      assert(!groups.contains("graft-param-check"), "a parameter check ran a job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
