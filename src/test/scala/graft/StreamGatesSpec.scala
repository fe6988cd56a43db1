package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The streaming gates drain a MemoryStream through three micro-batches;
  * each shares its oracle SQL with a batch twin, so the two gates must
  * return the same rows. Checked here on the sf0.001 tables, not only by
  * the DuckDB replay. */
class StreamGatesSpec extends AnyFunSuite with SparkTestBase {
  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, SparkEntry.EntryDir)

  private def assertSameRows(streamed: String, batch: String): Unit = {
    val (a, b) = (run(streamed), run(batch))
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)))
    val rows = a.collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty)
    assert(rows == b.collect().map(_.toString).sorted.toSeq)
  }

  test("stream_sessionize returns the rows of conv_sessionize") {
    assert(SparkEntry.oracleSql("stream_sessionize") ==
      SparkEntry.oracleSql("conv_sessionize"))
    assertSameRows("stream_sessionize", "conv_sessionize")
  }

  test("stream_dedup_index returns the rows of dedup_incremental") {
    assert(SparkEntry.oracleSql("stream_dedup_index") ==
      SparkEntry.oracleSql("dedup_incremental"))
    assertSameRows("stream_dedup_index", "dedup_incremental")
  }
}
