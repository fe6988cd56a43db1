package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every `SparkEntry` gate whose output the benchmark can check inside its
  * own directory, run once each in name order over the sf0.001 tables.
  * Each gate's result is written out (as `graft.Verify` does) and
  * compared with its oracle SQL after the run. */
final class GateSuite(ctx: Ctx, tables: String) extends Workload {
  import ctx._

  /** A gate whose oracle SQL reads an absolute path dumps its input to that
    * fixed path when it runs; those gates are left out so the benchmark
    * writes only inside its work directory. */
  private def fixedPath(name: String): Boolean =
    SparkEntry.oracleSql.get(name).exists(_.contains("'/"))

  val gates: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(fixedPath)
  private val out = s"$work/gate_out"
  private def tableFiles: Seq[String] =
    new java.io.File(tables).listFiles.map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  def setup(): Unit = tableFiles.foreach(f => spark.read.parquet(f).count())

  def measure(): Seq[Double] = {
    extra("gates_run") = gates
    extra("gates_left_out") =
      SparkEntry.queries.keys.toSeq.sorted.filter(fixedPath)
    var leftovers = 0
    gates.foreach { name =>
      call("spark_entry", s"gate.$name") {
        SparkEntry.queries(name)(spark, tables).coalesce(1).write
          // no _SUCCESS marker: every extra file costs a slow delete later
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .mode("overwrite").parquet(s"$out/$name")
      }
      if (calls.last.cacheLeft) leftovers += 1
      clearCache()
    }
    extra("cache_leftover_gates") = leftovers
    Seq(calls.map(_.wallS).sum)
  }

  /** The oracle comparison runs in the runner (DuckDB); here only the
    * oracle SQL of every gate is written next to the outputs (a gate that
    * threw has no output, so its comparison fails too). */
  def verify(): Unit = {
    val json = gates.map(n => Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n)))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  def inputSize: (Long, Long) = {
    (tableFiles.map(f => spark.read.parquet(f).count()).sum, Main.walk(tables)._2)
  }

  def stored: (Long, Long) = Main.walk(out)

  def probeInput(): DataFrame =
    spark.read.parquet(s"$tables/documents.parquet")
      .select(pmod(col("doc_id"), lit(4)).cast("int").as("grp"),
        col("doc_id").cast("string").as("key"),
        col("text"), col("n_chars").cast("double").as("num"))
}
