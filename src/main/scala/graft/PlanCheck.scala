package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for selected queries so the
  * shuffle/broadcast/codegen/pushdown story can be audited by eye.
  * Usage: runMain graft.PlanCheck <sfDir> <queryName ...>
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    require(args.length > 1, "usage: PlanCheck <sfDir> <queryName ...>; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val (sfDir, names) = (args(0), args.drop(1).toSeq)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    names.foreach { n =>
      println(s"\n===== PLAN: $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted")))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
