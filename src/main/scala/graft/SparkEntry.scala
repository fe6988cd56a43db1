package graft

import graft.gates._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. Every gate is one [[Gate]] in its
  * family object under graft/gates, its Spark body beside its DuckDB
  * oracle; `queries` and `oracleSql` are derived from that one list. */
object SparkEntry {
  private val gates: Seq[Gate] = Seq(SketchGates.gates, ClassifyGates.gates,
    DedupGates.gates, VectorGates.gates, TextGates.gates, SamplingGates.gates,
    ConversationGates.gates).flatten

  locally {
    val names = gates.map(_.name)
    val twice = names.diff(names.distinct).distinct.sorted
    require(twice.isEmpty,
      s"gate name(s) declared twice: ${twice.mkString(", ")}")
  }

  /** The sf0.001 tables the flagship query runs on. */
  private[graft] val EntryDir = "/root/testdata/sf0.001"

  /** Flagship query on [[EntryDir]]; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries(SketchGates.entryGate.name)(spark, EntryDir)

  /** One entry per implemented operator from SURVEY.md §2; every gate
    * runs with the graft functions registered in its session. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { gate =>
      gate.name -> { (s: SparkSession, dir: String) =>
        GraftFunctions.register(s)
        gate.run(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    gates.map(gate => gate.name -> gate.oracle).toMap
}
