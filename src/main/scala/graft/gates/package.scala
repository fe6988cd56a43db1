package graft

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The driver gates, one family object per operator group; each gate is
  * one [[Gate]] declared in its family's `gates`. Below: the fixtures more
  * than one family uses. A fixture one family owns stays private to it. */
package object gates {
  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Documents table with the raw rows spread across the session's cores.
    * The sf-scale parquet files are ONE row group, so no matter how many
    * byte-range splits Spark makes only one scan task carries rows, and
    * every per-row-heavy stage rooted at the scan (shingle explode, per-gram
    * md5, LM gram counting) serializes on a single core (observed: the
    * dedup_ngram_jaccard shingle stage at 10 tasks / 6.5 s wall / 6.6 s cpu
    * — parallelism 1). Same posture as corpusQueries, applied to the gates
    * that consume documents directly. Results are partitioning-invariant
    * for every caller here: exact integer / md5-threshold math only, no
    * arrival-order-dependent aggregate (SpaceSaving gates use events). */
  private[gates] def docsPar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Write `df` to the fixed `path` its oracle reads back by absolute path
    * (oracle and engine share the machine in the driver gate, as in
    * tools/check_oracle.py), then read it back so the gate consumes exactly
    * the dumped rows. Gates sharing a path write identical deterministic
    * rows, so write order across gates is irrelevant. */
  private[gates] def dump(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Memory-sink sequence for streaming gates (unique name per run). */
  private val streamGateSeq = new java.util.concurrent.atomic.AtomicInteger
  /** Held for a drain's set/drain/restore of the session conf: two drains
    * that overlapped would otherwise each restore the value the other set,
    * leaving the session with a drain's temporary setting. */
  private val drainLock = new Object

  /** Feed `rows` through the streaming query `sink` builds over a
    * MemoryStream as three genuine micro-batches, then each `tail` row as
    * one more — add → processAllAvailable, every time — and return the
    * query's name (the table a memory sink writes).
    *
    * The drain runs with the shuffle-partition count sized for the STATE
    * STORE, then restores the session's setting. Rationale (r6, measured):
    * every stateful micro-batch stage runs one task per shuffle partition,
    * and each task opens/commits a state-store partition — ~0.6 s of pure
    * checkpoint overhead per task at near-zero CPU (observed: 32-task state
    * stages at cpu 0.2-0.4 s / run 17-20 s). The gates' streams carry ~30
    * windows / ~600 conversations, so the state-partition count should
    * track key cardinality, not the batch scan parallelism: min(8, cores).
    * Restoring AFTER the drain means the downstream batch result (built
    * lazily, planned at action time) still uses the session's setting. */
  private[gates] def drainStream[T: Encoder](
      s: SparkSession, rows: Seq[T], tail: T*)(
      sink: DataFrame => DataStreamWriter[Row]): String = {
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    // unique name per invocation: Bench re-runs >10s queries in the same
    // session, and a second memory query must not collide with the stopped
    // first one's registration
    val name = s"graft_stream_gate_${streamGateSeq.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    drainLock.synchronized {
      val prev = s.conf.get(key)
      s.conf.set(key, math.min(8, s.sparkContext.defaultParallelism).toString)
      try {
        val q = sink(mem.toDF()).queryName(name).start()
        try {
          (rows.grouped(math.max(1, rows.length / 3 + 1)) ++ tail.map(Seq(_)))
            .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        } finally q.stop()
      } finally s.conf.set(key, prev)
    }
    name
  }
}
