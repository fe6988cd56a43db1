package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Self-describing persisted sketch tables, indexes and schemes (IO6
  * analogue of the reference's versioned cereal index, index.hpp:208-244).
  *
  * Layout: one parquet subdirectory per table under `<dir>` (sketch blobs
  * already carry a type+version header — graft.sketch codecs) plus
  * `<dir>/manifest.json` recording the params and seeds so a reader can
  * validate compatibility before merging — deterministic seeds are
  * required for resume and cross-job merge correctness.
  *
  * This object is the only code that knows how an index or scheme lives on
  * disk. A kind (Dedup's and Conversations' fingerprint indexes, the IVF
  * index, the Sampling schemes) supplies rows and table layouts through
  * [[create]], [[open]], [[append]] and [[compact]]; the manifest, the
  * append guard, the counters and the compaction swap live here once.
  */
object SketchTable {
  /** One parquet table of an index dir, written partitioned by
    * `partitionBy`. */
  final case class Table(name: String, partitionBy: String*)

  /** An opened index or scheme: its kind-checked manifest params and its
    * tables. */
  final class Index private[sources] (
      spark: SparkSession, val dir: String, val kind: String,
      val params: Map[String, String]) {
    /** The required param `key`; a manifest without it fails loudly,
      * naming the dir and the key. */
    def apply(key: String): String = params.getOrElse(key,
      throw new IllegalArgumentException(
        s"$kind index at $dir: manifest has no '$key'"))

    def read(t: Table): DataFrame = spark.read.parquet(path(t))

    def write(t: Table, rows: DataFrame): Unit =
      writer(rows, t, "overwrite").parquet(path(t))

    private[sources] def path(t: Table): String = s"$dir/${t.name}"
  }

  private def writer(
      rows: DataFrame, t: Table, mode: String): DataFrameWriter[Row] =
    rows.write.mode(mode).partitionBy(t.partitionBy: _*)

  /** Write `text` to `path` atomically: a reader sees the old file or the
    * new one, never a partial write. The text goes to a hidden sibling
    * first (Spark and the checkpoint listing skip dot-files), then replaces
    * `path` — delete-then-rename, since `FileSystem.rename` refuses an
    * existing target. */
  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"atomic rename failed: $path")
  }

  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** `fields` are extra `"name":value,` members placed before the params. */
  private def writeManifest(spark: SparkSession, dir: String,
      params: Map[String, String], fields: String = ""): Unit = {
    val ps = params.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    writeText(spark, s"$dir/manifest.json",
      s"""{"version":1,$fields"params":{$ps}}""")
  }

  def save(df: DataFrame, dir: String, params: Map[String, String]): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/data")
    val cols = df.schema.fields
      .map(f => s""""${f.name}":"${f.dataType.simpleString}"""").mkString(",")
    writeManifest(df.sparkSession, dir, params, s""""columns":{$cols},""")
  }

  def readManifest(spark: SparkSession, dir: String): String =
    readText(spark, s"$dir/manifest.json")

  /** Parse the flat params map out of a manifest. Our own writers emit only
    * string values with no escaping or nested objects inside "params", so a
    * non-greedy brace scan is exact for this format (not general JSON). */
  def params(manifest: String): Map[String, String] =
    """"params":\{([^}]*)\}""".r.findFirstMatchIn(manifest) match {
      case Some(m) =>
        """"([^"]*)":"([^"]*)"""".r.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2)).toMap
      case None => Map.empty
    }

  /** The reference's multi-index sanity check re-expressed for persisted
    * sketch tables (/root/reference/src/main/taxor_search.cpp:97-151): a
    * probe whose tokenizer/sketch params (k, seed, fpp, dims, …) disagree
    * with what the index was built with returns silently-wrong results —
    * fail loudly instead. Keys in `expect` must be present AND equal. */
  def requireParams(
      manifest: String, expect: Map[String, String], dir: String): Unit = {
    val have = params(manifest)
    val bad = expect.collect {
      case (k, v) if !have.get(k).contains(v) =>
        s"$k: probe=$v index=${have.getOrElse(k, "<absent>")}"
    }
    require(bad.isEmpty,
      s"sketch-table param mismatch at $dir — probing with incompatible " +
        s"parameters would be silently wrong: ${bad.mkString("; ")}")
  }

  /** Load + validate in one step (see requireParams). */
  def loadValidated(
      spark: SparkSession,
      dir: String,
      expect: Map[String, String]): (DataFrame, String) = {
    val (df, manifest) = load(spark, dir)
    requireParams(manifest, expect, dir)
    (df, manifest)
  }

  def load(spark: SparkSession, dir: String): (DataFrame, String) = {
    val manifest = readManifest(spark, dir)
    (spark.read.parquet(s"$dir/data"), manifest)
  }

  // ---- indexes and schemes: one create, open, append and compaction path --

  /** Create the index or scheme of `kind` at `dir`: `tables` writes its
    * tables through the handle, then the manifest (`kind` plus `params`)
    * is written last. */
  private[graft] def create(spark: SparkSession, dir: String, kind: String,
      params: Map[String, String])(tables: Index => Unit): Unit = {
    val idx = new Index(spark, dir, kind, Map("kind" -> kind) ++ params)
    tables(idx)
    writeManifest(spark, dir, idx.params)
  }

  /** Open the index at `dir`, requiring its `kind`: a dir of another kind
    * fails loudly (see requireParams). */
  private[graft] def open(
      spark: SparkSession, dir: String, kind: String): Index = {
    val manifest = readManifest(spark, dir)
    requireParams(manifest, Map("kind" -> kind), dir)
    new Index(spark, dir, kind, params(manifest))
  }

  /** What one append adds: the new rows per table, `n` of them in all (as
    * counted by the kind's one snapshot action), the kind's `result`, and
    * `params` to record in the manifest. */
  private[graft] final case class NewRows[A](
      tables: Seq[(Table, DataFrame)], n: Long, result: A,
      params: Map[String, String] = Map.empty)

  /** Append to the index of `kind` at `dir`. `newRows` gets the opened
    * index and `hold`, which persists a frame until the append ends; it
    * builds each table's new rows (anti-joined against the index, so a
    * retried batch adds nothing) and snapshots them with ONE action over
    * held frames, so the writes consume the snapshot and never re-list the
    * directories they grow. With no new rows nothing is written; otherwise
    * the tables are written in parallel and the manifest's `appends`
    * counter is bumped last. Held frames are released in every case. */
  private[graft] def append[A](spark: SparkSession, dir: String, kind: String)(
      newRows: (Index, DataFrame => DataFrame) => NewRows[A]): A = {
    val idx = open(spark, dir, kind)
    val held = ArrayBuffer[DataFrame]()
    def hold(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val rows = newRows(idx, hold)
      if (rows.n > 0) {
        runParallel(rows.tables.map { case (t, df) =>
          () => writer(df, t, "append").parquet(idx.path(t))
        }: _*)
        writeManifest(spark, dir, bump(idx.params, "appends") ++ rows.params)
      }
      rows.result
    } finally held.foreach(_.unpersist())
  }

  /** Compact the index of `kind` at `dir` in place: each table is rewritten
    * through its `layout` into `<table>_compact_tmp` (in parallel) and
    * swapped in, then the manifest's `compactions` counter is bumped. Rows
    * are untouched, so probes before and after are identical. The swap is
    * delete-then-rename: a crash between the two steps loses that table. */
  private[graft] def compact(spark: SparkSession, dir: String, kind: String)(
      layouts: (Table, DataFrame => DataFrame)*): Unit = {
    val idx = open(spark, dir, kind)
    runParallel(layouts.map { case (t, layout) =>
      () => {
        val path = idx.path(t)
        val tmp = s"${path}_compact_tmp"
        writer(layout(idx.read(t)), t, "overwrite").parquet(tmp)
        val fs = new Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(path), true)
        require(fs.rename(new Path(tmp), new Path(path)),
          s"rename $tmp -> $path failed")
      }
    }: _*)
    writeManifest(spark, dir, bump(idx.params, "compactions"))
  }

  private def bump(p: Map[String, String], counter: String) =
    p + (counter -> (p.getOrElse(counter, "0").toLong + 1).toString)
}
