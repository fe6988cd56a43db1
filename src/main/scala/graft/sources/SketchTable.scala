package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets

/** Self-describing persisted sketch tables (IO6 analogue of the reference's
  * versioned cereal index, /root/reference/src/main/index.hpp:208-244).
  *
  * Layout: `<dir>/data` (parquet: group keys + BINARY sketch columns; the
  * sketch blobs already carry a type+version header — graft.sketch codecs)
  * plus `<dir>/manifest.json` recording the schema, sketch params and seeds
  * so a reader can validate compatibility before merging — deterministic
  * seeds are required for resume and cross-job merge correctness.
  */
object SketchTable {
  case class Params(entries: Map[String, String])

  def save(df: DataFrame, dir: String, params: Map[String, String]): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/data")
    val fs = new Path(dir)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val cols = df.schema.fields
      .map(f => s""""${f.name}":"${f.dataType.simpleString}"""").mkString(",")
    val ps = params.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val json = s"""{"version":1,"columns":{$cols},"params":{$ps}}"""
    val out = fs.create(new Path(s"$dir/manifest.json"), true)
    out.write(json.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** Manifest-only writer for tables whose data is laid out by the caller
    * (e.g. partitioned parquet for the IVF index). */
  def saveManifestOnly(
      spark: SparkSession, dir: String, params: Map[String, String]): Unit = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ps = params.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val out = fs.create(new Path(s"$dir/manifest.json"), true)
    out.write(s"""{"version":1,"params":{$ps}}"""
      .getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** Replace `path` with `tmpPath` (delete-then-rename — LocalFS rename
    * refuses existing targets). For compaction swaps of DERIVED tables: a
    * crash between the two steps loses only a rebuildable artifact. */
  def replaceDir(spark: SparkSession, tmpPath: String, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    require(fs.rename(new Path(tmpPath), new Path(path)),
      s"rename $tmpPath -> $path failed")
  }

  def readManifest(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$dir/manifest.json"))
    val manifest = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    manifest
  }

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

  /** Open the persisted index at `dir`: read its manifest, require its
    * `kind` (a wrong-kind dir fails loudly, see requireParams) and return
    * its params. */
  def openIndex(
      spark: SparkSession, dir: String, kind: String): Map[String, String] = {
    val manifest = readManifest(spark, dir)
    requireParams(manifest, Map("kind" -> kind), dir)
    params(manifest)
  }

  /** `p` with its `counter` (`appends`, `compactions`) bumped by one. */
  def bump(p: Map[String, String], counter: String): Map[String, String] =
    p + (counter -> (p.getOrElse(counter, "0").toLong + 1).toString)

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
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$dir/manifest.json"))
    val manifest = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    (spark.read.parquet(s"$dir/data"), manifest)
  }
}
