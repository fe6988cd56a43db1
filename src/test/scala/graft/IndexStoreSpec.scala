package graft

import graft.operators.{Conversations, Dedup, Sampling, Similarity}
import graft.sources.SketchTable
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one on-disk protocol every persisted index and scheme goes through
  * (SketchTable): kind-checked opens, loud missing keys, atomic manifests,
  * no-op appends and no cached state left behind. */
class IndexStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val text =
    "the quick brown fox jumps over the lazy dog again and again " * 8
  private lazy val docs = Seq(
    (1L, text),
    (2L, text.replace("quick", "brisk")),
    (3L, "completely different content about spark aggregation flows " * 8))
    .toDF("doc_id", "text")
  private lazy val turns = Seq(
    ("a", 0, "user", "hi"), ("a", 1, "assistant", "hi!"),
    ("b", 0, "user", "yo"), ("b", 1, "assistant", "yo!"))
    .toDF("conv_id", "turn_idx", "role", "text")
  private lazy val vecs = (0 until 60)
    .map(i => (i.toLong, Seq.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
    .toDF("id", "vec")
  private lazy val queries =
    vecs.limit(3).select($"id".as("qid"), $"vec".as("qvec"))
  private lazy val rows = (0L until 40L).map(i => (i, s"d$i")).toDF("doc_id", "x")

  /** A kind: how to build one at a dir, its operations on a dir (probe
    * first), and a required manifest key its probe reads. */
  private case class Kind(
      name: String, build: String => Unit,
      ops: Seq[(String, String => Unit)], requiredKey: String)

  private lazy val kinds = Seq(
    Kind("fingerprint",
      Dedup.buildFingerprintIndex(docs, "doc_id", "text", _),
      Seq(
        "probe" -> (d => Dedup.dedupAgainstIndex(docs, "doc_id", "text", d)
          .collect()),
        "append" -> (Dedup.appendToFingerprintIndex(docs, "doc_id", "text", _)),
        "compact" -> (Dedup.compactFingerprintIndex(spark, _))),
      "scale_hex"),
    Kind("conv_fingerprint",
      Conversations.buildFingerprintIndex(turns, _),
      Seq(
        "probe" -> (d => Conversations.dedupAgainstIndex(turns, d).collect()),
        "append" -> (Conversations.appendToFingerprintIndex(turns, _))),
      "kind"),
    Kind("ivf",
      Similarity.IvfIndex.build(vecs, _, nCentroids = 4),
      Seq(
        "topK" -> (d => Similarity.IvfIndex.topK(spark, d, queries, 3, 2)
          .collect()),
        "append" -> (d => Similarity.IvfIndex.append(vecs, d)),
        "compact" -> (Similarity.IvfIndex.compact(spark, _))),
      "dims"),
    Kind("hash_split",
      Sampling.saveSplitScheme(spark, _, Seq("train" -> 0.8, "val" -> 0.2)),
      Seq("hashSplitFromScheme" ->
        (d => Sampling.hashSplitFromScheme(rows, "doc_id", d).collect())),
      "weights"),
    Kind("export_shards",
      Sampling.writeShards(rows, "doc_id", _, nShards = 4),
      Seq("exportShardsFromScheme" ->
        (d => Sampling.exportShardsFromScheme(rows, "doc_id", d).collect())),
      "n_shards"))

  private def files(dir: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).sorted.toSeq

  test("every index and scheme kind: wrong-kind dirs and missing keys fail loudly") {
    val dirs = kinds.map { k =>
      val d = tmpDir(s"graft-kind-${k.name}")
      k.build(d)
      k.name -> d
    }.toMap
    // manifests are written through a hidden temp file that never remains
    dirs.values.foreach { d =>
      val left = files(d).filter(f => f.endsWith(".tmp") || f.contains("_compact_tmp"))
      assert(left.isEmpty, s"temp files left behind: $left")
    }
    for (k <- kinds; other <- kinds if other.name != k.name;
         (op, run) <- k.ops) {
      val e = intercept[IllegalArgumentException](run(dirs(other.name)))
      assert(e.getMessage.contains("kind") &&
        e.getMessage.contains(dirs(other.name)),
        s"${k.name} $op on a ${other.name} dir: ${e.getMessage}")
    }
    for (k <- kinds) {
      val d = tmpDir(s"graft-missing-${k.name}")
      k.build(d)
      val p = SketchTable.params(SketchTable.readManifest(spark, d))
      assert(p.contains(k.requiredKey), s"${k.name}: $p")
      val ps = (p - k.requiredKey)
        .map { case (key, v) => s""""$key":"$v"""" }.mkString(",")
      SketchTable.writeText(spark, s"$d/manifest.json",
        s"""{"version":1,"params":{$ps}}""")
      val e = intercept[IllegalArgumentException](k.ops.head._2(d))
      assert(e.getMessage.contains(d) &&
        e.getMessage.contains(k.requiredKey),
        s"${k.name} without '${k.requiredKey}': ${e.getMessage}")
    }
  }

  test("append with no new rows is a no-op for every index kind") {
    def state(dir: String) = (files(dir), SketchTable.readManifest(spark, dir),
      spark.sparkContext.getPersistentRDDs.keySet)
    // each kind's append, given the batch it was built from or none of it
    def append(name: String, batch: DataFrame, dir: String): Unit =
      name match {
        case "fingerprint" =>
          Dedup.appendToFingerprintIndex(batch, "doc_id", "text", dir)
        case "conv_fingerprint" =>
          Conversations.appendToFingerprintIndex(batch, dir)
        case "ivf" => assert(Similarity.IvfIndex.append(batch, dir) == 0.0)
      }
    for ((name, indexed) <- Seq(
           "fingerprint" -> docs, "conv_fingerprint" -> turns, "ivf" -> vecs);
         (input, batch) <- Seq("empty" -> indexed.limit(0),
           "already indexed" -> indexed)) {
      val dir = tmpDir(s"graft-noop-$name")
      kinds.find(_.name == name).get.build(dir)
      val before = state(dir)
      append(name, batch, dir)
      assert(state(dir) == before, s"$name: $input append changed the index")
    }
  }

  test("dedup_index_compaction leaves no cached plan") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // whatever earlier suites left cached
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.queries("dedup_index_compaction")(
      spark, SparkEntry.EntryDir).collect().nonEmpty)
    assert(cache.isEmpty, "the gate left a cached plan")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
  }
}
