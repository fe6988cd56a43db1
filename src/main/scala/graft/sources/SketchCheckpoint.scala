package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable sketch build with per-chunk lineage + metrics.
  *
  * The job splits the input into file chunks; each chunk's partial sketches
  * are written under `workDir/partials/chunk=<id>/` and sealed with an
  * atomically-renamed commit record `workDir/_commits/<id>.json` carrying
  * lineage (input files, row count) and sketch-update metrics (rows/sec,
  * wall ms). A killed job re-plans only uncommitted chunks; the final merge
  * reads committed partials and re-merges. For the order-insensitive
  * sketches (HLL/Bloom/CMS — commutative idempotent merges) the resumed
  * result is byte-identical to a single-shot run (proven in CheckpointSpec);
  * KLL and t-digest merges are order-sensitive in bytes (SURVEY §7.4), so
  * their resumed result is identical only up to the published rank-error
  * bound — the chunk grid below fixes the merge ORDER deterministically,
  * which restores byte identity between any two runs of the same chunking.
  *
  * Reference analogue: the HIXF build's temp hash files surviving across
  * build steps (/root/reference/src/hixf/build/temp_hash_file.cpp:9-97) —
  * made transactional, Iceberg-snapshot style (no Iceberg jars offline;
  * SURVEY.md §7.4 keeps this behind a seam).
  */
object SketchCheckpoint {
  case class ChunkResult(id: Int, files: Seq[String], rows: Long, wallMs: Long)

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Input parquet files, deterministically ordered and chunked. */
  def planChunks(
      spark: SparkSession, inputDir: String, filesPerChunk: Int): Seq[Seq[String]] = {
    val f = fs(spark, inputDir)
    val files = f.listStatus(new Path(inputDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
    files.grouped(math.max(1, filesPerChunk)).map(_.toSeq).toSeq
  }

  def committedChunks(spark: SparkSession, workDir: String): Set[Int] = {
    val f = fs(spark, workDir)
    val dir = new Path(s"$workDir/_commits")
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir)
      .filter(s => s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName.stripSuffix(".json").toInt)
      .toSet
  }

  /** Build (or resume) partial sketches per chunk, then merge to the final
    * sketch table. `partialAggs` run per chunk over `groupBy(keys)`;
    * `mergeAggs` re-aggregate the written partial columns by the same keys.
    *
    * @return the final merged sketch DataFrame (also written to
    *         `workDir/final`), after writing `workDir/manifest.json`.
    */
  def buildOrResume(
      spark: SparkSession,
      inputDir: String,
      workDir: String,
      keys: Seq[String],
      partialAggs: Seq[Column],
      mergeAggs: Seq[Column],
      filesPerChunk: Int = 1): DataFrame = {
    val f = fs(spark, workDir)
    f.mkdirs(new Path(s"$workDir/_commits"))
    val chunks = planChunks(spark, inputDir, filesPerChunk)
    // pin the chunking plan: resuming with a different filesPerChunk or a
    // changed input file list would otherwise silently double-merge stale
    // partials covering the same rows
    val planPath = s"$workDir/plan.json"
    val planJson =
      s"""{"filesPerChunk":$filesPerChunk,"chunks":${chunks.length},
         |"filesHash":"${chunks.flatten.mkString("\n").hashCode}"}"""
        .stripMargin.replace("\n", "")
    if (f.exists(new Path(planPath))) {
      val prev = SketchTable.readText(spark, planPath)
      require(prev == planJson,
        s"checkpoint plan mismatch (previous run used a different chunking " +
          s"or input set): $prev vs $planJson — clean $workDir to rebuild")
    } else SketchTable.writeText(spark, planPath, planJson)
    val done = committedChunks(spark, workDir)
    val results = chunks.zipWithIndex.map { case (files, id) =>
      if (done.contains(id)) None
      else {
        val t0 = System.nanoTime()
        val partial = spark.read.parquet(files: _*)
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__rows"), partialAggs: _*)
        partial.write.mode("overwrite").parquet(s"$workDir/partials/chunk=$id")
        // row count comes from the written partials — no second input scan
        // (coalesce: a chunk of empty part files aggregates to zero groups)
        val rowsRow = spark.read.parquet(s"$workDir/partials/chunk=$id")
          .agg(coalesce(sum("__rows"), lit(0L))).first()
        val rows = rowsRow.getLong(0)
        val wallMs = (System.nanoTime() - t0) / 1000000
        val commit =
          s"""{"chunk":$id,"files":[${files.map(x => "\"" + x + "\"").mkString(",")}],
             |"rows":$rows,"wall_ms":$wallMs,
             |"rows_per_sec":${if (wallMs > 0) rows * 1000 / wallMs else rows}}"""
            .stripMargin.replace("\n", "")
        SketchTable.writeText(spark, s"$workDir/_commits/$id.json", commit)
        Some(ChunkResult(id, files, rows, wallMs))
      }
    }
    val fresh = results.flatten
    // merge ONLY the chunks of this plan (explicit paths, not directory
    // discovery — stale dirs from an aborted differently-chunked run can
    // never leak into the merge)
    val chunkPaths = chunks.indices.map(id => s"$workDir/partials/chunk=$id")
    val merged = spark.read.parquet(chunkPaths: _*)
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head,
        (mergeAggs.tail :+ sum(col("__rows")).as("rows_seen")): _*)
    merged.write.mode("overwrite").parquet(s"$workDir/final")
    val manifest =
      s"""{"input":"$inputDir","chunks":${chunks.length},
         |"resumed_chunks":${done.size},"fresh_chunks":${fresh.length},
         |"fresh_rows":${fresh.map(_.rows).sum},
         |"keys":[${keys.map(k => "\"" + k + "\"").mkString(",")}]}"""
        .stripMargin.replace("\n", "")
    SketchTable.writeText(spark, s"$workDir/manifest.json", manifest)
    spark.read.parquet(s"$workDir/final")
  }
}
