package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `taxor profile` stage re-expressed in Spark: a cascade of
  * ambiguity filters over a (query × matched group) table, an EM
  * reassignment loop, and hierarchical abundance rollups
  * (/root/reference/src/main/taxor_profile.cpp:796-858).
  *
  * Input schema everywhere: (query_id, ref, match_cnt, query_n).
  */
object ProfilePipeline {
  /** F5 — unique-mapping filter (taxor_profile.cpp:166-229): keep an
    * ambiguous match only if its ref also has at least one uniquely-mapped
    * query. Left-semi join against the unique-ref set; no data blowup. */
  def uniqueMappingFilter(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
    val withN = matches.withColumn("__n", count(lit(1)).over(w))
    val refsWithUnique =
      withN.where(col("__n") === 1).select("ref").distinct()
    withN.where(col("__n") === 1)
      .unionByName(
        withN.where(col("__n") > 1).join(refsWithUnique, Seq("ref"), "left_semi"))
      .drop("__n")
  }

  /** F6 — low-confidence reference filter (taxor_profile.cpp:232-279):
    * keep a ref iff uniqueQueries >= minUnique and
    * unique/(unique+ambiguous) >= minRatio; then re-run F5. */
  def lowConfidenceFilter(
      matches: DataFrame,
      minUnique: Long = 3,
      minRatio: Double = 0.01): DataFrame = {
    val w = Window.partitionBy("query_id")
    val withN = matches.withColumn("__n", count(lit(1)).over(w))
    val stats = withN.groupBy("ref").agg(
      sum(when(col("__n") === 1, 1L).otherwise(0L)).as("u"),
      sum(when(col("__n") > 1, 1L).otherwise(0L)).as("a"))
    val good = stats.where(col("u") >= minUnique &&
      col("u") / (col("u") + col("a")) >= minRatio)
    uniqueMappingFilter(
      matches.join(good.select("ref"), Seq("ref"), "left_semi"))
  }

  /** F7 — MegaPath-style association filter
    * (taxor_profile.cpp:286-465): ref A is "explained by" B when >= shareCo
    * of A's queries co-map to B and B dominates A (more unique queries, or
    * more total queries). The dominance predicate is evaluated INSIDE the
    * pairs aggregation against broadcast per-ref stats (both sides O(refs)),
    * so only the explained EDGES reach the driver — the co-occurrence
    * matrix (O(refs²) at worst) never does. Chains are then chased to a
    * fixpoint on the tiny explained map (the reference does the same
    * in-memory, cpp:385-399) and A's matches are remapped to B via a
    * broadcast map, dropping rows whose query already maps to B. */
  def associationFilter(matches: DataFrame, shareCo: Double = 0.95): DataFrame = {
    val spark = matches.sparkSession
    val w = Window.partitionBy("query_id")
    val withN = matches.withColumn("__n", count(lit(1)).over(w)).cache()
    val stats = withN.groupBy("ref").agg(
      sum(when(col("__n") === 1, 1L).otherwise(0L)).as("u"),
      count(lit(1)).as("total"))
    val pairs = withN.as("a").join(withN.as("b"),
        col("a.query_id") === col("b.query_id") && col("a.ref") =!= col("b.ref"))
      .groupBy(col("a.ref").as("ra"), col("b.ref").as("rb"))
      .agg(count(lit(1)).as("co"))
    // distributed dominance test; co/ta kept as the same double division the
    // scalar form used, so the shareCo cut is bit-identical to the old path
    val explained = pairs
      .join(broadcast(stats.select(col("ref").as("ra"),
        col("u").as("__ua"), col("total").as("__ta"))), "ra")
      .join(broadcast(stats.select(col("ref").as("rb"),
        col("u").as("__ub"), col("total").as("__tb"))), "rb")
      .where(col("co") / col("__ta") >= shareCo &&
        (col("__ub") > col("__ua") ||
          (col("__ub") === col("__ua") && col("__tb") > col("__ta"))))
      .select("ra", "rb")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // chase chains to a fixpoint (cpp:385-399), cycle-guarded
    def resolve(r: String): String = {
      var cur = r
      val seen = scala.collection.mutable.Set(cur)
      while (explained.contains(cur) && !seen.contains(explained(cur))) {
        cur = explained(cur); seen += cur
      }
      cur
    }
    val remap = explained.keys.map(r => r -> resolve(r)).filter(p => p._1 != p._2)
    if (remap.isEmpty) { withN.unpersist(); return matches }
    import spark.implicits._
    val remapDf = remap.toSeq.toDF("ref", "__new_ref")
    val queryRefs = matches.groupBy("query_id")
      .agg(collect_set(col("ref")).as("__refs"))
    val out = matches
      .join(broadcast(remapDf), Seq("ref"), "left")
      .join(queryRefs, "query_id")
      .withColumn("__target", coalesce(col("__new_ref"), col("ref")))
      // drop the remapped row when the query already maps to the target
      .where(col("__new_ref").isNull ||
        !array_contains(col("__refs"), col("__new_ref")))
      .groupBy(col("query_id"), col("__target").as("ref"))
      .agg(max(col("match_cnt")).as("match_cnt"), max(col("query_n")).as("query_n"))
    withN.unpersist()
    out
  }

  /** C1 — EM reassignment, reference-faithful
    * (taxor_profile.cpp:638-741): per iteration the E-step assigns each
    * query to argmax(log lik + log prior), the reference's sparsifying rule
    * ERASES each multi-candidate query's worst-posterior match
    * (taxor_profile.cpp:714-719) so candidate sets shrink monotonically, and
    * the M-step re-estimates priors from assigned weight. Stops when the
    * total log-likelihood improves by less than `tol` (the reference's
    * signed criterion `diff < |log 1e-4|`, taxor_profile.cpp:725-727) or
    * after maxIters; erase-worst also forces termination after
    * max-candidates-per-query iterations.
    *
    * Scale shape: per-iteration driver state is O(|refs|) doubles broadcast
    * back as a tiny map; the E-step is ONE hash aggregation per iteration
    * (map-side partial, no window sort) producing, per query, both the best
    * and worst candidate from the same min/max of a (−post, ref) struct —
    * deterministic ties (best: ref asc, worst: ref desc, so a fully tied
    * pair never erases its own best). The erase step re-filters the cached
    * candidate table against the per-query aggregate (both sides already
    * hash-partitioned by query_id).
    *
    * @return (query_id, ref, weight) final hard assignment.
    */
  def emAssign(
      matches: DataFrame,
      maxIters: Int = 100,
      tol: Double = math.abs(math.log(1e-4))): DataFrame = {
    val spark = matches.sparkSession
    import spark.implicits._
    val lik0raw = matches
      .withColumn("lik", col("match_cnt") / col("query_n"))
      .select("query_id", "ref", "lik", "query_n")
      .cache()
    val refs = lik0raw.select("ref").distinct().as[String].collect()
    if (refs.isEmpty) { // empty input: empty assignment, not a div-by-zero
      lik0raw.unpersist()
      return lik0raw.select(col("query_id"), col("ref"),
        lit(0.0).as("weight")).limit(0)
    }
    // maxIters <= 0 degrades to one E-step under uniform priors (the
    // pre-erase-worst behaviour for that input), never a null assignment
    val iterCap = math.max(1, maxIters)
    // MULTI-iteration runs flatten and right-size the loop input (one
    // E-step pays neither): localCheckpoint (eager), not cache — every
    // iteration's plan would otherwise embed the whole upstream candidate
    // lineage plus one join layer PER ITERATION (guide §5: lineage
    // truncation for iterative intermediates whose fault tolerance is not
    // critical; a lost block fails the job instead of recomputing — the
    // documented trade for an EM loop that simply reruns). The loop also
    // derives its partition count from the candidate row count (guide §2
    // scale-adaptive partitioning): a count inherited from the scan or
    // the session pays per-iteration scheduling for mostly-empty tasks at
    // small scale, while huge inputs still cap at the cluster
    // parallelism. The repartition is keyed on query_id and the
    // checkpoint PRESERVES the partitioning, so the per-iteration
    // groupBy(query_id) and the erase-step join need no further exchange.
    val lik0 =
      if (iterCap == 1) lik0raw
      else {
        val n = lik0raw.count()
        val p = math.max(1L, math.min(
          spark.sparkContext.defaultParallelism.toLong,
          n / 2000000L + 1L)).toInt
        val flat = lik0raw.repartition(p, col("query_id")).localCheckpoint()
        lik0raw.unpersist()
        flat
      }
    var priors = refs.map(_ -> 1.0 / refs.length).toMap
    var lastLl = Double.NegativeInfinity
    var iter = 0
    var done = false
    var cur = lik0
    var prevCur: DataFrame = null // unpersisted once its successor is live
    var lastG: DataFrame = null
    // best/worst from one struct: min = (max post, ref asc); max = (min
    // post, ref desc) — a fully tied pair never erases its own best
    val key = struct(negate(col("post")).as("np"), col("ref").as("r"),
      col("query_n").as("qn"))
    while (iter < iterCap && !done) {
      val priorDf = broadcast(priors.toSeq.toDF("ref", "prior"))
      val scored = cur.join(priorDf, "ref")
        .withColumn("post",
          log(col("lik") + 1e-12) + log(col("prior") + 1e-12))
      val g = scored.groupBy("query_id")
        .agg(min(key).as("best"), max(key).as("worst"),
          count(lit(1)).as("n_cand"), sum("post").as("psum"))
        .cache()
      // one collect per iteration: per-ref assigned weight + post sums;
      // ll is the reference's sum of posts over ALL remaining candidates.
      // This action also populates g's (and cur's) cache.
      val stats = g.groupBy(col("best.r").as("ref"))
        .agg(sum(col("best.qn").cast("double")).as("wsum"),
          sum("psum").as("ps"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
      // cur's cache is now populated → its predecessor can go
      if (prevCur != null && (prevCur ne lik0)) prevCur.unpersist()
      val ll = stats.values.map(_._2).sum
      val total = stats.values.map(_._1).sum
      done = ll - lastLl < tol || iter + 1 >= iterCap
      lastLl = ll
      if (lastG != null) lastG.unpersist()
      lastG = g
      if (!done) {
        priors = refs.map(r =>
          r -> (stats.get(r).map(_._1).getOrElse(0.0) / total)).toMap
        // erase each multi-candidate query's worst match; both sides are
        // hash-partitioned by query_id after the aggregation, so this is a
        // co-partitioned join, not a fresh full shuffle of the candidates
        val next = scored
          .join(g.select(col("query_id"), col("worst.r").as("__wref"),
            col("n_cand")), "query_id")
          .where(col("n_cand") === 1 || col("ref") =!= col("__wref"))
          .select("query_id", "ref", "lik", "query_n")
          .localCheckpoint() // flat plan for the next iteration (see lik0)
        prevCur = cur // still needed until next's cache is populated
        cur = next
      }
      iter += 1
    }
    // final assignment = last iteration's E-step; lastG stays cached. In
    // the checkpointed (multi-iteration) case the final `cur` checkpoint
    // must stay alive too: lastG's recompute path ends at that truncated
    // plan, so dropping its blocks would turn a cache eviction into a
    // failure (ContextCleaner reclaims both once the caller releases the
    // returned plan). In the one-E-step case lik0 is a plain cache with
    // full lineage — release it as before.
    if (prevCur != null && (prevCur ne lik0)) prevCur.unpersist()
    if (cur ne lik0) lik0.unpersist()
    else if (lik0 eq lik0raw) lik0raw.unpersist()
    lastG.select(col("query_id"), col("best.r").as("ref"),
      col("best.qn").cast("double").as("weight"))
  }

  /** A10 — relative abundance per ref from assigned weight (nucleotide-style:
    * weight = query_n; coverage normalization optional via refLen). */
  def abundance(assigned: DataFrame, refLen: Option[DataFrame] = None): DataFrame = {
    val byRef = assigned.groupBy("ref").agg(sum("weight").as("w"))
    val withCov = refLen match {
      case Some(rl) => byRef.join(rl, "ref")
        .withColumn("w", col("w") / col("ref_len")).drop("ref_len")
      case None => byRef
    }
    val totalRow = withCov.agg(sum("w")).first()
    if (totalRow.isNullAt(0)) // empty assignment: empty abundance
      return withCov.select(col("ref"), lit(0.0).as("pct")).limit(0)
    val total = totalRow.getDouble(0)
    withCov.select(col("ref"), (col("w") / total).as("pct"))
  }

  /** A11 — hierarchical rollup: explode each ref's ancestor path and sum
    * percentages per (rank, node) (taxor_profile.cpp:568-636). `taxonomy`
    * has (ref, path: array<struct<rank:int, node:string>>). */
  def rollup(abund: DataFrame, taxonomy: DataFrame): DataFrame =
    abund.join(broadcast(taxonomy), "ref")
      .select(col("pct"), explode(col("path")).as("node"))
      .groupBy(col("node.rank").as("rank"), col("node.node").as("node"))
      .agg(sum("pct").as("pct"))

  /** IO9 — CAMI-style report rows, rank-ordered, percentage in [0,100] with
    * 6 significant digits (profile_output.hpp:25-49), thresholded. */
  def camiReport(rolled: DataFrame, minPct: Double = 0.001): DataFrame =
    rolled.where(col("pct") > minPct)
      .select(col("rank"), col("node"),
        format_number(col("pct") * 100, 6).as("percentage"))
      .orderBy(col("rank").asc, col("pct").desc, col("node").asc)

  /** IO9 — write the CAMI profiling file: `@SampleID`/`@@` header lines then
    * rank-ordered TSV rows (profile_output.hpp:25-49). Single file; the
    * report is tiny by construction (one row per taxon above threshold). */
  def writeCami(report: DataFrame, path: String, sampleId: String): Unit = {
    val rows = report.collect().map { r =>
      s"${r.get(0)}\t${r.getString(1)}\t${r.getString(2)}"
    }
    writeLocal(report, path, Seq(s"@SampleID:$sampleId", "@Version:0.9.1",
      "@@RANK\tNODE\tPERCENTAGE") ++ rows)
  }

  /** The reference's fixed CAMI rank order (profile_output.hpp:30,56). */
  val CamiRanks: Seq[String] = Seq("superkingdom", "phylum", "class",
    "order", "family", "genus", "species")

  /** The reference's `format(f, 6)` — C++ ostream default float notation at
    * precision 6: six significant digits, trailing zeros stripped
    * (profile_output.hpp:18-23). */
  private[operators] def sig6(x: Double): String = {
    val bd = new java.math.BigDecimal(x)
      .round(new java.math.MathContext(6)).stripTrailingZeros
    bd.toPlainString
  }

  private def writeLocal(df: DataFrame, path: String, lines: Seq[String]): Unit =
    graft.sources.SketchTable.writeText(df.sparkSession, path,
      lines.mkString("", "\n", "\n"))

  /** IO9 — CAMI sequence-abundance file (profile_output.hpp:51-77):
    * `@Ranks` header, an `unclassified\tno rank\t-\t-\t<pct>` first row
    * when present, then per-rank rows above `threshold` in the reference's
    * fixed rank order, taxid-ascending within a rank (its std::map order).
    * `report` columns: (taxid, rank, taxpath, taxpathsn, pct in [0,1]). */
  def writeSequenceAbundance(
      report: DataFrame,
      path: String,
      sampleId: String,
      threshold: Double = 0.0,
      unclassifiedPct: Option[Double] = None,
      ranks: Seq[String] = CamiRanks): Unit = {
    val rows = report.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3), r.getDouble(4)))
    val body = ranks.flatMap { tr =>
      rows.filter(r => r._2 == tr && r._5 > threshold).sortBy(_._1)
        .map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${sig6(r._5 * 100)}")
    }
    val uncls = unclassifiedPct.toSeq.map(p =>
      s"unclassified\tno rank\t-\t-\t${sig6(p * 100)}")
    writeLocal(report, path, Seq(
      s"@SampleID:$sampleId", "@Version:0.10.0",
      s"@Ranks:${ranks.mkString("|")}",
      "@@TAXID\tRANK\tTAXPATH\tTAXPATHSN\tPERCENTAGE") ++ uncls ++ body)
  }

  /** IO9 — CAMI binning file (profile_output.hpp:79-98): one
    * `SEQUENCEID\tTAXID` row per query, `-` for unmatched, ordered by the
    * query_id column's NATURAL order (numeric ids sort numerically; the
    * reference's std::map iterates its string keys lexicographically, which
    * coincides for its zero-padded read names). `binning` columns:
    * (query_id, taxid nullable). Collected to the driver: one row per
    * query — for bulk binning at scale use writeSearchResults-style
    * distributed TSV instead; this sink mirrors the reference's single
    * CAMI submission file. */
  def writeBinning(binning: DataFrame, path: String, sampleId: String): Unit = {
    val rows = binning.orderBy(col(binning.columns.head)).collect()
      .map(r =>
        s"${r.get(0)}\t${Option(r.getString(1)).getOrElse("-")}")
    writeLocal(binning, path, Seq(s"@SampleID:$sampleId", "@Version:0.10.0",
      "@@SEQUENCEID\tTAXID") ++ rows)
  }

  /** IO9 at scale — DISTRIBUTED CAMI binning sink: the same rows as
    * writeBinning but written by the executors (text part files under
    * `<dir>/rows`, one row per query, `-` for unmatched), with the @-header
    * written once to `<dir>/header`. writeBinning stays for the single-file
    * CAMI submission artifact (its driver collect is the submission
    * format's price); this is the path a 100×-scale user takes — no row
    * ever reaches the driver. Rows are unordered across part files (the
    * binning format is keyed by SEQUENCEID, not order); `readBinningLines`
    * reassembles header + sorted rows for comparison/export. */
  def writeBinningDistributed(
      binning: DataFrame, dir: String, sampleId: String): Unit = {
    binning.select(concat_ws("\t",
        col(binning.columns.head).cast("string"),
        coalesce(col(binning.columns(1)).cast("string"), lit("-"))).as("line"))
      .write.mode("overwrite").text(s"$dir/rows")
    writeLocal(binning, s"$dir/header", Seq(s"@SampleID:$sampleId",
      "@Version:0.10.0", "@@SEQUENCEID\tTAXID"))
  }

  /** Reassemble a writeBinningDistributed directory into the single-file
    * line sequence (header lines, then rows sorted by SEQUENCEID) — golden-
    * comparable with a writeBinning file on the same input. */
  def readBinningLines(
      spark: SparkSession, dir: String): Seq[String] = {
    val header = spark.read.textFile(s"$dir/header").collect().toSeq
    val rows = spark.read.textFile(s"$dir/rows")
      .collect().toSeq.sortBy(_.split("\t", 2).head)
    header ++ rows
  }
}
