package graft.operators

import graft.sources.SketchTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distributed sampling for training-data pipelines.
  *
  * A 100 TB corpus is never inspected or ablated whole — every curation loop
  * (quality audits, contamination spot-checks, mixture experiments) runs on
  * samples, and those samples must be REPRODUCIBLE across reruns, engines and
  * partitionings, which `rand()`-based sampling is not. Bottom-k-by-hash
  * gives all of that with plain relational algebra: rank rows inside each
  * stratum by a keyed hash of their id and keep the k smallest. The same
  * (seed, id) always hashes the same, so the sample is stable under
  * repartitioning, incremental (a new row only enters if it beats the
  * current k-th hash), and mergeable — bottomK(A ∪ B) = bottomK(bottomK(A)
  * ∪ bottomK(B)), the same min-k law the reference's FracMinHash scaling
  * filter relies on (/root/reference/src/main/taxor_build.cpp:335-340; the
  * hash-threshold sample there is the unbounded-k cousin of this operator).
  *
  * Scale shape: one shuffle on the stratum key; the rank-≤-k predicate is
  * pushed into the exchange as a per-partition top-k (Spark's
  * WindowGroupLimit), so at most k·partitions rows per stratum cross the
  * wire regardless of corpus size. The hash is md5 of `seed || ':' || id`
  * rendered in hex — deliberately engine-portable (any SQL engine reproduces
  * the exact sample), which is what makes the DuckDB oracle byte-exact.
  *
  * COMPOSITION RULE (domain separation): each operator FAMILY hashes a
  * distinct key domain, so chaining them cannot correlate —
  *  - rank selection (`bottomK`/`bottomKGlobal`/`tokenBudget`) hashes
  *    `"<seed>:<id>"`; nesting WITHIN the family is a feature (bigger k /
  *    bigger budget only ADD rows);
  *  - `hashSplit` hashes `"<seed>#split:<id>"`;
  *  - `rateSample` hashes `"<seed>#rate:<id>"`;
  *  - `temperatureSample` hashes `"<seed>#temp:<id>"` (its keep decision
  *    must not correlate with a fixed-rate stage in the same chain);
  *  - `exportShards` hashes `"<seed>#shard:<id>"` (export order must not
  *    correlate with any upstream keep/drop decision);
  *  - `weightedBottomK` uses the independent KMV 60-bit hash.
  * Without this, rate-sampling at 50% and then hash-splitting 80/10/10
  * would put EVERY sampled row in 'train' (both would threshold the same
  * md5 prefix). Same-family chains at the SAME statistic remain
  * correlated by design; use distinct `seed`s to decorrelate deliberately.
  */
object Sampling {
  /** Keep the `k` rows with the smallest md5("<seed>:<id>") per stratum
    * (ties broken by id; rows with equal ids are interchangeable). Output:
    * all input columns plus `rk` (1-based rank within the stratum).
    */
  def bottomK(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val h = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(strataCols.map(col): _*).orderBy(h, col(idCol))
    df.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Deterministic train/val/test (or any weighted) split by id hash —
    * the other sampling primitive every training pipeline needs: the split
    * must be a pure function of the example id, so it never changes when
    * the corpus is re-partitioned, re-ordered, or incrementally extended
    * (new rows land in splits at the right rates; old rows never migrate,
    * which is what keeps eval sets uncontaminated across dataset versions).
    *
    * Assignment: the first two hex chars of md5("<seed>#split:<id>") are a
    * uniform 256-bucket value (the `#split` domain tag decorrelates the
    * split from the rank/rate samplers — see the object scaladoc);
    * cumulative weight boundaries are rendered as
    * two-char hex thresholds and compared LEXICOGRAPHICALLY (hex strings
    * order identically to their numeric value), so the whole operator is
    * three string comparisons — row-local, codegen'd, zero shuffle, and
    * reproducible verbatim in any SQL engine (the DuckDB oracle gate is
    * byte-exact). Granularity is 1/256 of the corpus per weight step;
    * weights are normalized and each boundary rounds down.
    *
    * MIGRATION (r4): the hash domain gained the `#split` tag, so
    * assignments differ from pre-r4 artifacts — a split frozen under the
    * old scheme must be re-derived with `domainTag = ":"` (the legacy
    * key `"<seed>:<id>"`), not recomputed under the default, or ~255/256
    * of rows migrate and eval sets silently contaminate. */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      seed: String = "graft",
      splitCol: String = "split",
      domainTag: String = "#split:"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    val h = substring(
      md5(concat(lit(seed + domainTag), col(idCol).cast("string"))), 1, 2)
    // cumulative upper bounds in buckets-of-256, as two-char hex literals
    val buckets = weights.map(_._2 / total).scanLeft(0.0)(_ + _).tail
      .map(c => math.min(255, math.floor(c * 256).toInt))
    // a weight below the 1/256 granularity renders two adjacent bounds to
    // the SAME hex threshold and its split silently receives zero rows —
    // fail the impossible request at construction instead. The LAST split
    // is exempt: it takes everything at or above its lower bound (the
    // `otherwise` branch), which is non-empty for any lower bound <= 255.
    (0 +: buckets.init).zip(buckets).zip(weights).dropRight(1).foreach {
      case ((lo, hi), (name, w)) =>
        require(hi > lo,
          s"split '$name' (weight $w) is below the 1/256 hash granularity" +
            s" — its bucket range [$lo, $hi) is empty; use a coarser split")
    }
    val bounds = buckets.map(b => f"$b%02x")
    val assigned = weights.init.zip(bounds.init)
      .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, ((name, _), bound)) =>
          val cond = h < lit(bound)
          Some(acc.fold(when(cond, name))(_.when(cond, name)))
      }
      .fold(lit(weights.head._1))(_.otherwise(weights.last._1))
    df.withColumn(splitCol, assigned)
  }

  /** Deterministic per-group RATE sampling — mixture construction's core
    * op ("web at 12%, code at 100%, forums at 3%"): keep a row iff the
    * first two hex chars of md5("<seed>:<id>") fall below the group's
    * rate threshold, rendered at the same 1/256 granularity (and with the
    * same lexicographic-hex compare) as [[hashSplit]]. Pure function of
    * (seed, id): stable under repartitioning and appends, NESTED across
    * rates (the 3% sample is a subset of the 12% sample — a rate increase
    * only ADDS documents, it never swaps them), and byte-exact across
    * engines. Rows whose group has no configured rate are dropped.
    * Row-local, zero shuffle. Rates below 1/256 reject at construction
    * (the silently-empty-sample case), rate 1.0 keeps everything. */
  def rateSample(
      df: DataFrame,
      groupCol: String,
      rates: Seq[(String, Double)],
      idCol: String,
      seed: String = "graft"): DataFrame = {
    val h = substring(
      md5(concat(lit(seed + "#rate:"), col(idCol).cast("string"))), 1, 2)
    val keep = rateThresholds(rates).map { case (g, bound) =>
      // None = rate 1.0 keeps every hash; thresholds compare as hex
      (col(groupCol) === g) && bound.fold(lit(true))(b => h < lit(b))
    }.reduce(_ || _)
    df.where(keep)
  }

  /** Single source of rateSample's per-group hex thresholds
    * (floor(rate·256) rendered as two lowercase hex chars; None = keep
    * all) — the DuckDB oracle builder consumes the SAME derivation, so
    * the byte-equality gate cannot de-synchronize. Sub-granularity rates
    * reject HERE, on both the engine and the oracle path. */
  def rateThresholds(
      rates: Seq[(String, Double)]): Seq[(String, Option[String])] = {
    require(rates.nonEmpty && rates.forall(r => r._2 > 0 && r._2 <= 1.0),
      s"rates must be in (0, 1]: $rates")
    require(rates.map(_._1).distinct.size == rates.size,
      s"duplicate group in rates (the conditions would OR together and " +
        s"the highest rate silently wins): ${rates.map(_._1)}")
    rates.map { case (g, r) =>
      val bucket = math.min(256, math.floor(r * 256).toInt)
      require(bucket >= 1,
        s"rate $r for group '$g' is below the 1/256 hash granularity — " +
          "the sample would be silently empty")
      g -> (if (bucket >= 256) None else Some(f"$bucket%02x"))
    }
  }

  /** Temperature-flattened mixture sampling — the standard multi-source /
    * multilingual balancing recipe (sample source s with probability
    * proportional to n_s^alpha, alpha in (0, 1]; Lample & Conneau 2019
    * §3.1, XLM-R, mT5 all train on such mixtures): a keep-RATE of
    * r_s ∝ n_s^(alpha-1), normalized so the SMALLEST source keeps
    * everything (downsample-only — an engine samples down, a dataloader
    * repeats up). Unlike [[rateSample]], the rates are computed IN-PLAN
    * from the observed group sizes: one map-side-combined count
    * aggregation, the tiny per-group rate table broadcast back onto the
    * corpus, a row-local integer hash threshold — no driver round-trip;
    * the only cost beyond a plain filter scan is the one
    * map-side-combined count pass any sizing implementation needs. alpha = 1 keeps everything; alpha → 0 flattens
    * toward equal-size sources.
    *
    * Determinism: the threshold is the integral 1/256-granularity bucket
    * floor((n_min/n_s)^(1-alpha) · 256) clamped to [1, 256] (a group
    * needing < 1/256 saturates at ~1/256 of its rows rather than going
    * silently empty — groups > 256^(1/(1-alpha)) times the smallest hit
    * that floor). At the default alpha = 0.5 the exponent is one IEEE
    * sqrt of one IEEE division of integer-derived operands — both
    * correctly rounded, so the kept set is BYTE-EXACT across engines
    * (the `sample_temperature` gate); other alphas go through pow, which
    * libms round differently — deterministic per engine, not gated
    * cross-engine. Hash family: `"<seed>#temp:"` (see the object
    * scaladoc's domain-separation rule). Raising alpha only raises
    * buckets, so samples are NESTED across alpha like rate increases in
    * [[rateSample]]. Rows with a null group or null id are dropped (no
    * size to derive a rate from / no hash). Output: all input columns
    * (the group key surfaces first, as join keys do) plus `temp_bucket`
    * (INT in [1, 256] — the group's threshold, for mixture audits). */
  def temperatureSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      alpha: Double = 0.5,
      seed: String = "graft"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(!df.columns.contains("temp_bucket"),
      "input already has a 'temp_bucket' column")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
    val minN = counts.agg(min(col("n_g")).as("n_min"))
    val ratio = col("n_min").cast("double") / col("n_g").cast("double")
    // alpha = 0.5 pins the portable path: sqrt is IEEE-correctly-rounded,
    // pow is not — keep the expression shape in sync with the oracle SQL
    val scaled = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    val buckets = counts.crossJoin(broadcast(minN))
      .select(col(groupCol),
        least(greatest(floor(scaled * lit(256)), lit(1L)), lit(256L))
          .cast("int").as("temp_bucket"))
    // integer decode of the first two md5 hex chars (0..255): bucket 256
    // keeps every row, bucket b keeps hashes 0..b-1 — numeric compare so
    // the threshold can be a data-derived column, not a literal
    val hv = conv(substring(
        md5(concat(lit(seed + "#temp:"), col(idCol).cast("string"))), 1, 2),
      16, 10).cast("int")
    df.join(broadcast(buckets), Seq(groupCol)).where(hv < col("temp_bucket"))
  }

  /** Deterministic token-budget fill — the other half of mixture
    * construction: within each stratum, rank rows by the engine-portable
    * md5 hash (the bottomK order) and keep rows while the RUNNING SUM of
    * `weightCol` (tokens, bytes, cost) stays within `budget` — "fill 10B
    * tokens per source, reproducibly". The cumulative sum is over
    * integer weights in a deterministic order, so the kept set is
    * byte-exact across engines, stable under repartitioning, and nested
    * across budgets (a bigger budget only ADDS rows). A single row larger
    * than the whole budget is excluded (inclusive-sum rule). Rows with
    * null/non-positive weight are excluded like [[weightedBottomK]].
    * Scale shape: one shuffle on the stratum key; the running sum is a
    * window cumsum (sort within stratum), not a driver loop. */
  def tokenBudget(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      weightCol: String,
      budget: Long,
      seed: String = "graft",
      cumCol: String = "cum_w"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(!df.columns.contains(cumCol),
      s"input already has a '$cumCol' column — pass a different cumCol " +
        "instead of silently overwriting it")
    val h = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(h, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn(cumCol, sum(col(weightCol).cast("long")).over(w))
      .where(col(cumCol) <= budget)
  }

  /** Sequence PACKING — the corpus-assembly step a pretraining pipeline
    * runs last: concatenate documents in a deterministic order and chunk
    * the stream into fixed `ctxTokens`-token windows ("concat-and-chunk",
    * the standard GPT-style packing; a document crossing a boundary is
    * split across adjacent windows). Order is the same engine-portable
    * md5("<seed>:<id>") rank the rank-sampling family uses, so the
    * packing is byte-exact across engines, stable under repartitioning,
    * and APPEND-MONOTONE per stratum in the suffix sense: the stream of
    * already-packed tokens never reorders, appended docs pack after it.
    *
    * Output: all input columns plus `pack_start` (0-based token offset of
    * the doc in its stratum's stream), `window_id` (= pack_start div
    * ctxTokens), `window_off` (offset within that window) and `n_windows`
    * (how many windows the doc spans). Rows with null/non-positive token
    * counts are excluded (same posture as [[tokenBudget]]).
    *
    * Scale shape: one shuffle on the stratum key + a window cumsum per
    * stratum (the same honestly-documented stratum-wide sort as
    * [[tokenBudget]] — pack per source/shard, not one global stratum, at
    * 100 TB). */
  def packWindows(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      tokensCol: String,
      ctxTokens: Long,
      seed: String = "graft"): DataFrame = {
    require(ctxTokens > 0, s"ctxTokens must be positive, got $ctxTokens")
    Seq("pack_start", "window_id", "window_off", "n_windows").foreach { c =>
      require(!df.columns.contains(c), s"input already has a '$c' column")
    }
    val h = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(h, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // integer `div`, not floor(double /): byte-exact at any magnitude
    df.where(col(tokensCol).isNotNull && col(tokensCol) > 0)
      .withColumn("pack_start",
        sum(col(tokensCol).cast("long")).over(w) - col(tokensCol))
      .withColumn("window_id", expr(s"pack_start div $ctxTokens"))
      .withColumn("window_off", pmod(col("pack_start"), lit(ctxTokens)))
      .withColumn("n_windows",
        expr(s"(pack_start + `$tokensCol` - 1) div $ctxTokens")
          - col("window_id") + 1)
  }

  /** Unstratified corpus-wide sample (single stratum). For very large k a
    * single-partition window would bottleneck; this keeps the global sample
    * exact by ranking within hash-prefix buckets first (WindowGroupLimit
    * prunes each bucket to k) and then taking the global k smallest — the
    * classic two-level top-k. */
  def bottomKGlobal(
      df: DataFrame, idCol: String, k: Int, seed: String = "graft",
      buckets: Int = 64): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val h = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val bucketed = df.withColumn("__h", h)
      .withColumn("__b", pmod(xxhash64(col("__h")), lit(buckets)))
    val wLocal = Window.partitionBy("__b").orderBy(col("__h"), col(idCol))
    val pruned = bucketed
      .withColumn("__lrk", row_number().over(wLocal))
      .where(col("__lrk") <= k)
    val wGlobal = Window.orderBy(col("__h"), col(idCol))
    pruned.withColumn("rk", row_number().over(wGlobal))
      .where(col("rk") <= k)
      .drop("__h", "__b", "__lrk")
  }

  /** Deterministic global top-k by a SCORE column (descending; ties broken
    * by id ascending) — the selection half of score-based curation
    * (importance resampling, quality filtering, centrality ranking): given
    * any deterministic per-row score, keep the k best rows reproducibly.
    * Unlike the hash-rank family this orders by DATA, so determinism is
    * inherited from the score column: feed it a byte-exact score (an
    * integer statistic, or a fixed-point x1e9 column like
    * TextStats.importanceWeights' `sum_lr_x1e9`) and the selected set
    * gates byte-exact; feed it a float-summed score and the selection is
    * deterministic per engine only.
    *
    * Scale shape: same two-level top-k as [[bottomKGlobal]] — rows are
    * ranked inside hash-of-id buckets first (WindowGroupLimit prunes every
    * bucket to k before the exchange), then the ≤ buckets·k survivors take
    * the global rank; no global sort of the corpus ever happens. Output:
    * all input columns plus `rk` (1-based global rank). */
  def topKByScore(
      df: DataFrame,
      scoreCol: String,
      idCol: String,
      k: Int,
      buckets: Int = 64): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Seq("__b", "__lrk").foreach { c =>
      require(!df.columns.contains(c), s"input already has a '$c' column")
    }
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    val bucketed = df.withColumn("__b",
      pmod(xxhash64(col(idCol).cast("string")), lit(buckets)))
    val wLocal = Window.partitionBy("__b").orderBy(order: _*)
    val pruned = bucketed
      .withColumn("__lrk", row_number().over(wLocal))
      .where(col("__lrk") <= k)
    val wGlobal = Window.orderBy(order: _*)
    pruned.withColumn("rk", row_number().over(wGlobal))
      .where(col("rk") <= k)
      .drop("__b", "__lrk")
  }

  /** Weighted stratified sampling: keep the `k` rows with the smallest
    * hash/weight PRIORITY per stratum — sequential-Poisson / priority
    * sampling (Ohlsson 1998; Duffield et al. 2007): inclusion probability
    * rises with weight, so heavy documents (tokens, bytes, cost) are
    * over-represented exactly as mixture construction wants, yet the
    * sample stays a pure function of (seed, id, weight): stable under
    * repartitioning, appends, and engines.
    *
    * `weightCol` must be a positive INTEGER column; the priority is one
    * IEEE division of integer-derived operands (the [[Kmv]] 60-bit md5
    * hash over the weight), so any SQL engine reproduces the exact sample
    * — the `sample_weighted` gate is byte-equality, like [[bottomK]].
    * Rows with null or non-positive weight are EXCLUDED from the sample
    * (enforced — a zero weight yields priority Infinity and a negative
    * one a negative priority that silently wins every slot; same posture
    * as topk_weighted_agg, which ignores non-positive weights).
    * Same scale shape as bottomK: WindowGroupLimit prunes to ≤ k rows per
    * stratum per partition before the exchange. */
  def weightedBottomK(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      weightCol: String,
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val q = Kmv.hash(col(idCol), seed).cast("double") /
      col(weightCol).cast("double")
    val w = Window.partitionBy(strataCols.map(col): _*).orderBy(q, col(idCol))
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Deterministic corpus EXPORT: the global-shuffle + sharding step that
    * turns a curated corpus into dataloader-ready shards. Training wants
    * (a) a reproducible random permutation of the corpus — examples must
    * not arrive in crawl/source order — and (b) a fixed number of shard
    * files so N data-parallel readers each stream their own subset. Both
    * fall out of one engine-portable hash: rows are ordered by
    * md5("<seed>#shard:<id>") (the `#shard` family tag keeps the export
    * order decorrelated from every sampling decision upstream — see the
    * object scaladoc), the shard is the [[Kmv]] 60-bit decode of that same
    * hash mod `nShards`, and the within-shard ordinal is a row_number in
    * hash order. Concatenating shards 0..N-1 in ordinal order replays one
    * deterministic global permutation; each shard alone is an unbiased
    * 1/N sample of the corpus (hash-uniform), so per-reader streams are
    * exchangeable — the property data-parallel training assumes.
    *
    * Byte-exact across engines and partitionings (the `export_shards`
    * gate is byte-equality vs DuckDB via [[Kmv.decodeHexSql]]'s portable
    * hex decode). Scale shape: ONE shuffle on the shard key, then a
    * per-shard sort — size `nShards` so a shard is one output file
    * (corpus_bytes / target_file_bytes), exactly how dataloader shards
    * are sized in practice; the sort is per-shard, never global.
    *
    * Output: all input columns plus `shard` (0-based INT) and `ord`
    * (1-based BIGINT position within the shard). */
  def exportShards(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      seed: String = "graft"): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 20),
      s"nShards must be in [1, 2^20], got $nShards")
    Seq("shard", "ord").foreach { c =>
      require(!df.columns.contains(c), s"input already has a '$c' column")
    }
    // both columns derive from ONE md5 of the domain-tagged key: the 60-bit
    // prefix decode picks the shard, the full hex string orders within it
    val h = md5(concat(lit(seed + "#shard:"), col(idCol).cast("string")))
    val sharded = df
      .withColumn("shard",
        pmod(Kmv.hash(col(idCol), seed + "#shard"), lit(nShards.toLong))
          .cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(h, col(idCol))
    sharded.withColumn("ord", row_number().over(w).cast("long"))
  }

  /** The manifest kinds of the two frozen schemes. */
  private val ExportKind = "export_shards"
  private val SplitKind = "hash_split"

  /** Materialize a corpus export as a frozen artifact: [[exportShards]]
    * rows land at `dir/data/shard=<s>/` (one parquet directory per shard,
    * rows in ordinal order) with the (seed, nShards) scheme manifest at
    * `dir` — the IvfIndex dir layout. A data-parallel reader fleet
    * consumes it directly: reader r lists its own `shard=r` directory
    * (partition pruning makes "read shard 17" a one-directory scan) and
    * streams rows in `ord` order. The explicit repartition ON the shard
    * column routes each shard's rows to one task before the
    * dynamic-partition write, so a shard is one sorted file, not
    * `inputPartitions` fragments of one. */
  def writeShards(
      df: DataFrame,
      idCol: String,
      dir: String,
      nShards: Int,
      seed: String = "graft"): Unit =
    SketchTable.create(df.sparkSession, dir, ExportKind,
      exportParams(nShards, seed)) {
      _.write(SketchTable.Table("data", "shard"),
        exportShards(df, idCol, nShards, seed)
          .repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("ord")))
    }

  private def exportParams(nShards: Int, seed: String): Map[String, String] = {
    require(nShards >= 1 && nShards <= (1 << 20), s"nShards=$nShards")
    Map("seed" -> seed, "n_shards" -> nShards.toString)
  }

  /** Freeze an export SCHEME (seed, nShards) as a versioned manifest —
    * same posture as [[saveSplitScheme]]: a training run's shard layout is
    * a long-lived artifact (checkpoints record "reader r owns shard s"),
    * so re-deriving it under a different seed or shard count must be
    * impossible by construction, not by convention. */
  def saveExportScheme(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      nShards: Int,
      seed: String = "graft"): Unit =
    SketchTable.create(spark, dir, ExportKind, exportParams(nShards, seed))(
      _ => ())

  /** Re-derive a frozen export: applies [[exportShards]] with EXACTLY the
    * (seed, nShards) recorded at `dir` by [[saveExportScheme]]; probing a
    * non-export manifest dir fails loudly. */
  def exportShardsFromScheme(
      df: DataFrame,
      idCol: String,
      dir: String): DataFrame = {
    val scheme = SketchTable.open(df.sparkSession, dir, ExportKind)
    exportShards(df, idCol, scheme("n_shards").toInt, scheme("seed"))
  }

  /** Freeze a split SCHEME (seed, hash-domain tag, weights) as a versioned
    * manifest, so a long-lived dataset's split can only ever be re-derived
    * under the parameters it was frozen with. This is the loud-failure
    * answer to the r4 domain-tag migration hazard: a split persisted
    * before the `#split:` tag existed records `domainTag = ":"` here, and
    * [[hashSplitFromScheme]] replays it verbatim — a caller can no longer
    * recompute a frozen split under the wrong scheme by forgetting the
    * migration note, and probing a non-split manifest dir fails loudly
    * (same kind-check posture as the sketch/IVF index manifests). */
  def saveSplitScheme(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      weights: Seq[(String, Double)],
      seed: String = "graft",
      domainTag: String = "#split:"): Unit = {
    require(weights.nonEmpty, "empty split scheme")
    weights.foreach { case (n, _) =>
      require(n.matches("[A-Za-z0-9_.-]+"),
        s"split name '$n' — names in a frozen scheme must be [A-Za-z0-9_.-]+")
    }
    SketchTable.create(spark, dir, SplitKind, Map(
      "seed" -> seed,
      "domain_tag" -> domainTag,
      "weights" -> weights.map { case (n, w) => s"$n=$w" }.mkString(",")))(
      _ => ())
  }

  /** Re-derive a frozen split: applies [[hashSplit]] with EXACTLY the
    * (seed, domainTag, weights) recorded at `dir` by [[saveSplitScheme]].
    * Scala's Double.toString round-trips, so the replayed bucket
    * boundaries are bit-identical to the originals. */
  def hashSplitFromScheme(
      df: DataFrame,
      idCol: String,
      dir: String,
      splitCol: String = "split"): DataFrame = {
    val scheme = SketchTable.open(df.sparkSession, dir, SplitKind)
    val weights = scheme("weights").split(",").toSeq.map { kv =>
      val i = kv.lastIndexOf('=')
      require(i > 0, s"split scheme at $dir: malformed weight entry '$kv'")
      (kv.substring(0, i), kv.substring(i + 1).toDouble)
    }
    hashSplit(df, idCol, weights, scheme("seed"), splitCol,
      scheme("domain_tag"))
  }
}
