package graft.operators

import graft.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-accelerated join pruning.
  *
  * At 100 TB the dominant join cost is shuffling probe-side rows that can
  * never match — a Bloom filter of the build side's keys, broadcast as ONE
  * fixed-size blob and evaluated row-locally BEFORE the exchange, removes
  * them at scan speed. False positives only pass extra rows into the join,
  * which discards them — the result is EXACT (byte-equality oracle), only
  * the pruning rate is probabilistic. This is the same build→probe shape as
  * the reference's filter-then-verify classification
  * (/root/reference/src/main/taxor_search.cpp: Bloom probe gates the exact
  * count), re-aimed at relational joins; Spark's own runtime bloom-filter
  * injection (InjectRuntimeFilter) applies the identical idea when its
  * heuristics fire — this operator makes it explicit, deterministic
  * (seeded), and available on any column expression.
  */
object Joins {
  /** Build the filter blob with ONE aggregate over the build side and
    * apply it as a probe-side predicate via the SIZE-AWARE scalar-blob
    * route (`bloom_contains_routed`, the measured SURVEY §9 boundary):
    *
    *  - below ~1 MB the blob embeds as a binary LITERAL — it lands in the
    *    codegen references array and is probed in place, zero per-row
    *    copies, riding the task binary once per stage. (The earlier
    *    crossJoin(broadcast(blob)) form was quadratic in disguise: the
    *    probe predicate read the blob out of the joined UnsafeRow and
    *    `getBinary` COPIES — ~95 KB × every scanned row ⇒ tens of GB of
    *    memcpy at sf0.1, measured as the dominant CPU of
    *    join_bloom_pruned);
    *  - above the boundary (a build side of ~1e9 keys at fpp 0.0039 is a
    *    ~1.7 GB filter) a Literal is itself the scale-killer — Catalyst
    *    re-hashes a Literal's full bytes per tree compare and
    *    re-serializes it into every stage's task binary — so the blob
    *    travels as a TorrentBroadcast handle held by the expression. */
  private def bloomFiltered(
      probe: DataFrame, build: DataFrame, key: String, expectedKeys: Long,
      fpp: Double, seed: Long): DataFrame = {
    val blob = build
      .agg(bloom_agg_hashed(xxhash64(col(key)), expectedKeys, fpp, seed))
      .first().getAs[Array[Byte]](0)
    probe.where(
      bloom_contains_routed(probe.sparkSession, blob, xxhash64(col(key))))
  }

  /** Inner-join `probe` with `build`, pre-filtering the probe side with a
    * Bloom filter of the build side's join keys, applied as a codegen'd
    * row-local predicate before the shuffle — at selectivity s only
    * ~(s + fpp) of probe rows reach the exchange.
    *
    * @param expectedKeys sizing for the filter (distinct build keys); use
    *                     an HLL pre-pass or domain knowledge at scale.
    */
  def bloomPrunedJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      expectedKeys: Long = 1 << 16,
      fpp: Double = 0.0039,
      seed: Long = DefaultSeed): DataFrame =
    bloomFiltered(probe, build, key, expectedKeys, fpp, seed).join(build, key)

  /** The pruning predicate alone — for callers composing their own join
    * (different join types, multi-key, or pre-shuffle placement in a larger
    * plan): returns `probe` with non-members of `build`'s key set removed
    * (false-positive rate `fpp` of non-members survive; all members do). */
  def bloomSemiFilter(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      expectedKeys: Long = 1 << 16,
      fpp: Double = 0.0039,
      seed: Long = DefaultSeed): DataFrame =
    bloomFiltered(probe, build, key, expectedKeys, fpp, seed)

  /** Result of [[joinSizeEstimate]]: `estimate` never undercounts the true
    * equi-join cardinality, and overcounts by at most [[slack]] with
    * probability ≥ 1 − delta (Cormode & Muthukrishnan 2005 §4.2). */
  final case class JoinSizeEstimate(
      estimate: Long, rowsA: Long, rowsB: Long, eps: Double, delta: Double) {
    /** The published one-sided error term eps·|A|·|B|. */
    def slack: Long =
      math.ceil(eps * rowsA.toDouble * rowsB.toDouble).toLong
  }

  /** Pre-flight equi-join cardinality estimate from two count-min sketches
    * sharing (eps, delta, seed): |A ⋈ B| on `key` equals the inner product
    * of the two key-frequency vectors, which CountMin.innerProduct estimates
    * from two O(1/eps) blobs — ONE aggregate scan per side, NO join
    * executed, no key-level shuffle. At 100 TB this is the planner's
    * question ("will this join explode?") answered for the cost of two
    * sketch passes that can also piggyback on aggregations already running
    * over the same scans (cms_agg partials cross shuffles sparse).
    * Deterministic for a fixed seed: counters are exact integer sums
    * independent of partitioning, so the estimate is replayable. */
  def joinSizeEstimate(
      a: DataFrame,
      b: DataFrame,
      key: String,
      eps: Double = 1e-4,
      delta: Double = 0.01,
      seed: Long = DefaultSeed): JoinSizeEstimate = {
    val blobA =
      a.agg(cms_agg(col(key), eps, delta, seed)).first().getAs[Array[Byte]](0)
    val blobB =
      b.agg(cms_agg(col(key), eps, delta, seed)).first().getAs[Array[Byte]](0)
    JoinSizeEstimate(
      graft.sketch.CountMin.innerProduct(blobA, blobB),
      graft.sketch.CountMin.totalWeight(blobA),
      graft.sketch.CountMin.totalWeight(blobB),
      eps, delta)
  }

  /** Skew-armored repartition join for a fact-fact key whose histogram is
    * too skewed for one reducer: salt the BIG side (each hot key's rows fan
    * out over `buckets` reducers) and explode the SMALL side ×`buckets`,
    * joining on (key, salt). This is the join twin of [[SaltedAgg]]: the
    * result is row-identical to the plain join (byte-equality gate
    * `join_skew_salted`), only the shuffle layout changes.
    *
    * When NOT to reach for this: (a) if the small side fits a broadcast,
    * `broadcast(small)` removes the big-side shuffle entirely — always
    * better; (b) under AQE, `spark.sql.adaptive.skewJoin` already splits
    * skewed SORT-MERGE partitions at runtime from shuffle statistics —
    * prefer it when the skew only shows at runtime. This explicit form is
    * for when the planner picks a hash join AQE won't re-split, when skew
    * is KNOWN ahead (planned layouts), or when the small side is
    * join-key-duplicated so AQE's partition splitting can't help.
    *
    * The salt is derived from deterministic row content (xxhash64 of all
    * big-side columns, never partition id or RNG), so retries and different
    * parallelism produce identical assignment — same discipline as
    * [[SaltedAgg]], and immune to the lost/duplicated-row hazard
    * non-deterministic partitioning has under partial stage retry (the
    * reason Spark's round-robin repartition inserts a local sort).
    * PRECONDITION of the relief: a hot key's rows must vary in SOME
    * selected column — full-row duplicates hash to one salt and stay on
    * one reducer. Exact duplicates are the degenerate case: collapse them
    * first (`groupBy(all cols).count`) and join the counts, which shrinks
    * the shuffle instead of spreading it. Inner joins only: an exploded
    * small side would emit unmatched outer rows `buckets` times.
    *
    * Replication cost is explicit: the small side is scanned into
    * `buckets`× its rows. Use [[skewSplitJoin]] to pay it for the hot keys
    * only. */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "a __salt column already exists")
    val salted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.toIndexedSeq.map(col): _*), lit(buckets)))
    val exploded = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** [[saltedJoin]] restricted to the keys that need it: a cheap sampled
    * histogram finds keys whose estimated row count exceeds
    * `hotKeyMinRows`, those join salted, the long tail joins plain, and the
    * two branches union. Driver state is the hot-key list only — by
    * definition a handful (require-guarded at `maxHotKeys`).
    *
    * At 100 TB this is the production shape: the small side is replicated
    * ×`buckets` ONLY for the few hot keys' rows, and the tail keeps the
    * plain one-reducer-per-key layout. */
  def skewSplitJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      buckets: Int,
      hotKeyMinRows: Long = 10000000L,
      sampleFraction: Double = 0.02,
      maxHotKeys: Int = 10000,
      seed: Long = DefaultSeed): DataFrame = {
    // the sampled histogram can only DISCRIMINATE hot from cold if a hot
    // key is expected to appear more than once in the sample — below that,
    // the threshold truncates toward 0..1 and every sampled key counts as
    // hot (a floor of 1 is no better: absent keys never reach the groupBy,
    // so `n >= 1` passes everything sampled). Fail loudly instead of
    // silently salting the whole join.
    require(hotKeyMinRows * sampleFraction >= 2.0,
      s"hotKeyMinRows=$hotKeyMinRows x sampleFraction=$sampleFraction < 2 " +
        "expected sample rows per hot key - the sampled histogram cannot " +
        "discriminate; raise sampleFraction or hotKeyMinRows")
    // the hot-key CHOICE only affects layout, never the result rows (both
    // branches compute the same join), so the sampled detection does not
    // need cross-partitioning determinism — the seed just makes a given
    // layout reproducible
    val hot = big.sample(withReplacement = false, sampleFraction, seed)
      .groupBy(col(key)).agg(count(lit(1)).as("n"))
      .where(col("n") >= (hotKeyMinRows * sampleFraction).toLong)
      .orderBy(col("n").desc)
      .limit(maxHotKeys + 1)
      .select(col(key)).collect().map(_.get(0)).toSeq
    require(hot.size <= maxHotKeys,
      s"more than $maxHotKeys hot keys at hotKeyMinRows=$hotKeyMinRows — " +
        "raise the threshold or salt everything with saltedJoin")
    if (hot.isEmpty) big.join(small, key)
    else {
      val isHot = col(key).isin(hot: _*)
      saltedJoin(big.where(isHot), small.where(isHot), key, buckets)
        .unionByName(big.where(!isHot).join(small.where(!isHot), key))
    }
  }
}
