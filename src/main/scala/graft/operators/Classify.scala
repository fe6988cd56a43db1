package graft.operators

import graft.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `taxor search` pipeline re-expressed in Spark: classify
  * query documents against grouped reference corpora by shingle-set
  * containment (/root/reference/src/main/taxor_search.cpp:153-338).
  *
  * Two physical strategies with identical logical semantics:
  *  - `exact`: inverted shingle equi-join + count (the ground truth; one
  *    shuffle on the shingle hash);
  *  - `sketch`: per-group partitioned Bloom filters built once (salted
  *    two-stage agg), broadcast to the probe side, counted with a single
  *    codegen'd `bloom_count_contained` pass — no shuffle of query shingles
  *    at all, the Spark analogue of probing the static HIXF index.
  *
  * Both end with the reference's filters: a minimum match threshold
  * (threshold.hpp:51-81, percentage mode) and the keep-if
  * `count >= 0.8 * max(count) over query` rule (taxor_search.cpp:275-286).
  */
object Classify {
  val RelMaxFactor = 0.8 // taxor_search.cpp:278

  /** The (group, h) reference-shingle table both strategies build from:
    * the raw explode, one row per shingle per corpus text. Bloom insertion
    * is idempotent, so [[buildFilters]] takes it as is; [[exactCounts]]
    * applies the distinct that only exact counting needs. A caller running
    * both strategies (classify_bloom_bounds) persists it once. */
  def groupShingles(
      corpus: DataFrame, // (group, text)
      shingleK: Int = 8,
      seed: Long = DefaultSeed): DataFrame =
    corpus.select(col("group"),
      explode(shingles(col("text"), shingleK, seed = seed)).as("h"))

  /** The (query_id, h) query-shingle table, raw explode. */
  def queryShingles(
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      seed: Long = DefaultSeed): DataFrame =
    queries.select(col("query_id"),
      explode(shingles(col("text"), shingleK, seed = seed)).as("h"))

  /** Raw exact match counts over shingle tables ([[groupShingles]],
    * [[queryShingles]]), no thresholds.
    * Output: (query_id, group, match_cnt, query_n).
    *
    * `maxGroupDf`: skew guard for scale — a shingle present in more than
    * this many reference groups (a stopword n-gram) multiplies every query
    * containing it by its group posting list in the join; capping drops it
    * from BOTH sides (and from query_n), i.e. containment over the
    * discriminative shingle universe only — a documented approximation.
    * None (default, used by the byte-equality gates) disables it. */
  def exactCounts(
      groupSh: DataFrame, // (group, h)
      querySh: DataFrame, // (query_id, h)
      maxGroupDf: Option[Long] = None): DataFrame = {
    val (g0, q0) = (groupSh.distinct(), querySh.distinct())
    val (g, q) = maxGroupDf match {
      case Some(cap) =>
        val hot = Dedup.hotKeys(g0, "h", cap)
        (g0.join(hot, Seq("h"), "left_anti"), q0.join(hot, Seq("h"), "left_anti"))
      case None => (g0, q0)
    }
    val queryN = q.groupBy("query_id").agg(count(lit(1)).as("query_n"))
    q.join(g, "h")
      .groupBy("query_id", "group")
      .agg(count(lit(1)).as("match_cnt"))
      .join(queryN, "query_id")
      .select("query_id", "group", "match_cnt", "query_n")
  }

  /** Exact classification. Output: (query_id, group, match_cnt, query_n). */
  def exact(
      corpus: DataFrame, // (group, text)
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      minFraction: Double = 0.1,
      seed: Long = DefaultSeed): DataFrame =
    applyFilters(
      exactCounts(groupShingles(corpus, shingleK, seed),
        queryShingles(queries, shingleK, seed)),
      minFraction)

  /** Per-group partitioned-Bloom filter table (group, bf) over a (group, h)
    * shingle table ([[groupShingles]]; duplicates allowed) — the one input
    * of every Bloom probe below, so one build can feed several probe
    * strategies without re-running the dominant shingle-explode + Bloom
    * aggregation. Salted two-stage build: skew-proof and byte-identical to
    * direct. */
  def buildFilters(
      groupSh: DataFrame, // (group, h)
      expectedShinglesPerGroup: Long = 1 << 17,
      fpp: Double = 0.0039,
      saltBuckets: Int = 8,
      seed: Long = DefaultSeed): DataFrame =
    SaltedAgg.twoStage(
      groupSh, Seq("group"), saltBuckets,
      saltOn = Seq(col("h")),
      partialAggs =
        Seq(bloom_agg_hashed(col("h"), expectedShinglesPerGroup, fpp, seed).as("bf_p")),
      finalAggs =
        Seq(bloom_merge_agg(col("bf_p"), expectedShinglesPerGroup, fpp, seed).as("bf")))

  /** Raw Bloom-filter match counts of a (group, bf) filter table, no
    * thresholds; same shape as exactCounts. */
  def sketchCounts(
      filters: DataFrame, // (group, bf)
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      seed: Long = DefaultSeed): DataFrame = {
    val probes = queries.select(col("query_id"),
      shingles(col("text"), shingleK, seed = seed).as("hs"))
      .withColumn("query_n", size(col("hs")))
    probes.crossJoin(broadcast(filters.select("group", "bf")))
      .withColumn("match_cnt", bloom_count_contained(col("bf"), col("hs")))
      .where(col("match_cnt") > 0)
      .select("query_id", "group", "match_cnt", "query_n")
  }

  /** Flat Bloom classification of a (group, bf) filter table; identical
    * shape to `exact`. The filters' `fpp` sets the overcount slack
    * (reference parity: 0.0039, xorfilter.hpp:60-62). */
  def sketch(
      filters: DataFrame, // (group, bf)
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      minFraction: Double = 0.1,
      seed: Long = DefaultSeed): DataFrame =
    applyFilters(sketchCounts(filters, queries, shingleK, seed), minFraction)

  /** Interleaved-probe classification of a (group, bf) filter table —
    * the reference's own probe shape (bulk count over an interleaved
    * multi-bin structure, see [[graft.sketch.Interleaved]]): all member
    * filters are bit-transposed into ONE blob (driver-side; `maxBlobBytes`
    * bounds the groups×filter-size assembly loudly, with
    * `hierarchicalSketch` as the many-groups answer) that travels as a
    * TorrentBroadcast handle held by the probe expression (a multi-MB
    * Literal would be re-hashed per Catalyst tree compare and
    * re-serialized into every stage's task binary; small scalar blobs
    * elsewhere do use Literals, see SURVEY §9) — and each query's
    * per-group counts come from one codegen'd bulk-count pass over its
    * hash set where every probed bit-block serves ALL groups at once.
    * Output is provably identical to `sketch` (same bits; equality gated
    * in `classify_interleaved` and OperatorsSpec). */
  def interleavedSketch(
      filters: DataFrame, // (group, bf)
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      minFraction: Double = 0.1,
      seed: Long = DefaultSeed,
      maxBlobBytes: Long = 512L << 20): DataFrame = {
    // loud driver budget: the transposed blob is ~sum of member filter
    // sizes and is assembled (and broadcast) from the driver — at 100×
    // group counts this must fail with a named fallback, not an OOM.
    // ONE pass, streaming: toLocalIterator pulls the filter table a
    // partition at a time and the budget is enforced INCREMENTALLY, so an
    // over-budget input aborts after holding at most maxBlobBytes (+ one
    // partition) on the driver — no second build pass, no caching of
    // blobs the check exists to refuse.
    val it = filters.select("group", "bf").toLocalIterator()
    val groupsBuf = scala.collection.mutable.ArrayBuffer[String]()
    val blobsBuf = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var totalBytes = 0L
    while (it.hasNext) {
      val r = it.next()
      val bf = r.getAs[Array[Byte]](1)
      totalBytes += bf.length
      require(totalBytes <= maxBlobBytes,
        s"interleaved blob would exceed $maxBlobBytes bytes " +
          s"(${groupsBuf.size + 1}+ groups, >= $totalBytes bytes): too " +
          "many groups for a single driver-assembled interleaved blob — " +
          "probe with hierarchicalSketch (two-level, broadcast " +
          "bounded by surviving buckets) or raise maxBlobBytes")
      groupsBuf += r.getString(0)
      blobsBuf += bf
    }
    val groups = groupsBuf.toSeq
    val blob = graft.sketch.Interleaved.fromFilters(blobsBuf.toSeq)
    val bcast = filters.sparkSession.sparkContext.broadcast(blob)
    val probes = queries.select(col("query_id"),
      shingles(col("text"), shingleK, seed = seed).as("hs"))
      .withColumn("query_n", size(col("hs")))
    val counts = probes
      .select(col("query_id"), col("query_n"),
        posexplode(ixf_count_contained_bcast(bcast, col("hs")))
          .as(Seq("bin", "match_cnt")))
      .where(col("match_cnt") > 0)
      .select(col("query_id"),
        element_at(typedLit(groups), col("bin") + 1).as("group"),
        col("match_cnt"), col("query_n"))
    applyFilters(counts, minFraction)
  }

  /** C3-style layout choice for the coarse level: bucket count ≈
    * sqrt(|groups|) balances the stage-1 broadcast (nBuckets coarse
    * filters) against stage-2 pruning power (expected members per surviving
    * bucket) — the engine's analogue of the reference's expected-query-cost
    * layout search over t_max candidates (taxor_build.cpp:168-233), using
    * the already-materialized group count instead of a DP. */
  def autoBuckets(nGroups: Long): Int =
    math.max(2, math.min(1024, math.ceil(math.sqrt(nGroups.toDouble)).toInt))

  /** Driver-side twin of the probe's coarse-bucket assignment
    * `pmod(xxhash64(col("group")), lit(b))` (xxhash64 = XXH64 with seed 42
    * over the string's UTF-8 bytes) — parity asserted in OperatorsSpec, so
    * the planner simulates exactly the buckets the probe will use. */
  def bucketOf(group: String, b: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(group)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    val m = (h % b).toInt
    if (m < 0) m + b else m
  }

  /** C3 expected-probe-cost layout search for the coarse level — the
    * engine's analogue of the reference's sweep over t_max candidates
    * picking the layout with minimum expected query cost from sketch-based
    * size estimates (taxor_build.cpp:168-233, chopper's estimate_union DP
    * at :470-473). `autoBuckets`' sqrt heuristic balances the two probe
    * stages by COUNT; this refines it with the failure mode the count
    * cannot see: bucket-filter SATURATION. The coarse filter is the OR of
    * its members with the same (m, k) as a member filter, so a bucket
    * whose merged load exceeds the per-group capacity fills up and prunes
    * nothing.
    *
    * For each power-of-two candidate b, groups are placed with the real
    * probe assignment (bucketOf) and a query's modeled cost is
    *   b                    stage-1 bucket probes (and broadcast rows)
    * + worst bucket members stage-2 probes behind the true bucket
    * + n · fpr(worst load)  stage-2 probes behind false-positive buckets,
    *   where fpr comes from the partitioned-Bloom fill 1 - e^(-load/slice)
    *   raised to k — saturation sends this term to n and forces a finer b.
    * Returns the cheapest b (ties → fewer buckets = smaller broadcast).
    */
  def planCoarseBuckets(
      groupEstimates: Seq[(String, Double)],
      expectedShinglesPerGroup: Long = 1 << 17,
      fpp: Double = 0.0039): Int = {
    import graft.sketch.Bloom
    val n = groupEstimates.size
    if (n <= 2) return 2
    val k = Bloom.optimalK(fpp)
    val slice = math.max(8L,
      Bloom.bitsFor(expectedShinglesPerGroup, fpp, k) / k + 1).toDouble
    val candidates = Iterator.iterate(2)(_ * 2)
      .takeWhile(_ <= math.min(1024, n)).toVector
    candidates.minBy { b =>
      val loads = new Array[Double](b)
      val members = new Array[Long](b)
      groupEstimates.foreach { case (g, est) =>
        val i = bucketOf(g, b)
        loads(i) += math.max(0.0, est)
        members(i) += 1
      }
      val fill = 1.0 - math.exp(-loads.max / slice)
      b.toDouble + members.max.toDouble + n * math.pow(fill, k)
    }
  }

  /** Hierarchical two-level Bloom probe — the Spark-first analogue of the
    * reference's HIXF search structure (a coarse level prunes which
    * fine-level filters a query probes at all,
    * src/hixf/search/search.cpp in the reference): groups are hashed into
    * `nBuckets` super-groups whose filters are the OR-MERGE of their member
    * filters (associative Bloom merge, same (m, k, seed) params). A query
    * probes the small bucket layer first; only buckets whose count clears
    * the threshold get their member group filters probed, via a join on
    * bucket id instead of a probes × all-groups cross product.
    *
    * Pruning is LOSSLESS: the bucket filter's bit array is the bitwise OR
    * of its members' (same m/k/seed), so any probe hash that hits a member
    * filter also hits the bucket filter ⇒ bucket_cnt >= every member
    * group_cnt ⇒ a bucket pruned at threshold τ contains no group the flat
    * probe would keep at τ. Hierarchical output == flat sketch() output
    * exactly (asserted in OperatorsSpec).
    *
    * At 100×: the broadcast is nBuckets coarse filters + only the SURVIVING
    * buckets' member filters (left-semi against the stage-1 survivors)
    * rather than all group filters at once — the boundary documented in
    * SURVEY §9 for the flat path moves from |groups| to |buckets| +
    * survivors. Output: (query_id, group, match_cnt, query_n), filtered
    * like sketch().
    *
    * `filters` should be persisted by the caller — the plan references it
    * three times. `nBuckets <= 0` picks the coarse layout automatically
    * from the group count (autoBuckets); `expectedShinglesPerGroup`, `fpp`
    * and `seed` must match the filter build.
    */
  def hierarchicalSketch(
      filters: DataFrame, // (group, bf)
      queries: DataFrame, // (query_id, text)
      shingleK: Int = 8,
      minFraction: Double = 0.1,
      nBuckets: Int = 16,
      expectedShinglesPerGroup: Long = 1 << 17,
      fpp: Double = 0.0039,
      seed: Long = DefaultSeed): DataFrame = {
    val buckets =
      if (nBuckets > 0) nBuckets
      else {
        // cost-model auto layout: per-group loads read straight off the
        // built member filters (Swamidass–Baldi slice-fill estimate — no
        // extra corpus pass), then the expected-probe-cost sweep. The
        // collect is one (group, double) row per group, same tiny scale as
        // the broadcast the probe ships anyway.
        val ests = filters
          .select(col("group"), bloom_items_estimate(col("bf")).as("est"))
          .collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toSeq
        planCoarseBuckets(ests, expectedShinglesPerGroup, fpp)
      }
    val bucketed = filters
      .withColumn("bucket", pmod(xxhash64(col("group")), lit(buckets)))
    // coarse level: OR-merge of member filters per bucket (tiny table)
    val bucketFilters = bucketed.groupBy("bucket")
      .agg(bloom_merge_agg(col("bf"), expectedShinglesPerGroup, fpp, seed)
        .as("bbf"))
    val probes = queries.select(col("query_id"),
      shingles(col("text"), shingleK, seed = seed).as("hs"))
      .withColumn("query_n", size(col("hs")))
    // stage 1: probe the bucket layer; keep (query, bucket) that clear the
    // threshold a member group would need
    // bucket_cnt > 0 mirrors the flat path's match_cnt > 0 drop — without
    // it an empty-shingle query (text shorter than k ⇒ query_n = 0) would
    // pass 0 >= 0 here and diverge from sketch()
    val surviving = probes.crossJoin(broadcast(bucketFilters))
      .withColumn("bucket_cnt", bloom_count_contained(col("bbf"), col("hs")))
      .where(col("bucket_cnt") > 0 &&
        col("bucket_cnt") >= lit(minFraction) * col("query_n"))
      .select("query_id", "hs", "query_n", "bucket")
    // stage 2: probe only the surviving buckets' member filters — the
    // left-semi restricts the broadcast payload to live buckets
    val liveFilters = bucketed.select("bucket", "group", "bf")
      .join(surviving.select("bucket").distinct(), Seq("bucket"), "left_semi")
    val counts = surviving
      .join(broadcast(liveFilters), "bucket")
      .withColumn("match_cnt", bloom_count_contained(col("bf"), col("hs")))
      .where(col("match_cnt") > 0 &&
        col("match_cnt") >= lit(minFraction) * col("query_n"))
      .select("query_id", "group", "match_cnt", "query_n")
    val w = Window.partitionBy("query_id")
    counts
      .withColumn("mx", max(col("match_cnt")).over(w))
      .where(col("match_cnt") >= lit(RelMaxFactor) * col("mx"))
      .select("query_id", "group", "match_cnt", "query_n")
  }

  /** Classification under a reference-style ADAPTIVE threshold (the SF10
    * dispatcher: percentage / k-mer CI / FracMinHash CI / syncmer table)
    * instead of a fixed fraction — the per-query minimum match count is a
    * codegen'd closed-form expression of query_n evaluated inside the plan
    * (threshold.hpp:51-81's `threshold.get(count)` analogue, no UDF). */
  def exactCI(
      corpus: DataFrame,
      queries: DataFrame,
      mode: graft.functions.Thresholds.Mode,
      shingleK: Int = 8,
      sketchFpr: Double = 0.0,
      seed: Long = DefaultSeed): DataFrame =
    applyFiltersCI(
      exactCounts(groupShingles(corpus, shingleK, seed),
        queryShingles(queries, shingleK, seed)),
      mode, sketchFpr)

  /** Bloom-path twin of exactCI over a (group, bf) filter table; `fpp` is
    * the filters' build fpp and feeds the threshold's fp correction
    * (taxor_search.cpp:262). */
  def sketchCI(
      filters: DataFrame, // (group, bf)
      queries: DataFrame, // (query_id, text)
      mode: graft.functions.Thresholds.Mode,
      shingleK: Int = 8,
      fpp: Double = 0.0039,
      seed: Long = DefaultSeed): DataFrame =
    applyFiltersCI(sketchCounts(filters, queries, shingleK, seed), mode, fpp)

  /** F4 — null-result preservation: queries with no surviving match are
    * re-emitted with a null group (the reference's `-` rows,
    * taxor_search.cpp:268-273 / taxor_profile.cpp:154-158). */
  def withUnmatched(classified: DataFrame, queries: DataFrame): DataFrame =
    classified.unionByName(
      queries.select(col("query_id"))
        .join(classified.select("query_id").distinct(),
          Seq("query_id"), "left_anti")
        .withColumn("group", lit(null).cast("string"))
        .withColumn("match_cnt", lit(null).cast("long"))
        .withColumn("query_n", lit(null).cast("long")))

  /** Threshold + relative-max filters shared by both strategies. */
  private def applyFilters(counts: DataFrame, minFraction: Double): DataFrame = {
    val w = Window.partitionBy("query_id")
    counts
      .where(col("match_cnt") >= lit(minFraction) * col("query_n"))
      .withColumn("mx", max(col("match_cnt")).over(w))
      .where(col("match_cnt") >= lit(RelMaxFactor) * col("mx"))
      .select("query_id", "group", "match_cnt", "query_n")
  }

  private def applyFiltersCI(
      counts: DataFrame,
      mode: graft.functions.Thresholds.Mode,
      sketchFpr: Double): DataFrame = {
    val w = Window.partitionBy("query_id")
    counts
      .where(col("match_cnt") >=
        graft.functions.Thresholds.minMatchesCol(col("query_n"), mode, sketchFpr))
      .withColumn("mx", max(col("match_cnt")).over(w))
      .where(col("match_cnt") >= lit(RelMaxFactor) * col("mx"))
      .select("query_id", "group", "match_cnt", "query_n")
  }
}
