package graft

import graft.GraftFunctions._
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions used by every query here:
  *  - reads only `$sfDir/<table>.parquet`;
  *  - any column that must hash-match the DuckDB oracle is integral,
  *    string, or boolean (cents via per-row round() then integer sum),
  *    never a float aggregate — IEEE sum order would break byte equality
  *    (exception: doubles that both engines derive from identical integer
  *    inputs with the same expression, e.g. Jaccard = i/(na+nb-i));
  *  - sketch queries output exact values (computable by the oracle) plus
  *    `within_*` booleans asserting the published error bound, so the
  *    DuckDB gate verifies the bound itself (the reference's analogue:
  *    classification accuracy vs ground truth, README.md:29).
  */
object SparkEntry {
  /** Fixed dump path for the generated transcripts table: the DuckDB oracle
    * reads it back by absolute path (oracle and engine share the machine in
    * the driver gate, as in tools/check_oracle.py). */
  val TranscriptDumpPath = "/tmp/graft_verify_transcripts"

  /** Fixed dump path for the cluster-balanced sample's cell assignment:
    * the assignment layer is float math (covered by the ANN/semdedup
    * gates); the oracle re-derives the md5 per-cell CAP from the dumped
    * (id, cell) byte-exactly — same absolute-path convention as
    * [[TranscriptDumpPath]]. */
  val CellsDumpPath = "/tmp/graft_verify_cells"

  /** Fixed dump path for the synthetic messy-URL table (web_* gates): the
    * generator is Spark-only, so the oracle re-reads the raw (doc_id, url)
    * rows by absolute path and re-derives the canonicalization chain from
    * [[WebOps.canonicalPartsSql]]-generated SQL. */
  val UrlsDumpPath = "/tmp/graft_verify_urls"

  /** Domain blocklist for web_blocked_filter — chosen so each entry is hit
    * by cids ≡ 0,1,2,3 (mod 100) of the synthetic-URL generator (tld =
    * cid%4, site number = cid%50), keeping the filter non-vacuous. */
  val WebBlockedDomains: Seq[String] =
    Seq("site0.com", "site1.org", "site2.co.uk", "site3.net")

  /** Generate + dump + read back the synthetic URL table (deterministic,
    * so the three web_* gates may each rewrite the same path). */
  private def webUrls(s: SparkSession, dir: String): DataFrame = {
    WebOps.syntheticUrls(t(s, dir, "documents").select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(UrlsDumpPath)
    s.read.parquet(UrlsDumpPath)
  }

  /** Fixed dump paths for the conversation-structure gates (conv_*): the
    * damage/duplication planting is Spark-only, so the oracle re-reads the
    * MUTATED turn tables by absolute path and re-derives integrity /
    * fingerprints / transitions from them (TranscriptDumpPath convention —
    * each gate family owns its path; gates sharing a path write identical
    * deterministic rows, so write order across gates is irrelevant). */
  val ConvDamagedDumpPath = "/tmp/graft_verify_convs_damaged"
  val ConvDupDumpPath = "/tmp/graft_verify_convs_dup"

  /** Memory-sink sequence for streaming gates (unique name per run). */
  private val streamGateSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Run a streaming micro-batch drain with the shuffle-partition count
    * sized for the STATE STORE, then restore the session's setting.
    *
    * Rationale (r6, measured): every stateful micro-batch stage runs one
    * task per shuffle partition, and each task opens/commits a state-store
    * partition — ~0.6 s of pure checkpoint overhead per task at near-zero
    * CPU (observed: 32-task state stages at cpu 0.2-0.4 s / run 17-20 s).
    * The gates' streams carry ~30 windows / ~600 conversations, so the
    * state-partition count should track key cardinality, not the batch
    * scan parallelism. Parameterised for scale: production sets
    * SPARK_GRAFT_STREAM_PARTITIONS to its real key-volume-derived value;
    * the local default min(8, cores) keeps small-key gates comparable.
    * Restoring AFTER the drain means the downstream batch result (built
    * lazily, planned at action time) still uses the session's setting. */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS",
      math.min(8, s.sparkContext.defaultParallelism).toString)
    s.conf.set(key, n)
    try body finally s.conf.set(key, prev)
  }

  /** Dump path for the conv-fingerprint-index gate's (wave, turns) table. */
  val ConvIndexDumpPath = "/tmp/graft_verify_convs_index"

  /** Dump path for the sketch-derived equi-depth range boundaries: the
    * boundaries are KLL output (driver-side doubles the oracle cannot
    * recompute), so the gate dumps them and the oracle recomputes the
    * per-bucket counts from the SAME boundary values byte-exactly. */
  val RangeBoundsDumpPath = "/tmp/graft_verify_range_bounds"

  /** Pre-compaction probe rows for `dedup_index_compaction`: the oracle
    * re-reads this dump, so a hash MATCH proves the post-compaction probe
    * is byte-identical to the pre-compaction one. */
  val IdxCompactDumpPath = "/tmp/graft_verify_idx_compact"

  /** Same convention for `ann_index_compaction` (IVF cell rewrite). */
  val AnnCompactDumpPath = "/tmp/graft_verify_ann_compact"

  /** Generate + plant structural damage + dump + read back (shared by
    * conv_integrity and conv_role_transitions). */
  private def damagedConvs(s: SparkSession): DataFrame = {
    Conversations.plantDamage(graft.sources.Transcripts.generate(s, nConvs = 600))
      .write.mode("overwrite").parquet(ConvDamagedDumpPath)
    s.read.parquet(ConvDamagedDumpPath)
  }

  /** Generate + re-ingest duplicate conversations + dump + read back. */
  private def dupConvs(s: SparkSession): DataFrame = {
    Conversations.plantDuplicates(
        graft.sources.Transcripts.generate(s, nConvs = 350))
      .write.mode("overwrite").parquet(ConvDupDumpPath)
    s.read.parquet(ConvDupDumpPath)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** [[docsPar]] for the embeddings table: the sf-scale embeddings parquet
    * is also ONE row group, so a quadratic cosine sweep rooted at its scan
    * (BroadcastNestedLoopJoin stream side) runs in a single task. Applied
    * ONLY where the sweep dominates (cosine_neardup_exact: A/B 1.25 →
    * 0.44 s) — in the ANN/semdedup gates the added exchange cost more
    * than the parallelism bought (A/B'd and reverted). Results are
    * partitioning-invariant (row-local cosine, total-order tie-breaks). */
  private def embPar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").repartition(s.sparkContext.defaultParallelism)

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Corpus/query split of the documents table for classification demos:
    * every 10th doc is a query, the rest are the grouped reference corpus. */
  private def corpusQueries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // the sf-scale documents parquet is one row group, so the scan is ONE
    // task no matter how many byte-range splits Spark makes — repartition
    // the (tiny) raw text once so the dominant downstream work (shingle
    // explode + filter build/probe) uses every core, as a many-split 100 TB
    // input would natively. Results are partitioning-invariant (salted
    // builds byte-identical by spec, counts exact).
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    (docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
       .select(col("source").as("group"), col("text")),
     docs.where(pmod(col("doc_id"), lit(10)) === 0)
       .select(col("doc_id").as("query_id"), col("text")))
  }

  /** (query_id=user_id, ref=event_type) match table for the profile-filter
    * demos — the transcript-domain analogue of the search-results TSV. The
    * relative-max cut keeps each user's dominant event types only, so
    * uniqueness actually occurs (as it does for reads in the reference). */
  private def eventMatches(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("query_id")
    t(s, dir, "events")
      .groupBy(col("user_id").as("query_id"), col("event_type").as("ref"))
      .agg(count(lit(1)).as("match_cnt"))
      .withColumn("query_n", sum(col("match_cnt")).over(w))
      .withColumn("__mx", max(col("match_cnt")).over(w))
      .where(col("match_cnt") >= lit(0.8) * col("__mx"))
      .drop("__mx")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("hll_distinct_users")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2; every gate
    * runs with the graft functions registered in its session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, gate) =>
      name -> { (s: SparkSession, dir: String) =>
        GraftFunctions.register(s)
        gate(s, dir)
      }
    }

  private def gates: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- baseline relational (A1/A12, F2/A4, J1) --------------------------
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // per-row integer cast BEFORE the sum (never a float SUM — and
          // round() first so Spark's truncating cast and DuckDB's rounding
          // cast agree even under fractional drift)
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "q02_relative_max_filter" -> { (s, dir) =>
      val w = Window.partitionBy("l_orderkey")
      t(s, dir, "lineitem")
        .withColumn("mx", max(col("l_quantity")).over(w))
        .where(col("l_quantity") >= lit(0.8) * col("mx"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },
    "q03_segment_revenue" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents"))
        .orderBy("c_mktsegment")
    },
    // Bloom-pruned join: the probe side (lineitem) is pre-filtered by ONE
    // broadcast Bloom blob of the (selective) build side's keys BEFORE the
    // shuffle — the 100 TB shuffle-volume trick. False positives are
    // discarded by the join itself, so the result is EXACT: byte-equality
    // oracle against the plain join.
    "join_bloom_pruned" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
      val ords = t(s, dir, "orders")
        .where(col("o_totalprice") > 450000) // ~10% of orders
        .select(col("o_orderkey").as("orderkey"))
      Joins.bloomPrunedJoin(li, ords, "orderkey", expectedKeys = 1 << 14)
        .groupBy("orderkey")
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("orderkey")
    },
    // Skew-armored repartition join: the events table under the planted
    // heavy-hitter key (~15 keys, hottest ~50% of rows — exactly the
    // one-reducer-per-key killer) joins a per-key dim through
    // Joins.saltedJoin (salt the big side, explode the small side ×8).
    // The result is row-identical to the plain join, so the oracle is the
    // plain SQL join — byte-exact over integer aggregates.
    "join_skew_salted" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("k", concat(lit("k"),
          expr("64 div (pmod(user_id, 64) + 1)").cast("string")))
      val dim = ev.groupBy("k").agg(min(col("user_id")).as("rep_user"))
      Joins.saltedJoin(ev, dim, "k", buckets = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(pmod(col("event_id"), lit(100)) + 1).as("w"),
          min(col("rep_user")).as("rep_user"))
        .orderBy("k")
    },
    // ---- sketch bound checks (S5/A2, S3/A3, S1/S2/S4, quantiles) ----------
    "hll_distinct_users" -> { (s, dir) =>
      val p = 14
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_distinct"),
          hll_estimate(hll_agg(col("user_id"), p)).as("est"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            lit(3 * graft.sketch.Hll.stdError(p)) * col("exact_distinct") +
              lit(2.0)).as("within_bound"))
        .orderBy("event_type")
    },
    "cms_event_type_counts" -> { (s, dir) =>
      val eps = 0.0005
      val ev = t(s, dir, "events")
      val sk = ev.agg(cms_agg(col("event_type"), eps, 0.01).as("cms"))
      ev.groupBy("event_type").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sk))
        .select(col("event_type"), col("exact_cnt"),
          (cms_estimate(col("cms"), col("event_type")) >= col("exact_cnt"))
            .as("no_undercount"),
          (cms_estimate(col("cms"), col("event_type")) <=
            col("exact_cnt") + greatest(lit(1L),
              (lit(eps) * cms_total(col("cms"))).cast("long")))
            .as("within_eps"))
        .orderBy("event_type")
    },
    "bloom_membership" -> { (s, dir) =>
      val fpp = 0.01
      val members = t(s, dir, "orders").select(col("o_custkey")).distinct()
      val nMembers = members.count()
      // scalar blob probed as a LITERAL (references-array, zero per-row
      // copies) — the crossJoin(broadcast) form copies the blob out of the
      // joined row for every probe row (see Joins.buildFilterLit)
      val bf = lit(members.agg(
        bloom_agg(col("o_custkey"), math.max(nMembers, 1024), fpp))
        .first().getAs[Array[Byte]](0))
      val missed = members
        .where(!bloom_contains(bf, col("o_custkey")))
        .count()
      val probes = 200000L
      val fps = s.range(probes)
        .select((col("id") + 1000000000L).as("k"))
        .where(bloom_contains(bf, col("k")))
        .count()
      import s.implicits._
      Seq((missed, fps <= (3 * fpp * probes).toLong))
        .toDF("members_missed", "fpr_bounded")
    },
    // two jobs total: one sketch pass, one fused rank-check pass
    "kll_price_quantiles" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val kll = graft.sketch.Kll.fromBytes(
        li.agg(kll_agg(col("x"), 200)).first().getAs[Array[Byte]](0))
      val eps = 3 * kll.rankErrorBound + 0.005
      val qs = Seq(0.1 -> "q10", 0.5 -> "q50", 0.9 -> "q90", 0.99 -> "q99")
      val ests = qs.map { case (q, _) => kll.quantile(q) }
      val ranks = li.agg(count(lit(1)).cast("double").as("n"),
        ests.map(e => sum(when(col("x") < e, 1L).otherwise(0L))): _*).first()
      val n = ranks.getDouble(0)
      import s.implicits._
      qs.zipWithIndex.map { case ((q, label), i) =>
        (label, math.abs(ranks.getLong(i + 1) / n - q) <= eps)
      }.toDF("q_label", "within_rank_error").orderBy("q_label")
    },
    "tdigest_value_quantiles" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("value").as("x"))
        .where(col("x").isNotNull)
      val td = graft.sketch.TDigest.fromBytes(
        ev.agg(tdigest_agg(col("x"), 100)).first().getAs[Array[Byte]](0))
      val qs = Seq(0.01 -> "q01", 0.5 -> "q50", 0.99 -> "q99")
      val ests = qs.map { case (q, _) => td.quantile(q) }
      val ranks = ev.agg(count(lit(1)).cast("double").as("n"),
        ests.map(e => sum(when(col("x") < e, 1L).otherwise(0L))): _*).first()
      val n = ranks.getDouble(0)
      import s.implicits._
      qs.zipWithIndex.map { case ((q, label), i) =>
        (label,
          math.abs(ranks.getLong(i + 1) / n - q) <=
            (if (q == 0.5) 0.02 else 0.01))
      }.toDF("q_label", "within_rank_error").orderBy("q_label")
    },
    // Trimmed mean straight off the t-digest centroids (Dunning & Ertl's
    // centroid walk) vs the EXACT rank-windowed mean. The exact twin
    // collapses ties per VALUE first (equal values are interchangeable, so
    // the rank window's content is deterministic regardless of tie order),
    // then takes each value's overlap with the (floor .1n, floor .9n] rank
    // span — integer cents sum, byte-exact in both engines; the digest
    // estimate gates as a bound boolean (t-digest bytes are partition-order
    // sensitive, same posture as tdigest_value_quantiles).
    "tdigest_trimmed_mean" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      // ONE pass for the digest AND the row count (the count rode a second
      // full scan; partial build/merge order — and so the blob — unchanged)
      val r0 = li.agg(tdigest_agg(col("x"), 100).as("td"),
        count(lit(1)).as("n")).first()
      val td = graft.sketch.TDigest.fromBytes(r0.getAs[Array[Byte]](0))
      val est = td.trimmedMean(0.1, 0.9)
      val n = r0.getLong(1)
      val lo = n / 10
      val hi = 9 * n / 10
      val vals = li.groupBy("x").agg(count(lit(1)).as("c"))
      // single-partition prefix sum over DISTINCT values — the verification
      // twin's global order statistic, not the estimator's scale path
      val wOrd = org.apache.spark.sql.expressions.Window.orderBy("x")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val takeCnt = greatest(lit(0L),
        least(col("cumhi"), lit(hi)) - greatest(col("cumhi") - col("c"), lit(lo)))
      val r = vals.withColumn("cumhi", sum("c").over(wOrd))
        .agg(
          sum(takeCnt * round(col("x") * 100).cast("long")).as("trimmed_cents"),
          sum(takeCnt).as("n_trim")).first()
      val exactMean = r.getLong(0) / 100.0 / r.getLong(1)
      // bound: boundary rank error of the q(1-q)-capped digest mapped
      // through the value range; 2% of spread is ~6x the observed error
      val slack = 0.02 * (td.maxV - td.minV)
      import s.implicits._
      Seq((hi - lo, r.getLong(0), math.abs(est - exactMean) <= slack))
        .toDF("n_trim", "trimmed_cents", "within_bound")
    },
    // Equi-join cardinality WITHOUT the join: CMS inner product
    // (Cormode-Muthukrishnan §4.2) over two one-pass sketches of the two
    // sides' key columns. Exact join size recomputed as sum(ca*cb) in both
    // engines; the estimate gates its published one-sided bound
    // (never-undercount; overcount ≤ eps·|A|·|B|). Deterministic: CMS
    // counters are exact integer sums independent of partitioning.
    "cms_join_size" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val a = li.where(col("l_linenumber") <= 3).select(col("l_orderkey").as("k"))
      val b = li.where(col("l_linenumber") >= 4).select(col("l_orderkey").as("k"))
      val e = Joins.joinSizeEstimate(a, b, "k", eps = 1e-4, delta = 0.01)
      val exact = a.groupBy("k").agg(count(lit(1)).as("ca"))
        .join(b.groupBy("k").agg(count(lit(1)).as("cb")), "k")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("j"))
        .first().getLong(0)
      import s.implicits._
      Seq((exact, e.estimate >= exact, e.estimate <= exact + e.slack))
        .toDF("exact_join_size", "no_undercount", "within_eps")
    },
    // Two-sample Kolmogorov–Smirnov drift: sup |Fa − Fb| estimated from two
    // KLL sketches (one aggregate pass per snapshot) vs the EXACT statistic
    // computed as the integer max |cumA·nb − cumB·na| over the union of
    // values — byte-exact in both engines; the sketch estimate gates its
    // rank-error slack. Side B is a genuinely shifted distribution derived
    // per-row with IEEE-identical ops (×2.0 exact, +10.0 same rounding).
    "kll_ks_distance" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val a = ev.where(col("event_type") === "click")
        .select(col("value").as("x"))
      val b = ev.where(col("event_type") === "purchase")
        .select((col("value") * 2.0 + 10.0).as("x"))
      val ks = Drift.ksDistance(a, "x", b, "x")
      val av = a.groupBy("x").agg(count(lit(1)).as("ca"))
      val bv = b.groupBy("x").agg(count(lit(1)).as("cb"))
      val u = av.join(bv, Seq("x"), "full")
        .select(col("x"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      // single-partition prefix sum over distinct values — the exact twin's
      // global order statistic, not the estimator's scale path
      val wOrd = org.apache.spark.sql.expressions.Window.orderBy("x")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ksNum = u
        .select(sum("ca").over(wOrd).as("cuma"),
          sum("cb").over(wOrd).as("cumb"))
        .agg(max(abs(col("cuma") * ks.nb - col("cumb") * ks.na)))
        .first().getLong(0)
      val exact = ksNum.toDouble / (ks.na.toDouble * ks.nb.toDouble)
      import s.implicits._
      Seq((ksNum, ks.na, ks.nb, math.abs(ks.estimate - exact) <= ks.slack))
        .toDF("ks_num", "na", "nb", "within_bound")
    },
    // Equi-depth range layout from ONE KLL pass (RangeLayout): B=8
    // boundaries at quantiles i/8, per-bucket counts byte-exact in both
    // engines (boundaries dumped for the oracle), each bucket's mass
    // within the rank-error slack of n/B.
    "range_equidepth" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val buckets = 8
      val bounds = RangeLayout.equiDepthBounds(li, "x", buckets)
      import s.implicits._
      bounds.toSeq.toDF("bound")
        .coalesce(1).write.mode("overwrite").parquet(RangeBoundsDumpPath)
      val n = li.count()
      // two boundaries bracket a bucket; 3x the one-sided rank error each
      val slack = (2 * 3 * (2.296 / 200) * n).toLong + 1
      li.select(RangeLayout.bucketOf(col("x"), bounds).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .select(col("bucket"), col("cnt"),
          (abs(col("cnt") - lit(n / buckets)) <= lit(slack))
            .as("within_bound"))
        .orderBy("bucket")
    },
    // GROUP BY form of the KS drift: one mergeable-KLL pass per snapshot,
    // per-group sup |Fa−Fb| compared driver-side. Two groups are planted
    // with real shifts (click ×2+10, error ×0.5 — exact-KS 0.31 / 0.25),
    // the rest identical (exact-KS 0); with slack 3·2·eps_k = 0.069 the
    // 0.12 drift threshold is safe on both sides, so the estimate-based
    // `drifted` flag equals the oracle's exact-KS flag deterministically.
    "kll_ks_grouped" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type").as("g"), col("value").as("x"))
      val after = ev.select(col("g"),
        when(col("g") === "click", col("x") * 2.0 + 10.0)
          .when(col("g") === "error", col("x") * 0.5)
          .otherwise(col("x")).as("x"))
      val ks = Drift.groupedKsDistance(ev, after, "g", "x")
      val av = ev.groupBy("g", "x").agg(count(lit(1)).as("ca"))
      val bv = after.groupBy("g", "x").agg(count(lit(1)).as("cb"))
      val u = av.join(bv, Seq("g", "x"), "full")
        .select(col("g"), col("x"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("x")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val totals = u.groupBy("g").agg(sum("ca").as("na"), sum("cb").as("nb"))
      val exactDf = u
        .select(col("g"), sum("ca").over(w).as("cuma"),
          sum("cb").over(w).as("cumb"))
        .join(totals, "g")
        .groupBy("g")
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
            .as("ks_num"),
          min(col("na")).as("na"), min(col("nb")).as("nb"))
      import s.implicits._
      val estDf = ks.map(c => (c.group, c.estimate, c.slack))
        .toDF("g", "est", "sl")
      exactDf.join(estDf, "g")
        .select(col("g"), col("ks_num"), col("na"), col("nb"),
          (abs(col("est") -
            col("ks_num").cast("double") /
              (col("na").cast("double") * col("nb").cast("double"))) <=
            col("sl")).as("within_bound"),
          (col("est") >= 0.12).as("drifted"))
        .orderBy("g")
    },
    // Heavy-change detection between two corpus snapshots (Drift
    // .heavyChange): SpaceSaving candidates + per-snapshot CMS estimates,
    // flag |estΔ| ≥ θ(Na+Nb). The after-snapshot drops 'click' and renames
    // 'view'→'surge' (both re-derivable in SQL); planted changes (~10% of
    // rows each) sit far from the θ=5% threshold relative to the CMS eps·N
    // slack, so the exact-count flags the oracle computes match the
    // estimate-based flags deterministically.
    "cms_heavy_change" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val before = ev.select(col("event_type").as("k"))
      val after = ev.where(col("event_type") =!= "click")
        .select(when(col("event_type") === "view", lit("surge"))
          .otherwise(col("event_type")).as("k"))
      val changes = Drift.heavyChange(before, after, "k", theta = 0.05)
      import s.implicits._
      changes.map(c => (c.key, c.flagged)).toDF("k", "flagged").orderBy("k")
    },
    // ---- taxor search analogue (S2/S3, F2/F3, J1) -------------------------
    "classify_exact" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exact(corpus, qs, shingleK = 8, minFraction = 0.1)
        .orderBy("query_id", "group")
    },
    // SF10 adaptive threshold INSIDE the plan: k-mer mutation CI at 2%
    // per-byte error replaces the fixed fraction; the oracle inlines the
    // same closed-form constants (q, z, affine variance A·n+B) so the
    // filter is byte-identical across engines.
    "classify_kmer_ci" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exactCI(corpus, qs,
          graft.functions.Thresholds.KmerCI(8, 0.02), shingleK = 8)
        .orderBy("query_id", "group")
    },
    // SF10's 4th branch in-plan: the empirical syncmer matching-ratio
    // table (SF9) supplies the per-query threshold floor(query_n · ratio);
    // the ratio is ONE driver constant from Thresholds.syncmerMatchRatio
    // (single source), interpolated verbatim into the oracle — byte-exact
    // gate, same recipe as classify_kmer_ci. (The k-gram tokenizer keeps
    // the oracle SQL-expressible; like kmer_ci, the query gates the
    // THRESHOLD model, not the tokenizer — syncmer tokenization itself is
    // spec-gated in SyncmerPropsSpec.)
    "classify_syncmer_ci" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exactCI(corpus, qs,
          graft.functions.Thresholds.SyncmerTable(12, 0.1), shingleK = 12)
        .orderBy("query_id", "group")
    },
    "classify_bloom_bounds" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      val fpp = 0.0039
      // ONE corpus shingle explode feeds BOTH strategies: the exact
      // inverted join and the salted Bloom build (bit-OR idempotence ⇒ the
      // raw explode builds the same filters as its distinct). Persisted
      // because the final plan references it from both sides; left cached
      // for the bench action.
      val groupSh = Classify.groupShingles(corpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = Classify.exactCounts(groupSh, Classify.queryShingles(qs))
        .withColumnRenamed("match_cnt", "exact_cnt")
      val bloom = Classify.sketchCounts(
          Classify.buildFilters(groupSh, fpp = fpp), qs)
        .select(col("query_id"), col("group"), col("match_cnt").as("bloom_cnt"))
      exact.join(bloom, Seq("query_id", "group"))
        .select(col("query_id"), col("group"), col("exact_cnt"),
          (col("bloom_cnt") >= col("exact_cnt")).as("no_false_negative"),
          (col("bloom_cnt") <= col("exact_cnt") +
            greatest(lit(5.0), lit(3 * fpp) * col("query_n")))
            .as("within_slack"))
        .orderBy("query_id", "group")
    },
    // HIXF-style hierarchical probe: the coarse bucket layer's pruning is
    // provably lossless (bucket filter bits = OR of member bits), so the
    // two-level result must equal the flat broadcast probe EXACTLY.
    "classify_hixf" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      val cols = Seq("query_id", "group", "match_cnt", "query_n")
      // ONE salted filter build shared by both probe strategies — the build
      // dominates the cost; flat vs two-level results provably identical
      val filters = Classify.buildFilters(Classify.groupShingles(corpus))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flat = Classify.sketch(filters, qs, minFraction = 0.1)
        .select(cols.map(col): _*).cache()
      val hier = Classify.hierarchicalSketch(filters, qs,
          minFraction = 0.1, nBuckets = 16)
        .select(cols.map(col): _*).cache()
      // the two probe strategies are independent DAGs over the shared
      // (cached) filter build — materialize them concurrently (guide §2.6)
      val ns = new Array[Long](2)
      Dedup.runParallel(
        () => ns(0) = flat.count(),
        () => ns(1) = hier.count())
      val (nFlat, nHier) = (ns(0), ns(1))
      val inter = hier.join(flat, cols, "left_semi").count()
      flat.unpersist(); hier.unpersist(); filters.unpersist()
      import s.implicits._
      Seq(("hier_equals_flat", nFlat == nHier && inter == nHier && nFlat > 0))
        .toDF("check", "ok").orderBy("check")
    },
    // Interleaved bulk-count probe (the reference's namesake structure):
    // member filters bit-transposed into ONE literal blob, per-group
    // counts from a single pass per query. Same bits as the flat probe ⇒
    // provably identical output, asserted here on the shared build.
    "classify_interleaved" -> { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      val cols = Seq("query_id", "group", "match_cnt", "query_n")
      val filters = Classify.buildFilters(Classify.groupShingles(corpus))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flat = Classify.sketch(filters, qs, minFraction = 0.1)
        .select(cols.map(col): _*).cache()
      val ixf = Classify.interleavedSketch(filters, qs,
          minFraction = 0.1)
        .select(cols.map(col): _*).cache()
      // independent probe DAGs over the shared cached build (guide §2.6)
      val ns = new Array[Long](2)
      Dedup.runParallel(
        () => ns(0) = flat.count(),
        () => ns(1) = ixf.count())
      val (nFlat, nIxf) = (ns(0), ns(1))
      val inter = ixf.join(flat, cols, "left_semi").count()
      flat.unpersist(); ixf.unpersist(); filters.unpersist()
      import s.implicits._
      Seq(("interleaved_equals_flat", nFlat == nIxf && inter == nIxf && nFlat > 0))
        .toDF("check", "ok").orderBy("check")
    },
    // ---- taxor profile analogues (F5, F6, A11) ----------------------------
    "profile_unique_filter" -> { (s, dir) =>
      ProfilePipeline.uniqueMappingFilter(eventMatches(s, dir))
        .select("query_id", "ref", "match_cnt")
        .orderBy("query_id", "ref")
    },
    "profile_low_confidence" -> { (s, dir) =>
      ProfilePipeline.lowConfidenceFilter(eventMatches(s, dir),
          minUnique = 3, minRatio = 0.01)
        .select("query_id", "ref", "match_cnt")
        .orderBy("query_id", "ref")
    },
    "rollup_nation_counts" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      t(s, dir, "region").createOrReplaceTempView("region_v")
      s.sql(
        """SELECT coalesce(r_name, 'ALL') AS region,
                  coalesce(n_name, 'ALL') AS nation,
                  count(1) AS n_cust
           FROM customer_v
           JOIN nation_v ON c_nationkey = n_nationkey
           JOIN region_v ON n_regionkey = r_regionkey
           GROUP BY ROLLUP(r_name, n_name)
           ORDER BY region, nation""")
    },
    // Full profile chain, gated end-to-end against a DuckDB oracle:
    // F5+F6 cascade → EM E-step (one iteration = argmax under uniform
    // priors, SQL-expressible) → integer-weight abundance → hierarchical
    // rollup. Weights stay integral until the single per-row pct division
    // (round(w*1e6/total)) so both engines produce byte-identical output.
    // The ITERATIVE EM (erase-worst) + association filter are exercised by
    // OperatorsSpec and timed in Bench's profile_em_full extra — their
    // driver-side fixpoint/loop is not expressible in one SQL oracle.
    "profile_full_cami" -> { (s, dir) =>
      val filtered = ProfilePipeline.lowConfidenceFilter(
        eventMatches(s, dir), minUnique = 3, minRatio = 0.01)
      val assigned = ProfilePipeline.emAssign(filtered, maxIters = 1)
      val byRef = assigned.groupBy("ref")
        .agg(sum(col("weight").cast("long")).as("w"))
      val taxonomy = byRef.select(col("ref"))
        .withColumn("path", array(
          struct(lit(0).as("rank"), lit("all").as("node")),
          struct(lit(1).as("rank"),
            concat(lit("grp"),
              pmod(ascii(substring(col("ref"), 1, 1)), lit(5))).as("node")),
          struct(lit(2).as("rank"), col("ref").as("node"))))
      val rolled = byRef.join(taxonomy, "ref")
        .select(col("w"), explode(col("path")).as("node"))
        .groupBy(col("node.rank").as("rank"), col("node.node").as("node"))
        .agg(sum("w").as("w"))
      val total = byRef.agg(sum("w").as("total"))
      rolled.crossJoin(broadcast(total))
        .select(col("rank"), col("node"),
          round(col("w") * 1000000.0 / col("total")).cast("long").as("pct_x1m"))
        .orderBy("rank", "node")
    },
    // ---- dedup suite -------------------------------------------------------
    "dedup_exact_canonical" -> { (s, dir) =>
      Dedup.exactCanonical(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // gate margin: LSH banding is probabilistic — a pair at jaccard j is
    // missed with prob (1-j^4)^32 (~13% at j=0.5, ~1.5e-4 at j=0.7). The
    // byte-equality gate therefore compares only pairs at j >= 0.7, where a
    // band miss is negligible for any data regen/seed; the 0.5-threshold
    // regime stays covered by DedupSpec's recall assertions.
    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(docsPar(s, dir), "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.5)
        .where(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("id_a", "id_b")
    },
    // near-dup canonicalization (pairs → connected components → min id).
    // Oracle: EXACT for any graph shape — a recursive CTE computes the
    // transitive closure of the pair graph and takes min over reachable
    // ids, so chains/stars (not just cliques) gate correctly if the data
    // regime ever changes. Gate at threshold 0.8 (band miss ~5e-8 per
    // pair): unlike the PAIR gate above, one missed pair relabels a whole
    // component, so the gate margin is tighter here; 0.7-threshold
    // behavior stays covered by OperatorsSpec.
    "dedup_neardup_canonical" -> { (s, dir) =>
      Dedup.nearDupCanonical(docsPar(s, dir), "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.8)
        .orderBy("doc_id")
    },
    // exact all-pairs is the quadratic verification oracle: it runs over a
    // deterministic 1-in-3 sample partition (blocking); the full corpus is
    // covered by the LSH path above, which exactJaccardPairs cross-checks.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.exactJaccardPairs(
          docsPar(s, dir).where(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", shingleK = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("id_a", "id_b")
    },
    // SimHash near-dups, gated by cross-validation against the independent
    // MinHash-LSH path at jaccard >= 0.8 (itself exact-verified and
    // byte-equality-gated above; at j >= 0.8 a band miss is ~5e-8, so the
    // base set IS the exact >= 0.8 pair set — without paying the quadratic
    // exact oracle the full corpus would cost at sf >= 0.1). Measured at
    // sf0.01: 19 simhash pairs, all at jaccard >= 0.97; base 25 pairs:
    //  - precision: EVERY hamming<=3 pair is in the >= 0.8 base
    //    (hamming<=3 of 64 bits ≈ cosine 0.99);
    //  - recall floor 0.4 vs the base (observed 0.76; hamming<=3 is
    //    strict, so full recall is not expected).
    "dedup_simhash" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val sim = Dedup.simhashPairs(docs, "doc_id", "text",
          shingleK = 8, maxHamming = 3).select("id_a", "id_b").cache()
      val base = Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.8)
        .select("id_a", "id_b").cache()
      // simhash-banding and minhash-banding pair DAGs are independent —
      // materialize the two caches concurrently (guide §2.6)
      val ns = new Array[Long](2)
      Dedup.runParallel(
        () => ns(0) = sim.count(),
        () => ns(1) = base.count())
      val (nSim, nBase) = (ns(0), ns(1))
      val inter = sim.join(base, Seq("id_a", "id_b"), "left_semi").count()
      sim.unpersist(); base.unpersist() // counts are collected; don't pin
      import s.implicits._
      Seq(
        ("precision_all_above_j08", inter == nSim),
        ("recall_floor_04", nBase == 0 || inter.toDouble / nBase >= 0.4))
        .toDF("check", "ok").orderBy("check")
    },
    // ---- similarity search -------------------------------------------------
    "ann_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.where(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(corpus, qs, k = 5)
        .select("qid", "rank", "id")
        .orderBy("qid", "rank")
    },
    // approximate-ANN recall gates, two regimes per method:
    //  - random: recall@5 vs exact brute force on the raw embeddings,
    //    floor 0.25 (unstructured random vectors cap achievable recall;
    //    measured at sf0.01: ivf 0.64, lsh 0.51);
    //  - planted: deterministic perturbed copies of corpus vectors
    //    (sim ~0.99) must find their source in top-5, floor 0.9 — where
    //    ANN SHOULD succeed, it must (measured: 1.0 for both).
    "ann_recall_floor" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.where(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the corpus feeds five scans (exact, ivf ×2, lsh ×2) — cache it for
      // the gate's duration (r6; values identical, all paths deterministic)
      corpus.cache()
      val exact = Similarity.bruteForceTopK(corpus, qs, 5)
        .select("qid", "id").cache()
      val total = exact.count().toDouble
      def recallOf(app: DataFrame): Double =
        exact.join(app.select("qid", "id"), Seq("qid", "id"), "left_semi")
          .count() / total
      val planted = corpus.where(pmod(col("id"), lit(25)) === 3)
        .select((col("id") + 1000000L).as("qid"),
          transform(col("vec"), (x, i) =>
            x + lit(0.02f) * (pmod(i, lit(5)) - lit(2)).cast("float"))
            .as("qvec"))
      val nPlanted = planted.count().toDouble
      def plantedRecall(app: DataFrame): Double =
        app.where(col("id") === col("qid") - 1000000L)
          .select("qid").distinct().count() / nPlanted
      // ivfTopK at kmeansIters=0 is inlineIvfProbe against the picked seed
      // — hoist the ONE deterministic centroid pick (the old shape
      // re-collected it per probe set) and run the four independent recall
      // jobs from a small driver pool (guide §2.6)
      val cents = Similarity.pickCentroids(corpus, 32)
      val recalls = new Array[Double](4)
      Dedup.runParallel(
        () => recalls(0) = recallOf(
          Similarity.inlineIvfProbe(corpus, qs, cents, 5, nProbe = 8)),
        () => recalls(1) = plantedRecall(
          Similarity.inlineIvfProbe(corpus, planted, cents, 5, nProbe = 8)),
        () => recalls(2) = recallOf(
          Similarity.lshTopK(corpus, qs, 5, tables = 12, bits = 6)),
        () => recalls(3) = plantedRecall(
          Similarity.lshTopK(corpus, planted, 5, tables = 12, bits = 6)))
      val (ivfR, ivfP, lshR, lshP) =
        (recalls(0), recalls(1), recalls(2), recalls(3))
      exact.unpersist() // all recalls collected; don't pin for the session
      corpus.unpersist()
      import s.implicits._
      Seq(("ivf", ivfR >= 0.25, ivfP >= 0.9), ("lsh", lshR >= 0.25, lshP >= 0.9))
        .toDF("method", "recall_ok", "planted_ok").orderBy("method")
    },
    // int8-quantized brute force vs float32: 4× less embedding data for a
    // small recall cost (measured 0.99 recall@5 at sf0.01; floor 0.9)
    "ann_q8_recall" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.where(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(corpus, qs, 5)
        .select("qid", "id").cache()
      val total = exact.count().toDouble
      val q8 = Similarity.bruteForceTopKQ8(corpus, qs, 5)
      val rec = exact.join(q8.select("qid", "id"), Seq("qid", "id"),
        "left_semi").count() / total
      exact.unpersist()
      import s.implicits._
      Seq(("q8_recall_floor_09", rec >= 0.9))
        .toDF("check", "ok").orderBy("check")
    },
    // BPE-ish regex token counting (words / numbers / punctuation pieces).
    "text_bpeish_tokens" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(expr(
            "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
            .cast("long").as("n_bpeish"))
        .orderBy("doc_id")
    },
    "cosine_neardup_exact" -> { (s, dir) =>
      // quadratic cosine sweep: parallelize the stream side (embPar) — the
      // one-row-group scan fed the BroadcastNestedLoopJoin as ONE task
      val emb = embPar(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      emb.as("a").join(emb.as("b"), col("a.id") < col("b.id"))
        .withColumn("sim",
          Similarity.cosine(col("a.vec"), col("b.vec")))
        .where(col("sim") >= 0.4)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .orderBy("id_a", "id_b")
    },
    // gate for the SCALE path (the O(n²) twin above is the oracle only):
    // the raw embeddings have no true high-sim pairs (max pair sim 0.51 at
    // sf0.01 — random collisions SRP-LSH legitimately can't bucket), so the
    // gate plants them: perturbed copies at sim ~0.99, where an LSH band
    // miss is ~7e-7 per pair. cosineNearDupPairs at threshold 0.9 must
    // recover >= 90% of the planted (id, id+1e6) pairs.
    "cosine_neardup_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val copies = emb.where(pmod(col("id"), lit(25)) === 3)
        .select((col("id") + 1000000L).as("id"),
          transform(col("vec"), (x, i) =>
            x + lit(0.02f) * (pmod(i, lit(5)) - lit(2)).cast("float"))
            .as("vec"))
      val nPlanted = copies.count().toDouble
      val found = Similarity.cosineNearDupPairs(
          emb.unionByName(copies), threshold = 0.9, tables = 12, bits = 8)
        .where(col("id_b") === col("id_a") + 1000000L)
        .count()
      import s.implicits._
      Seq(("planted_recall_09", found / nPlanted >= 0.9))
        .toDF("check", "ok").orderBy("check")
    },
    // SemDeDup (embedding-cluster blocking + within-cell cosine + keep-one
    // canonicalization) vs the exact all-pairs cosine path, on the same
    // planted near-duplicates as cosine_neardup_lsh (the raw embeddings
    // have no >=0.9 pairs, so exact components are exactly the planted
    // (id, id+1e6) pairs). Blocking can only MISS boundary-split pairs
    // (a pair whose top-2 centroid sims are within the perturbation
    // lands in two cells), never invent them — so subset-of-exact and
    // agreement-on-recovered gate as hard booleans, and the miss rate
    // gates as a recall floor. Settings are the DETERMINISTIC ones
    // (kmeansIters=0: refined centroids are float-sum order-sensitive):
    // measured recall at 8 cells = 0.95 (19/20), floor 0.75 per the
    // measure-first convention. (kmeansIters=2 reads 0.9-1.0 across cell
    // counts — separated centroids remove the failure mode, as the
    // operator scaladoc documents for production.)
    "semdedup_embeddings" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val copies = emb.where(pmod(col("id"), lit(25)) === 3)
        .select((col("id") + 1000000L).as("id"),
          transform(col("vec"), (x, i) =>
            x + lit(0.02f) * (pmod(i, lit(5)) - lit(2)).cast("float"))
            .as("vec"))
      val corpus = emb.unionByName(copies).cache()
      val nPlanted = copies.count().toDouble
      // the sem chain (centroid pick + cell pairs + label propagation) and
      // the exact chain (all-pairs cosine + label propagation) are
      // independent job DAGs over the cached corpus — construct AND
      // materialize them from two driver threads so one chain's stage
      // barriers back-fill the other's idle cores (guide §2.6; concurrent
      // first-touch of the corpus cache is safe: per-partition cache locks)
      var semV: DataFrame = null
      var exactV: DataFrame = null
      Dedup.runParallel(
        () => {
          semV = Similarity.semDedup(corpus, threshold = 0.9,
            nCentroids = 8).cache()
          semV.count()
        },
        () => {
          val pairs = corpus.as("a").join(corpus.as("b"),
              col("a.id") < col("b.id"))
            .withColumn("sim", Similarity.cosine(col("a.vec"), col("b.vec")))
            .where(col("sim") >= 0.9)
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          val labels = graft.operators.Dedup.connectedMinLabels(pairs)
          exactV = corpus.select(col("id"))
            .join(labels, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("label"), col("id")).as("canonical_id"),
              (coalesce(col("label"), col("id")) === col("id"))
                .as("is_canonical"))
            .cache()
          exactV.count()
        })
      val sem = semV
      val exact = exactV
      // four independent counts over the two materialized label caches
      val cnts = new Array[Long](4)
      Dedup.runParallel(
        () => cnts(0) = sem.where(!col("is_canonical"))
          .join(exact.where(!col("is_canonical")), Seq("id"), "left_anti")
          .count(),
        () => cnts(1) = sem.where(!col("is_canonical"))
          .join(exact.select(col("id"),
            col("canonical_id").as("exact_canon")), "id")
          .where(col("canonical_id") =!= col("exact_canon"))
          .count(),
        () => cnts(2) = sem.where(!col("is_canonical")).count(),
        () => cnts(3) = exact.where(!col("is_canonical")).count())
      val falseMerges = cnts(0)
      val disagreeOnRecovered = cnts(1)
      val recovered = cnts(2).toDouble
      val exactDups = cnts(3)
      corpus.unpersist(); sem.unpersist(); exact.unpersist()
      import s.implicits._
      Seq(
        ("blocked_subset_of_exact", falseMerges == 0L),
        ("canonical_agrees_on_recovered", disagreeOnRecovered == 0L),
        ("exact_dups_are_planted", exactDups == nPlanted.toLong),
        ("planted_recall_075", recovered / nPlanted >= 0.75))
        .toDF("check", "ok").orderBy("check")
    },
    // Incremental IVF index growth: build over two-thirds of the vectors,
    // append the rest under the FROZEN centroids, then assert the probe
    // over the updated index equals an inline assignment of the full
    // corpus to the same centroids (checked-equality gate, classify_hixf
    // style) and that the recorded drift fraction is a valid fraction.
    "ann_index_append" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val idx = java.nio.file.Files
        .createTempDirectory("graft-ivf-append").toString
      Similarity.IvfIndex.build(
        emb.where(pmod(col("id"), lit(3)) =!= 0), idx, nCentroids = 16)
      val drift = Similarity.IvfIndex.append(
        emb.where(pmod(col("id"), lit(3)) === 0), idx)
      val qs = emb.where(pmod(col("id"), lit(25)) === 0)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val cols = Seq("qid", "rank", "id")
      val fromIndex = Similarity.IvfIndex.topK(s, idx, qs, 5, nProbe = 4)
        .select(cols.map(col): _*).cache()
      val inline = Similarity.inlineIvfProbe(emb, qs,
          Similarity.IvfIndex.loadCentroids(s, idx), k = 5, nProbe = 4)
        .select(cols.map(col): _*).cache()
      // index-probe and inline-probe DAGs are independent — materialize
      // the two caches concurrently (guide §2.6)
      val ns = new Array[Long](2)
      Dedup.runParallel(
        () => ns(0) = fromIndex.count(),
        () => ns(1) = inline.count())
      val (nIdx, nInline) = (ns(0), ns(1))
      val inter = fromIndex.join(inline, cols, "left_semi").count()
      fromIndex.unpersist(); inline.unpersist()
      import s.implicits._
      Seq(
        ("appended_index_equals_inline",
          nIdx == nInline && inter == nIdx && nIdx > 0),
        ("drift_is_fraction", drift >= 0.0 && drift <= 1.0))
        .toDF("check", "ok").orderBy("check")
    },
    // IVF compaction identity, same recipe as dedup_index_compaction:
    // build one wave, append the rest (each append leaves one file per
    // touched cell), dump a partition-pruned top-k probe, rewrite every
    // cell into a single file, probe again — the oracle re-reads the dump,
    // so a MATCH proves the rewrite was pure layout.
    "ann_index_compaction" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val idx = java.nio.file.Files
        .createTempDirectory("graft-ivf-compact").toString
      Similarity.IvfIndex.build(
        emb.where(pmod(col("id"), lit(3)) === 1), idx, nCentroids = 16)
      Similarity.IvfIndex.append(
        emb.where(pmod(col("id"), lit(3)) =!= 1), idx)
      val qs = emb.where(pmod(col("id"), lit(25)) === 0)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val cols = Seq("qid", "rank", "id")
      Similarity.IvfIndex.topK(s, idx, qs, 5, nProbe = 4)
        .select(cols.map(col): _*).orderBy("qid", "rank")
        .write.mode("overwrite").parquet(AnnCompactDumpPath)
      Similarity.IvfIndex.compact(s, idx)
      Similarity.IvfIndex.topK(s, idx, qs, 5, nProbe = 4)
        .select(cols.map(col): _*).orderBy("qid", "rank")
    },
    // ---- text analysis -----------------------------------------------------
    "text_doc_stats" -> { (s, dir) =>
      TextStats.docStats(t(s, dir, "documents"), "doc_id", "text")
        .drop("fingerprint")
        .orderBy("doc_id")
    },
    "text_quality" -> { (s, dir) =>
      TextStats.qualityFlags(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // Gopher-style repetition signals. The synthetic documents carry no
    // newlines, so the query derives a line-structured twin
    // deterministically IN BOTH ENGINES (every ' the ' becomes a blank
    // line, every space a line break) — duplicate-line/paragraph fractions
    // and the top-2-gram character fraction are then non-vacuous and gate
    // byte-exact.
    "text_repetition" -> { (s, dir) =>
      val derived = docsPar(s, dir).select(col("doc_id"),
        replace(replace(col("text"), lit(" the "), lit("\n\n")),
          lit(" "), lit("\n")).as("text"))
      TextStats.repetitionStats(derived, "doc_id", "text")
        .orderBy("doc_id")
    },
    // tf-idf-flavored keyword extraction with integer-only ranking
    // (tf DESC, df ASC, term ASC — the discrete skeleton of tf·idf, no
    // floating log to diverge between engines); top-3 terms per doc,
    // byte-exact against the DuckDB mirror.
    "text_top_terms" -> { (s, dir) =>
      TextStats.topTerms(docsPar(s, dir), "doc_id", "text",
          k = 3, minLen = 3)
        .orderBy("doc_id", "rk")
    },
    // context-window chunking (256 chars, 32 overlap): chunk strings are
    // compared byte-for-byte against the SQL mirror
    "text_chunks" -> { (s, dir) =>
      TextStats.chunk(t(s, dir, "documents"), "doc_id", "text",
          size = 256, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    },
    // PII / sensitive-pattern scrubbing. The synthetic documents carry no
    // PII, so (text_repetition discipline) a twin corpus is derived
    // deterministically IN BOTH ENGINES: each doc gets a deterministic
    // email, phone, digit run and key-shaped token appended, all integer/
    // md5 functions of doc_id. Per-class counts and the fully-redacted
    // text then gate byte-exact; the regex classes are single-sourced from
    // TextStats.PiiPatterns on both sides.
    "text_redaction" -> { (s, dir) =>
      val twin = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" acct 9"),
          lpad(pmod(col("doc_id"), lit(1000000)).cast("string"), 8, "0"),
          lit(" token sk_"),
          substring(md5(col("doc_id").cast("string")), 1, 20)).as("text"))
      TextStats.piiScrub(twin, "doc_id", "text").orderBy("doc_id")
    },
    // BPE tokenizer training (Sennrich et al. 2016): six merge steps over
    // the documents word vocabulary, each a frequency-weighted adjacent-
    // pair count with a lexicographic tie-break — every learned (pair,
    // merged) row depends on the exact counts of the whole corpus AND on
    // all previous merges, so six byte-exact rows gate the entire
    // iterative pipeline. The oracle replays the identical six rounds as
    // chained CTEs (generated, single-source constants).
    "text_bpe_merges" -> { (s, dir) =>
      TextStats.bpeTrain(docsPar(s, dir), "text", steps = BpeSteps,
        maxWordLen = BpeMaxWordLen).orderBy("step")
    },
    // The encode half: train the six merges, then tokenize EVERY document
    // with them row-locally (zero shuffle — the merges ride along as
    // string literals) and gate the per-doc word/BPE-token counts
    // byte-exact. The oracle re-derives the identical merges from its own
    // CTE chain, so this gate cross-checks train AND encode end-to-end.
    "text_bpe_tokens" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val merges = TextStats.bpeTrain(docs, "text", steps = BpeSteps,
        maxWordLen = BpeMaxWordLen)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.bpeTokenCount(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    // Character-trigram LM quality scoring (the CCNet perplexity filter):
    // train on doc_id%10!=0, score the held-out tenth AND its char-reversed
    // twin against the same model. sum_p_x1e9 gates BYTE-EXACT (one IEEE
    // division per position, integer sum — KMV/cents precedent); the NLL is
    // a float sum, so it gates as a margin BOOLEAN: real text beats its
    // reversed twin by >= 1900 milli-nats/char (observed min gap 3893-4479
    // across sf0.001/0.01/0.1; floor at ~half, LSH-floor discipline —
    // cross-engine log/sum jitter is ~1e-9, six orders below the margin).
    "text_lm_perplexity" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val model = TextStats.charNgramCounts(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "text", 3)
      // the model feeds FOUR join lineages (grams+ctx × real/reversed):
      // persist + materialize in the caller and leave it cached —
      // LRU-evictable, lineage-recomputable (the hierarchicalSketch
      // posture; library operators never cache)
      model.persist()
      model.count()
      val held = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val real = TextStats.lmScore(held, "doc_id", "text", model, 3)
      val rev = TextStats.lmScore(
        held.select(col("doc_id"), reverse(col("text")).as("text")),
        "doc_id", "text", model, 3)
        .select(col("doc_id"), col("nll").as("nll_rev"))
      real.join(rev, "doc_id")
        .select(col("doc_id"), col("n_pos"), col("sum_p_x1e9"),
          (round((col("nll_rev") - col("nll")) * 1000 /
            greatest(col("n_pos"), lit(1L))) >= 1900).as("real_better"))
        .orderBy("doc_id")
    },
    // ---- multimodal plumbing ----------------------------------------------
    "multimodal_frame_meta" -> { (s, dir) =>
      Multimodal.frameMeta(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload")
        .orderBy("id")
    },
    // REAL image decode/resize via the JDK's own codecs (javax.imageio):
    // per document, a deterministic fixture raster (seeded by text+id,
    // size/bands integer functions of doc_id) is encoded as a real PNG;
    // Multimodal.decodeImages must recover the exact dimensions/bands and
    // the byte-identical raster (PNG is lossless; samples are read raw via
    // Raster.getSample, so equality is deterministic, not probabilistic),
    // and resizeImages' 2x2 nearest-neighbour thumbnail must equal the
    // codec-free resample of the same fixture pixels. Dimensions gate as
    // integers the oracle recomputes from doc_id; the two byte-level
    // round-trip equalities gate as booleans.
    "multimodal_decode" -> { (s, dir) =>
      import s.implicits._
      val gen = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val w = 3 + (id % 5).toInt
          val h = 2 + (id % 4).toInt
          val ch = if (id % 2 == 0) 1 else 3
          val seed = (if (text == null) "" else text) + "#" + id
          val px = Multimodal.syntheticPixels(seed, w, h, ch)
          (id, Multimodal.syntheticImagePng(seed, w, h, ch),
            Multimodal.md5Hex(px),
            Multimodal.md5Hex(Multimodal.resamplePixels(px, w, h, ch, 2, 2)))
        })
        .toDF("id", "payload", "expect_md5", "expect_thumb_md5")
        .cache()
      val dec = Multimodal.decodeImages(gen, "id", "payload").toDF()
      val thumbs = Multimodal.resizeImages(gen, "id", "payload", 2, 2)
        .select(col("id"), md5(col("thumb")).as("thumb_md5"))
      val out = dec
        .join(gen.select("id", "expect_md5", "expect_thumb_md5"), "id")
        .join(thumbs, "id")
        .select(col("id"), col("width"), col("height"), col("channels"),
          (col("pixel_md5") === col("expect_md5")).as("decode_exact"),
          (col("thumb_md5") === col("expect_thumb_md5")).as("resize_exact"))
        .orderBy("id")
      out
    },
    // Image near-dup dedup over REAL decoded pixels: per doc a
    // deterministic md5-noise PNG (12+id%5 x 10+id%4, gray/RGB
    // alternating); every doc_id % 7 == 0 additionally plants a 2x
    // nearest-neighbour-upscaled TWIN under id + 1000000 — a different PNG
    // bitstream whose dHash provably equals the base's (floor-nesting
    // identity, see noiseTwinPng). imageNearDupPairs (banded 16-bit
    // Hamming join, radius 3, pigeonhole recall) must return EXACTLY the
    // planted pairs at Hamming 0: the md5-keystream fixture makes every
    // non-twin gradient sign an independent coin flip (~32 bits apart),
    // so the nearest non-planted pair sits far outside radius 3 (verified
    // at sf0.001/0.01/0.1) — the pair list gates byte-exact against the
    // planting rule the oracle re-derives from doc_id arithmetic.
    "multimodal_image_neardup" -> { (s, dir) =>
      import s.implicits._
      val imgs = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap { id =>
          val w = 12 + (id % 5).toInt
          val h = 10 + (id % 4).toInt
          val ch = if (id % 2 == 0) 1 else 3
          val seed = "neardup#" + id
          val base = (id, Multimodal.noisePng(seed, w, h, ch))
          if (id % 7 == 0)
            Seq(base,
              (id + 1000000L, Multimodal.noiseTwinPng(seed, w, h, ch)))
          else Seq(base)
        })
        .toDF("id", "payload")
      Multimodal.imageNearDupPairs(imgs, "id", "payload")
        .orderBy("id_a", "id_b")
    },
    // REAL audio decode via the JDK's own readers (javax.sound.sampled —
    // WAV/AIFF/AU PCM, the audio twin of multimodal_decode): per doc a
    // deterministic md5-keystream PCM16 fixture (120+id%50 frames,
    // 1+id%2 channels) is encoded as a REAL container — WAV for most ids,
    // AIFF (big-endian) for id%3==0, so the gate also proves the
    // canonical pcm_md5 is container-format-invariant. decodeAudios must
    // recover the exact rate/channels/frames, the byte-identical
    // canonical PCM (lossless round-trip boolean), and the integer
    // energy-window vector must equal the codec-free computation over the
    // same fixture samples. Metadata gates as integers the oracle
    // re-derives from doc_id; the byte-level equalities gate as booleans.
    "multimodal_audio_decode" -> { (s, dir) =>
      import s.implicits._
      val gen = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val ch = 1 + (id % 2).toInt
          val n = 120 + (id % 50).toInt
          val canon = Multimodal.syntheticPcm16("audio#" + id, n, ch)
          (id, Multimodal.pcm16Container(canon, 8000, ch, aiff = id % 3 == 0),
            Multimodal.md5Hex(canon),
            Multimodal.pcmEnergyWindows(canon, ch, 2, 64))
        })
        .toDF("id", "payload", "expect_md5", "expect_energy")
        .cache()
      Multimodal.decodeAudios(gen, "id", "payload", energyWindowFrames = 64)
        .toDF()
        .join(gen.select("id", "expect_md5", "expect_energy"), "id")
        .select(col("id"), col("sample_rate"), col("channels"),
          col("n_frames"),
          (col("pcm_md5") === col("expect_md5")).as("decode_exact"),
          (col("energies") === col("expect_energy")).as("energy_exact"))
        .orderBy("id")
    },
    // north-star "heavy hitters per turn window": CMS over (hour, type)
    // composite keys, eps-bounded against the exact windowed counts.
    "cms_windowed_counts" -> { (s, dir) =>
      val eps = 0.0005
      val delta = 0.01
      val keyed = t(s, dir, "events")
        .withColumn("hour",
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
        .withColumn("k", concat_ws("|", col("hour"), col("event_type")))
      val sk = keyed.agg(cms_agg(col("k"), eps, delta).as("cms"))
      val perKey = keyed.groupBy("hour", "event_type")
        .agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sk))
        .withColumn("est", cms_estimate(col("cms"),
          concat_ws("|", col("hour"), col("event_type"))))
        .withColumn("slack", greatest(lit(1L),
          (lit(eps) * cms_total(col("cms"))).cast("long")))
      // published guarantee: P(overcount > eps*N) <= delta PER KEY — so the
      // bound check is on the violation FRACTION, not every row
      val viol = perKey
        .agg((sum(when(col("est") > col("exact_cnt") + col("slack"), 1L)
          .otherwise(0L)) <=
          greatest(lit(1L), (lit(4 * delta) * count(lit(1))).cast("long")))
          .as("f"))
      perKey.crossJoin(broadcast(viol))
        .select(col("hour"), col("event_type"), col("exact_cnt"),
          (col("est") >= col("exact_cnt")).as("no_undercount"),
          col("f").as("violations_within_delta"))
        .orderBy("hour", "event_type")
    },
    // Mergeable heavy-hitter ENUMERATION (Misra–Gries/SpaceSaving): unlike
    // the CMS bound check above, topk_agg RETURNS the hot keys without an
    // exact groupBy. The key is a deterministic skewed function of user_id
    // (64 div (r+1): the hottest key carries ~50% of events) over ~15
    // distinct keys with capacity 6, so prunes/evictions actually happen and
    // the published guarantees are exercised non-vacuously:
    //  - no overcount (est <= exact);
    //  - every key with exact_cnt > N/(m+1) is present in the summary;
    //  - undercount <= N/(m+1) when present, exact_cnt <= N/(m+1) if evicted.
    // All deterministic (not probabilistic) — gate every row.
    "heavy_hitters_topk" -> { (s, dir) =>
      val m = 6
      val keyed = t(s, dir, "events")
        .select(concat(lit("k"),
          expr("64 div (pmod(user_id, 64) + 1)").cast("string")).as("k"))
      val sk = keyed.agg(topk_agg(col("k"), m).as("tk"))
      val items = sk.select(explode(topk_items(col("tk"), m)).as("it"))
        .select(col("it.item").as("k"), col("it.est").as("est"))
      val nDf = sk.select(topk_total(col("tk")).as("n"))
      keyed.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(nDf))
        .join(broadcast(items), Seq("k"), "left")
        .select(col("k"), col("exact_cnt"),
          (!(col("exact_cnt") * (m + 1) > col("n")) || col("est").isNotNull)
            .as("heavy_present"),
          when(col("est").isNotNull,
            col("est") <= col("exact_cnt") &&
              (col("exact_cnt") - col("est")) * (m + 1) <= col("n"))
            .otherwise(col("exact_cnt") * (m + 1) <= col("n")).as("bound_ok"))
        .orderBy("k")
    },
    // HLL hierarchy rollup by sketch MERGE: nation-level user sketches are
    // built ONCE and region-level estimates come from merging those blobs
    // in-plan (hll_merge_agg) — never rescanning the fact table. The
    // 100 TB pattern: materialize fine-grain sketches, roll up any
    // hierarchy by merge. custkey is unique, so exact region distinct =
    // sum of per-nation exacts (the oracle recomputes it directly).
    "hll_rollup_merge" -> { (s, dir) =>
      val p = 14
      val perNation = t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(hll_agg(col("c_custkey"), p).as("sk"),
          countDistinct(col("c_custkey")).as("exact_n"))
      val region = perNation
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_regionkey"))),
          "c_nationkey")
        .groupBy("n_regionkey")
        .agg(hll_estimate(hll_merge_agg(col("sk"), p)).as("est"),
          sum(col("exact_n")).as("exact_distinct"))
      region.select(col("n_regionkey"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            lit(3 * graft.sketch.Hll.stdError(p)) * col("exact_distinct") +
              lit(2.0)).as("within_bound"))
        .orderBy("n_regionkey")
    },
    // Weighted heavy hitters: same skewed key, but each event contributes
    // pmod(event_id,100)+1 weight (tokens/bytes/cents in a real pipeline).
    // The Misra–Gries bounds hold with N = total WEIGHT — deterministic,
    // gate every row (same posture as heavy_hitters_topk).
    "heavy_hitters_weighted" -> { (s, dir) =>
      val m = 6
      val keyed = t(s, dir, "events")
        .select(concat(lit("k"),
          expr("64 div (pmod(user_id, 64) + 1)").cast("string")).as("k"),
          (pmod(col("event_id"), lit(100)) + 1).cast("long").as("w"))
      val sk = keyed.agg(topk_weighted_agg(col("k"), col("w"), m).as("tk"))
      val items = sk.select(explode(topk_items(col("tk"), m)).as("it"))
        .select(col("it.item").as("k"), col("it.est").as("est"))
      val nDf = sk.select(topk_total(col("tk")).as("n"))
      keyed.groupBy("k").agg(sum(col("w")).as("exact_w"))
        .crossJoin(broadcast(nDf))
        .join(broadcast(items), Seq("k"), "left")
        .select(col("k"), col("exact_w"),
          (!(col("exact_w") * (m + 1) > col("n")) || col("est").isNotNull)
            .as("heavy_present"),
          when(col("est").isNotNull,
            col("est") <= col("exact_w") &&
              (col("exact_w") - col("est")) * (m + 1) <= col("n"))
            .otherwise(col("exact_w") * (m + 1) <= col("n")).as("bound_ok"))
        .orderBy("k")
    },
    // Rollup-by-merge for the counter sketch: per-event-type SpaceSaving
    // summaries merged to a global one with topk_merge_agg — the mergeable-
    // summaries theorem keeps ALL the MG bounds for the combined stream, so
    // the same deterministic per-row gate as heavy_hitters_topk applies to
    // the merged result.
    "topk_rollup_merge" -> { (s, dir) =>
      val m = 6
      val keyed = t(s, dir, "events").select(col("event_type"),
        concat(lit("k"),
          expr("64 div (pmod(user_id, 64) + 1)").cast("string")).as("k"))
      val merged = keyed.groupBy("event_type")
        .agg(topk_agg(col("k"), m).as("tk_part"))
        .agg(topk_merge_agg(col("tk_part"), m).as("tk"))
      val items = merged.select(explode(topk_items(col("tk"), m)).as("it"))
        .select(col("it.item").as("k"), col("it.est").as("est"))
      val nDf = merged.select(topk_total(col("tk")).as("n"))
      keyed.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(nDf))
        .join(broadcast(items), Seq("k"), "left")
        .select(col("k"), col("exact_cnt"),
          (!(col("exact_cnt") * (m + 1) > col("n")) || col("est").isNotNull)
            .as("heavy_present"),
          when(col("est").isNotNull,
            col("est") <= col("exact_cnt") &&
              (col("exact_cnt") - col("est")) * (m + 1) <= col("n"))
            .otherwise(col("exact_cnt") * (m + 1) <= col("n")).as("bound_ok"))
        .orderBy("k")
    },
    // Rollup-by-merge for CMS, completing the family (HLL, top-k,
    // KLL/t-digest, CMS): per-event-type counter sketches merged to a
    // global one with cms_merge_agg. CMS merge is element-wise counter
    // ADDITION, so unlike the other sketches the merged blob is provably
    // byte-identical to a direct one-pass build — gated as byte equality
    // on the blobs, plus the usual no-undercount / eps-overcount bounds
    // vs exact counts.
    "cms_rollup_merge" -> { (s, dir) =>
      val eps = 0.0005
      val ev = t(s, dir, "events").select(col("event_type"),
        concat(lit("k"),
          expr("64 div (pmod(user_id, 64) + 1)").cast("string")).as("k"))
      val mb = ev.groupBy("event_type")
        .agg(cms_agg(col("k"), eps, 0.01).as("p"))
        .agg(cms_merge_agg(col("p"), eps, 0.01))
        .first().getAs[Array[Byte]](0)
      val db = ev.agg(cms_agg(col("k"), eps, 0.01))
        .first().getAs[Array[Byte]](0)
      val identical = java.util.Arrays.equals(mb, db)
      val cms = lit(mb)
      ev.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
        .select(col("k"), col("exact_cnt"),
          lit(identical).as("merged_equals_direct"),
          (cms_estimate(cms, col("k")) >= col("exact_cnt"))
            .as("no_undercount"),
          (cms_estimate(cms, col("k")) <=
            col("exact_cnt") + greatest(lit(1L),
              (lit(eps) * cms_total(cms)).cast("long"))).as("within_eps"))
        .orderBy("k")
    },
    // Rollup-by-merge for the quantile sketches: per-event-type KLL and
    // t-digest blobs merged to GLOBAL ones in-plan (kll_merge_agg /
    // tdigest_merge_agg) — fine-grain blobs built once, any coarser level
    // is a merge, never a fact-table rescan. KLL's rank-error bound
    // survives merge (mergeable-summaries), so the kll_price_quantiles
    // rank-check gate applies unchanged to the merged sketch; the merged
    // t-digest gets a looser empirical bound (merging-digest accuracy
    // degrades ~2x vs single-pass, same posture as tdigest_value_quantiles).
    "quantile_rollup_merge" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("x"))
        .where(col("x").isNotNull)
      val merged = ev.groupBy("event_type")
        .agg(kll_agg(col("x"), 200).as("kll_part"),
          tdigest_agg(col("x"), 100).as("td_part"))
        .agg(kll_merge_agg(col("kll_part"), 200).as("kll"),
          tdigest_merge_agg(col("td_part"), 100).as("td"))
      val row = merged.first()
      val kll = graft.sketch.Kll.fromBytes(row.getAs[Array[Byte]]("kll"))
      val td = graft.sketch.TDigest.fromBytes(row.getAs[Array[Byte]]("td"))
      val eps = 3 * kll.rankErrorBound + 0.005
      val qs = Seq(0.1 -> "q10", 0.5 -> "q50", 0.9 -> "q90")
      val ests = qs.map { case (q, _) => kll.quantile(q) } ++
        qs.map { case (q, _) => td.quantile(q) }
      val ranks = ev.agg(count(lit(1)).cast("double").as("n"),
        ests.map(e => sum(when(col("x") < e, 1L).otherwise(0L))): _*).first()
      val n = ranks.getDouble(0)
      import s.implicits._
      qs.zipWithIndex.map { case ((q, label), i) =>
        (label,
          math.abs(ranks.getLong(i + 1) / n - q) <= eps,
          math.abs(ranks.getLong(i + 1 + qs.size) / n - q) <= 0.025)
      }.toDF("q_label", "kll_within_rank_error", "td_within_rank_error")
        .orderBy("q_label")
    },
    // Scalar HLL union estimation (the reference's estimate_union planning
    // primitive, taxor_build.cpp:470-473): per-event-type user sketches,
    // every pair's |A ∪ B| estimate gated against the exact distinct union
    // within the published 1.04/sqrt(m) bound (|A ∩ B| follows by
    // inclusion–exclusion — the dedup-overlap planning use).
    "hll_union_estimate" -> { (s, dir) =>
      val p = 14
      val ev = t(s, dir, "events")
      val sks = ev.groupBy("event_type").agg(hll_agg(col("user_id"), p).as("sk"))
      val ests = sks.as("a").join(sks.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("et_a"), col("b.event_type").as("et_b"),
          hll_union_estimate(col("a.sk"), col("b.sk")).as("est"))
      val exact = ests.select("et_a", "et_b")
        .join(ev, ev("event_type") === col("et_a") ||
          ev("event_type") === col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(countDistinct(col("user_id")).as("exact_union"))
      exact.join(broadcast(ests), Seq("et_a", "et_b"))
        .select(col("et_a"), col("et_b"), col("exact_union"),
          (abs(col("est") - col("exact_union")) <=
            lit(3 * graft.sketch.Hll.stdError(p)) * col("exact_union") +
              lit(2.0)).as("within_bound"))
        .orderBy("et_a", "et_b")
    },
    // KMV (k-minimum-values) distinct sketch: bottom-k of an engine-portable
    // md5-derived 60-bit hash per event_type (Bar-Yossef et al. 2002).
    // Unlike the HLL gates, the ESTIMATE column itself is gated BYTE-EXACT
    // against DuckDB — integer hash order statistics plus one IEEE division
    // with an exact-Double numerator — alongside the usual statistical
    // bound vs the exact distinct count (sd ~ exact/sqrt(k-2)).
    "kmv_distinct" -> { (s, dir) =>
      val k = 128
      val ev = t(s, dir, "events")
      val est = Kmv.sketch(ev, Seq("event_type"), "user_id", k)
        .select(col("event_type"), Kmv.estimate(col("ks"), k).as("kmv_est"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
        .join(broadcast(est), Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"), col("kmv_est"),
          (abs(col("kmv_est") - col("exact_distinct")) <=
            lit(4.0 / math.sqrt(k - 2)) * col("exact_distinct") + lit(2.0))
            .as("within_bound"))
        .orderBy("event_type")
    },
    // KMV union rollup: per-type sketches merged row-locally (bottom-k of
    // the hash-set union — the min-k law), every pair's |A ∪ B| estimate
    // gated byte-exact AND bound-checked vs the exact distinct union. The
    // deterministic counterpart of hll_union_estimate for dedup-overlap
    // planning: |A ∩ B| follows by inclusion–exclusion.
    "kmv_union_estimate" -> { (s, dir) =>
      val k = 128
      val ev = t(s, dir, "events")
      val sk = Kmv.sketch(ev, Seq("event_type"), "user_id", k)
      val ests = sk.as("a")
        .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("et_a"), col("b.event_type").as("et_b"),
          Kmv.estimate(Kmv.merge(col("a.ks"), col("b.ks"), k), k).as("kmv_est"))
      val exact = ests.select("et_a", "et_b")
        .join(ev, ev("event_type") === col("et_a") ||
          ev("event_type") === col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(countDistinct(col("user_id")).as("exact_union"))
      exact.join(broadcast(ests), Seq("et_a", "et_b"))
        .select(col("et_a"), col("et_b"), col("exact_union"), col("kmv_est"),
          (abs(col("kmv_est") - col("exact_union")) <=
            lit(4.0 / math.sqrt(k - 2)) * col("exact_union") + lit(2.0))
            .as("within_bound"))
        .orderBy("et_a", "et_b")
    },
    // KMV set operations beyond union (theta-sketch-style): Jaccard from
    // the shared fraction within the union's bottom-k sample (Mash / Ondov
    // et al. 2016) and intersection by j * est(U). Integer set algebra over
    // the hash arrays plus one division and one product of integer-derived
    // doubles — BOTH estimates gate byte-exact, alongside a 4-sigma
    // hypergeometric bound vs the exact Jaccard.
    "kmv_jaccard_estimate" -> { (s, dir) =>
      val k = 128
      val ev = t(s, dir, "events")
      val sk = Kmv.sketch(ev, Seq("event_type"), "user_id", k)
      val ests = sk.as("a")
        .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("et_a"), col("b.event_type").as("et_b"),
          Kmv.jaccardEstimate(col("a.ks"), col("b.ks"), k).as("jaccard_est"),
          Kmv.intersectionEstimate(col("a.ks"), col("b.ks"), k).as("inter_est"))
      val du = ev.select("event_type", "user_id").distinct()
      val inter = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val sizes = du.groupBy("event_type").agg(count(lit(1)).as("n"))
      val xi = coalesce(col("exact_inter"), lit(0L))
      val xu = col("n_a") + col("n_b") - xi
      ests
        .join(inter, Seq("et_a", "et_b"), "left")
        .join(broadcast(sizes.select(col("event_type").as("et_a"),
          col("n").as("n_a"))), Seq("et_a"))
        .join(broadcast(sizes.select(col("event_type").as("et_b"),
          col("n").as("n_b"))), Seq("et_b"))
        .select(col("et_a"), col("et_b"),
          xi.as("exact_inter"), xu.as("exact_union"),
          col("jaccard_est"), col("inter_est"),
          (abs(col("jaccard_est") - xi.cast("double") / xu.cast("double")) <=
            lit(KmvJaccardBound)).as("within_bound"))
        .orderBy("et_a", "et_b")
    },
    // Directional containment |A∩B|/|A| — the decontamination direction a
    // symmetric Jaccard cannot see (a tiny eval fully inside a huge train
    // has Jaccard ~ 0 but containment-of-eval = 1). The event-type user
    // sets all coincide (every user hits every type), which would gate a
    // vacuous wall of 1.0s — so the fixture is nested modulus subsets of
    // the user universe (m2/m5/m13), giving genuinely asymmetric pairs
    // (cont(m13 in m2) ~ 1/2 vs cont(m2 in m13) ~ 1/13). Estimates gate
    // byte-exact (same integer-derived IEEE expression trees in both
    // engines); the bound boolean follows the kmv_jaccard precedent.
    "kmv_containment" -> { (s, dir) =>
      val k = 128
      val ev = t(s, dir, "events")
      val grps = ev.select(col("event_id")).distinct()
        .select(col("event_id"), explode(array(
          when(pmod(col("event_id"), lit(2)) === 0, lit("m2")),
          when(pmod(col("event_id"), lit(5)) === 0, lit("m5")),
          when(pmod(col("event_id"), lit(13)) === 0, lit("m13"))))
          .as("grp"))
        .where(col("grp").isNotNull)
      val sk = Kmv.sketch(grps, Seq("grp"), "event_id", k)
      val ests = sk.as("a")
        .join(sk.as("b"), col("a.grp") < col("b.grp"))
        .select(col("a.grp").as("g_a"), col("b.grp").as("g_b"),
          Kmv.containmentEstimate(col("a.ks"), col("b.ks"), k).as("cont_ab"),
          Kmv.containmentEstimate(col("b.ks"), col("a.ks"), k).as("cont_ba"))
      val inter = grps.as("x").join(grps.as("y"),
          col("x.event_id") === col("y.event_id") &&
            col("x.grp") < col("y.grp"))
        .groupBy(col("x.grp").as("g_a"), col("y.grp").as("g_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val sizes = grps.groupBy("grp").agg(count(lit(1)).as("n"))
      val xi = coalesce(col("exact_inter"), lit(0L))
      ests
        .join(inter, Seq("g_a", "g_b"), "left")
        .join(broadcast(sizes.select(col("grp").as("g_a"),
          col("n").as("n_a"))), Seq("g_a"))
        .join(broadcast(sizes.select(col("grp").as("g_b"),
          col("n").as("n_b"))), Seq("g_b"))
        .select(col("g_a"), col("g_b"), xi.as("exact_inter"),
          col("n_a"), col("n_b"), col("cont_ab"), col("cont_ba"),
          (abs(col("cont_ab") -
            xi.cast("double") / col("n_a").cast("double")) <=
            lit(KmvContainmentBound)).as("within_bound_ab"),
          (abs(col("cont_ba") -
            xi.cast("double") / col("n_b").cast("double")) <=
            lit(KmvContainmentBound)).as("within_bound_ba"))
        .orderBy("g_a", "g_b")
    },
    // Substring-level dedup: identical 256-char spans (stride 224)
    // canonicalized corpus-wide; byte-exact oracle via the chunk pattern
    // (same generate_series cap + ASCII/length invariant as text_chunks).
    "dedup_span_exact" -> { (s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text",
          size = 256, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    },
    // Deterministic stratified bottom-k-by-hash sampling: 10 docs per
    // source, ranked by md5("graft:<id>") — engine-portable, so the oracle
    // reproduces the EXACT sample (byte-equality gate, not a bound).
    // Weighted priority sampling: length-weighted 10-per-source sample.
    // priority = (60-bit md5 hash) / weight — one IEEE division of
    // integer-derived operands, so the oracle reproduces the EXACT sample
    // (byte-equality), like sample_bottomk.
    "sample_weighted" -> { (s, dir) =>
      Sampling.weightedBottomK(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              length(col("text")).cast("long").as("w")),
          Seq("source"), "doc_id", "w", k = 10)
        .select(col("source"), col("doc_id"), col("w"),
          col("rk").cast("int").as("rk"))
        .orderBy("source", "doc_id")
    },
    "sample_bottomk" -> { (s, dir) =>
      Sampling.bottomK(t(s, dir, "documents").select("doc_id", "source"),
          Seq("source"), "doc_id", k = 10)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy("source", "doc_id")
    },
    // Mixture construction by per-source RATE (web 12% / code 100% ...):
    // keep iff the id's md5 prefix clears the source's 1/256-granular
    // threshold — nested across rates, append-stable, byte-equality gate
    // (thresholds from ONE Scala constant shared with the oracle builder).
    "sample_mixture" -> { (s, dir) =>
      Sampling.rateSample(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", MixtureRates, "doc_id")
        .orderBy("doc_id")
    },
    // Temperature-flattened mixture (rates ∝ n^(alpha-1), computed
    // IN-PLAN from the observed group sizes): grouped on the derived
    // skew key pattern from heavy_hitters_topk so the buckets are
    // non-trivial (~8x size spread). alpha = 0.5 keeps every derived
    // double one correctly-rounded IEEE op (divide, sqrt, x·256, floor)
    // from integer inputs — byte-equality gate incl. the bucket column.
    "sample_temperature" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("grp", expr("CAST(16 div (pmod(doc_id, 16) + 1) AS INT)"))
        .select("doc_id", "grp")
      Sampling.temperatureSample(docs, "grp", "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("grp"), col("temp_bucket"))
        .orderBy("doc_id")
    },
    // Token-budget fill per source: hash-ordered cumulative-sum cutoff —
    // "fill N tokens per source, reproducibly". Integer weights in a
    // deterministic order ⇒ byte-equality gate.
    "sample_token_budget" -> { (s, dir) =>
      Sampling.tokenBudget(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("w")),
          Seq("source"), "doc_id", "w", budget = 1500)
        .select(col("source"), col("doc_id"), col("w"), col("cum_w"))
        .orderBy("source", "doc_id")
    },
    // DSIR-style importance resampling (Xie et al. 2023): char-trigram
    // target model (lang = 'en' docs) vs raw model (whole corpus), per-doc
    // fixed-point mean likelihood ratio, deterministic top-50 selection
    // via the two-level topKByScore. sum_lr_x1e9 / mean_lr_x1e9 and the
    // selected SET gate byte-exact (each term is a fixed composition of
    // correctly-rounded IEEE divisions over integer-derived operands);
    // the operator's float log_weight column (DSIR's actual statistic) is
    // deliberately left out of the gate (float sum — never hash-gated).
    "sample_importance" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      // ONE combined gram pass builds BOTH models (target = en sub-corpus,
      // raw = whole corpus): cnt_flagged > 0 selects exactly the grams of
      // the en sub-corpus with their en counts, so target/raw below are
      // provably the same tables the two separate charNgramCounts calls
      // produced (r6: halves the dominant gram-explode scan). The combined
      // table feeds four join lineages plus two totals lineages: persist
      // in the CALLER and leave cached (hierarchicalSketch posture).
      val models = TextStats.charNgramCountsWithFlag(
        docs, "text", 3, col("lang") === "en").persist()
      models.count()
      val target = models.where(col("cnt_flagged") > 0)
        .select(col("gram"), col("cnt_flagged").as("cnt"))
      val raw = models.select("gram", "cnt")
      val wts = TextStats
        .importanceWeights(docs, "doc_id", "text", target, raw, 3)
        .select(col("doc_id"), col("n_pos"), col("sum_lr_x1e9"),
          when(col("n_pos") === 0, lit(0.0))
            .otherwise(col("sum_lr_x1e9").cast("double") /
              col("n_pos").cast("double")).as("mean_lr_x1e9"))
      Sampling.topKByScore(wts, "mean_lr_x1e9", "doc_id", k = 50)
        .select(col("doc_id"), col("n_pos"), col("sum_lr_x1e9"),
          col("mean_lr_x1e9"), col("rk"))
        .orderBy("rk")
    },
    // Sequence packing (concat-and-chunk into 512-token context windows,
    // per source, in the deterministic hash order): pack offsets, window
    // ids and span counts are integer cumsum arithmetic both engines
    // reproduce verbatim — byte-equality gate. token_count and the
    // DuckDB regexp-split twin are the same pair text_doc_stats gates.
    "pack_windows" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        GraftFunctions.token_count(col("text")).as("n_tokens"))
      Sampling.packWindows(docs, Seq("source"), "doc_id", "n_tokens", 512)
        .orderBy("doc_id")
    },
    // Deterministic 80/10/10 train/val/test split by id hash: assignment is
    // a pure function of doc_id (repartition/reorder/append never move a
    // row), expressed as two-hex-char threshold compares both engines
    // reproduce verbatim — byte-equality gate.
    "sample_hash_split" -> { (s, dir) =>
      Sampling.hashSplit(t(s, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    },
    // Deterministic corpus export (global shuffle + dataloader shards):
    // shard = 60-bit md5 decode mod 8, within-shard order = the same hash
    // — one engine-portable permutation both engines replay verbatim.
    // Byte-equality gate via Kmv.decodeHexSql's portable hex decode.
    "export_shards" -> { (s, dir) =>
      Sampling.exportShards(t(s, dir, "documents").select("doc_id"),
          "doc_id", nShards = 8)
        .orderBy("shard", "ord")
    },
    // ---- web curation: URL canonicalization / dedup / domain stats --------
    // The sf tables carry no URLs, so (text_redaction discipline) a messy
    // synthetic absolute URL per doc_id is generated deterministically in
    // SPARK ONLY and dumped to a fixed path the oracle reads back
    // (TranscriptDumpPath convention). The oracle then re-derives the
    // ENTIRE canonicalization chain in DuckDB from SQL GENERATED off the
    // same pattern/param constants (WebOps.canonicalPartsSql), so the two
    // sides cannot de-synchronize and every rule — fragment strip, default-
    // port drop, tracking-param removal, param sort, trailing-slash — is
    // cross-checked byte-exact. doc_ids ≡ 3 (mod 10) borrow the identity
    // of doc_id-3, planting genuine URL-level duplicate classes whose mess
    // (case, default port, tracking params, param order, fragments) still
    // differs per row.
    "web_url_dedup" -> { (s, dir) =>
      WebOps.urlDedup(webUrls(s, dir), "doc_id", "url").orderBy("id")
    },
    // Per-registered-domain doc / distinct-canonical-URL counts: exercises
    // registeredDomain's public-suffix rule (site7.co.uk stays a 3-label
    // registered domain; www. is shed as an ordinary subdomain label).
    "web_domain_stats" -> { (s, dir) =>
      WebOps.domainStats(webUrls(s, dir), "doc_id", "url")
        .orderBy("registered_domain")
    },
    // Broadcast anti-join against a curated domain blocklist. The four
    // blocked domains hit cids ≡ 0,1,2,3 (mod 100) — ~4% of docs plus
    // their planted duplicates — so the filter is non-vacuous at sf0.01.
    "web_blocked_filter" -> { (s, dir) =>
      import s.implicits._
      val blocked = WebBlockedDomains.toDF("registered_domain")
      WebOps.filterBlockedDomains(webUrls(s, dir), "url", blocked)
        .select("doc_id").orderBy("doc_id")
    },
    // ---- conversation-structure curation over the input_hint shape --------
    // The transcript generator is Spark-only, so each gate dumps its
    // (deterministically mutated) turn table to a fixed path the oracle
    // reads back, then re-derives the full result in DuckDB. Damage is
    // PLANTED (dropped turn_idx 2 for convs ≡5 mod 13; doubled turn_idx 1
    // for convs ≡4 mod 17; re-ingested "-dup" conversations for ≡0 mod 7)
    // so gapless/dup_idx/is_canonical are non-vacuous.
    "conv_integrity" -> { (s, dir) =>
      Conversations.integrity(damagedConvs(s)).orderBy("conv_id")
    },
    "conv_dedup" -> { (s, dir) =>
      Conversations.dedup(dupConvs(s)).orderBy("conv_id")
    },
    "conv_role_transitions" -> { (s, dir) =>
      Conversations.roleTransitions(damagedConvs(s))
        .orderBy("role_from", "role_to")
    },
    // Inactivity-gap sessionization. The generator's inter-turn gaps are
    // 60 + (hash mod 59) - (prev hash mod 59) seconds ∈ [2, 118], so a
    // 90 s threshold splits sessions on a data-dependent, deterministic
    // subset of turns — non-vacuous at any scale.
    "conv_sessionize" -> { (s, dir) =>
      Conversations.sessionize(damagedConvs(s), gapSeconds = 90)
        .select("conv_id", "turn_idx", "role", "session_idx")
        .orderBy("conv_id", "turn_idx", "role")
    },
    // SFT packing with a loss mask: the damaged fixture concatenated in
    // md5(conv_id) order, chunked into 512-token windows (token count =
    // char length — integral, engine-portable), assistant turns trainable.
    // Pure integer div/pmod window arithmetic — byte-exact; the planted
    // double-delivered turns are full-row-identical, so their two cumsum
    // values are interchangeable as a multiset in both engines.
    "conv_pack_mask" -> { (s, dir) =>
      val turns = damagedConvs(s)
        .withColumn("tok", length(col("text")).cast("long"))
      Conversations.packWithLossMask(turns, "tok", ctxTokens = 512)
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("window_id"), col("window_off"), col("n_windows"),
          col("trainable"))
        .orderBy("conv_id", "turn_idx", "role")
    },
    // Incremental conv-level dedup vs a persisted fingerprint index, two
    // waves: wave 1 probes (fresh odd convs + "-dup" re-ingests of indexed
    // evens — must match), then the WHOLE wave is appended and wave 2
    // ("-dup2" re-ingests of wave-1 odds) must match the APPENDED entries
    // — arrival-order canonicalization end-to-end. The oracle re-derives
    // both index states from the single dumped (wave, turns) table.
    "conv_dedup_index" -> { (s, dir) =>
      val num = substring_index(col("conv_id"), "-", -1).cast("long")
      val base = graft.sources.Transcripts.generate(s, nConvs = 350)
      val idxTurns = base.where(pmod(num, lit(2)) === 0)
      val wave1 = base.where(pmod(num, lit(2)) === 1).unionByName(
        base.where(pmod(num, lit(14)) === 0)
          .withColumn("conv_id", concat(col("conv_id"), lit("-dup"))))
      val wave2 = base.where(pmod(num, lit(10)) === 1)
        .withColumn("conv_id", concat(col("conv_id"), lit("-dup2")))
      idxTurns.withColumn("wave", lit(0))
        .unionByName(wave1.withColumn("wave", lit(1)))
        .unionByName(wave2.withColumn("wave", lit(2)))
        .write.mode("overwrite").parquet(ConvIndexDumpPath)
      val all = s.read.parquet(ConvIndexDumpPath)
      def wave(n: Int) = all.where(col("wave") === n).drop("wave")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-conv-fpidx-gate").toString
      // wave-1 fingerprints feed BOTH the probe and the append — persist
      // the one per-turn aggregation (r6; caller-caches posture), and
      // materialize it CONCURRENTLY with the independent wave-0 index
      // build (both read the fixture dump only; guide §2.6). The probe
      // result itself must still be MATERIALIZED (parquet, not a persist()
      // cache) before the append mutates the index: an evicted cache would
      // silently recompute the probe against the post-append index, where
      // every wave-1 conversation matches itself.
      val fps1 = Conversations.fingerprints(wave(1)).persist()
      Dedup.runParallel(
        () => Conversations.buildFingerprintIndex(wave(0), idx),
        () => fps1.count())
      Conversations.dedupAgainstIndexWithFps(s, fps1, idx)
        .withColumn("wave", lit(1))
        .write.mode("overwrite").parquet(s"$idx/wave1_result")
      Conversations.appendToFingerprintIndexWithFps(s, fps1, idx)
      fps1.unpersist()
      val r2 = Conversations.dedupAgainstIndex(wave(2), idx)
        .withColumn("wave", lit(2))
      s.read.parquet(s"$idx/wave1_result").unionByName(r2)
        .select("wave", "conv_id", "match_id", "is_duplicate")
        .orderBy("wave", "conv_id")
    },
    // Streaming twin under the SAME oracle SQL: the damaged fixture fed
    // through flatMapGroupsWithState custom state over three real
    // micro-batches, in global ts order (which preserves each conv's
    // canonical order — within a conv ts strictly increases with turn_idx
    // and no inter-turn gap approaches the 2h eviction watermark).
    "stream_sessionize" -> { (s, dir) =>
      import s.implicits._
      val rows = damagedConvs(s)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("ts"))
        .as[graft.streaming.SessTurn].collect()
        .sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx, t.role, t.text))
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.SessTurn]
      // unique sink name per invocation: Bench re-runs >10s queries in the
      // same session, and a second memory query must not collide with the
      // stopped first one's registration
      val sink = s"stream_sessionize_gate_${streamGateSeq.incrementAndGet()}"
      withStreamPartitions(s) {
        val q = graft.streaming.StreamingSketch
          .sessionizeStream(mem.toDF(), gapSeconds = 90)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
            mem.addData(b.toSeq: _*); q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table(sink)
        .select("conv_id", "turn_idx", "role", "session_idx")
        .orderBy("conv_id", "turn_idx", "role")
    },
    // Streaming distribution-drift alarm under the oracle: click values
    // stream through windowedKsDrift in per-UTC-day event-time windows
    // against a frozen reference KLL of the whole clean click corpus.
    // Odd epoch-days are planted shifted by max(value)+1 (total range
    // separation ⇒ exact per-day KS = 1); even days replay the reference
    // distribution (exact KS ~ 1/sqrt(day rows), far under threshold −
    // slack). Gated: per-window n byte-exact from the streamed blob (KLL
    // tracks n exactly — proves every window closed with exactly its
    // rows), drifted agrees with the oracle's exact-KS threshold (the
    // plant's separation dwarfs the two-sketch 3σ slack), and the KS
    // estimate sits within the published bound of the per-day exact KS
    // (recomputed in-plan with the same union-of-step-points prefix sum
    // as kll_ks_distance, partitioned by day).
    "stream_ks_drift" -> { (s, dir) =>
      import s.implicits._
      // clicks feeds six lineages (shift, reference blob, the streamed
      // rows, refV, nb, per-day wv): persist in the caller and leave
      // cached (hierarchicalSketch posture; r6)
      val clicks = t(s, dir, "events")
        .where(col("event_type") === "click").select(col("ts"), col("value"))
        .persist()
      // ONE pass over the cached clicks for the shift constant, the frozen
      // reference blob AND the row count the exact twin divides by (three
      // separate actions before r6; per-partition build/merge order — and
      // so the blob — unchanged)
      val r0 = clicks.agg(max("value").as("mx"),
        kll_agg(col("value"), 200).as("s"),
        count(lit(1)).as("nb")).first()
      val shift = r0.getDouble(0) + 1.0
      val refBlob = r0.getAs[Array[Byte]](1)
      val nb = r0.getLong(2)
      val oddDay =
        pmod(datediff(to_date(col("ts")), to_date(lit("1970-01-01"))),
          lit(2)) === 1
      val withDay = clicks.select(col("ts"),
        when(oddDay, col("value") + shift).otherwise(col("value")).as("x"))
      val rows = withDay.as[graft.streaming.ValuePoint].collect()
        .sortBy(_.ts.getTime)
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.ValuePoint]
      val sink = s"stream_ks_drift_gate_${streamGateSeq.incrementAndGet()}"
      withStreamPartitions(s) {
        val q = graft.streaming.StreamingSketch
          .windowedKsDrift(mem.toDF(), "x", refBlob, "1 day", "2 days",
            k = 200, threshold = 0.5)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
            mem.addData(b.toSeq: _*); q.processAllAvailable()
          }
          // a sentinel far past the last day advances the watermark so every
          // real window closes; its own window never closes, never emits
          mem.addData(graft.streaming.ValuePoint(
            new java.sql.Timestamp(rows.last.ts.getTime + 30L * 86400000L),
            0.0))
          q.processAllAvailable()
        } finally q.stop()
      }
      val streamed = s.table(sink)
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("n_rows"), col("ks_est"), col("drifted"))
      // exact per-day two-sample KS twin vs the full clean corpus
      val refV = clicks.select(col("value").as("x"))
        .groupBy("x").agg(count(lit(1)).as("cb"))
      val wv = withDay
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("x"))
        .groupBy("day", "x").agg(count(lit(1)).as("ca"))
      val pts = wv.select(col("day"), col("x"), col("ca"), lit(0L).as("cb"))
        .unionByName(wv.select("day").distinct().crossJoin(refV)
          .select(col("day"), col("x"), lit(0L).as("ca"), col("cb")))
      val g = pts.groupBy("day", "x")
        .agg(sum("ca").as("ca"), sum("cb").as("cb"))
      val wOrd = org.apache.spark.sql.expressions.Window.partitionBy("day")
        .orderBy("x").rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val na = wv.groupBy("day").agg(sum("ca").as("na"))
      val cum = g.select(col("day"),
        sum("ca").over(wOrd).as("cuma"), sum("cb").over(wOrd).as("cumb"))
      val exact = cum.join(na, "day")
        .groupBy("day")
        .agg(max(abs(col("cuma") * nb - col("cumb") * col("na")))
            .as("ksNum"),
          first("na").as("na"))
        .select(col("day"),
          (col("ksNum").cast("double") / (col("na") * nb)).as("exact_ks"))
      val slack = 3.0 * 2.0 * (2.296 / 200)
      // drop tiny partial boundary days symmetrically (oracle HAVING twin):
      // at n < 50 a clean day's sampling KS can approach the threshold and
      // the est-vs-exact agreement argument loses its margin
      streamed.join(exact, "day")
        .where(col("n_rows") >= 50)
        .select(col("day"), col("n_rows").as("n"), col("drifted"),
          (abs(col("ks_est") - col("exact_ks")) <= slack).as("within_bound"))
        .orderBy("day")
    },
    // Cluster-balanced (diversity) sampling: nearest-centroid cells over
    // FROZEN hash-picked centroids (deterministic — exact corpus rows in
    // xxhash64 order), then the md5 bottom-k cap per cell. The assignment
    // is dumped for the oracle, which re-derives the cap byte-exactly;
    // assignment-kernel correctness is the ANN/semdedup gates' job.
    "sample_cluster_balanced" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Similarity.pickCentroids(emb, 8)
      emb.select(col("id"),
          element_at(nearest_centroids(col("vec"), typedLit(cents), 1), 1)
            .cast("int").as("cell"))
        .write.mode("overwrite").parquet(CellsDumpPath)
      Similarity.clusterBalancedSample(emb, cents, k = 10)
        .select(col("id"), col("cell").cast("int").as("cell"),
          col("rk").cast("int").as("rk"))
        .orderBy("cell", "rk")
    },
    // Winnowed-fingerprint shared-span detection at arbitrary offsets.
    // Ground truth = pairs sharing an identical aligned 256-char chunk
    // (computable exactly by the oracle via the chunk pattern); the
    // winnowing theorem guarantees every such pair shares >= 1 fingerprint
    // (shared span 256 >= w + k - 1 = 23; shortest possible chunk is 33),
    // so `detected` is deterministically true — gate every row.
    "dedup_winnowed_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val wp = Dedup.winnowedSpanPairs(docs, "doc_id", "text",
          shingleK = 8, window = 16)
        .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
      val ch = TextStats.chunk(docs, "doc_id", "text", size = 256, overlap = 32)
        .select(col("doc_id"), md5(col("chunk")).as("h"))
      val truth = ch.as("a").join(ch.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      truth.join(wp, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("__hit"), lit(false)).as("detected"))
        .orderBy("id_a", "id_b")
    },
    // Cross-document boilerplate line removal, byte-exact. The synthetic
    // documents are single-line, so (text_redaction discipline) a
    // line-structured twin corpus is derived deterministically IN BOTH
    // ENGINES: 4 lines + a trailing empty line per doc — a per-source
    // copyright header (always boilerplate), a unique doc line, a
    // SUBSCRIBE banner on even doc_ids (sits AT the 50% threshold, so the
    // per-source exact count decides), the first 40 text chars
    // (newline-sanitized, so a future dataset with embedded newlines
    // cannot push the twin past the oracle's line cap), and the empty
    // trailing line (always boilerplate). Provably-5-line twin → the
    // oracle's generate_series line cap of 8 can never truncate.
    "dedup_boilerplate_lines" -> { (s, dir) =>
      val h = md5(col("doc_id").cast("string"))
      val twin = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(
          lit("(c) "), col("source"), lit(" all rights reserved\n"),
          lit("doc "), h, lit("\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("SUBSCRIBE TO OUR NEWSLETTER"))
            .otherwise(concat(lit("body "), substring(h, 1, 8))), lit("\n"),
          replace(substring(coalesce(col("text"), lit("")), 1, 40),
            lit("\n"), lit(" ")), lit("\n")
        ).as("text"))
      Dedup.stripBoilerplateLines(twin, "doc_id", "text", "source",
          minFrac = 0.5, minDocs = 2)
        .orderBy("doc_id")
    },
    // Incremental dedup: build a persisted fingerprint index over the
    // 'old' two-thirds once, dedup the 'new' third against it — old text
    // is never re-read. Exact hits join content hashes; near hits use
    // md5-scaled k-gram subsets (the engine-portable FracMinHash twin), so
    // the gate is byte-exact INCLUDING the scaled-Jaccard estimate — no
    // LSH band-miss caveat anywhere in this path.
    "dedup_incremental" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-fpidx").toString
      Dedup.buildFingerprintIndex(
        docs.where(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text", idx,
        maxDf = Some(64))
      Dedup.dedupAgainstIndex(
        docs.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text", idx)
        .orderBy("doc_id", "match_id", "kind")
    },
    // Index-compaction identity: build one wave, APPEND a second (so the
    // index really holds multiple appended file waves), probe, dump the
    // probe rows, compact in place, probe again. The oracle re-reads the
    // pre-compaction dump — a hash MATCH proves compaction changed the
    // LAYOUT (few key-clustered files) and nothing else, byte-for-byte,
    // including the Jaccard estimates.
    "dedup_index_compaction" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-fpidx-compact").toString
      Dedup.buildFingerprintIndex(
        docs.where(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text", idx,
        maxDf = Some(64))
      val probe = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      // the probe SIDE is identical before and after compaction — persist
      // the two probeProjections tables and materialize them BEFORE the
      // rewrite, so the per-byte shingle+md5 work over the probe third is
      // paid once, not per probe (r6; caller-caches posture). Left cached:
      // the returned plan's second probe consumes them at bench count()
      // time. The projections read only the manifest params (append
      // changes nothing a probe validates) and the build-frozen hot list,
      // while the append touches exact/ and shingles/ only — so construct
      // the projections first (manifest read precedes the append's counter
      // bump) and overlap the append with the probe-side shingle+md5
      // materialization (guide §2.6; ONE action materializes both caches,
      // the appendToFingerprintIndex snapshot shape).
      val (pHashes0, pSh0) = Dedup.probeProjections(probe, "doc_id", "text",
        idx)
      val pHashes = pHashes0.persist()
      val pSh = pSh0.persist()
      Dedup.runParallel(
        () => Dedup.appendToFingerprintIndex(
          docs.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text",
          idx),
        () => pHashes.select(lit(1).as("one"))
          .unionAll(pSh.select(lit(1).as("one"))).count())
      Dedup.dedupAgainstIndexWithProbes(s, pHashes, pSh, idx)
        .orderBy("doc_id", "match_id", "kind")
        .write.mode("overwrite").parquet(IdxCompactDumpPath)
      Dedup.compactFingerprintIndex(s, idx, filesPerTable = 4)
      Dedup.dedupAgainstIndexWithProbes(s, pHashes, pSh, idx)
        .orderBy("doc_id", "match_id", "kind")
    },
    // STREAMING under the oracle: the same probe-vs-persisted-index dedup
    // as dedup_incremental, but the probe third arrives as a real
    // Structured Streaming source (MemoryStream) drained through THREE
    // genuine micro-batches into the foreachBatch sink
    // (StreamingSketch.dedupAgainstIndexBatch). Every probe joins the
    // frozen index only, so micro-batch boundaries cannot change any
    // result row — the union of the per-batch outputs must equal the
    // one-shot batch result, and the oracle is the identical SQL as
    // dedup_incremental (byte-exact, estimator values included).
    "stream_dedup_index" -> { (s, dir) =>
      import s.implicits._
      val docs = docsPar(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-stream-fpidx-gate").toString
      // the index build and the probe-side collect are independent scans of
      // the documents table — overlap them (guide §2.6)
      var probesV: Array[(Long, String)] = null
      Dedup.runParallel(
        () => Dedup.buildFingerprintIndex(
          docs.where(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text",
          idx, maxDf = Some(64)),
        () => probesV = docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .collect().sortBy(_._1))
      val probes = probesV
      val out = java.nio.file.Files
        .createTempDirectory("graft-stream-dedup-gate").toString + "/matches"
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      withStreamPartitions(s) {
        val q = mem.toDF().toDF("doc_id", "text")
          .writeStream
          .foreachBatch(graft.streaming.StreamingSketch.dedupAgainstIndexBatch(
            idx, "doc_id", "text", out))
          .start()
        try {
          // three genuine micro-batches: add → drain, three times
          probes.grouped(math.max(1, probes.length / 3 + 1)).foreach { b =>
            mem.addData(b.toSeq: _*); q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("match_id"), col("kind"),
          col("jaccard_x1m"))
        .orderBy("doc_id", "match_id", "kind")
    },
    // Semantic (embedding-space) eval decontamination — the cosine twin
    // of decontaminate_eval. Eval = every vec_id % 7 == 0 row VERBATIM
    // (planted exact leaks, sim = 1); per-train-row match counts at tau
    // are exact on both engines (same threshold-boolean determinism as
    // cosine_neardup_exact, same vectors). The banded-LSH scale path is
    // gated on the deterministic half of its guarantee: identical
    // vectors have identical SRP signatures, so every planted leak MUST
    // be caught by the banding — probability-1, not a recall floor.
    "decontaminate_semantic" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val evalSet = emb.where(pmod(col("id"), lit(7)) === 0)
      val res = Similarity.semanticContamination(emb, evalSet, 0.4)
      val caught = Similarity.semanticContaminationLsh(emb, evalSet, 0.4)
        .where(col("eval_id") === col("id"))
        .select(col("id"), lit(true).as("self_hit"))
      res.join(caught, Seq("id"), "left")
        .select(col("id"), col("n_matches"), col("contaminated"),
          (pmod(col("id"), lit(7)) =!= 0 ||
            coalesce(col("self_hit"), lit(false))).as("planted_caught"))
        .orderBy("id")
    },
    // Eval-set decontamination: every (train, held-out) pair sharing an
    // identical 256-char chunk must be flagged by the winnowed cross-corpus
    // scan — deterministic by the winnowing guarantee (same margin as
    // dedup_winnowed_spans), gate every row.
    "decontaminate_eval" -> { (s, dir) =>
      val docs = docsPar(s, dir)
      val hits = Dedup.crossSpanContamination(
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id",
          docs.where(pmod(col("doc_id"), lit(10)) === 0), "doc_id",
          "text", shingleK = 8, window = 16)
        .select(col("train_id"), col("heldout_id"), lit(true).as("__hit"))
      val ch = TextStats.chunk(docs, "doc_id", "text", size = 256, overlap = 32)
        .select(col("doc_id"), md5(col("chunk")).as("h"))
      val truth = ch.as("a").join(ch.as("b"),
          col("a.h") === col("b.h") &&
            pmod(col("a.doc_id"), lit(10)) =!= 0 &&
            pmod(col("b.doc_id"), lit(10)) === 0)
        .select(col("a.doc_id").as("train_id"),
          col("b.doc_id").as("heldout_id"))
        .distinct()
      truth.join(hits, Seq("train_id", "heldout_id"), "left")
        .select(col("train_id"), col("heldout_id"),
          coalesce(col("__hit"), lit(false)).as("detected"))
        .orderBy("train_id", "heldout_id")
    },
    // inter-event latency quantiles from ts (lag window), t-digest bound.
    "latency_quantiles" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, dir, "events")
        .withColumn("tsd", col("ts").cast("timestamp").cast("double"))
        .withColumn("gap", col("tsd") - lag(col("tsd"), 1).over(w))
        .where(col("gap").isNotNull)
        .select(col("gap"))
      val td = graft.sketch.TDigest.fromBytes(
        gaps.agg(tdigest_agg(col("gap"), 100)).first().getAs[Array[Byte]](0))
      val qs = Seq(0.1 -> "q10", 0.5 -> "q50", 0.9 -> "q90")
      val ests = qs.map { case (q, _) => td.quantile(q) }
      val ranks = gaps.agg(count(lit(1)).cast("double").as("n"),
        ests.map(e => sum(when(col("gap") < e, 1L).otherwise(0L))): _*).first()
      val n = ranks.getDouble(0)
      import s.implicits._
      qs.zipWithIndex.map { case ((q, label), i) =>
        (label, math.abs(ranks.getLong(i + 1) / n - q) <= 0.02)
      }.toDF("q_label", "within_rank_error").orderBy("q_label")
    },
    // S6: FracMinHash scaling — distinct-count scale-up estimate within the
    // binomial sampling bound, checked against the exact distinct count.
    "fracminhash_distinct" -> { (s, dir) =>
      val scale = 4L
      val docs = t(s, dir, "documents")
      docs.select(col("source"),
          explode(shingles(col("text"), 8)).as("h"))
        .groupBy("source").agg(countDistinct(col("h")).as("exact_distinct"))
        .join(
          docs.select(col("source"),
              explode(shingles(col("text"), 8, scale = scale)).as("h"))
            .groupBy("source")
            .agg((countDistinct(col("h")) * scale).as("est")),
          "source")
        .select(col("source"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            lit(0.2) * col("exact_distinct") + lit(8.0)).as("within_bound"))
        .orderBy("source")
    },
    // S7/S8: minimizer down-selection — sanity density bounds per document.
    "minimizer_density" -> { (s, dir) =>
      val w = 8
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) - 7).cast("long").as("n_positions"),
          size(minimizers(col("text"), 8, w)).cast("long").as("n_min"))
        .select(col("doc_id"), col("n_positions"),
          // docs shorter than k have no k-gram positions: vacuously ok
          // (n_positions goes negative, n_min = 0)
          (col("n_positions") <= 0 ||
            (col("n_min") >= greatest(col("n_positions") / (w * 8), lit(1L)) &&
              col("n_min") <= col("n_positions"))).as("density_ok"))
        .orderBy("doc_id")
    },
    // S8: open-syncmer down-selection (the reference's default tokenizer) —
    // sanity density bounds per document: expected density 1/(k-s+1) = 1/5
    // at (k=8, s=4, t=2); gate allows 8x slack below and never exceeds the
    // number of k-gram positions.
    "syncmer_density" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) - 7).cast("long").as("n_positions"),
          size(syncmers(col("text"), 8, 4, 2)).cast("long").as("n_sync"))
        .select(col("doc_id"), col("n_positions"),
          // docs shorter than k: vacuously ok (see minimizer_density)
          (col("n_positions") <= 0 ||
            (col("n_sync") <= col("n_positions") &&
              col("n_sync") >= col("n_positions") / 40)).as("density_ok"))
        .orderBy("doc_id")
    },
    // C1 E-step under the oracle gate: EM limited to one iteration with
    // uniform priors == per-query argmax of likelihood (tie: ref asc).
    "profile_em_argmax" -> { (s, dir) =>
      ProfilePipeline.emAssign(eventMatches(s, dir), maxIters = 1)
        .select("query_id", "ref")
        .orderBy("query_id", "ref")
    },
    // ---- flagship sketch-build over the canonical transcripts table -------
    // Gated: the generated turns are dumped to a fixed local path that the
    // DuckDB oracle reads back by absolute path (driver + oracle share the
    // box), so exact_convs is value-verified, not rows-only.
    "sketch_build_transcripts" -> { (s, dir) =>
      graft.sources.Transcripts.generate(s, nConvs = 2000)
        .write.mode("overwrite").parquet(TranscriptDumpPath)
      val turns = s.read.parquet(TranscriptDumpPath)
      val p = 12
      val byRole = turns.groupBy("role").agg(
        countDistinct(col("conv_id")).as("exact_convs"),
        hll_estimate(hll_agg(col("conv_id"), p)).as("est"),
        kll_quantile(kll_agg(length(col("text")), 200), 0.5).as("med_len"),
        tdigest_quantile(tdigest_agg(length(col("text")), 100), 0.99)
          .as("p99_len"))
      byRole.select(col("role"), col("exact_convs"),
          (abs(col("est") - col("exact_convs")) <=
            lit(3 * graft.sketch.Hll.stdError(p)) * col("exact_convs") + 2)
            .as("hll_within_bound"),
          (col("med_len") > 0 && col("p99_len") >= col("med_len"))
            .as("quantiles_sane"))
        .orderBy("role")
    }
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    // NOTE the outer CAST(sum(...) AS BIGINT): DuckDB's sum(BIGINT) returns
    // HUGEINT (INT128) and the driver's hash compare is type-sensitive.
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q02_relative_max_filter" ->
      """SELECT l_orderkey, l_linenumber FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  max(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
           FROM lineitem)
         WHERE l_quantity >= 0.8*mx ORDER BY l_orderkey, l_linenumber""",
    "q03_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "hll_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
         true AS within_bound FROM events GROUP BY 1 ORDER BY 1""",
    "cms_event_type_counts" ->
      """SELECT event_type, count(*) AS exact_cnt, true AS no_undercount,
         true AS within_eps FROM events GROUP BY 1 ORDER BY 1""",
    "bloom_membership" ->
      "SELECT CAST(0 AS BIGINT) AS members_missed, true AS fpr_bounded",
    "kll_price_quantiles" ->
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q10'),
         ('q50'),('q90'),('q99')) AS t(q_label) ORDER BY q_label""",
    "tdigest_value_quantiles" ->
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q01'),
         ('q50'),('q99')) AS t(q_label) ORDER BY q_label""",
    // ties collapse per VALUE, then each value takes its rank-span overlap
    // with (floor .1n, floor .9n] — identical arithmetic to the Spark twin
    "tdigest_trimmed_mean" ->
      """WITH v AS (SELECT l_extendedprice AS x, count(*) AS c
                    FROM lineitem GROUP BY 1),
         cum AS (SELECT x, c, sum(c) OVER (ORDER BY x) AS cumhi FROM v),
         b AS (SELECT count(*) // 10 AS lo, 9*count(*) // 10 AS hi
               FROM lineitem)
         SELECT CAST(hi - lo AS BIGINT) AS n_trim,
           CAST(sum(greatest(0, least(cumhi, hi) - greatest(cumhi - c, lo))
                    * CAST(round(x*100) AS BIGINT)) AS BIGINT)
             AS trimmed_cents,
           true AS within_bound
         FROM cum, b GROUP BY lo, hi""",
    "cms_join_size" ->
      """WITH a AS (SELECT l_orderkey, count(*) AS c FROM lineitem
                    WHERE l_linenumber <= 3 GROUP BY 1),
         b AS (SELECT l_orderkey, count(*) AS c FROM lineitem
               WHERE l_linenumber >= 4 GROUP BY 1)
         SELECT CAST(coalesce(sum(a.c*b.c), 0) AS BIGINT)
             AS exact_join_size,
           true AS no_undercount, true AS within_eps
         FROM a JOIN b USING (l_orderkey)""",
    "kll_ks_distance" ->
      """WITH a AS (SELECT value AS x FROM events
                    WHERE event_type = 'click'),
         b AS (SELECT value*2.0 + 10.0 AS x FROM events
               WHERE event_type = 'purchase'),
         av AS (SELECT x, count(*) AS ca FROM a GROUP BY 1),
         bv AS (SELECT x, count(*) AS cb FROM b GROUP BY 1),
         u AS (SELECT coalesce(av.x, bv.x) AS x, coalesce(ca, 0) AS ca,
                      coalesce(cb, 0) AS cb
               FROM av FULL JOIN bv ON av.x = bv.x),
         cum AS (SELECT sum(ca) OVER (ORDER BY x) AS cuma,
                        sum(cb) OVER (ORDER BY x) AS cumb FROM u),
         n AS (SELECT (SELECT count(*) FROM a) AS na,
                      (SELECT count(*) FROM b) AS nb)
         SELECT CAST(max(abs(cuma*nb - cumb*na)) AS BIGINT) AS ks_num,
           CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           true AS within_bound
         FROM cum, n GROUP BY na, nb""",
    "range_equidepth" ->
      s"""WITH b AS (SELECT bound FROM '$RangeBoundsDumpPath/*.parquet')
         SELECT bucket, count(*) AS cnt, true AS within_bound FROM (
           SELECT (SELECT count(*) FROM b
                   WHERE l_extendedprice >= b.bound) AS bucket
           FROM lineitem)
         GROUP BY 1 ORDER BY 1""",
    "kll_ks_grouped" ->
      """WITH a AS (SELECT event_type AS g, value AS x FROM events),
         b AS (SELECT event_type AS g,
                 CASE WHEN event_type = 'click' THEN value*2.0 + 10.0
                      WHEN event_type = 'error' THEN value*0.5
                      ELSE value END AS x FROM events),
         av AS (SELECT g, x, count(*) AS ca FROM a GROUP BY 1,2),
         bv AS (SELECT g, x, count(*) AS cb FROM b GROUP BY 1,2),
         u AS (SELECT coalesce(av.g, bv.g) AS g, coalesce(av.x, bv.x) AS x,
                      coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
               FROM av FULL JOIN bv ON av.g = bv.g AND av.x = bv.x),
         cum AS (SELECT g,
                   sum(ca) OVER (PARTITION BY g ORDER BY x) AS cuma,
                   sum(cb) OVER (PARTITION BY g ORDER BY x) AS cumb FROM u),
         t AS (SELECT g, sum(ca) AS na, sum(cb) AS nb FROM u GROUP BY 1)
         SELECT cum.g AS g,
           CAST(max(abs(cuma*nb - cumb*na)) AS BIGINT) AS ks_num,
           CAST(min(na) AS BIGINT) AS na, CAST(min(nb) AS BIGINT) AS nb,
           true AS within_bound,
           max(abs(cuma*nb - cumb*na))*1.0/(min(na)*min(nb)) >= 0.12
             AS drifted
         FROM cum JOIN t ON cum.g = t.g GROUP BY 1 ORDER BY 1""",
    "stream_ks_drift" ->
      """WITH clicks AS (SELECT ts, value FROM events
                         WHERE event_type = 'click'),
         shift AS (SELECT max(value) + 1.0 AS sh FROM clicks),
         w AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 CASE WHEN ((CAST(ts AS DATE) - DATE '1970-01-01') % 2) = 1
                      THEN value + (SELECT sh FROM shift)
                      ELSE value END AS x
               FROM clicks),
         rv AS (SELECT value AS x, count(*) AS cb FROM clicks GROUP BY 1),
         nbt AS (SELECT count(*) AS nb FROM clicks),
         wv AS (SELECT day, x, count(*) AS ca FROM w GROUP BY 1, 2),
         days AS (SELECT DISTINCT day FROM w),
         pts AS (SELECT day, x, ca, 0 AS cb FROM wv
                 UNION ALL
                 SELECT days.day, rv.x, 0 AS ca, rv.cb
                 FROM days CROSS JOIN rv),
         g AS (SELECT day, x, sum(ca) AS ca, sum(cb) AS cb
               FROM pts GROUP BY 1, 2),
         cum AS (SELECT day,
                   sum(ca) OVER (PARTITION BY day ORDER BY x) AS cuma,
                   sum(cb) OVER (PARTITION BY day ORDER BY x) AS cumb
                 FROM g),
         t AS (SELECT day, sum(ca) AS na FROM g GROUP BY 1)
         SELECT cum.day AS day, CAST(min(t.na) AS BIGINT) AS n,
           max(abs(cuma*nb - cumb*t.na))*1.0/(min(t.na)*nb) >= 0.5
             AS drifted,
           true AS within_bound
         FROM cum JOIN t ON cum.day = t.day CROSS JOIN nbt
         GROUP BY cum.day, nb HAVING min(t.na) >= 50 ORDER BY day""",
    "cms_heavy_change" ->
      """WITH before_t AS (SELECT event_type AS k FROM events),
         after_t AS (SELECT CASE WHEN event_type = 'view' THEN 'surge'
                            ELSE event_type END AS k
                     FROM events WHERE event_type <> 'click'),
         fa AS (SELECT k, count(*) AS c FROM before_t GROUP BY 1),
         fb AS (SELECT k, count(*) AS c FROM after_t GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM before_t) AS na,
                      (SELECT count(*) FROM after_t) AS nb),
         u AS (SELECT coalesce(fa.k, fb.k) AS k, coalesce(fa.c, 0) AS ca,
                      coalesce(fb.c, 0) AS cb
               FROM fa FULL JOIN fb ON fa.k = fb.k)
         SELECT k, abs(cb - ca) >= 0.05*(na + nb) AS flagged
         FROM u, n ORDER BY k""",
    "classify_exact" ->
      """WITH corpus AS (SELECT source AS grp, text FROM documents
                         WHERE doc_id % 10 <> 0),
         q AS (SELECT doc_id AS query_id, text FROM documents
               WHERE doc_id % 10 = 0),
         gsh AS (SELECT DISTINCT grp, substr(text, CAST(i AS INT), 8) AS s
                 FROM corpus, generate_series(1, 1000) t(i)
                 WHERE i <= length(text)-7),
         qsh AS (SELECT DISTINCT query_id, substr(text, CAST(i AS INT), 8) AS s
                 FROM q, generate_series(1, 1000) t(i)
                 WHERE i <= length(text)-7),
         qn AS (SELECT query_id, count(*) AS query_n FROM qsh GROUP BY 1),
         cnt AS (SELECT query_id, grp, count(*) AS match_cnt
                 FROM qsh JOIN gsh USING (s) GROUP BY 1,2),
         filt AS (SELECT c.query_id, c.grp, c.match_cnt, qn.query_n
                  FROM cnt c JOIN qn USING (query_id)
                  WHERE c.match_cnt >= 0.1*qn.query_n),
         mx AS (SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS m
                FROM filt)
         SELECT query_id, grp AS "group", match_cnt, query_n FROM mx
         WHERE match_cnt >= 0.8*m ORDER BY query_id, "group"""",
    "classify_kmer_ci" -> classifyKmerCiSql,
    "classify_syncmer_ci" -> classifySyncmerCiSql,
    "classify_bloom_bounds" ->
      """WITH corpus AS (SELECT source AS grp, text FROM documents
                         WHERE doc_id % 10 <> 0),
         q AS (SELECT doc_id AS query_id, text FROM documents
               WHERE doc_id % 10 = 0),
         gsh AS (SELECT DISTINCT grp, substr(text, CAST(i AS INT), 8) AS s
                 FROM corpus, generate_series(1, 1000) t(i)
                 WHERE i <= length(text)-7),
         qsh AS (SELECT DISTINCT query_id, substr(text, CAST(i AS INT), 8) AS s
                 FROM q, generate_series(1, 1000) t(i)
                 WHERE i <= length(text)-7),
         cnt AS (SELECT query_id, grp, count(*) AS exact_cnt
                 FROM qsh JOIN gsh USING (s) GROUP BY 1,2)
         SELECT query_id, grp AS "group", exact_cnt,
                true AS no_false_negative, true AS within_slack
         FROM cnt ORDER BY query_id, "group"""",
    "classify_hixf" ->
      """SELECT * FROM (VALUES ('hier_equals_flat', true)) AS t("check", ok)
         ORDER BY "check"""",
    "classify_interleaved" ->
      """SELECT * FROM (VALUES ('interleaved_equals_flat', true))
         AS t("check", ok) ORDER BY "check"""",
    "profile_unique_filter" ->
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                    count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt FROM (
                SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS mxc
                FROM m0) WHERE match_cnt >= 0.8*mxc),
         mn AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n FROM m),
         uref AS (SELECT DISTINCT ref FROM mn WHERE n = 1)
         SELECT query_id, ref, match_cnt FROM mn
         WHERE n = 1 OR ref IN (SELECT ref FROM uref)
         ORDER BY query_id, ref""",
    "profile_low_confidence" ->
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                    count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt FROM (
                SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS mxc
                FROM m0) WHERE match_cnt >= 0.8*mxc),
         mn AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n FROM m),
         stats AS (SELECT ref,
                   sum(CASE WHEN n=1 THEN 1 ELSE 0 END) AS u,
                   sum(CASE WHEN n>1 THEN 1 ELSE 0 END) AS a
                   FROM mn GROUP BY 1),
         good AS (SELECT ref FROM stats WHERE u >= 3 AND u/(u+a) >= 0.01),
         f1 AS (SELECT query_id, ref, match_cnt FROM mn
                WHERE ref IN (SELECT ref FROM good)),
         f1n AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n2 FROM f1),
         uref2 AS (SELECT DISTINCT ref FROM f1n WHERE n2 = 1)
         SELECT query_id, ref, match_cnt FROM f1n
         WHERE n2 = 1 OR ref IN (SELECT ref FROM uref2)
         ORDER BY query_id, ref""",
    // mirrors eventMatches → lowConfidenceFilter(3, 0.01) → one-iteration
    // EM argmax → integer-weight abundance → 3-level rollup; weights stay
    // integral until the single per-row pct division in both engines
    "profile_full_cami" ->
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                    count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt, query_n FROM (
                SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS mxc,
                       sum(match_cnt) OVER (PARTITION BY query_id) AS query_n
                FROM m0) WHERE match_cnt >= 0.8*mxc),
         mn AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n FROM m),
         stats AS (SELECT ref,
                   sum(CASE WHEN n=1 THEN 1 ELSE 0 END) AS u,
                   sum(CASE WHEN n>1 THEN 1 ELSE 0 END) AS a
                   FROM mn GROUP BY 1),
         good AS (SELECT ref FROM stats WHERE u >= 3 AND u/(u+a) >= 0.01),
         f1 AS (SELECT query_id, ref, match_cnt, query_n FROM mn
                WHERE ref IN (SELECT ref FROM good)),
         f1n AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n2 FROM f1),
         uref2 AS (SELECT DISTINCT ref FROM f1n WHERE n2 = 1),
         filt AS (SELECT query_id, ref, match_cnt, query_n FROM f1n
                  WHERE n2 = 1 OR ref IN (SELECT ref FROM uref2)),
         r AS (SELECT query_id, ref, query_n, row_number() OVER
                 (PARTITION BY query_id
                  ORDER BY match_cnt*1.0/query_n DESC, ref) AS rn FROM filt),
         byref AS (SELECT ref, sum(query_n) AS w FROM r WHERE rn = 1
                   GROUP BY 1),
         nodes AS (
           SELECT CAST(0 AS INT) AS rank, 'all' AS node, w FROM byref
           UNION ALL
           SELECT CAST(1 AS INT),
                  'grp' || CAST(ascii(substr(ref,1,1)) % 5 AS VARCHAR), w
           FROM byref
           UNION ALL SELECT CAST(2 AS INT), ref, w FROM byref)
         SELECT rank, node,
           CAST(round(sum(w)*1000000.0/(SELECT sum(w) FROM byref)) AS BIGINT)
             AS pct_x1m
         FROM nodes GROUP BY 1,2 ORDER BY 1,2""",
    "dedup_simhash" ->
      """SELECT * FROM (VALUES ('precision_all_above_j08', true),
         ('recall_floor_04', true)) AS t("check", ok) ORDER BY "check"""",
    "sketch_build_transcripts" ->
      s"""SELECT role, count(DISTINCT conv_id) AS exact_convs,
         true AS hll_within_bound, true AS quantiles_sane
         FROM '$TranscriptDumpPath/*.parquet' GROUP BY 1 ORDER BY 1""",
    "rollup_nation_counts" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
         coalesce(n_name, 'ALL') AS nation, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""",
    "dedup_exact_canonical" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
         doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
         FROM documents ORDER BY doc_id""",
    "dedup_minhash_lsh" ->
      """WITH sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS s
                     FROM documents, generate_series(1, 1000) t(i)
                     WHERE i <= length(text)-7),
         cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1,2)
         SELECT id_a, id_b,
           CAST(round(i*1000000.0/(ca.c + cb.c - i)) AS BIGINT) AS jaccard_x1m
         FROM inter JOIN cnt ca ON ca.doc_id = id_a
                    JOIN cnt cb ON cb.doc_id = id_b
         WHERE i*1.0/(ca.c + cb.c - i) >= 0.7 ORDER BY id_a, id_b""",
    "dedup_neardup_canonical" ->
      """WITH RECURSIVE sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS s
                     FROM documents, generate_series(1, 1000) t(i)
                     WHERE i <= length(text)-7),
         cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1,2),
         pairs AS (SELECT id_a, id_b FROM inter
                   JOIN cnt ca ON ca.doc_id = id_a
                   JOIN cnt cb ON cb.doc_id = id_b
                   WHERE i*1.0/(ca.c + cb.c - i) >= 0.8),
         nbr AS (SELECT id_a AS id, id_b AS nb FROM pairs
                 UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT nbr.id, reach.lab FROM nbr JOIN reach ON reach.id = nbr.nb),
         canon AS (SELECT id AS doc_id, min(lab) AS canonical_id
                   FROM reach GROUP BY 1)
         SELECT doc_id, canonical_id,
                doc_id = canonical_id AS is_canonical
         FROM canon ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      """WITH sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS s
                     FROM documents, generate_series(1, 1000) t(i)
                     WHERE i <= length(text)-7 AND doc_id % 3 = 0),
         cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1,2)
         SELECT id_a, id_b,
           CAST(round(i*1000000.0/(ca.c + cb.c - i)) AS BIGINT) AS jaccard_x1m
         FROM inter JOIN cnt ca ON ca.doc_id = id_a
                    JOIN cnt cb ON cb.doc_id = id_b
         WHERE i*1.0/(ca.c + cb.c - i) >= 0.5 ORDER BY id_a, id_b""",
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 25 = 0),
         c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         s AS (SELECT qid, id, list_cosine_similarity(qv, v) AS sim
               FROM q, c WHERE id <> qid),
         r AS (SELECT qid, id, row_number() OVER
                 (PARTITION BY qid ORDER BY sim DESC, id) AS rnk FROM s)
         SELECT qid, rnk AS "rank", id FROM r WHERE rnk <= 5
         ORDER BY qid, rnk""",
    "ann_recall_floor" ->
      """SELECT method, true AS recall_ok, true AS planted_ok
         FROM (VALUES ('ivf'),('lsh')) AS t(method) ORDER BY method""",
    "cosine_neardup_lsh" ->
      """SELECT * FROM (VALUES ('planted_recall_09', true)) AS t("check", ok)
         ORDER BY "check"""",
    "ann_q8_recall" ->
      """SELECT * FROM (VALUES ('q8_recall_floor_09', true)) AS t("check", ok)
         ORDER BY "check"""",
    "text_bpeish_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
         FROM documents ORDER BY doc_id""",
    "cosine_neardup_exact" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings)
         SELECT a.id AS id_a, b.id AS id_b
         FROM e a JOIN e b ON a.id < b.id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         ORDER BY id_a, id_b""",
    "cms_windowed_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         event_type, count(*) AS exact_cnt, true AS no_undercount,
         true AS violations_within_delta
         FROM events GROUP BY 1,2 ORDER BY 1,2""",
    "latency_quantiles" ->
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q10'),
         ('q50'),('q90')) AS t(q_label) ORDER BY q_label""",
    "hll_rollup_merge" ->
      """SELECT n_regionkey, count(DISTINCT c_custkey) AS exact_distinct,
         true AS within_bound
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "heavy_hitters_topk" ->
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1""",
    "join_bloom_pruned" ->
      """SELECT l_orderkey AS orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY 1 ORDER BY 1""",
    "join_skew_salted" ->
      """WITH ev AS (SELECT *,
           'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k
           FROM events),
         dim AS (SELECT k, CAST(min(user_id) AS BIGINT) AS rep_user
                 FROM ev GROUP BY k)
         SELECT ev.k AS k, count(*) AS n,
           CAST(sum(event_id % 100 + 1) AS BIGINT) AS w,
           CAST(min(dim.rep_user) AS BIGINT) AS rep_user
         FROM ev JOIN dim ON ev.k = dim.k
         GROUP BY 1 ORDER BY 1""",
    "semdedup_embeddings" ->
      """SELECT * FROM (VALUES
           ('blocked_subset_of_exact', true),
           ('canonical_agrees_on_recovered', true),
           ('exact_dups_are_planted', true),
           ('planted_recall_075', true)) AS t("check", ok)
         ORDER BY "check"""",
    "heavy_hitters_weighted" ->
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         CAST(sum(event_id % 100 + 1) AS BIGINT) AS exact_w,
         true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1""",
    "topk_rollup_merge" ->
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1""",
    "cms_rollup_merge" ->
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS merged_equals_direct,
         true AS no_undercount, true AS within_eps
         FROM events GROUP BY 1 ORDER BY 1""",
    "quantile_rollup_merge" ->
      """SELECT q_label, true AS kll_within_rank_error,
         true AS td_within_rank_error
         FROM (VALUES ('q10'),('q50'),('q90')) AS t(q_label)
         ORDER BY q_label""",
    "hll_union_estimate" ->
      """WITH ty AS (SELECT DISTINCT event_type FROM events),
         p AS (SELECT a.event_type AS et_a, b.event_type AS et_b
               FROM ty a, ty b WHERE a.event_type < b.event_type)
         SELECT et_a, et_b,
           count(DISTINCT CASE WHEN e.event_type IN (et_a, et_b)
                 THEN e.user_id END) AS exact_union,
           true AS within_bound
         FROM p, events e GROUP BY 1,2 ORDER BY 1,2""",
    // KMV oracles recompute the sketch itself: the md5-derived hash, the
    // bottom-k order statistics, and the estimate expression are all
    // engine-portable (Kmv.hashSql / Kmv.estimateSql are generated from the
    // same single source as the Column code), so kmv_est gates byte-exact.
    "kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
             ${Kmv.hashSql("CAST(user_id AS VARCHAR)", "graft")} AS hv
           FROM events),
         rk AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
           FROM h),
         agg AS (SELECT event_type, count(*) AS cnt,
             max(CASE WHEN r = 128 THEN hv END) AS hk
           FROM rk WHERE r <= 128 GROUP BY 1),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
           FROM events GROUP BY 1)
         SELECT e.event_type, e.exact_distinct,
           ${Kmv.estimateSql("a.cnt", "a.hk", 128)} AS kmv_est,
           true AS within_bound
         FROM ex e JOIN agg a USING (event_type) ORDER BY event_type""",
    "kmv_union_estimate" ->
      s"""WITH ty AS (SELECT DISTINCT event_type FROM events),
         p AS (SELECT a.event_type AS et_a, b.event_type AS et_b
               FROM ty a, ty b WHERE a.event_type < b.event_type),
         h AS (SELECT DISTINCT event_type,
             ${Kmv.hashSql("CAST(user_id AS VARCHAR)", "graft")} AS hv
           FROM events),
         uh AS (SELECT DISTINCT p.et_a, p.et_b, h.hv FROM p, h
           WHERE h.event_type = p.et_a OR h.event_type = p.et_b),
         rk AS (SELECT et_a, et_b, hv,
             row_number() OVER (PARTITION BY et_a, et_b ORDER BY hv) AS r
           FROM uh),
         agg AS (SELECT et_a, et_b, count(*) AS cnt,
             max(CASE WHEN r = 128 THEN hv END) AS hk
           FROM rk WHERE r <= 128 GROUP BY 1,2),
         ex AS (SELECT p.et_a, p.et_b,
             count(DISTINCT CASE WHEN e.event_type IN (p.et_a, p.et_b)
                   THEN e.user_id END) AS exact_union
           FROM p, events e GROUP BY 1,2)
         SELECT x.et_a, x.et_b, x.exact_union,
           ${Kmv.estimateSql("a.cnt", "a.hk", 128)} AS kmv_est,
           true AS within_bound
         FROM ex x JOIN agg a USING (et_a, et_b) ORDER BY et_a, et_b""",
    // Jaccard/intersection from KMV sketches: the union bottom-k sample,
    // the shared count within it, and the two estimates all recomputed in
    // full SQL from the same single-source expressions (Kmv.hashSql /
    // jaccardEstimateSql / intersectionEstimateSql) — byte-exact including
    // the estimator values; the bound constant is the interpolated Scala
    // double.
    "kmv_jaccard_estimate" ->
      s"""WITH ty AS (SELECT DISTINCT event_type FROM events),
         p AS (SELECT a.event_type AS et_a, b.event_type AS et_b
               FROM ty a, ty b WHERE a.event_type < b.event_type),
         h AS (SELECT DISTINCT event_type,
             ${Kmv.hashSql("CAST(user_id AS VARCHAR)", "graft")} AS hv
           FROM events),
         rk AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
           FROM h),
         bk AS (SELECT event_type, hv FROM rk WHERE r <= 128),
         uh AS (SELECT DISTINCT p.et_a, p.et_b, bk.hv FROM p JOIN bk
             ON bk.event_type = p.et_a OR bk.event_type = p.et_b),
         ur AS (SELECT et_a, et_b, hv,
             row_number() OVER (PARTITION BY et_a, et_b ORDER BY hv) AS r
           FROM uh),
         m AS (SELECT et_a, et_b, hv, r FROM ur WHERE r <= 128),
         agg AS (SELECT et_a, et_b, count(*) AS cnt,
             max(CASE WHEN r = 128 THEN hv END) AS hk
           FROM m GROUP BY 1,2),
         sh AS (SELECT m.et_a, m.et_b, count(*) AS shared
           FROM m JOIN bk a ON a.event_type = m.et_a AND a.hv = m.hv
                  JOIN bk b ON b.event_type = m.et_b AND b.hv = m.hv
           GROUP BY 1,2),
         du AS (SELECT DISTINCT event_type, user_id FROM events),
         xi AS (SELECT p.et_a, p.et_b, count(*) AS exact_inter
           FROM p JOIN du a ON a.event_type = p.et_a
                  JOIN du b ON b.event_type = p.et_b
                    AND b.user_id = a.user_id
           GROUP BY 1,2)
         SELECT g.et_a, g.et_b,
           CAST(coalesce(xi.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(sa.n + sb.n - coalesce(xi.exact_inter, 0) AS BIGINT)
             AS exact_union,
           ${Kmv.jaccardEstimateSql("coalesce(sh.shared, 0)", "g.cnt")}
             AS jaccard_est,
           ${Kmv.intersectionEstimateSql(
              "coalesce(sh.shared, 0)", "g.cnt", "g.hk", 128)} AS inter_est,
           abs((${Kmv.jaccardEstimateSql("coalesce(sh.shared, 0)", "g.cnt")})
             - CAST(coalesce(xi.exact_inter, 0) AS DOUBLE)
               / CAST(sa.n + sb.n - coalesce(xi.exact_inter, 0) AS DOUBLE))
             <= $KmvJaccardBound AS within_bound
         FROM agg g
         LEFT JOIN sh ON sh.et_a = g.et_a AND sh.et_b = g.et_b
         LEFT JOIN xi ON xi.et_a = g.et_a AND xi.et_b = g.et_b
         JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM du
               GROUP BY 1) sa ON sa.event_type = g.et_a
         JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM du
               GROUP BY 1) sb ON sb.event_type = g.et_b
         ORDER BY g.et_a, g.et_b""",
    "kmv_containment" ->
      s"""WITH du0 AS (SELECT DISTINCT event_id FROM events),
         du AS (SELECT 'm2' AS grp, event_id FROM du0 WHERE event_id % 2 = 0
                UNION ALL
                SELECT 'm5', event_id FROM du0 WHERE event_id % 5 = 0
                UNION ALL
                SELECT 'm13', event_id FROM du0 WHERE event_id % 13 = 0),
         ty AS (SELECT DISTINCT grp FROM du),
         p AS (SELECT a.grp AS g_a, b.grp AS g_b
               FROM ty a, ty b WHERE a.grp < b.grp),
         h AS (SELECT DISTINCT grp,
             ${Kmv.hashSql("CAST(event_id AS VARCHAR)", "graft")} AS hv
           FROM du),
         rk AS (SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS r
           FROM h),
         bk AS (SELECT grp, hv, r FROM rk WHERE r <= 128),
         ta AS (SELECT grp, count(*) AS cnt,
             max(CASE WHEN r = 128 THEN hv END) AS hk
           FROM bk GROUP BY 1),
         uh AS (SELECT DISTINCT p.g_a, p.g_b, bk.hv FROM p JOIN bk
             ON bk.grp = p.g_a OR bk.grp = p.g_b),
         ur AS (SELECT g_a, g_b, hv,
             row_number() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS r
           FROM uh),
         m AS (SELECT g_a, g_b, hv, r FROM ur WHERE r <= 128),
         agg AS (SELECT g_a, g_b, count(*) AS cnt,
             max(CASE WHEN r = 128 THEN hv END) AS hk
           FROM m GROUP BY 1,2),
         sh AS (SELECT m.g_a, m.g_b, count(*) AS shared
           FROM m JOIN bk a ON a.grp = m.g_a AND a.hv = m.hv
                  JOIN bk b ON b.grp = m.g_b AND b.hv = m.hv
           GROUP BY 1,2),
         xi AS (SELECT p.g_a, p.g_b, count(*) AS exact_inter
           FROM p JOIN du a ON a.grp = p.g_a
                  JOIN du b ON b.grp = p.g_b
                    AND b.event_id = a.event_id
           GROUP BY 1,2)
         SELECT g.g_a, g.g_b,
           CAST(coalesce(xi.exact_inter, 0) AS BIGINT) AS exact_inter,
           sa.n AS n_a, sb.n AS n_b,
           ${Kmv.containmentEstimateSql("coalesce(sh.shared, 0)", "g.cnt",
              "g.hk", 128, "ta_a.cnt", "ta_a.hk")} AS cont_ab,
           ${Kmv.containmentEstimateSql("coalesce(sh.shared, 0)", "g.cnt",
              "g.hk", 128, "ta_b.cnt", "ta_b.hk")} AS cont_ba,
           abs((${Kmv.containmentEstimateSql("coalesce(sh.shared, 0)",
              "g.cnt", "g.hk", 128, "ta_a.cnt", "ta_a.hk")})
             - CAST(coalesce(xi.exact_inter, 0) AS DOUBLE)
               / CAST(sa.n AS DOUBLE)) <= $KmvContainmentBound
             AS within_bound_ab,
           abs((${Kmv.containmentEstimateSql("coalesce(sh.shared, 0)",
              "g.cnt", "g.hk", 128, "ta_b.cnt", "ta_b.hk")})
             - CAST(coalesce(xi.exact_inter, 0) AS DOUBLE)
               / CAST(sb.n AS DOUBLE)) <= $KmvContainmentBound
             AS within_bound_ba
         FROM agg g
         LEFT JOIN sh ON sh.g_a = g.g_a AND sh.g_b = g.g_b
         LEFT JOIN xi ON xi.g_a = g.g_a AND xi.g_b = g.g_b
         JOIN ta ta_a ON ta_a.grp = g.g_a
         JOIN ta ta_b ON ta_b.grp = g.g_b
         JOIN (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM du
               GROUP BY 1) sa ON sa.grp = g.g_a
         JOIN (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM du
               GROUP BY 1) sb ON sb.grp = g.g_b
         ORDER BY g.g_a, g.g_b""",
    // same series cap + stride as text_chunks; canonical = lexicographic
    // min (doc_id, chunk_idx) over identical chunk text, encoded as
    // doc_id*1000000+chunk_idx (chunk_idx <= 4 under the 1007-byte invariant)
    // index-side scaled sets recomputed in full SQL: same md5 scaling rule
    // and the same jaccard_x1m expression tree as the engine (byte-exact,
    // estimator value included); series cap per the 1007-byte invariant
    "dedup_incremental" -> dedupAgainstIndexSql,
    "dedup_index_compaction" ->
      s"""SELECT doc_id, match_id, kind, jaccard_x1m
         FROM '$IdxCompactDumpPath/*.parquet'
         ORDER BY doc_id, match_id, kind""",
    // identical semantics (and therefore identical oracle) to
    // dedup_incremental: the streaming sink unions per-micro-batch probes
    // of the same frozen index
    "stream_dedup_index" -> dedupAgainstIndexSql,
    "dedup_span_exact" ->
      """WITH ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             substr(text, CAST(i*224+1 AS INT), 256) AS chunk
           FROM documents, generate_series(0, 1000) t(i)
           WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))),
         c2 AS (SELECT doc_id, chunk_idx,
             min(doc_id*1000000 + chunk_idx) OVER (PARTITION BY chunk) AS ck
           FROM ch)
         SELECT doc_id, chunk_idx,
           CAST(ck // 1000000 AS BIGINT) AS canonical_doc_id,
           CAST(ck % 1000000 AS INT) AS canonical_chunk_idx,
           (doc_id*1000000 + chunk_idx) = ck AS is_canonical
         FROM c2 ORDER BY doc_id, chunk_idx""",
    "decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ev AS (SELECT id AS eval_id, v AS evec FROM e WHERE id % 7 = 0),
         hits AS (SELECT e.id, count(*) AS n
                  FROM e JOIN ev
                  ON list_cosine_similarity(e.v, ev.evec) >= 0.4
                  GROUP BY 1)
         SELECT e.id AS id, CAST(coalesce(n, 0) AS BIGINT) AS n_matches,
           coalesce(n, 0) > 0 AS contaminated, true AS planted_caught
         FROM e LEFT JOIN hits ON e.id = hits.id ORDER BY id""",
    // same chunk pattern; pairs restricted to the train/held-out split
    "decontaminate_eval" ->
      """WITH ch AS (SELECT doc_id, substr(text, CAST(i*224+1 AS INT), 256) AS chunk
           FROM documents, generate_series(0, 1000) t(i)
           WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))),
         p AS (SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS heldout_id
               FROM ch a JOIN ch b ON a.chunk = b.chunk
               WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0)
         SELECT train_id, heldout_id, true AS detected FROM p
         ORDER BY train_id, heldout_id""",
    // thresholds 'cc'/'e6' = floor(0.8*256)/floor(0.9*256) in hex — the
    // exact literals Sampling.hashSplit derives for 80/10/10; '#split' is
    // the operator family's hash-domain tag (decorrelates the split from
    // the rank/rate samplers — Sampling scaladoc)
    "sample_hash_split" ->
      """WITH h AS (SELECT doc_id,
           substr(md5('graft#split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hh
         FROM documents)
         SELECT doc_id, CASE WHEN hh < 'cc' THEN 'train'
                             WHEN hh < 'e6' THEN 'val'
                             ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    // shard = the Kmv 60-bit decode of the '#shard'-tagged md5, mod 8;
    // within-shard order = the full hex string (hex orders numerically)
    "export_shards" -> {
      val dec = Kmv.decodeHexSql("substr(hx, 1, 15)")
      s"""WITH h AS (SELECT doc_id,
           md5('graft#shard:' || CAST(doc_id AS VARCHAR)) AS hx
         FROM documents),
         sh AS (SELECT doc_id, hx, CAST(($dec) % 8 AS INT) AS shard FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
             AS BIGINT) AS ord
         FROM sh ORDER BY shard, ord"""
    },
    // the web_* oracles re-derive the FULL canonicalization chain in
    // DuckDB from the dumped raw URLs, via SQL generated from the same
    // constants as the Column code (WebOps.canonicalPartsSql — single
    // source, engine-portable regexes with no backslash escapes)
    "web_url_dedup" ->
      s"""$webCanonSql
         SELECT doc_id AS id,
           min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
           doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
             AS is_canonical
         FROM canon ORDER BY id""",
    "web_domain_stats" ->
      s"""$webCanonSql
         SELECT registered_domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical_urls
         FROM canon GROUP BY 1 ORDER BY 1""",
    "web_blocked_filter" ->
      s"""$webCanonSql
         SELECT doc_id FROM canon
         WHERE registered_domain NOT IN
           (${WebBlockedDomains.map(d => s"'$d'").mkString(", ")})
         ORDER BY doc_id""",
    // the conv_* oracles re-derive integrity / fingerprints / transitions
    // from the dumped MUTATED turn tables; ordering inside a conversation
    // is (turn_idx, role, text) on both sides — total even under planted
    // duplicate indices, so every hex fingerprint gates byte-exact
    "conv_integrity" ->
      s"""WITH t AS (
           SELECT conv_id, turn_idx, role, text,
             lag(role) OVER w AS prev_role,
             first_value(role) OVER w AS fr,
             last_value(role) OVER (PARTITION BY conv_id
               ORDER BY turn_idx, role, text
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lr
           FROM '$ConvDamagedDumpPath/*.parquet'
           WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, role, text))
         SELECT conv_id,
           count(*) AS n_turns,
           count(DISTINCT turn_idx) AS n_distinct_idx,
           min(turn_idx) AS min_idx,
           max(turn_idx) AS max_idx,
           (count(DISTINCT turn_idx) = count(*) AND min(turn_idx) = 0
             AND max(turn_idx) = count(*) - 1) AS gapless,
           CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT) AS dup_idx,
           CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT)
             AS role_repeats,
           min(fr) AS first_role, min(lr) AS last_role
         FROM t GROUP BY conv_id ORDER BY conv_id""",
    "conv_dedup" ->
      s"""WITH fp AS (SELECT conv_id,
             md5(string_agg(role || chr(31) || text, chr(30)
               ORDER BY turn_idx, role, text)) AS conv_fp
           FROM '$ConvDupDumpPath/*.parquet' GROUP BY 1),
         canon AS (SELECT conv_fp, min(conv_id) AS canonical_id
                   FROM fp GROUP BY 1)
         SELECT conv_id, canonical_id, conv_id = canonical_id AS is_canonical
         FROM fp JOIN canon USING (conv_fp) ORDER BY conv_id""",
    // DuckDB epoch(ts) is double-valued but integral here (the generator
    // emits whole-second timestamps), so the BIGINT cast is exact; the
    // planted byte-identical duplicate rows NEED the prev_es tie-break in
    // the outer window: lag (CTE) and the running sum are two separately
    // sorted windows in DuckDB, and the tied copies carry DIFFERENT
    // prev_es — without the tie-break the sum's result depends on the
    // engine's internal tie order ((1,1) vs (0,1); seen flipping once
    // under host-steal load). Spark evaluates both frames in ONE Window
    // pass over one sort, so the engine side is order-stable.
    "conv_pack_mask" ->
      s"""WITH t AS (SELECT conv_id, turn_idx, role, text,
             CAST(length(text) AS BIGINT) AS tok
           FROM '$ConvDamagedDumpPath/*.parquet'),
         o AS (SELECT conv_id, turn_idx, role, tok,
             sum(tok) OVER (ORDER BY md5('graft:' || conv_id), conv_id,
               turn_idx, role, text
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
               AS pack_start
           FROM t WHERE tok > 0)
         SELECT conv_id, turn_idx, role,
           CAST(pack_start // 512 AS BIGINT) AS window_id,
           CAST(pack_start % 512 AS BIGINT) AS window_off,
           CAST((pack_start + tok - 1) // 512 - pack_start // 512 + 1
             AS BIGINT) AS n_windows,
           role = 'assistant' AS trainable
         FROM o ORDER BY conv_id, turn_idx, role""",
    "conv_sessionize" ->
      s"""WITH t AS (
           SELECT conv_id, turn_idx, role, text,
             CAST(epoch(ts) AS BIGINT) AS es,
             lag(CAST(epoch(ts) AS BIGINT)) OVER w AS prev_es
           FROM '$ConvDamagedDumpPath/*.parquet'
           WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, role, text))
         SELECT conv_id, turn_idx, role,
           CAST(sum(CASE WHEN es - prev_es > 90 THEN 1 ELSE 0 END)
             OVER (PARTITION BY conv_id
               ORDER BY turn_idx, role, text, prev_es ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_idx
         FROM t ORDER BY conv_id, turn_idx, role""",
    // both index states (initial build + post-append) re-derived from the
    // single dumped (wave, turns) table; arrival-order canonicalization =
    // min conv_id per fingerprint within the wave that first saw it
    "conv_dedup_index" ->
      s"""WITH f AS (SELECT wave, conv_id,
             md5(string_agg(role || chr(31) || text, chr(30)
               ORDER BY turn_idx, role, text)) AS fp
           FROM '$ConvIndexDumpPath/*.parquet' GROUP BY wave, conv_id),
         idx0 AS (SELECT fp, min(conv_id) AS canonical_id FROM f
                  WHERE wave = 0 GROUP BY 1),
         w1 AS (SELECT conv_id, fp FROM f WHERE wave = 1),
         w1new AS (SELECT fp, min(conv_id) AS canonical_id FROM w1
                   WHERE fp NOT IN (SELECT fp FROM idx0) GROUP BY 1),
         idx1 AS (SELECT * FROM idx0 UNION ALL SELECT * FROM w1new),
         w2 AS (SELECT conv_id, fp FROM f WHERE wave = 2),
         r AS (
           SELECT CAST(1 AS INT) AS wave, conv_id, canonical_id AS match_id
           FROM w1 LEFT JOIN idx0 USING (fp)
           UNION ALL
           SELECT CAST(2 AS INT) AS wave, conv_id, canonical_id AS match_id
           FROM w2 LEFT JOIN idx1 USING (fp))
         SELECT wave, conv_id, match_id, match_id IS NOT NULL AS is_duplicate
         FROM r ORDER BY wave, conv_id""",
    // streaming twin gated against the IDENTICAL derivation — custom
    // keyed state over real micro-batches must reproduce the batch window
    "stream_sessionize" ->
      s"""WITH t AS (
           SELECT conv_id, turn_idx, role, text,
             CAST(epoch(ts) AS BIGINT) AS es,
             lag(CAST(epoch(ts) AS BIGINT)) OVER w AS prev_es
           FROM '$ConvDamagedDumpPath/*.parquet'
           WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, role, text))
         SELECT conv_id, turn_idx, role,
           CAST(sum(CASE WHEN es - prev_es > 90 THEN 1 ELSE 0 END)
             OVER (PARTITION BY conv_id
               ORDER BY turn_idx, role, text, prev_es ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_idx
         FROM t ORDER BY conv_id, turn_idx, role""",
    "conv_role_transitions" ->
      s"""WITH t AS (
           SELECT conv_id, role,
             lag(role) OVER w AS prev_role,
             lead(role) OVER w AS next_role
           FROM '$ConvDamagedDumpPath/*.parquet'
           WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, role, text)),
         e AS (
           SELECT coalesce(prev_role, '^') AS role_from, role AS role_to
           FROM t
           UNION ALL
           SELECT role AS role_from, '$$' AS role_to FROM t
           WHERE next_role IS NULL)
         SELECT role_from, role_to, count(*) AS n
         FROM e GROUP BY 1,2 ORDER BY 1,2""",
    // the float assignment layer comes from the engine's dump (absolute
    // path, TranscriptDumpPath convention); the oracle re-derives the
    // md5 per-cell cap from it byte-exactly
    "sample_cluster_balanced" ->
      s"""WITH c AS (SELECT id, cell FROM '$CellsDumpPath/*.parquet'),
         r AS (SELECT id, cell,
           row_number() OVER (PARTITION BY cell
             ORDER BY md5('graft:' || CAST(id AS VARCHAR)), id) AS rk
         FROM c)
         SELECT id, CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 10 ORDER BY cell, rk""",
    // the null/non-positive-weight exclusion MUST mirror
    // Sampling.weightedBottomK's guard — an empty/null-text doc in a
    // small stratum would otherwise rank in the oracle but not in Spark
    "sample_weighted" ->
      s"""WITH r AS (SELECT source, doc_id,
           CAST(length(text) AS BIGINT) AS w,
           row_number() OVER (PARTITION BY source
             ORDER BY CAST(${Kmv.hashSql("CAST(doc_id AS VARCHAR)", "graft")}
                        AS DOUBLE) / CAST(length(text) AS DOUBLE),
                      doc_id) AS rk
         FROM documents
         WHERE text IS NOT NULL AND length(text) > 0)
         SELECT source, doc_id, w, CAST(rk AS INT) AS rk FROM r
         WHERE rk <= 10 ORDER BY source, doc_id""",
    "sample_bottomk" ->
      """WITH r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents)
         SELECT source, doc_id, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
         ORDER BY source, doc_id""",
    "sample_mixture" -> sampleMixtureSql,
    // temperature mixture: the bucket chain (count -> min -> divide ->
    // sqrt -> *256 -> floor -> clamp) mirrors Sampling.temperatureSample
    // op for op — every step correctly rounded from integer inputs, so
    // the kept set AND the bucket column gate byte-exact; the md5-prefix
    // decode is the 2-digit cousin of Kmv.decodeHexSql
    "sample_temperature" ->
      """WITH d AS (SELECT doc_id,
           CAST(16 // (doc_id % 16 + 1) AS INT) AS grp FROM documents),
         c AS (SELECT grp, count(*) AS n_g FROM d GROUP BY grp),
         m AS (SELECT min(n_g) AS n_min FROM c),
         r AS (SELECT grp, CAST(least(greatest(CAST(floor(
                 sqrt(CAST(n_min AS DOUBLE) / CAST(n_g AS DOUBLE)) * 256)
                 AS BIGINT), 1), 256) AS INT) AS temp_bucket
               FROM c, m),
         h AS (SELECT doc_id, grp,
             (instr('0123456789abcdef', substr(
                md5('graft#temp:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(
                md5('graft#temp:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
             AS hv
           FROM d)
         SELECT h.doc_id, h.grp, r.temp_bucket FROM h JOIN r USING (grp)
         WHERE h.hv < r.temp_bucket ORDER BY doc_id""",
    // explicit ROWS frame (DuckDB's default with ORDER BY is RANGE, which
    // differs on peer rows); CAST around the window sum: DuckDB sum(BIGINT)
    // is HUGEINT and the driver hash is type-sensitive
    "sample_token_budget" ->
      """WITH r AS (SELECT source, doc_id,
           CAST(length(text) AS BIGINT) AS w,
           CAST(sum(CAST(length(text) AS BIGINT)) OVER (PARTITION BY source
             ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_w
         FROM documents
         WHERE text IS NOT NULL AND length(text) > 0)
         SELECT source, doc_id, w, cum_w FROM r WHERE cum_w <= 1500
         ORDER BY source, doc_id""",
    // importance-resampling oracle: both trigram models, totals, the
    // per-position fixed-point likelihood-ratio term (same expression tree
    // as TextStats.importanceWeights — integer operands, correctly-rounded
    // IEEE divisions, round-half-away == HALF_UP for positives), per-doc
    // integer sum, then the same (mean DESC, doc_id) top-50. Series cap
    // 1005 per the 1007-byte ASCII invariant Verify asserts.
    "sample_importance" ->
      """WITH tgt AS (SELECT substr(text, CAST(i AS INT), 3) AS gram,
             CAST(count(*) AS BIGINT) AS ct_t
           FROM documents, generate_series(1, 1005) t(i)
           WHERE lang = 'en' AND i <= length(text) - 2 GROUP BY 1),
         rw AS (SELECT substr(text, CAST(i AS INT), 3) AS gram,
             CAST(count(*) AS BIGINT) AS ct_r
           FROM documents, generate_series(1, 1005) t(i)
           WHERE i <= length(text) - 2 GROUP BY 1),
         tt AS (SELECT CAST(coalesce(sum(ct_t), 0) AS BIGINT) AS tot_t
           FROM tgt),
         tr AS (SELECT CAST(coalesce(sum(ct_r), 0) AS BIGINT) AS tot_r
           FROM rw),
         pos AS (SELECT d.doc_id, substr(d.text, CAST(i AS INT), 3) AS gram
           FROM documents d, generate_series(1, 1005) t(i)
           WHERE i <= length(d.text) - 2),
         term AS (SELECT p.doc_id,
             CAST(round(((CAST(coalesce(g.ct_t, 0) + 1 AS DOUBLE)
                 / CAST(tt.tot_t + 884736 AS DOUBLE))
               / (CAST(coalesce(r.ct_r, 0) + 1 AS DOUBLE)
                 / CAST(tr.tot_r + 884736 AS DOUBLE)))
               * 1000000000.0) AS BIGINT) AS lr
           FROM pos p LEFT JOIN tgt g USING (gram)
             LEFT JOIN rw r USING (gram), tt, tr),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(lr) AS BIGINT) AS sum_lr_x1e9 FROM term GROUP BY 1),
         fin AS (SELECT d.doc_id, coalesce(a.n_pos, 0) AS n_pos,
             coalesce(a.sum_lr_x1e9, 0) AS sum_lr_x1e9,
             CASE WHEN coalesce(a.n_pos, 0) = 0 THEN 0.0
                  ELSE CAST(a.sum_lr_x1e9 AS DOUBLE)
                    / CAST(a.n_pos AS DOUBLE) END AS mean_lr_x1e9
           FROM documents d LEFT JOIN agg a USING (doc_id)),
         rk AS (SELECT *, row_number()
             OVER (ORDER BY mean_lr_x1e9 DESC, doc_id) AS rk FROM fin)
         SELECT doc_id, n_pos, sum_lr_x1e9, mean_lr_x1e9,
           CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= 50 ORDER BY rk""",
    "pack_windows" ->
      """WITH d AS (SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
         FROM documents),
         p AS (SELECT doc_id, source, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source
             ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
             AS BIGINT) AS pack_start
         FROM d WHERE n_tokens > 0)
         SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           pack_start,
           pack_start // 512 AS window_id,
           pack_start % 512 AS window_off,
           (pack_start + n_tokens - 1) // 512 - pack_start // 512 + 1
             AS n_windows
         FROM p ORDER BY doc_id""",
    // same series cap + stride as text_chunks (1007-byte ASCII invariant)
    "dedup_winnowed_spans" ->
      """WITH ch AS (SELECT doc_id, substr(text, CAST(i*224+1 AS INT), 256) AS chunk
           FROM documents, generate_series(0, 1000) t(i)
           WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, true AS detected FROM p ORDER BY id_a, id_b""",
    "dedup_boilerplate_lines" -> boilerplateLinesSql,
    "fracminhash_distinct" ->
      """WITH sh AS (SELECT DISTINCT source, substr(text, CAST(i AS INT), 8) AS s
                     FROM documents, generate_series(1, 1000) t(i)
                     WHERE i <= length(text)-7)
         SELECT source, count(*) AS exact_distinct, true AS within_bound
         FROM sh GROUP BY 1 ORDER BY 1""",
    "minimizer_density" ->
      """SELECT doc_id, CAST(length(text) - 7 AS BIGINT) AS n_positions,
         true AS density_ok FROM documents ORDER BY doc_id""",
    "syncmer_density" ->
      """SELECT doc_id, CAST(length(text) - 7 AS BIGINT) AS n_positions,
         true AS density_ok FROM documents ORDER BY doc_id""",
    "profile_em_argmax" ->
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                     count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt, query_n
               FROM (SELECT *, max(match_cnt) OVER (PARTITION BY query_id)
                     AS mxc, sum(match_cnt) OVER (PARTITION BY query_id)
                     AS query_n FROM m0) WHERE match_cnt >= 0.8*mxc),
         r AS (SELECT query_id, ref, row_number() OVER (PARTITION BY query_id
               ORDER BY match_cnt*1.0/query_n DESC, ref) AS rn FROM m)
         SELECT query_id, ref FROM r WHERE rn = 1 ORDER BY query_id, ref""",
    // series capped at 1000 (no column-arg generate_series in DuckDB 1.0);
    // docs are <= 1007 bytes (Verify asserts), stride 224 → <= 5 chunks
    "text_chunks" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         substr(text, CAST(i*224+1 AS INT), 256) AS chunk
         FROM documents, generate_series(0, 1000) t(i)
         WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))
         ORDER BY doc_id, chunk_idx""",
    // integer-only tf-idf skeleton: rank by (tf DESC, df ASC, term ASC);
    // df reuses the doc-distinct tf table
    "text_top_terms" ->
      """WITH w AS (
           SELECT doc_id, word FROM (
             SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
             FROM documents)
           WHERE length(word) >= 3),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1,2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         r AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rk
               FROM tf JOIN df USING (word))
         SELECT doc_id, word AS term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    "text_doc_stats" -> textDocStatsSql,
    "text_quality" -> textQualitySql,
    "text_repetition" -> textRepetitionSql,
    "text_redaction" -> textRedactionSql,
    "text_lm_perplexity" -> textLmPerplexitySql,
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_tokens" -> bpeTokensSql,
    "ann_index_append" ->
      """SELECT * FROM (VALUES ('appended_index_equals_inline', true),
         ('drift_is_fraction', true)) AS t("check", ok) ORDER BY "check"""",
    "ann_index_compaction" ->
      s"""SELECT qid, rank, id FROM '$AnnCompactDumpPath/*.parquet'
         ORDER BY qid, rank""",
    "multimodal_image_neardup" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
         CAST(0 AS INT) AS hamming
         FROM documents WHERE doc_id % 7 = 0 ORDER BY id_a, id_b""",
    "multimodal_audio_decode" ->
      """SELECT doc_id AS id, CAST(8000 AS INT) AS sample_rate,
         CAST(1 + doc_id % 2 AS INT) AS channels,
         CAST(120 + doc_id % 50 AS BIGINT) AS n_frames,
         true AS decode_exact, true AS energy_exact
         FROM documents ORDER BY id""",
    "multimodal_decode" ->
      """SELECT doc_id AS id, CAST(3 + doc_id % 5 AS INT) AS width,
         CAST(2 + doc_id % 4 AS INT) AS height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
         true AS decode_exact, true AS resize_exact
         FROM documents ORDER BY id""",
    "multimodal_frame_meta" ->
      """WITH chars AS (SELECT doc_id,
           CAST(count(DISTINCT substr(text, CAST(i AS INT), 1)) AS INT) AS dc
           FROM documents, generate_series(1, 1000) t(i)
           WHERE i <= length(text) GROUP BY 1)
         SELECT d.doc_id AS id, CAST(length(d.text) AS BIGINT) AS n_bytes,
                c.dc AS n_distinct_bytes,
                CAST(length(d.text)//64 + 1 AS INT) AS n_frames
         FROM documents d JOIN chars c USING (doc_id) ORDER BY id"""
  )

  /** dedup_incremental AND stream_dedup_index oracle (shared — the
    * streaming sink is the per-micro-batch union of the same frozen-index
    * probe, which is exactly equal by construction): index-side scaled
    * sets recomputed in full SQL with the same md5 scaling rule and the
    * same jaccard_x1m expression tree as the engine (byte-exact, estimator
    * value included); series cap per the 1007-byte invariant. */
  private def dedupAgainstIndexSql: String =
    """WITH ex AS (SELECT md5(text) AS h, min(doc_id) AS canonical_id
           FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
       exact AS (SELECT n.doc_id, e.canonical_id AS match_id,
             'exact' AS kind, CAST(1000000 AS BIGINT) AS jaccard_x1m
           FROM documents n JOIN ex e ON md5(n.text) = e.h
           WHERE n.doc_id % 3 = 0),
       gs AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS g
           FROM documents, generate_series(1, 1000) t(i)
           WHERE i <= length(text) - 7 GROUP BY 1, 2),
       sc0 AS (SELECT doc_id, md5('graft:' || g) AS gh FROM gs
           WHERE substr(md5('graft:' || g), 1, 2) < '40'),
       hot AS (SELECT gh FROM sc0 WHERE doc_id % 3 <> 0
           GROUP BY 1 HAVING count(*) > 64),
       sc AS (SELECT * FROM sc0 WHERE gh NOT IN (SELECT gh FROM hot)),
       ns AS (SELECT doc_id, count(*) AS n FROM sc GROUP BY 1),
       pair AS (SELECT b.doc_id AS doc_id, a.doc_id AS match_id,
             count(*) AS i
           FROM sc a JOIN sc b USING (gh)
           WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0 GROUP BY 1, 2),
       near0 AS (SELECT p.doc_id, p.match_id, 'near' AS kind,
             CAST(round(p.i * 1000000.0 / (nn.n + nold.n - p.i)) AS BIGINT)
               AS jaccard_x1m
           FROM pair p JOIN ns nn ON nn.doc_id = p.doc_id
                       JOIN ns nold ON nold.doc_id = p.match_id),
       near AS (SELECT * FROM near0 WHERE jaccard_x1m >= 500000)
       SELECT doc_id, match_id, kind, jaccard_x1m
       FROM (SELECT * FROM exact UNION ALL SELECT * FROM near)
       ORDER BY doc_id, match_id, kind"""

  /** dedup_boilerplate_lines oracle: the 5-line twin mirrors the Spark
    * concat chain token-for-token; the per-source occurrence threshold
    * GREATEST(minDocs, ceil(nd·minFrac)) uses the identical expression
    * association (nd * 0.5 is IEEE-exact for integral nd), and string_agg
    * skipping NULLs reproduces collect_list skipping nulls, so the cleaned
    * text gates byte-exact. Series cap 8 > the twin's fixed 5 lines. */
  private def boilerplateLinesSql: String =
    """WITH twin AS (SELECT doc_id, source,
           '(c) ' || source || ' all rights reserved' || chr(10)
           || 'doc ' || md5(CAST(doc_id AS VARCHAR)) || chr(10)
           || CASE WHEN doc_id % 2 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER'
                   ELSE 'body ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              END || chr(10)
           || replace(substr(coalesce(text, ''), 1, 40), chr(10), ' ')
           || chr(10) AS text
         FROM documents),
       ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS l
              FROM twin),
       lines AS (SELECT doc_id, source, i AS pos, l[CAST(i AS INT)] AS line
                 FROM ls, generate_series(1, 8) t(i) WHERE i <= len(l)),
       nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n
              FROM twin GROUP BY 1),
       bp AS (SELECT lc.source, lc.line
              FROM (SELECT source, line, COUNT(DISTINCT doc_id) AS c
                    FROM lines GROUP BY 1, 2) lc
              JOIN nd ON nd.source = lc.source
              WHERE lc.c >= GREATEST(2, CAST(ceil(nd.n * 0.5) AS BIGINT))),
       mark AS (SELECT l.doc_id, l.source, l.pos, l.line,
                       bp.line IS NOT NULL AS is_bp
                FROM lines l LEFT JOIN bp
                  ON bp.source = l.source AND bp.line = l.line)
       SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         coalesce(string_agg(CASE WHEN is_bp THEN NULL ELSE line END,
           chr(10) ORDER BY pos), '') AS cleaned
       FROM mark GROUP BY doc_id, source ORDER BY doc_id"""

  /** text_bpe_merges constants — shared by the gate query and the
    * generated oracle so they cannot de-synchronize. */
  private val BpeSteps = 6
  private val BpeMaxWordLen = 30

  /** 4σ hypergeometric bound for the KMV Jaccard estimator at k = 128:
    * sd ≤ sqrt(0.25/k) (worst case j = 0.5), plus 1/k discretization
    * slack. Interpolated into the oracle SQL verbatim (Double.toString
    * round-trips through DuckDB's strtod). */
  private val KmvJaccardBound: Double = 4.0 * math.sqrt(0.25 / 128) + 1.0 / 128

  /** Containment compounds the Jaccard sampling error with the union/|A|
    * rescale and side A's own estimate error; the event-type user sets are
    * near-equal-sized (union/side <= ~2), so twice the Jaccard bound holds
    * with margin. Interpolated into the oracle SQL verbatim. */
  private val KmvContainmentBound: Double = 2.0 * KmvJaccardBound

  /** text_bpe_merges oracle: the same `BpeSteps` merge rounds as
    * TextStats.bpeTrain, generated as chained CTEs. Each round counts
    * frequency-weighted adjacent symbol pairs (series cap = BpeMaxWordLen
    * symbols per word), takes the (cnt DESC, pair ASC) top-1, and applies
    * the merge with the SAME two replace passes as the engine (a leftmost
    * match consumes a back-to-back occurrence's shared boundary space;
    * missed occurrences are never adjacent, so two passes are exhaustive).
    * string_split_regex('\s+') mirrors Spark's split("\\s+"); words longer
    * than BpeMaxWordLen are excluded on both sides. Every CTE is
    * MATERIALIZED: each round references its predecessor from both the
    * pair count and the rewrite (plus four scalar m-subqueries), so
    * DuckDB's default inlining re-evaluates the whole prefix chain
    * exponentially many times — materialization makes the oracle linear
    * in rounds, like the engine. */
  /** The two-pass merge application for round r, as SQL (same shape the
    * engine uses — see TextStats.bpeTrain scaladoc). */
  private def bpeRep(inner: String, r: Int): String = {
    def once(i: String) =
      s"""replace($i, ' ' || (SELECT pair FROM m$r) || ' ',
                  ' ' || (SELECT merged FROM m$r) || ' ')"""
    once(once(inner))
  }

  /** The shared CTE chain (word table → char symbols → BpeSteps rounds of
    * count/top-1/rewrite) used by both BPE oracles. */
  private def bpeCtes: String = {
    val rounds = (1 to BpeSteps).map { r =>
      s"""p$r AS MATERIALIZED (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i+1 AS INT)]
                 AS pair, CAST(sum(freq) AS BIGINT) AS cnt
               FROM (SELECT string_split(trim(sym), ' ') AS l, freq
                     FROM w${r - 1}),
                    generate_series(1, $BpeMaxWordLen) t(i)
               WHERE i < len(l) GROUP BY 1),
         m$r AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged FROM p$r
               ORDER BY cnt DESC, pair LIMIT 1),
         w$r AS MATERIALIZED (SELECT ${bpeRep("sym", r)} AS sym, freq
               FROM w${r - 1})"""
    }.mkString(",\n       ")
    val ws = "\\s+" // rendered \s+ — dodge triple-quote escape ambiguity
    s"""words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(string_split_regex(trim(coalesce(text, '')),
                 '$ws')) AS w
               FROM documents)
         WHERE length(w) BETWEEN 1 AND $BpeMaxWordLen GROUP BY w),
       w0 AS MATERIALIZED (SELECT ' ' || string_agg(substr(w, CAST(i AS INT), 1), ' '
                ORDER BY i) || ' ' AS sym, freq
              FROM words, generate_series(1, $BpeMaxWordLen) t(i)
              WHERE i <= length(w)
              GROUP BY w, freq),
       $rounds"""
  }

  private def bpeMergesSql: String = {
    val sel = (1 to BpeSteps)
      .map(r => s"SELECT $r AS step, pair, merged FROM m$r")
      .mkString("\n         UNION ALL ")
    s"""WITH $bpeCtes
       SELECT step, pair, merged FROM ($sel) ORDER BY step"""
  }

  /** text_bpe_tokens oracle: re-derives the same six merges via [[bpeCtes]]
    * and applies them to every document row-locally — per-word char
    * symbols joined by DOUBLE spaces (no merge can span a word boundary),
    * the identical two-pass rewrite per round, token count = remaining
    * space-separated symbols. Empty docs guard to (0, 0). */
  private def bpeTokensSql: String = {
    val ws = "\\s+"
    val enc = (1 to BpeSteps).foldLeft("sym")(bpeRep)
    s"""WITH $bpeCtes,
       ds AS MATERIALIZED (SELECT doc_id,
              trim(coalesce(text, '')) AS t,
              ' ' || array_to_string(list_transform(
                  string_split_regex(trim(coalesce(text, '')), '$ws'),
                  w -> array_to_string(string_split(w, ''), ' ')), '  ')
                || ' ' AS sym
            FROM documents),
       enc AS (SELECT doc_id, t, $enc AS sym FROM ds)
       SELECT doc_id,
         CASE WHEN length(t) = 0 THEN 0
              ELSE CAST(len(string_split_regex(trim(t), '$ws')) AS BIGINT)
         END AS n_words,
         CASE WHEN length(t) = 0 THEN 0
              ELSE CAST(len(string_split_regex(trim(sym), ' +')) AS BIGINT)
         END AS n_tokens
       FROM enc ORDER BY doc_id"""
  }

  /** text_lm_perplexity oracle: add-one-smoothed char-trigram model over
    * the training 90%, scored on the held-out tenth and its reversed twin.
    * sum_p_x1e9 mirrors the Spark expression term-for-term (one IEEE
    * division of integer-derived operands per position, HALF_UP == half-
    * away for positives, integer sum); the NLL margin boolean uses the
    * same 1900 milli-nat floor. Series cap 1005 = 1007 - 2 covers every
    * len-2 trigram position under the 1007-byte ASCII invariant Verify
    * asserts (a 1000 cap would drop the tail positions of 1003-1007-byte
    * docs). The final LEFT JOIN from `held` mirrors lmScore's F4 posture:
    * a doc shorter than 3 chars keeps a (0, 0, false) row instead of
    * vanishing from the oracle while Spark preserves it. */
  private def textLmPerplexitySql: String =
    """WITH train AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
       grams AS (SELECT substr(text, CAST(i AS INT), 3) AS gram,
                   CAST(count(*) AS BIGINT) AS cnt
                 FROM train, generate_series(1, 1005) t(i)
                 WHERE i <= length(text) - 2 GROUP BY 1),
       ctx AS (SELECT substr(gram, 1, 2) AS ctx,
                 CAST(sum(cnt) AS BIGINT) AS ctx_cnt
               FROM grams GROUP BY 1),
       held AS (SELECT doc_id, coalesce(text, '') AS text FROM documents
                WHERE doc_id % 10 = 0),
       var AS (SELECT doc_id, 'real' AS variant, text FROM held
               UNION ALL SELECT doc_id, 'rev', reverse(text) FROM held),
       pos AS (SELECT doc_id, variant, substr(text, CAST(i AS INT), 3) AS gram
               FROM var, generate_series(1, 1005) t(i)
               WHERE i <= length(text) - 2),
       p AS (SELECT doc_id, variant,
               coalesce(g.cnt, 0) + 1 AS g1,
               coalesce(c.ctx_cnt, 0) + 96 AS c1
             FROM pos LEFT JOIN grams g USING (gram)
                      LEFT JOIN ctx c ON c.ctx = substr(pos.gram, 1, 2)),
       sc AS (SELECT doc_id, variant,
                CAST(count(*) AS BIGINT) AS n_pos,
                CAST(sum(CAST(round(g1 * 1000000000.0 / c1) AS BIGINT))
                  AS BIGINT) AS sum_p_x1e9,
                sum(ln(CAST(c1 AS DOUBLE) / g1)) AS nll
              FROM p GROUP BY 1, 2)
       SELECT h.doc_id,
         CAST(coalesce(r.n_pos, 0) AS BIGINT) AS n_pos,
         CAST(coalesce(r.sum_p_x1e9, 0) AS BIGINT) AS sum_p_x1e9,
         round((coalesce(v.nll, 0) - coalesce(r.nll, 0)) * 1000 /
           greatest(coalesce(r.n_pos, 0), 1)) >= 1900 AS real_better
       FROM held h
         LEFT JOIN sc r ON r.doc_id = h.doc_id AND r.variant = 'real'
         LEFT JOIN sc v ON v.doc_id = h.doc_id AND v.variant = 'rev'
       ORDER BY h.doc_id"""

  /** text_redaction oracle: the twin-corpus construction mirrors the Spark
    * query's concat chain token-for-token; the count/redact SELECT list is
    * GENERATED from TextStats.PiiPatterns (single source — the SQL cannot
    * de-synchronize from the Column chain). */
  /** Shared CTE prefix for the web_* oracles: raw dumped URLs → RFC-3986
    * parts (generated from the same constants as the Column chain) →
    * canonical URL + registered domain. */
  private def webCanonSql: String =
    s"""WITH u AS (SELECT doc_id, url FROM '$UrlsDumpPath/*.parquet'),
       parts AS (SELECT doc_id, ${WebOps.canonicalPartsSql("url")} FROM u),
       canon AS (SELECT doc_id,
         ${WebOps.CanonicalUrlFromPartsSql} AS canonical_url,
         ${WebOps.registeredDomainSql("host")} AS registered_domain
       FROM parts)"""

  private def textRedactionSql: String =
    s"""WITH twin AS (SELECT doc_id,
           coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com call 555-'
           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' acct 9' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 8, '0')
           || ' token sk_' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 20)
             AS text
         FROM documents)
       SELECT doc_id,
           ${TextStats.piiScrubOracleSelect("text")}
       FROM twin ORDER BY doc_id"""

  /** classify_kmer_ci oracle: the k-mer mutation CI threshold is a closed
    * form in query_n for fixed (k, errorRate, confidence) — inline the same
    * driver constants (q, z, affine variance A·n+B) the Column dispatcher
    * uses, with the identical expression tree, so the filter compares
    * byte-identically in both engines. */
  private def classifyKmerCiSql: String = {
    val (k, e) = (8, 0.02)
    val q = 1.0 - math.pow(1.0 - e, k)
    val z = graft.functions.Thresholds.inverseNormalCdf(1.0 - (1.0 - 0.95) / 2.0)
    // single source of the affine variance constants — the same call the
    // Column dispatcher makes, so the oracle can never de-synchronize
    val (a, b) = graft.functions.Thresholds.kmerVarAB(k, e)
    s"""WITH corpus AS (SELECT source AS grp, text FROM documents
                        WHERE doc_id % 10 <> 0),
        q AS (SELECT doc_id AS query_id, text FROM documents
              WHERE doc_id % 10 = 0),
        gsh AS (SELECT DISTINCT grp, substr(text, CAST(i AS INT), 8) AS s
                FROM corpus, generate_series(1, 1000) t(i)
                WHERE i <= length(text)-7),
        qsh AS (SELECT DISTINCT query_id, substr(text, CAST(i AS INT), 8) AS s
                FROM q, generate_series(1, 1000) t(i)
                WHERE i <= length(text)-7),
        qn AS (SELECT query_id, count(*) AS query_n FROM qsh GROUP BY 1),
        cnt AS (SELECT query_id, grp, count(*) AS match_cnt
                FROM qsh JOIN gsh USING (s) GROUP BY 1,2),
        filt AS (SELECT c.query_id, c.grp, c.match_cnt, qn.query_n
                 FROM cnt c JOIN qn USING (query_id)
                 WHERE c.match_cnt >= greatest(CAST(0 AS BIGINT),
                   CAST(floor(qn.query_n - (qn.query_n*$q +
                     sqrt(greatest(0.0, qn.query_n*$a + $b))*$z)) AS BIGINT))),
        mx AS (SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS m
               FROM filt)
        SELECT query_id, grp AS "group", match_cnt, query_n FROM mx
        WHERE match_cnt >= 0.8*m ORDER BY query_id, "group""""
  }

  /** classify_syncmer_ci oracle: the SF9 empirical-table threshold is
    * floor(query_n × ratio) for a fixed (k, errorRate) — the ratio is the
    * SAME Thresholds.syncmerMatchRatio constant the Column dispatcher
    * reads (single source), interpolated via Scala Double.toString (which
    * round-trips through DuckDB's strtod), so the filter compares
    * byte-identically in both engines. k-gram size 12 (the table needs
    * even k in [12,30]); docs <= 1007 bytes keeps the series cap valid. */
  private def classifySyncmerCiSql: String = {
    val ratio = graft.functions.Thresholds.syncmerMatchRatio(12, 0.1)
    s"""WITH corpus AS (SELECT source AS grp, text FROM documents
                        WHERE doc_id % 10 <> 0),
        q AS (SELECT doc_id AS query_id, text FROM documents
              WHERE doc_id % 10 = 0),
        gsh AS (SELECT DISTINCT grp, substr(text, CAST(i AS INT), 12) AS s
                FROM corpus, generate_series(1, 1000) t(i)
                WHERE i <= length(text)-11),
        qsh AS (SELECT DISTINCT query_id, substr(text, CAST(i AS INT), 12) AS s
                FROM q, generate_series(1, 1000) t(i)
                WHERE i <= length(text)-11),
        qn AS (SELECT query_id, count(*) AS query_n FROM qsh GROUP BY 1),
        cnt AS (SELECT query_id, grp, count(*) AS match_cnt
                FROM qsh JOIN gsh USING (s) GROUP BY 1,2),
        filt AS (SELECT c.query_id, c.grp, c.match_cnt, qn.query_n
                 FROM cnt c JOIN qn USING (query_id)
                 WHERE c.match_cnt >=
                   CAST(floor(qn.query_n * $ratio) AS BIGINT)),
        mx AS (SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS m
               FROM filt)
        SELECT query_id, grp AS "group", match_cnt, query_n FROM mx
        WHERE match_cnt >= 0.8*m ORDER BY query_id, "group""""
  }

  /** Single source for the mixture demo's per-source rates — the query
    * and the oracle builder both read this, so the 1/256-granular hex
    * thresholds can never de-synchronize. Unlisted sources are dropped
    * (exercised: src5..src19 have no rate). */
  private val MixtureRates = Seq(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
    "src3" -> 0.0625, "src4" -> 0.01)

  /** sample_mixture oracle: thresholds come from the SAME
    * Sampling.rateThresholds call the engine path uses (single source —
    * including the sub-granularity reject), rendered over the '#rate'
    * hash domain. */
  private def sampleMixtureSql: String = {
    val conds = Sampling.rateThresholds(MixtureRates).map {
      case (g, None) => s"(source = '$g')"
      case (g, Some(bound)) =>
        s"(source = '$g' AND substr(md5('graft#rate:' || " +
          s"CAST(doc_id AS VARCHAR)), 1, 2) < '$bound')"
    }.mkString(" OR ")
    s"""SELECT doc_id, source FROM documents
        WHERE $conds ORDER BY doc_id"""
  }

  /** SQL form of TextStats.occurrences (length-difference trick), shared by
    * the doc-stats and quality oracles. */
  private def occSql(w: String): String =
    s"(length(text) - length(replace(text, '$w', '')))/${w.length}"

  /** SQL form of TextStats.dupSplitRatioX100: duplicated-element fraction
    * of `textExpr` split on `sepExpr` (DuckDB string_split keeps trailing
    * empties like Java split(re, -1); list_distinct dedups like Spark's
    * array_distinct — no NULL elements arise from split). */
  private def dupSplitSql(textExpr: String, sepExpr: String): String =
    s"""CAST(floor((len(string_split($textExpr, $sepExpr)) -
        len(list_distinct(string_split($textExpr, $sepExpr)))) * 100 /
        greatest(len(string_split($textExpr, $sepExpr)), 1)) AS BIGINT)"""

  /** text_quality oracle: same length-difference occurrence trick as the
    * engine for the stopword ratio (TextStats.Stopwords inlined), plus the
    * Gopher duplicate-line/paragraph fractions. */
  private def textQualitySql: String = {
    val stop = graft.operators.TextStats.Stopwords.map(occSql)
      .mkString("(", " + ", ")")
    val toks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val dupLine = dupSplitSql("text", "chr(10)")
    val dupPara = dupSplitSql("text", "chr(10) || chr(10)")
    s"""SELECT doc_id,
       $toks AS n_tokens,
       CAST(floor(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
         * 100 / greatest($toks, 1)) AS BIGINT) AS distinct_ratio_x100,
       CAST(floor($stop * 100 / greatest($toks, 1)) AS BIGINT)
         AS stopword_ratio_x100,
       CAST(floor((length(text) -
         length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 100 /
         greatest(length(text), 1)) AS BIGINT) AS punct_ratio_x100,
       $dupLine AS dup_line_ratio_x100,
       $dupPara AS dup_para_ratio_x100,
       ($toks BETWEEN 5 AND 100000)
       AND (floor(length(regexp_replace(text, '\\s', '', 'g')) * 100 /
            greatest($toks, 1)) BETWEEN 150 AND 1500)
       AND (CAST(floor(len(list_distinct(regexp_split_to_array(trim(text),
            '\\s+'))) * 100 / greatest($toks, 1)) AS BIGINT) >= 5)
       AND ($dupLine <= 30) AND ($dupPara <= 30)
         AS is_quality
       FROM documents ORDER BY doc_id"""
  }

  /** text_repetition oracle: the same newline-derivation as the Spark query
    * (replace ' the ' with a blank line, then spaces with line breaks),
    * then the Gopher signals; word 2-grams via the generate_series pattern
    * (docs <= 1007 ASCII bytes ⇒ < 1000 words, Verify asserts). The single
    * IEEE division per ratio has identical integer operands in both
    * engines, so the gate is byte-exact. */
  private def textRepetitionSql: String = {
    val dupLine = dupSplitSql("t", "chr(10)")
    val dupPara = dupSplitSql("t", "chr(10) || chr(10)")
    s"""WITH d AS (SELECT doc_id,
           replace(replace(text, ' the ', chr(10) || chr(10)),
                   ' ', chr(10)) AS t
         FROM documents),
       base AS (SELECT doc_id,
           CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
           $dupLine AS dup_line_ratio_x100,
           $dupPara AS dup_para_ratio_x100,
           CAST(length(t) AS BIGINT) AS n_chars
         FROM d),
       w AS (SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS ws
             FROM d),
       g AS (SELECT doc_id,
               list_extract(ws, CAST(i AS INT)) || ' ' ||
                 list_extract(ws, CAST(i + 1 AS INT)) AS g
             FROM w, generate_series(1, 1000) t(i)
             WHERE i <= len(ws) - 1),
       c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       top1 AS (SELECT doc_id, g, c FROM (
                  SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY c DESC, g) AS rn FROM c) WHERE rn = 1)
       SELECT b.doc_id, b.n_lines, b.dup_line_ratio_x100,
              b.dup_para_ratio_x100,
              COALESCE(CAST(floor(t1.c * length(t1.g) * 100 /
                greatest(b.n_chars, 1)) AS BIGINT), CAST(0 AS BIGINT))
                AS top_bigram_ratio_x100
       FROM base b LEFT JOIN top1 t1 USING (doc_id)
       ORDER BY b.doc_id"""
  }

  /** docStats oracle: marker-count language heuristic mirrored in SQL. */
  private def textDocStatsSql: String = {
    val score = Map(
      "en" -> Seq(" the ", " and ", " of "),
      "es" -> Seq(" el ", " la ", " que "),
      "de" -> Seq(" der ", " die ", " und "),
      "fr" -> Seq(" le ", " la ", " et "),
      "zh" -> Seq(" de ", " shi ", " le "))
      .map { case (l, ws) => l -> ws.map(occSql).mkString("(", " + ", ")") }
    val best =
      s"greatest(${score("en")}, ${score("es")}, ${score("de")}, ${score("fr")}, ${score("zh")})"
    val langCase =
      s"""CASE WHEN ${score("en")} = $best AND ${score("en")} > 0 THEN 'en'
              WHEN ${score("es")} = $best AND ${score("es")} > 0 THEN 'es'
              WHEN ${score("de")} = $best AND ${score("de")} > 0 THEN 'de'
              WHEN ${score("fr")} = $best AND ${score("fr")} > 0 THEN 'fr'
              WHEN ${score("zh")} = $best AND ${score("zh")} > 0 THEN 'zh'
              ELSE 'und' END"""
    s"""SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         AS n_chars_nospace,
       CAST(floor(length(regexp_replace(text, '\\s', '', 'g')) * 100 /
         greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1))
         AS BIGINT) AS avg_wordlen_x100,
       $langCase AS lang_guess
       FROM documents ORDER BY doc_id"""
  }
}
