package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational baselines and the sketch gates: HLL / CMS / Bloom / KLL /
  * t-digest / SpaceSaving / KMV bound checks, rollup-by-merge, drift and
  * the flagship transcript sketch build. */
private[graft] object SketchGates {
  /** The gate [[graft.SparkEntry.entry]] smoke-runs. */
  val entryGate: Gate = Gate("hll_distinct_users", { (s, dir) =>
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
    """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
         true AS within_bound FROM events GROUP BY 1 ORDER BY 1""")

  def gates: Seq[Gate] = Seq(
    // ---- baseline relational (A1/A12, F2/A4, J1) --------------------------
    Gate("q01_pricing_summary", { (s, dir) =>
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
    // NOTE the outer CAST(sum(...) AS BIGINT): DuckDB's sum(BIGINT) returns
    // HUGEINT (INT128) and the driver's hash compare is type-sensitive.
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""),
    Gate("q02_relative_max_filter", { (s, dir) =>
      val w = Window.partitionBy("l_orderkey")
      t(s, dir, "lineitem")
        .withColumn("mx", max(col("l_quantity")).over(w))
        .where(col("l_quantity") >= lit(0.8) * col("mx"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  max(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
           FROM lineitem)
         WHERE l_quantity >= 0.8*mx ORDER BY l_orderkey, l_linenumber"""),
    Gate("q03_segment_revenue", { (s, dir) =>
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1"""),
    // Bloom-pruned join: the probe side (lineitem) is pre-filtered by ONE
    // broadcast Bloom blob of the (selective) build side's keys BEFORE the
    // shuffle — the 100 TB shuffle-volume trick. False positives are
    // discarded by the join itself, so the result is EXACT: byte-equality
    // oracle against the plain join.
    Gate("join_bloom_pruned", { (s, dir) =>
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
      """SELECT l_orderkey AS orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY 1 ORDER BY 1"""),
    // Skew-armored repartition join: the events table under the planted
    // heavy-hitter key (~15 keys, hottest ~50% of rows — exactly the
    // one-reducer-per-key killer) joins a per-key dim through
    // Joins.saltedJoin (salt the big side, explode the small side ×8).
    // The result is row-identical to the plain join, so the oracle is the
    // plain SQL join — byte-exact over integer aggregates.
    Gate("join_skew_salted", { (s, dir) =>
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
      """WITH ev AS (SELECT *,
           'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k
           FROM events),
         dim AS (SELECT k, CAST(min(user_id) AS BIGINT) AS rep_user
                 FROM ev GROUP BY k)
         SELECT ev.k AS k, count(*) AS n,
           CAST(sum(event_id % 100 + 1) AS BIGINT) AS w,
           CAST(min(dim.rep_user) AS BIGINT) AS rep_user
         FROM ev JOIN dim ON ev.k = dim.k
         GROUP BY 1 ORDER BY 1"""),
    // ---- sketch bound checks (S5/A2, S3/A3, S1/S2/S4, quantiles) ----------
    entryGate,
    Gate("cms_event_type_counts", { (s, dir) =>
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
      """SELECT event_type, count(*) AS exact_cnt, true AS no_undercount,
         true AS within_eps FROM events GROUP BY 1 ORDER BY 1"""),
    Gate("bloom_membership", { (s, dir) =>
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
      "SELECT CAST(0 AS BIGINT) AS members_missed, true AS fpr_bounded"),
    // two jobs total: one sketch pass, one fused rank-check pass
    Gate("kll_price_quantiles", { (s, dir) =>
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
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q10'),
         ('q50'),('q90'),('q99')) AS t(q_label) ORDER BY q_label"""),
    Gate("tdigest_value_quantiles", { (s, dir) =>
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
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q01'),
         ('q50'),('q99')) AS t(q_label) ORDER BY q_label"""),
    // Trimmed mean straight off the t-digest centroids (Dunning & Ertl's
    // centroid walk) vs the EXACT rank-windowed mean. The exact twin
    // collapses ties per VALUE first (equal values are interchangeable, so
    // the rank window's content is deterministic regardless of tie order),
    // then takes each value's overlap with the (floor .1n, floor .9n] rank
    // span — integer cents sum, byte-exact in both engines; the digest
    // estimate gates as a bound boolean (t-digest bytes are partition-order
    // sensitive, same posture as tdigest_value_quantiles).
    Gate("tdigest_trimmed_mean", { (s, dir) =>
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
    // ties collapse per VALUE, then each value takes its rank-span overlap
    // with (floor .1n, floor .9n] — identical arithmetic to the Spark twin
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
         FROM cum, b GROUP BY lo, hi"""),
    // Equi-join cardinality WITHOUT the join: CMS inner product
    // (Cormode-Muthukrishnan §4.2) over two one-pass sketches of the two
    // sides' key columns. Exact join size recomputed as sum(ca*cb) in both
    // engines; the estimate gates its published one-sided bound
    // (never-undercount; overcount ≤ eps·|A|·|B|). Deterministic: CMS
    // counters are exact integer sums independent of partitioning.
    Gate("cms_join_size", { (s, dir) =>
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
      """WITH a AS (SELECT l_orderkey, count(*) AS c FROM lineitem
                    WHERE l_linenumber <= 3 GROUP BY 1),
         b AS (SELECT l_orderkey, count(*) AS c FROM lineitem
               WHERE l_linenumber >= 4 GROUP BY 1)
         SELECT CAST(coalesce(sum(a.c*b.c), 0) AS BIGINT)
             AS exact_join_size,
           true AS no_undercount, true AS within_eps
         FROM a JOIN b USING (l_orderkey)"""),
    // Two-sample Kolmogorov–Smirnov drift: sup |Fa − Fb| estimated from two
    // KLL sketches (one aggregate pass per snapshot) vs the EXACT statistic
    // computed as the integer max |cumA·nb − cumB·na| over the union of
    // values — byte-exact in both engines; the sketch estimate gates its
    // rank-error slack. Side B is a genuinely shifted distribution derived
    // per-row with IEEE-identical ops (×2.0 exact, +10.0 same rounding).
    Gate("kll_ks_distance", { (s, dir) =>
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
         FROM cum, n GROUP BY na, nb"""),
    // Equi-depth range layout from ONE KLL pass (RangeLayout): B=8
    // boundaries at quantiles i/8, per-bucket counts byte-exact in both
    // engines (boundaries dumped for the oracle), each bucket's mass
    // within the rank-error slack of n/B.
    Gate("range_equidepth", { (s, dir) =>
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
      s"""WITH b AS (SELECT bound FROM '$RangeBoundsDumpPath/*.parquet')
         SELECT bucket, count(*) AS cnt, true AS within_bound FROM (
           SELECT (SELECT count(*) FROM b
                   WHERE l_extendedprice >= b.bound) AS bucket
           FROM lineitem)
         GROUP BY 1 ORDER BY 1"""),
    // GROUP BY form of the KS drift: one mergeable-KLL pass per snapshot,
    // per-group sup |Fa−Fb| compared driver-side. Two groups are planted
    // with real shifts (click ×2+10, error ×0.5 — exact-KS 0.31 / 0.25),
    // the rest identical (exact-KS 0); with slack 3·2·eps_k = 0.069 the
    // 0.12 drift threshold is safe on both sides, so the estimate-based
    // `drifted` flag equals the oracle's exact-KS flag deterministically.
    Gate("kll_ks_grouped", { (s, dir) =>
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
         FROM cum JOIN t ON cum.g = t.g GROUP BY 1 ORDER BY 1"""),
    // Heavy-change detection between two corpus snapshots (Drift
    // .heavyChange): SpaceSaving candidates + per-snapshot CMS estimates,
    // flag |estΔ| ≥ θ(Na+Nb). The after-snapshot drops 'click' and renames
    // 'view'→'surge' (both re-derivable in SQL); planted changes (~10% of
    // rows each) sit far from the θ=5% threshold relative to the CMS eps·N
    // slack, so the exact-count flags the oracle computes match the
    // estimate-based flags deterministically.
    Gate("cms_heavy_change", { (s, dir) =>
      val ev = t(s, dir, "events")
      val before = ev.select(col("event_type").as("k"))
      val after = ev.where(col("event_type") =!= "click")
        .select(when(col("event_type") === "view", lit("surge"))
          .otherwise(col("event_type")).as("k"))
      val changes = Drift.heavyChange(before, after, "k", theta = 0.05)
      import s.implicits._
      changes.map(c => (c.key, c.flagged)).toDF("k", "flagged").orderBy("k")
    },
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
         FROM u, n ORDER BY k"""),
    Gate("rollup_nation_counts", { (s, dir) =>
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
      """SELECT coalesce(r_name, 'ALL') AS region,
         coalesce(n_name, 'ALL') AS nation, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2"""),
    // north-star "heavy hitters per turn window": CMS over (hour, type)
    // composite keys, eps-bounded against the exact windowed counts.
    Gate("cms_windowed_counts", { (s, dir) =>
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
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         event_type, count(*) AS exact_cnt, true AS no_undercount,
         true AS violations_within_delta
         FROM events GROUP BY 1,2 ORDER BY 1,2"""),
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
    Gate("heavy_hitters_topk", { (s, dir) =>
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
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1"""),
    // HLL hierarchy rollup by sketch MERGE: nation-level user sketches are
    // built ONCE and region-level estimates come from merging those blobs
    // in-plan (hll_merge_agg) — never rescanning the fact table. The
    // 100 TB pattern: materialize fine-grain sketches, roll up any
    // hierarchy by merge. custkey is unique, so exact region distinct =
    // sum of per-nation exacts (the oracle recomputes it directly).
    Gate("hll_rollup_merge", { (s, dir) =>
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
      """SELECT n_regionkey, count(DISTINCT c_custkey) AS exact_distinct,
         true AS within_bound
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1"""),
    // Weighted heavy hitters: same skewed key, but each event contributes
    // pmod(event_id,100)+1 weight (tokens/bytes/cents in a real pipeline).
    // The Misra–Gries bounds hold with N = total WEIGHT — deterministic,
    // gate every row (same posture as heavy_hitters_topk).
    Gate("heavy_hitters_weighted", { (s, dir) =>
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
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         CAST(sum(event_id % 100 + 1) AS BIGINT) AS exact_w,
         true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1"""),
    // Rollup-by-merge for the counter sketch: per-event-type SpaceSaving
    // summaries merged to a global one with topk_merge_agg — the mergeable-
    // summaries theorem keeps ALL the MG bounds for the combined stream, so
    // the same deterministic per-row gate as heavy_hitters_topk applies to
    // the merged result.
    Gate("topk_rollup_merge", { (s, dir) =>
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
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS heavy_present, true AS bound_ok
         FROM events GROUP BY 1 ORDER BY 1"""),
    // Rollup-by-merge for CMS, completing the family (HLL, top-k,
    // KLL/t-digest, CMS): per-event-type counter sketches merged to a
    // global one with cms_merge_agg. CMS merge is element-wise counter
    // ADDITION, so unlike the other sketches the merged blob is provably
    // byte-identical to a direct one-pass build — gated as byte equality
    // on the blobs, plus the usual no-undercount / eps-overcount bounds
    // vs exact counts.
    Gate("cms_rollup_merge", { (s, dir) =>
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
      """SELECT 'k' || CAST(64 // (user_id % 64 + 1) AS VARCHAR) AS k,
         count(*) AS exact_cnt, true AS merged_equals_direct,
         true AS no_undercount, true AS within_eps
         FROM events GROUP BY 1 ORDER BY 1"""),
    // Rollup-by-merge for the quantile sketches: per-event-type KLL and
    // t-digest blobs merged to GLOBAL ones in-plan (kll_merge_agg /
    // tdigest_merge_agg) — fine-grain blobs built once, any coarser level
    // is a merge, never a fact-table rescan. KLL's rank-error bound
    // survives merge (mergeable-summaries), so the kll_price_quantiles
    // rank-check gate applies unchanged to the merged sketch; the merged
    // t-digest gets a looser empirical bound (merging-digest accuracy
    // degrades ~2x vs single-pass, same posture as tdigest_value_quantiles).
    Gate("quantile_rollup_merge", { (s, dir) =>
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
      """SELECT q_label, true AS kll_within_rank_error,
         true AS td_within_rank_error
         FROM (VALUES ('q10'),('q50'),('q90')) AS t(q_label)
         ORDER BY q_label"""),
    // Scalar HLL union estimation (the reference's estimate_union planning
    // primitive, taxor_build.cpp:470-473): per-event-type user sketches,
    // every pair's |A ∪ B| estimate gated against the exact distinct union
    // within the published 1.04/sqrt(m) bound (|A ∩ B| follows by
    // inclusion–exclusion — the dedup-overlap planning use).
    Gate("hll_union_estimate", { (s, dir) =>
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
      """WITH ty AS (SELECT DISTINCT event_type FROM events),
         p AS (SELECT a.event_type AS et_a, b.event_type AS et_b
               FROM ty a, ty b WHERE a.event_type < b.event_type)
         SELECT et_a, et_b,
           count(DISTINCT CASE WHEN e.event_type IN (et_a, et_b)
                 THEN e.user_id END) AS exact_union,
           true AS within_bound
         FROM p, events e GROUP BY 1,2 ORDER BY 1,2"""),
    // KMV (k-minimum-values) distinct sketch: bottom-k of an engine-portable
    // md5-derived 60-bit hash per event_type (Bar-Yossef et al. 2002).
    // Unlike the HLL gates, the ESTIMATE column itself is gated BYTE-EXACT
    // against DuckDB — integer hash order statistics plus one IEEE division
    // with an exact-Double numerator — alongside the usual statistical
    // bound vs the exact distinct count (sd ~ exact/sqrt(k-2)).
    Gate("kmv_distinct", { (s, dir) =>
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
    // KMV oracles recompute the sketch itself: the md5-derived hash, the
    // bottom-k order statistics, and the estimate expression are all
    // engine-portable (Kmv.hashSql / Kmv.estimateSql are generated from the
    // same single source as the Column code), so kmv_est gates byte-exact.
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
         FROM ex e JOIN agg a USING (event_type) ORDER BY event_type"""),
    // KMV union rollup: per-type sketches merged row-locally (bottom-k of
    // the hash-set union — the min-k law), every pair's |A ∪ B| estimate
    // gated byte-exact AND bound-checked vs the exact distinct union. The
    // deterministic counterpart of hll_union_estimate for dedup-overlap
    // planning: |A ∩ B| follows by inclusion–exclusion.
    Gate("kmv_union_estimate", { (s, dir) =>
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
         FROM ex x JOIN agg a USING (et_a, et_b) ORDER BY et_a, et_b"""),
    // KMV set operations beyond union (theta-sketch-style): Jaccard from
    // the shared fraction within the union's bottom-k sample (Mash / Ondov
    // et al. 2016) and intersection by j * est(U). Integer set algebra over
    // the hash arrays plus one division and one product of integer-derived
    // doubles — BOTH estimates gate byte-exact, alongside a 4-sigma
    // hypergeometric bound vs the exact Jaccard.
    Gate("kmv_jaccard_estimate", { (s, dir) =>
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
    // Jaccard/intersection from KMV sketches: the union bottom-k sample,
    // the shared count within it, and the two estimates all recomputed in
    // full SQL from the same single-source expressions (Kmv.hashSql /
    // jaccardEstimateSql / intersectionEstimateSql) — byte-exact including
    // the estimator values; the bound constant is the interpolated Scala
    // double.
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
         ORDER BY g.et_a, g.et_b"""),
    // Directional containment |A∩B|/|A| — the decontamination direction a
    // symmetric Jaccard cannot see (a tiny eval fully inside a huge train
    // has Jaccard ~ 0 but containment-of-eval = 1). The event-type user
    // sets all coincide (every user hits every type), which would gate a
    // vacuous wall of 1.0s — so the fixture is nested modulus subsets of
    // the user universe (m2/m5/m13), giving genuinely asymmetric pairs
    // (cont(m13 in m2) ~ 1/2 vs cont(m2 in m13) ~ 1/13). Estimates gate
    // byte-exact (same integer-derived IEEE expression trees in both
    // engines); the bound boolean follows the kmv_jaccard precedent.
    Gate("kmv_containment", { (s, dir) =>
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
         ORDER BY g.g_a, g.g_b"""),
    // inter-event latency quantiles from ts (lag window), t-digest bound.
    Gate("latency_quantiles", { (s, dir) =>
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
      """SELECT q_label, true AS within_rank_error FROM (VALUES ('q10'),
         ('q50'),('q90')) AS t(q_label) ORDER BY q_label"""),
    // S6: FracMinHash scaling — distinct-count scale-up estimate within the
    // binomial sampling bound, checked against the exact distinct count.
    Gate("fracminhash_distinct", { (s, dir) =>
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
      """WITH sh AS (SELECT DISTINCT source, substr(text, CAST(i AS INT), 8) AS s
                     FROM documents, generate_series(1, 1000) t(i)
                     WHERE i <= length(text)-7)
         SELECT source, count(*) AS exact_distinct, true AS within_bound
         FROM sh GROUP BY 1 ORDER BY 1"""),
    // S7/S8: minimizer down-selection — sanity density bounds per document.
    Gate("minimizer_density", { (s, dir) =>
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
      """SELECT doc_id, CAST(length(text) - 7 AS BIGINT) AS n_positions,
         true AS density_ok FROM documents ORDER BY doc_id"""),
    // S8: open-syncmer down-selection (the reference's default tokenizer) —
    // sanity density bounds per document: expected density 1/(k-s+1) = 1/5
    // at (k=8, s=4, t=2); gate allows 8x slack below and never exceeds the
    // number of k-gram positions.
    Gate("syncmer_density", { (s, dir) =>
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
      """SELECT doc_id, CAST(length(text) - 7 AS BIGINT) AS n_positions,
         true AS density_ok FROM documents ORDER BY doc_id"""),
    // ---- flagship sketch-build over the canonical transcripts table -------
    // Gated: the generated turns are dumped to a fixed local path that the
    // DuckDB oracle reads back by absolute path (driver + oracle share the
    // box), so exact_convs is value-verified, not rows-only.
    Gate("sketch_build_transcripts", { (s, dir) =>
      val turns = dump(graft.sources.Transcripts.generate(s, nConvs = 2000),
        TranscriptDumpPath)
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
    },
      s"""SELECT role, count(DISTINCT conv_id) AS exact_convs,
         true AS hll_within_bound, true AS quantiles_sane
         FROM '$TranscriptDumpPath/*.parquet' GROUP BY 1 ORDER BY 1""")
  )

  /** Fixed dump path for the generated transcripts table (see [[dump]]). */
  private val TranscriptDumpPath = "/tmp/graft_verify_transcripts"

  /** Dump path for the sketch-derived equi-depth range boundaries: the
    * boundaries are KLL output (driver-side doubles the oracle cannot
    * recompute), so the gate dumps them and the oracle recomputes the
    * per-bucket counts from the SAME boundary values byte-exactly. */
  private val RangeBoundsDumpPath = "/tmp/graft_verify_range_bounds"

  private def cents(c: Column): Column = round(c * 100).cast("long")

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
}
