package graft.operators

import graft.GraftFunctions._
import graft.sketch.{Kll, SpaceSaving}
import graft.sources.runParallel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-drift monitoring between two dataset snapshots — the questions a
  * training-data pipeline asks every time a corpus version ships: "did this
  * numeric distribution move?" (two-sample Kolmogorov–Smirnov distance from
  * two KLL sketches) and "which keys changed frequency?" (heavy-change
  * detection from per-snapshot SpaceSaving candidates + CMS estimates —
  * Cormode & Muthukrishnan's change-detection question as sketch algebra).
  *
  * Both operators are ONE aggregate pass per snapshot; only fixed-size
  * sketch blobs reach the driver, so they run on 10^12-row snapshots at the
  * cost of two scans — no join, no key-level shuffle between the versions.
  *
  * Reference analogue: Taxor's profile step compares per-reference hit
  * distributions between search runs (src/main/taxor_profile.cpp:519-541);
  * this is the same snapshot-vs-snapshot comparison generalized to any
  * keyed/valued column pair.
  */
object Drift {

  /** KS estimate with its gate slack: |estimate − true KS| ≤ slack with the
    * sketches' published rank-error confidence. */
  final case class KsEstimate(estimate: Double, slack: Double, na: Long, nb: Long)

  /** Two-sample Kolmogorov–Smirnov distance sup_x |F_a(x) − F_b(x)| between
    * a numeric expression's distribution in two snapshots, estimated from
    * two KLL sketches (ONE aggregate pass per side). The sup is evaluated
    * on the union of the sketches' stored support points, probing both the
    * strictly-below and at-or-below ranks (a difference of step CDFs
    * attains its sup at a jump). Error: pointwise rank error eps_a + eps_b,
    * plus the same again for support-grid quantization — `slack` is
    * 3·(eps_a + eps_b). */
  def ksDistance(
      a: DataFrame,
      xColA: String,
      b: DataFrame,
      xColB: String,
      k: Int = 200): KsEstimate = {
    graft.GraftFunctions.register(a.sparkSession)
    // the two snapshot passes are independent jobs — overlap them
    // (guide §2.6); blobs are partition-merge deterministic either way
    val ks = new Array[Kll](2)
    runParallel(
      () => ks(0) = Kll.fromBytes(
        a.agg(kll_agg(col(xColA), k)).first().getAs[Array[Byte]](0)),
      () => ks(1) = Kll.fromBytes(
        b.agg(kll_agg(col(xColB), k)).first().getAs[Array[Byte]](0)))
    val (ka, kb) = (ks(0), ks(1))
    KsEstimate(Kll.ksDistance(ka, kb),
      3.0 * (ka.rankErrorBound + kb.rankErrorBound), ka.n, kb.n)
  }

  /** One group's KS drift between snapshots. */
  final case class GroupKs(
      group: String, estimate: Double, slack: Double, na: Long, nb: Long)

  /** Per-group two-sample KS between snapshots — the GROUP BY form of
    * [[ksDistance]]: one mergeable-KLL aggregation pass per side (the
    * whole-stage-codegen-friendly GROUP BY sketch shape), then pairwise
    * driver-side comparison of the per-group blobs. Driver state is
    * O(groups · k) sketch bytes — group columns like role/event_type/lang
    * are low-cardinality by construction; for unbounded group domains
    * compare shard-wise instead. Groups present in only one snapshot are
    * skipped (no two distributions to compare). */
  def groupedKsDistance(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      xCol: String,
      k: Int = 200): Seq[GroupKs] = {
    graft.GraftFunctions.register(a.sparkSession)
    def sketches(df: DataFrame): Map[String, Kll] =
      df.groupBy(col(groupCol)).agg(kll_agg(col(xCol), k).as("kll"))
        .collect()
        .map(r => r.getString(0) -> Kll.fromBytes(r.getAs[Array[Byte]](1)))
        .toMap
    // independent per-snapshot aggregation jobs — overlap them (guide §2.6)
    val ms = new Array[Map[String, Kll]](2)
    runParallel(
      () => ms(0) = sketches(a),
      () => ms(1) = sketches(b))
    val (ma, mb) = (ms(0), ms(1))
    ma.keySet.intersect(mb.keySet).toSeq.sorted.map { g =>
      val (ka, kb) = (ma(g), mb(g))
      GroupKs(g, Kll.ksDistance(ka, kb),
        3.0 * (ka.rankErrorBound + kb.rankErrorBound), ka.n, kb.n)
    }
  }

  /** Driver-side twin of Spark's `xxhash64(string)` (seed 42 over the UTF-8
    * bytes) — lets sketches built in-plan be probed on the driver with the
    * SAME key hashes. Contract locked by a spec against the in-plan
    * expression. */
  def sparkXxhash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** One key's frequency movement between snapshots. `estDelta` is
    * estAfter − estBefore; CMS one-sidedness bounds it inside
    * [trueDelta − epsB·Nbefore, trueDelta + epsA·Nafter]. */
  final case class KeyChange(
      key: String, estBefore: Long, estAfter: Long, flagged: Boolean) {
    def estDelta: Long = estAfter - estBefore
  }

  /** Heavy-change detection: keys whose frequency moved by at least
    * `theta · (Nbefore + Nafter)` between the snapshots.
    *
    * Candidates come from one SpaceSaving pass per side (any key with
    * frequency ≥ N/(capacity+1) on EITHER side is tracked — a key whose
    * |Δf| ≥ θ(Na+Nb) has max(f_before, f_after) ≥ θ(Na+Nb)/2, so
    * `capacity ≥ 2/θ` makes the candidate set provably complete; the
    * default capacity enforces 4/θ for slack). Frequencies are then
    * estimated per candidate from one CMS per side, and a candidate flags
    * when |estΔ| ≥ θ(Na+Nb). Detection guarantee: no false negatives among
    * keys with true |Δf| ≥ θ(Na+Nb) + epsA·Na + epsB·Nb; no false
    * positives among keys with true |Δf| ≤ θ(Na+Nb) − epsA·Na − epsB·Nb
    * (within the sketches' δ confidence). Driver state is O(capacity) —
    * scale-independent. */
  def heavyChange(
      before: DataFrame,
      after: DataFrame,
      key: String,
      theta: Double,
      eps: Double = 1e-4,
      delta: Double = 0.01,
      seed: Long = DefaultSeed): Seq[KeyChange] = {
    require(theta > 0 && theta < 1, s"theta=$theta")
    // the key column must already be string-typed: topk_agg stringifies its
    // input while cms_agg hashes the RAW value, and the driver-side probe
    // hashes the candidate STRING — a silent cast would de-synchronize them
    require(before.schema(key).dataType ==
        org.apache.spark.sql.types.StringType &&
      after.schema(key).dataType == org.apache.spark.sql.types.StringType,
      s"heavyChange key column '$key' must be string-typed on both sides")
    graft.GraftFunctions.register(before.sparkSession)
    val capacity = math.max(16, math.ceil(4.0 / theta).toInt)
    def pass(df: DataFrame): (SpaceSaving, Array[Byte]) = {
      val r = df.agg(
        topk_agg(col(key), capacity).as("ss"),
        cms_agg(col(key), eps, delta, seed).as("cms")).first()
      (SpaceSaving.fromBytes(r.getAs[Array[Byte]](0)), r.getAs[Array[Byte]](1))
    }
    // independent per-snapshot passes — overlap them (guide §2.6)
    val ps = new Array[(SpaceSaving, Array[Byte])](2)
    runParallel(
      () => ps(0) = pass(before),
      () => ps(1) = pass(after))
    val ((ssA, cmsA), (ssB, cmsB)) = (ps(0), ps(1))
    val na = graft.sketch.CountMin.totalWeight(cmsA)
    val nb = graft.sketch.CountMin.totalWeight(cmsB)
    val threshold = theta * (na + nb)
    val candidates =
      (ssA.topK(capacity).map(_._1) ++ ssB.topK(capacity).map(_._1)).distinct
    def est(cms: Array[Byte], k: String): Long =
      graft.sketch.CountMin.estimate(cms, sparkXxhash64(k))
    candidates.sorted.map { k =>
      val ea = est(cmsA, k)
      val eb = est(cmsB, k)
      KeyChange(k, ea, eb, math.abs(eb - ea) >= threshold)
    }
  }
}
