package graft.operators

import graft.sources.SketchTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation-structure curation over the canonical transcript shape
  * (conv_id, turn_idx, role, text, tool, ts) — the BASELINE.json
  * `input_hint` table. Three operators a transcript-training pipeline
  * runs before any text-level work:
  *
  *  1. [[integrity]] — per-conversation structural validation: turn-index
  *     contiguity (gapless 0..n-1, no duplicate indices), adjacent
  *     same-role repeats, first/last role. Broken conversations (a
  *     re-ingestion dropped or double-delivered a turn) poison
  *     downstream packing and loss masking, so this is the first gate a
  *     transcript corpus passes.
  *  2. [[fingerprints]] / [[dedup]] — conversation-LEVEL exact dedup: two
  *     conversations are duplicates iff their ordered (role, text) turn
  *     sequences are byte-identical (the north-rule invariant: per-turn
  *     text equality under stable turn ordering). Min-conv_id
  *     canonicalization, same contract as [[Dedup.exactCanonical]] one
  *     granularity up.
  *  3. [[roleTransitions]] — corpus-wide (role → next role) transition
  *     counts, the structural histogram that catches a corrupted
  *     interleave (e.g. assistant→assistant mass from dropped user turns).
  *
  * Scale shape: each operator is ONE shuffle keyed on `conv_id` (a short
  * string), with all per-turn work either row-local or window work inside
  * the conv_id partition; `text` crosses the wire only as the member list
  * of the fingerprint aggregation (unavoidable: the fingerprint is a
  * function of every turn's bytes) and never as a shuffle KEY.
  * [[roleTransitions]]'s second shuffle is the (role, next_role) count —
  * 16 groups. At 10^12 turns everything here is linear.
  *
  * Engine portability: fingerprints are md5 hex over ASCII with
  * unit-separator joins (chr(31) between fields, chr(30) between turns),
  * computed in Spark via sort_array(collect_list(struct(...))) and in
  * DuckDB via string_agg(... ORDER BY turn_idx, role, text) — the struct
  * sort is lexicographic by field, so both engines order duplicated
  * turn_idx rows identically and the hex strings gate byte-exact.
  */
object Conversations {

  /** Field separator (chr 31) inside a turn, turn separator (chr 30)
    * between turns — neither occurs in the transcript token text. */
  val FieldSep = "\u001f"
  val TurnSep = "\u001e"

  /** Per-conversation structural validation. One shuffle (conv_id); the
    * adjacency scan is a lag window inside the same partitioning.
    *
    * Output: (conv_id, n_turns, n_distinct_idx, min_idx, max_idx,
    * gapless, dup_idx, role_repeats, first_role, last_role).
    * `gapless` = indices are exactly 0..n-1 with no duplicates;
    * `role_repeats` counts adjacent turns (by turn_idx order) sharing a
    * role — duplicated-index rows sort deterministically by (turn_idx,
    * role, text) so the count is partitioning-invariant. */
  def integrity(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "role", "text")
    turns
      .withColumn("__prev_role", lag(col("role"), 1).over(w))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_turns"),
        countDistinct(col("turn_idx")).as("n_distinct_idx"),
        min(col("turn_idx")).as("min_idx"),
        max(col("turn_idx")).as("max_idx"),
        sum(when(col("role") === col("__prev_role"), 1L).otherwise(0L))
          .as("role_repeats"),
        min_by(col("role"), struct(col("turn_idx"), col("role"), col("text")))
          .as("first_role"),
        max_by(col("role"), struct(col("turn_idx"), col("role"), col("text")))
          .as("last_role"))
      .withColumn("gapless",
        col("n_distinct_idx") === col("n_turns") &&
          col("min_idx") === 0 && col("max_idx") === col("n_turns") - 1)
      .withColumn("dup_idx", (col("n_turns") - col("n_distinct_idx")).cast("long"))
      .select("conv_id", "n_turns", "n_distinct_idx", "min_idx", "max_idx",
        "gapless", "dup_idx", "role_repeats", "first_role", "last_role")
  }

  /** (conv_id, conv_fp): md5 hex of the ordered (role, text) turn
    * sequence. Turn ordering is (turn_idx, role, text) — total even under
    * duplicated indices. tool/ts are NOT part of the fingerprint: identity
    * is the visible dialogue, per the north-rule invariant. */
  def fingerprints(turns: DataFrame): DataFrame =
    turns
      .groupBy("conv_id")
      .agg(md5(array_join(
        transform(
          sort_array(collect_list(struct(
            col("turn_idx"), col("role"), col("text")))),
          x => concat(x("role"), lit(FieldSep), x("text"))),
        TurnSep)).as("conv_fp"))

  /** Conversation-level exact dedup: (conv_id, canonical_id, is_canonical)
    * with min-conv_id-per-fingerprint canonicalization (conv_id is a
    * string; "min" is byte order — deterministic). Two shuffles: the
    * fingerprint agg (conv_id) and the canonical-per-fp agg (conv_fp, a
    * 32-char hex string). */
  def dedup(turns: DataFrame): DataFrame = {
    val fps = fingerprints(turns)
    val canon = fps.groupBy("conv_fp").agg(min(col("conv_id")).as("canonical_id"))
    fps.join(canon, Seq("conv_fp"))
      .select(col("conv_id"), col("canonical_id"),
        (col("conv_id") === col("canonical_id")).as("is_canonical"))
  }

  /** Corpus-wide (role, next_role, n) transition counts; the first/last
    * turns of each conversation contribute sentinel transitions from/to
    * '^' / '$' so conversation boundaries are visible in the histogram.
    *
    * ONE window pass emits each turn's incoming edge plus (for the last
    * turn) the closing sentinel edge — a union of two window branches
    * would scan and shuffle the turn table twice for the same result. */
  def roleTransitions(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "role", "text")
    // window expressions must be materialized as plain columns BEFORE the
    // generator projection — Spark rejects them inside explode()'s child
    turns
      .withColumn("__prev", lag(col("role"), 1).over(w))
      .withColumn("__last", lead(col("role"), 1).over(w).isNull)
      .select(explode(filter(array(
        struct(coalesce(col("__prev"), lit("^")).as("role_from"),
          col("role").as("role_to")),
        when(col("__last"),
          struct(col("role").as("role_from"), lit("$").as("role_to")))),
        x => x.isNotNull)).as("e"))
      .select(col("e.role_from"), col("e.role_to"))
      .groupBy("role_from", "role_to")
      .agg(count(lit(1)).as("n"))
  }

  /** Split each conversation into sessions on inactivity gaps: a turn
    * whose `ts` is more than `gapSeconds` after the previous turn (in the
    * canonical (turn_idx, role, text) order) starts a new session.
    * Appends `session_idx` (0-based running count of gap boundaries) to
    * the input rows. ONE conv_id shuffle; the lag and the running sum
    * share the window sort.
    *
    * Determinism: timestamps enter as whole epoch seconds (`cast long` —
    * the generator emits integral-second ts; sub-second inputs truncate
    * identically in both engines only at whole seconds, so gate data must
    * be integral), and byte-identical duplicate rows are safe HERE because
    * Spark evaluates the lag frame and the running-sum frame in one Window
    * pass over one physical sort — both copies land in the same session
    * whichever sorts first. An oracle that computes the lag and the sum in
    * two separately sorted windows (the DuckDB two-level shape) must pin
    * the tie with `prev_es` in the outer ORDER BY, or the tied copies'
    * differing prev values make the running sum order-sensitive. */
  def sessionize(turns: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "role", "text")
    val es = col("ts").cast("long")
    val gap = when(
      es - lag(es, 1).over(w) > gapSeconds, 1L).otherwise(0L)
    turns.withColumn("session_idx",
      sum(gap).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The conversation-fingerprint index's kind and its one table. */
  private val IndexKind = "conv_fingerprint"
  private val Fps = SketchTable.Table("fps")

  /** Persisted conversation-fingerprint index — the conv-level twin of
    * [[Dedup.buildFingerprintIndex]], and the reason a growing transcript
    * corpus never re-reads its history: the index is ONE (conv_fp,
    * canonical_id) row per distinct dialogue (32-hex string + id), so a
    * 10^12-turn corpus probes new batches against a table the size of its
    * conversation count. Kind-checked manifest; wrong-kind dirs fail
    * loudly ([[graft.sources.SketchTable.open]]). */
  def buildFingerprintIndex(turns: DataFrame, dir: String): Unit =
    SketchTable.create(turns.sparkSession, dir, IndexKind, Map.empty) {
      _.write(Fps, fingerprints(turns)
        .groupBy("conv_fp").agg(min(col("conv_id")).as("canonical_id")))
    }

  /** Probe a batch of conversations against the persisted index:
    * (conv_id, match_id, is_duplicate) — match_id is the indexed
    * canonical conversation with the identical ordered (role, text)
    * dialogue, null when unseen. The batch's per-turn work is one
    * fingerprint aggregation; the index side is a (32-hex, id) table. */
  def dedupAgainstIndex(turns: DataFrame, dir: String): DataFrame = {
    val idx = SketchTable.open(turns.sparkSession, dir, IndexKind)
    fingerprints(turns)
      .join(idx.read(Fps), Seq("conv_fp"), "left")
      .select(col("conv_id"), col("canonical_id").as("match_id"),
        col("canonical_id").isNotNull.as("is_duplicate"))
  }

  /** Fold a new batch into the index: only fingerprints the index has
    * NOT seen are appended (arrival-order canonicalization — the
    * first-arrived conversation stays canonical, identical to [[dedup]]'s
    * min-id rule under monotone ingest ids). Idempotent per fingerprint
    * (anti-join guard, snapshotted before the append write so the job
    * never re-lists the directory it is growing); a batch with nothing new
    * writes nothing, otherwise the manifest `appends` counter is bumped. */
  def appendToFingerprintIndex(turns: DataFrame, dir: String): Unit =
    SketchTable.append(turns.sparkSession, dir, IndexKind) { (idx, hold) =>
      val fresh = hold(fingerprints(turns)
        .groupBy("conv_fp").agg(min(col("conv_id")).as("canonical_id"))
        .join(idx.read(Fps).select("conv_fp"), Seq("conv_fp"), "left_anti"))
      SketchTable.NewRows(Seq(Fps -> fresh), fresh.count(), ())
    }

  // ---- deterministic corruption planting (gate fixtures) -----------------

  /** SFT-assembly packing with a loss mask — the step that turns a curated
    * transcript corpus into fixed-context training windows: conversations
    * concatenate in the engine-portable md5("<seed>:"+conv_id) order
    * (turns inside each conversation in canonical (turn_idx, role, text)
    * order), the token stream chunks into `ctxTokens` windows, and each
    * turn is marked `trainable` (loss unmasked) iff its role is in
    * `trainRoles` — assistant turns by default; user/system/tool turns
    * are context-only. Same concat-and-chunk integer arithmetic as
    * [[Sampling.packWindows]] (div/pmod over integer token counts —
    * byte-exact across engines, stable under repartitioning,
    * append-monotone per stratum in the suffix sense).
    *
    * `tokensCol` is the caller's per-turn token count (a TextStats
    * counter, a BPE count, or char length); turns with null/non-positive
    * counts are excluded from the stream (the packWindows posture).
    *
    * Scale shape: one stratum-wide window cumsum (pack per source/shard,
    * not one global stratum, at 100 TB — the packWindows note); the mask
    * is a row-local comparison.
    *
    * Output: all input columns plus pack_start / window_id / window_off /
    * n_windows / trainable. */
  def packWithLossMask(
      turns: DataFrame,
      tokensCol: String,
      ctxTokens: Long,
      strataCols: Seq[String] = Nil,
      seed: String = "graft",
      trainRoles: Seq[String] = Seq("assistant")): DataFrame = {
    require(ctxTokens > 0, s"ctxTokens must be positive, got $ctxTokens")
    require(trainRoles.nonEmpty, "trainRoles must not be empty")
    Seq("pack_start", "window_id", "window_off", "n_windows", "trainable")
      .foreach(c => require(!turns.columns.contains(c),
        s"input already has a '$c' column"))
    val h = md5(concat(lit(seed + ":"), col("conv_id")))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(h, col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns.where(col(tokensCol).isNotNull && col(tokensCol) > 0)
      .withColumn("pack_start",
        sum(col(tokensCol).cast("long")).over(w) - col(tokensCol))
      .withColumn("window_id", expr(s"pack_start div $ctxTokens"))
      .withColumn("window_off", pmod(col("pack_start"), lit(ctxTokens)))
      .withColumn("n_windows",
        expr(s"(pack_start + cast(`$tokensCol` as bigint) - 1) div $ctxTokens")
          - col("window_id") + 1)
      .withColumn("trainable", col("role").isin(trainRoles: _*))
  }

  /** Plant structural damage into a clean transcript table so the
    * integrity gate is non-vacuous, deterministically:
    *  - conversations whose numeric id ≡ 5 (mod 13) LOSE turn_idx 2
    *    (a gap — n_turns must be ≥ 4 for the damage to be a strict gap);
    *  - conversations whose numeric id ≡ 4 (mod 17) get turn_idx 1
    *    DUPLICATED (double delivery; the copy keeps identical bytes).
    * `conv_id` must end in a numeric suffix (conv-%06d). Spark-only: the
    * oracle reads the DUMPED mutated table, not this generator. */
  def plantDamage(turns: DataFrame): DataFrame = {
    val num = substring_index(col("conv_id"), "-", -1).cast("long")
    val dropped = turns.where(!(pmod(num, lit(13)) === 5 && col("turn_idx") === 2))
    val dup = turns.where(pmod(num, lit(17)) === 4 && col("turn_idx") === 1)
    dropped.unionByName(dup)
  }

  /** Re-ingest a deterministic subset as duplicate conversations: convs
    * with numeric id ≡ 0 (mod 7) reappear under conv_id + "-dup" with
    * identical turns. Spark-only (gate fixture). */
  def plantDuplicates(turns: DataFrame): DataFrame = {
    val num = substring_index(col("conv_id"), "-", -1).cast("long")
    turns.unionByName(
      turns.where(pmod(num, lit(7)) === 0)
        .withColumn("conv_id", concat(col("conv_id"), lit("-dup"))))
  }
}
