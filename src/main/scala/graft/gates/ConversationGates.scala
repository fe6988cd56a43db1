package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Conversation-structure curation over generated transcripts, and
  * the streaming twins under the batch oracles. */
private[graft] object ConversationGates {
  def gates: Seq[Gate] = Seq(
    // ---- conversation-structure curation over the input_hint shape --------
    // The transcript generator is Spark-only, so each gate dumps its
    // (deterministically mutated) turn table to a fixed path the oracle
    // reads back, then re-derives the full result in DuckDB. Damage is
    // PLANTED (dropped turn_idx 2 for convs ≡5 mod 13; doubled turn_idx 1
    // for convs ≡4 mod 17; re-ingested "-dup" conversations for ≡0 mod 7)
    // so gapless/dup_idx/is_canonical are non-vacuous.
    Gate("conv_integrity", { (s, dir) =>
      Conversations.integrity(damagedConvs(s)).orderBy("conv_id")
    },
    // the conv_* oracles re-derive integrity / fingerprints / transitions
    // from the dumped MUTATED turn tables; ordering inside a conversation
    // is (turn_idx, role, text) on both sides — total even under planted
    // duplicate indices, so every hex fingerprint gates byte-exact
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
         FROM t GROUP BY conv_id ORDER BY conv_id"""),
    Gate("conv_dedup", { (s, dir) =>
      Conversations.dedup(dupConvs(s)).orderBy("conv_id")
    },
      s"""WITH fp AS (SELECT conv_id,
             md5(string_agg(role || chr(31) || text, chr(30)
               ORDER BY turn_idx, role, text)) AS conv_fp
           FROM '$ConvDupDumpPath/*.parquet' GROUP BY 1),
         canon AS (SELECT conv_fp, min(conv_id) AS canonical_id
                   FROM fp GROUP BY 1)
         SELECT conv_id, canonical_id, conv_id = canonical_id AS is_canonical
         FROM fp JOIN canon USING (conv_fp) ORDER BY conv_id"""),
    Gate("conv_role_transitions", { (s, dir) =>
      Conversations.roleTransitions(damagedConvs(s))
        .orderBy("role_from", "role_to")
    },
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
         FROM e GROUP BY 1,2 ORDER BY 1,2"""),
    // Inactivity-gap sessionization. The generator's inter-turn gaps are
    // 60 + (hash mod 59) - (prev hash mod 59) seconds ∈ [2, 118], so a
    // 90 s threshold splits sessions on a data-dependent, deterministic
    // subset of turns — non-vacuous at any scale.
    Gate("conv_sessionize", { (s, dir) =>
      Conversations.sessionize(damagedConvs(s), gapSeconds = 90)
        .select("conv_id", "turn_idx", "role", "session_idx")
        .orderBy("conv_id", "turn_idx", "role")
    },
      sessionizeSql),
    // SFT packing with a loss mask: the damaged fixture concatenated in
    // md5(conv_id) order, chunked into 512-token windows (token count =
    // char length — integral, engine-portable), assistant turns trainable.
    // Pure integer div/pmod window arithmetic — byte-exact; the planted
    // double-delivered turns are full-row-identical, so their two cumsum
    // values are interchangeable as a multiset in both engines.
    Gate("conv_pack_mask", { (s, dir) =>
      val turns = damagedConvs(s)
        .withColumn("tok", length(col("text")).cast("long"))
      Conversations.packWithLossMask(turns, "tok", ctxTokens = 512)
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("window_id"), col("window_off"), col("n_windows"),
          col("trainable"))
        .orderBy("conv_id", "turn_idx", "role")
    },
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
         FROM o ORDER BY conv_id, turn_idx, role"""),
    // Incremental conv-level dedup vs a persisted fingerprint index, two
    // waves: wave 1 probes (fresh odd convs + "-dup" re-ingests of indexed
    // evens — must match), then the WHOLE wave is appended and wave 2
    // ("-dup2" re-ingests of wave-1 odds) must match the APPENDED entries
    // — arrival-order canonicalization end-to-end. The oracle re-derives
    // both index states from the single dumped (wave, turns) table.
    Gate("conv_dedup_index", { (s, dir) =>
      val num = substring_index(col("conv_id"), "-", -1).cast("long")
      val base = graft.sources.Transcripts.generate(s, nConvs = 350)
      val idxTurns = base.where(pmod(num, lit(2)) === 0)
      val wave1 = base.where(pmod(num, lit(2)) === 1).unionByName(
        base.where(pmod(num, lit(14)) === 0)
          .withColumn("conv_id", concat(col("conv_id"), lit("-dup"))))
      val wave2 = base.where(pmod(num, lit(10)) === 1)
        .withColumn("conv_id", concat(col("conv_id"), lit("-dup2")))
      val all = dump(idxTurns.withColumn("wave", lit(0))
        .unionByName(wave1.withColumn("wave", lit(1)))
        .unionByName(wave2.withColumn("wave", lit(2))), ConvIndexDumpPath)
      def wave(n: Int) = all.where(col("wave") === n).drop("wave")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-conv-fpidx-gate").toString
      Conversations.buildFingerprintIndex(wave(0), idx)
      // the wave-1 probe must be MATERIALIZED (parquet, not a persist()
      // cache) before the append mutates the index: an evicted cache would
      // silently recompute the probe against the post-append index, where
      // every wave-1 conversation matches itself
      val wave1Result = java.nio.file.Files
        .createTempDirectory("graft-conv-wave1-gate").toString
      Conversations.dedupAgainstIndex(wave(1), idx)
        .withColumn("wave", lit(1))
        .write.mode("overwrite").parquet(wave1Result)
      Conversations.appendToFingerprintIndex(wave(1), idx)
      val r2 = Conversations.dedupAgainstIndex(wave(2), idx)
        .withColumn("wave", lit(2))
      s.read.parquet(wave1Result).unionByName(r2)
        .select("wave", "conv_id", "match_id", "is_duplicate")
        .orderBy("wave", "conv_id")
    },
    // both index states (initial build + post-append) re-derived from the
    // single dumped (wave, turns) table; arrival-order canonicalization =
    // min conv_id per fingerprint within the wave that first saw it
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
         FROM r ORDER BY wave, conv_id"""),
    // Streaming twin under the SAME oracle SQL: the damaged fixture fed
    // through flatMapGroupsWithState custom state over three real
    // micro-batches, in global ts order (which preserves each conv's
    // canonical order — within a conv ts strictly increases with turn_idx
    // and no inter-turn gap approaches the 2h eviction watermark).
    Gate("stream_sessionize", { (s, dir) =>
      import s.implicits._
      val rows = damagedConvs(s)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("ts"))
        .as[graft.streaming.SessTurn].collect()
        .sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx, t.role, t.text))
      val sink = drainStream(s, rows.toSeq) { turns =>
        graft.streaming.StreamingSketch
          .sessionizeStream(turns, gapSeconds = 90)
          .writeStream.format("memory").outputMode("append")
      }
      s.table(sink)
        .select("conv_id", "turn_idx", "role", "session_idx")
        .orderBy("conv_id", "turn_idx", "role")
    },
    // streaming twin gated against the IDENTICAL derivation — custom
    // keyed state over real micro-batches must reproduce the batch window
      sessionizeSql),
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
    Gate("stream_ks_drift", { (s, dir) =>
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
      // a sentinel far past the last day advances the watermark so every
      // real window closes; its own window never closes, never emits
      val sentinel = graft.streaming.ValuePoint(
        new java.sql.Timestamp(rows.last.ts.getTime + 30L * 86400000L), 0.0)
      val sink = drainStream(s, rows.toSeq, sentinel) { points =>
        graft.streaming.StreamingSketch
          .windowedKsDrift(points, "x", refBlob, "1 day", "2 days",
            k = 200, threshold = 0.5)
          .writeStream.format("memory").outputMode("append")
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
         GROUP BY cum.day, nb HAVING min(t.na) >= 50 ORDER BY day""")
  )

  /** Fixed dump paths for the conversation-structure gates (conv_*): the
    * damage/duplication planting is Spark-only, so the oracle re-reads the
    * MUTATED turn tables by absolute path and re-derives integrity /
    * fingerprints / transitions from them (the [[dump]] convention). */
  private val ConvDamagedDumpPath = "/tmp/graft_verify_convs_damaged"
  private val ConvDupDumpPath = "/tmp/graft_verify_convs_dup"

  /** Dump path for the conv-fingerprint-index gate's (wave, turns) table. */
  private val ConvIndexDumpPath = "/tmp/graft_verify_convs_index"

  /** Generate + plant structural damage + dump + read back (shared by
    * every gate that reads the damaged fixture). */
  private def damagedConvs(s: SparkSession): DataFrame =
    dump(Conversations.plantDamage(
      graft.sources.Transcripts.generate(s, nConvs = 600)), ConvDamagedDumpPath)

  /** Generate + re-ingest duplicate conversations + dump + read back. */
  private def dupConvs(s: SparkSession): DataFrame =
    dump(Conversations.plantDuplicates(
      graft.sources.Transcripts.generate(s, nConvs = 350)), ConvDupDumpPath)

  /** conv_sessionize AND stream_sessionize oracle (shared — the streaming
    * twin must reproduce the batch window exactly). DuckDB epoch(ts) is
    * double-valued but integral here (the generator emits whole-second
    * timestamps), so the BIGINT cast is exact; the planted byte-identical
    * duplicate rows NEED the prev_es tie-break in the outer window: lag
    * (CTE) and the running sum are two separately sorted windows in
    * DuckDB, and the tied copies carry DIFFERENT prev_es — without the
    * tie-break the sum's result depends on the engine's internal tie order
    * ((1,1) vs (0,1); seen flipping once under host-steal load). Spark
    * evaluates both frames in ONE Window pass over one sort, so the engine
    * side is order-stable. */
  private def sessionizeSql: String =
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
         FROM t ORDER BY conv_id, turn_idx, role"""
}
