package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling, mixtures, packing, splits and export
  * shards. */
private[graft] object SamplingGates {
  def gates: Seq[Gate] = Seq(
    // Deterministic stratified bottom-k-by-hash sampling: 10 docs per
    // source, ranked by md5("graft:<id>") — engine-portable, so the oracle
    // reproduces the EXACT sample (byte-equality gate, not a bound).
    // Weighted priority sampling: length-weighted 10-per-source sample.
    // priority = (60-bit md5 hash) / weight — one IEEE division of
    // integer-derived operands, so the oracle reproduces the EXACT sample
    // (byte-equality), like sample_bottomk.
    Gate("sample_weighted", { (s, dir) =>
      Sampling.weightedBottomK(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              length(col("text")).cast("long").as("w")),
          Seq("source"), "doc_id", "w", k = 10)
        .select(col("source"), col("doc_id"), col("w"),
          col("rk").cast("int").as("rk"))
        .orderBy("source", "doc_id")
    },
    // the null/non-positive-weight exclusion MUST mirror
    // Sampling.weightedBottomK's guard — an empty/null-text doc in a
    // small stratum would otherwise rank in the oracle but not in Spark
      s"""WITH r AS (SELECT source, doc_id,
           CAST(length(text) AS BIGINT) AS w,
           row_number() OVER (PARTITION BY source
             ORDER BY CAST(${Kmv.hashSql("CAST(doc_id AS VARCHAR)", "graft")}
                        AS DOUBLE) / CAST(length(text) AS DOUBLE),
                      doc_id) AS rk
         FROM documents
         WHERE text IS NOT NULL AND length(text) > 0)
         SELECT source, doc_id, w, CAST(rk AS INT) AS rk FROM r
         WHERE rk <= 10 ORDER BY source, doc_id"""),
    Gate("sample_bottomk", { (s, dir) =>
      Sampling.bottomK(t(s, dir, "documents").select("doc_id", "source"),
          Seq("source"), "doc_id", k = 10)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy("source", "doc_id")
    },
      """WITH r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents)
         SELECT source, doc_id, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
         ORDER BY source, doc_id"""),
    // Mixture construction by per-source RATE (web 12% / code 100% ...):
    // keep iff the id's md5 prefix clears the source's 1/256-granular
    // threshold — nested across rates, append-stable, byte-equality gate
    // (thresholds from ONE Scala constant shared with the oracle builder).
    Gate("sample_mixture", { (s, dir) =>
      Sampling.rateSample(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", MixtureRates, "doc_id")
        .orderBy("doc_id")
    }, {
      // sample_mixture oracle: thresholds come from the SAME
      // Sampling.rateThresholds call the engine path uses (single source —
      // including the sub-granularity reject), rendered over the '#rate'
      // hash domain.
      val conds = Sampling.rateThresholds(MixtureRates).map {
        case (g, None) => s"(source = '$g')"
        case (g, Some(bound)) =>
          s"(source = '$g' AND substr(md5('graft#rate:' || " +
            s"CAST(doc_id AS VARCHAR)), 1, 2) < '$bound')"
      }.mkString(" OR ")
      s"""SELECT doc_id, source FROM documents
        WHERE $conds ORDER BY doc_id"""
    }),
    // Temperature-flattened mixture (rates ∝ n^(alpha-1), computed
    // IN-PLAN from the observed group sizes): grouped on the derived
    // skew key pattern from heavy_hitters_topk so the buckets are
    // non-trivial (~8x size spread). alpha = 0.5 keeps every derived
    // double one correctly-rounded IEEE op (divide, sqrt, x·256, floor)
    // from integer inputs — byte-equality gate incl. the bucket column.
    Gate("sample_temperature", { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("grp", expr("CAST(16 div (pmod(doc_id, 16) + 1) AS INT)"))
        .select("doc_id", "grp")
      Sampling.temperatureSample(docs, "grp", "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("grp"), col("temp_bucket"))
        .orderBy("doc_id")
    },
    // temperature mixture: the bucket chain (count -> min -> divide ->
    // sqrt -> *256 -> floor -> clamp) mirrors Sampling.temperatureSample
    // op for op — every step correctly rounded from integer inputs, so
    // the kept set AND the bucket column gate byte-exact; the md5-prefix
    // decode is the 2-digit cousin of Kmv.decodeHexSql
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
         WHERE h.hv < r.temp_bucket ORDER BY doc_id"""),
    // Token-budget fill per source: hash-ordered cumulative-sum cutoff —
    // "fill N tokens per source, reproducibly". Integer weights in a
    // deterministic order ⇒ byte-equality gate.
    Gate("sample_token_budget", { (s, dir) =>
      Sampling.tokenBudget(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("w")),
          Seq("source"), "doc_id", "w", budget = 1500)
        .select(col("source"), col("doc_id"), col("w"), col("cum_w"))
        .orderBy("source", "doc_id")
    },
    // explicit ROWS frame (DuckDB's default with ORDER BY is RANGE, which
    // differs on peer rows); CAST around the window sum: DuckDB sum(BIGINT)
    // is HUGEINT and the driver hash is type-sensitive
      """WITH r AS (SELECT source, doc_id,
           CAST(length(text) AS BIGINT) AS w,
           CAST(sum(CAST(length(text) AS BIGINT)) OVER (PARTITION BY source
             ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_w
         FROM documents
         WHERE text IS NOT NULL AND length(text) > 0)
         SELECT source, doc_id, w, cum_w FROM r WHERE cum_w <= 1500
         ORDER BY source, doc_id"""),
    // DSIR-style importance resampling (Xie et al. 2023): char-trigram
    // target model (lang = 'en' docs) vs raw model (whole corpus), per-doc
    // fixed-point mean likelihood ratio, deterministic top-50 selection
    // via the two-level topKByScore. sum_lr_x1e9 / mean_lr_x1e9 and the
    // selected SET gate byte-exact (each term is a fixed composition of
    // correctly-rounded IEEE divisions over integer-derived operands);
    // the operator's float log_weight column (DSIR's actual statistic) is
    // deliberately left out of the gate (float sum — never hash-gated).
    Gate("sample_importance", { (s, dir) =>
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
    // importance-resampling oracle: both trigram models, totals, the
    // per-position fixed-point likelihood-ratio term (same expression tree
    // as TextStats.importanceWeights — integer operands, correctly-rounded
    // IEEE divisions, round-half-away == HALF_UP for positives), per-doc
    // integer sum, then the same (mean DESC, doc_id) top-50. Series cap
    // 1005 per the 1007-byte ASCII invariant Verify asserts.
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
         FROM rk WHERE rk <= 50 ORDER BY rk"""),
    // Sequence packing (concat-and-chunk into 512-token context windows,
    // per source, in the deterministic hash order): pack offsets, window
    // ids and span counts are integer cumsum arithmetic both engines
    // reproduce verbatim — byte-equality gate. token_count and the
    // DuckDB regexp-split twin are the same pair text_doc_stats gates.
    Gate("pack_windows", { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        GraftFunctions.token_count(col("text")).as("n_tokens"))
      Sampling.packWindows(docs, Seq("source"), "doc_id", "n_tokens", 512)
        .orderBy("doc_id")
    },
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
         FROM p ORDER BY doc_id"""),
    // Deterministic 80/10/10 train/val/test split by id hash: assignment is
    // a pure function of doc_id (repartition/reorder/append never move a
    // row), expressed as two-hex-char threshold compares both engines
    // reproduce verbatim — byte-equality gate.
    Gate("sample_hash_split", { (s, dir) =>
      Sampling.hashSplit(t(s, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    },
    // thresholds 'cc'/'e6' = floor(0.8*256)/floor(0.9*256) in hex — the
    // exact literals Sampling.hashSplit derives for 80/10/10; '#split' is
    // the operator family's hash-domain tag (decorrelates the split from
    // the rank/rate samplers — Sampling scaladoc)
      """WITH h AS (SELECT doc_id,
           substr(md5('graft#split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hh
         FROM documents)
         SELECT doc_id, CASE WHEN hh < 'cc' THEN 'train'
                             WHEN hh < 'e6' THEN 'val'
                             ELSE 'test' END AS split
         FROM h ORDER BY doc_id"""),
    // Deterministic corpus export (global shuffle + dataloader shards):
    // shard = 60-bit md5 decode mod 8, within-shard order = the same hash
    // — one engine-portable permutation both engines replay verbatim.
    // Byte-equality gate via Kmv.decodeHexSql's portable hex decode.
    Gate("export_shards", { (s, dir) =>
      Sampling.exportShards(t(s, dir, "documents").select("doc_id"),
          "doc_id", nShards = 8)
        .orderBy("shard", "ord")
    }, {
      // shard = the Kmv 60-bit decode of the '#shard'-tagged md5, mod 8;
      // within-shard order = the full hex string (hex orders numerically)
      val dec = Kmv.decodeHexSql("substr(hx, 1, 15)")
      s"""WITH h AS (SELECT doc_id,
           md5('graft#shard:' || CAST(doc_id AS VARCHAR)) AS hx
         FROM documents),
         sh AS (SELECT doc_id, hx, CAST(($dec) % 8 AS INT) AS shard FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
             AS BIGINT) AS ord
         FROM sh ORDER BY shard, ord"""
    }),
    // Cluster-balanced (diversity) sampling: nearest-centroid cells over
    // FROZEN hash-picked centroids (deterministic — exact corpus rows in
    // xxhash64 order), then the md5 bottom-k cap per cell. The assignment
    // is dumped for the oracle, which re-derives the cap byte-exactly;
    // assignment-kernel correctness is the ANN/semdedup gates' job.
    Gate("sample_cluster_balanced", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Similarity.pickCentroids(emb, 8)
      emb.select(col("id"),
          Similarity.nearestCell(col("vec"), cents).cast("int").as("cell"))
        .write.mode("overwrite").parquet(CellsDumpPath)
      Similarity.clusterBalancedSample(emb, cents, k = 10)
        .select(col("id"), col("cell").cast("int").as("cell"),
          col("rk").cast("int").as("rk"))
        .orderBy("cell", "rk")
    },
    // the float assignment layer comes from the engine's dump (absolute
    // path, the [[dump]] convention); the oracle re-derives the
    // md5 per-cell cap from it byte-exactly
      s"""WITH c AS (SELECT id, cell FROM '$CellsDumpPath/*.parquet'),
         r AS (SELECT id, cell,
           row_number() OVER (PARTITION BY cell
             ORDER BY md5('graft:' || CAST(id AS VARCHAR)), id) AS rk
         FROM c)
         SELECT id, CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 10 ORDER BY cell, rk""")
  )

  /** Fixed dump path for the cluster-balanced sample's cell assignment:
    * the assignment layer is float math (covered by the ANN/semdedup
    * gates); the oracle re-derives the md5 per-cell CAP from the dumped
    * (id, cell) byte-exactly — same absolute-path convention as
    * [[dump]]. */
  private val CellsDumpPath = "/tmp/graft_verify_cells"

  /** Single source for the mixture demo's per-source rates — the query
    * and the oracle builder both read this, so the 1/256-granular hex
    * thresholds can never de-synchronize. Unlisted sources are dropped
    * (exercised: src5..src19 have no rate). */
  private val MixtureRates = Seq(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
    "src3" -> 0.0625, "src4" -> 0.01)
}
