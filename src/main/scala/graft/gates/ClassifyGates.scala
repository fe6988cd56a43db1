package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import graft.sources.runParallel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The taxor search and profile analogues: exact / CI-threshold / Bloom /
  * hierarchical / interleaved classification and the profile filter
  * chain. */
private[graft] object ClassifyGates {
  def gates: Seq[Gate] = Seq(
    // ---- taxor search analogue (S2/S3, F2/F3, J1) -------------------------
    Gate("classify_exact", { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exact(corpus, qs, shingleK = 8, minFraction = 0.1)
        .orderBy("query_id", "group")
    },
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
         WHERE match_cnt >= 0.8*m ORDER BY query_id, "group""""),
    // SF10 adaptive threshold INSIDE the plan: k-mer mutation CI at 2%
    // per-byte error replaces the fixed fraction; the oracle inlines the
    // same closed-form constants (q, z, affine variance A·n+B) so the
    // filter is byte-identical across engines.
    Gate("classify_kmer_ci", { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exactCI(corpus, qs,
          graft.functions.Thresholds.KmerCI(8, 0.02), shingleK = 8)
        .orderBy("query_id", "group")
    }, {
      // classify_kmer_ci oracle: the k-mer mutation CI threshold is a closed
      // form in query_n for fixed (k, errorRate, confidence) — inline the same
      // driver constants (q, z, affine variance A·n+B) the Column dispatcher
      // uses, with the identical expression tree, so the filter compares
      // byte-identically in both engines.
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
    }),
    // SF10's 4th branch in-plan: the empirical syncmer matching-ratio
    // table (SF9) supplies the per-query threshold floor(query_n · ratio);
    // the ratio is ONE driver constant from Thresholds.syncmerMatchRatio
    // (single source), interpolated verbatim into the oracle — byte-exact
    // gate, same recipe as classify_kmer_ci. (The k-gram tokenizer keeps
    // the oracle SQL-expressible; like kmer_ci, the query gates the
    // THRESHOLD model, not the tokenizer — syncmer tokenization itself is
    // spec-gated in SyncmerPropsSpec.)
    Gate("classify_syncmer_ci", { (s, dir) =>
      val (corpus, qs) = corpusQueries(s, dir)
      Classify.exactCI(corpus, qs,
          graft.functions.Thresholds.SyncmerTable(12, 0.1), shingleK = 12)
        .orderBy("query_id", "group")
    }, {
      // classify_syncmer_ci oracle: the SF9 empirical-table threshold is
      // floor(query_n × ratio) for a fixed (k, errorRate) — the ratio is the
      // SAME Thresholds.syncmerMatchRatio constant the Column dispatcher
      // reads (single source), interpolated via Scala Double.toString (which
      // round-trips through DuckDB's strtod), so the filter compares
      // byte-identically in both engines. k-gram size 12 (the table needs
      // even k in [12,30]); docs <= 1007 bytes keeps the series cap valid.
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
    }),
    Gate("classify_bloom_bounds", { (s, dir) =>
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
         FROM cnt ORDER BY query_id, "group""""),
    // HIXF-style hierarchical probe: the coarse bucket layer's pruning is
    // provably lossless (bucket filter bits = OR of member bits), so the
    // two-level result must equal the flat broadcast probe EXACTLY.
    Gate("classify_hixf", { (s, dir) =>
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
      runParallel(
        () => ns(0) = flat.count(),
        () => ns(1) = hier.count())
      val (nFlat, nHier) = (ns(0), ns(1))
      val inter = hier.join(flat, cols, "left_semi").count()
      flat.unpersist(); hier.unpersist(); filters.unpersist()
      import s.implicits._
      Seq(("hier_equals_flat", nFlat == nHier && inter == nHier && nFlat > 0))
        .toDF("check", "ok").orderBy("check")
    },
      """SELECT * FROM (VALUES ('hier_equals_flat', true)) AS t("check", ok)
         ORDER BY "check""""),
    // Interleaved bulk-count probe (the reference's namesake structure):
    // member filters bit-transposed into ONE literal blob, per-group
    // counts from a single pass per query. Same bits as the flat probe ⇒
    // provably identical output, asserted here on the shared build.
    Gate("classify_interleaved", { (s, dir) =>
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
      runParallel(
        () => ns(0) = flat.count(),
        () => ns(1) = ixf.count())
      val (nFlat, nIxf) = (ns(0), ns(1))
      val inter = ixf.join(flat, cols, "left_semi").count()
      flat.unpersist(); ixf.unpersist(); filters.unpersist()
      import s.implicits._
      Seq(("interleaved_equals_flat", nFlat == nIxf && inter == nIxf && nFlat > 0))
        .toDF("check", "ok").orderBy("check")
    },
      """SELECT * FROM (VALUES ('interleaved_equals_flat', true))
         AS t("check", ok) ORDER BY "check""""),
    // ---- taxor profile analogues (F5, F6, A11) ----------------------------
    Gate("profile_unique_filter", { (s, dir) =>
      ProfilePipeline.uniqueMappingFilter(eventMatches(s, dir))
        .select("query_id", "ref", "match_cnt")
        .orderBy("query_id", "ref")
    },
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                    count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt FROM (
                SELECT *, max(match_cnt) OVER (PARTITION BY query_id) AS mxc
                FROM m0) WHERE match_cnt >= 0.8*mxc),
         mn AS (SELECT *, count(*) OVER (PARTITION BY query_id) AS n FROM m),
         uref AS (SELECT DISTINCT ref FROM mn WHERE n = 1)
         SELECT query_id, ref, match_cnt FROM mn
         WHERE n = 1 OR ref IN (SELECT ref FROM uref)
         ORDER BY query_id, ref"""),
    Gate("profile_low_confidence", { (s, dir) =>
      ProfilePipeline.lowConfidenceFilter(eventMatches(s, dir),
          minUnique = 3, minRatio = 0.01)
        .select("query_id", "ref", "match_cnt")
        .orderBy("query_id", "ref")
    },
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
         ORDER BY query_id, ref"""),
    // Full profile chain, gated end-to-end against a DuckDB oracle:
    // F5+F6 cascade → EM E-step (one iteration = argmax under uniform
    // priors, SQL-expressible) → integer-weight abundance → hierarchical
    // rollup. Weights stay integral until the single per-row pct division
    // (round(w*1e6/total)) so both engines produce byte-identical output.
    // The ITERATIVE EM (erase-worst) + association filter are exercised by
    // OperatorsSpec and timed in Bench's profile_em_full extra — their
    // driver-side fixpoint/loop is not expressible in one SQL oracle.
    Gate("profile_full_cami", { (s, dir) =>
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
    // mirrors eventMatches → lowConfidenceFilter(3, 0.01) → one-iteration
    // EM argmax → integer-weight abundance → 3-level rollup; weights stay
    // integral until the single per-row pct division in both engines
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
         FROM nodes GROUP BY 1,2 ORDER BY 1,2"""),
    // C1 E-step under the oracle gate: EM limited to one iteration with
    // uniform priors == per-query argmax of likelihood (tie: ref asc).
    Gate("profile_em_argmax", { (s, dir) =>
      ProfilePipeline.emAssign(eventMatches(s, dir), maxIters = 1)
        .select("query_id", "ref")
        .orderBy("query_id", "ref")
    },
      """WITH m0 AS (SELECT user_id AS query_id, event_type AS ref,
                     count(*) AS match_cnt FROM events GROUP BY 1,2),
         m AS (SELECT query_id, ref, match_cnt, query_n
               FROM (SELECT *, max(match_cnt) OVER (PARTITION BY query_id)
                     AS mxc, sum(match_cnt) OVER (PARTITION BY query_id)
                     AS query_n FROM m0) WHERE match_cnt >= 0.8*mxc),
         r AS (SELECT query_id, ref, row_number() OVER (PARTITION BY query_id
               ORDER BY match_cnt*1.0/query_n DESC, ref) AS rn FROM m)
         SELECT query_id, ref FROM r WHERE rn = 1 ORDER BY query_id, ref""")
  )

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
}
