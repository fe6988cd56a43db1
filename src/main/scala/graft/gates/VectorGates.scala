package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import graft.sources.runParallel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding gates: brute-force and approximate top-k, cosine near-dup,
  * SemDeDup, the persisted IVF index and semantic decontamination. */
private[graft] object VectorGates {
  def gates: Seq[Gate] = Seq(
    // ---- similarity search -------------------------------------------------
    Gate("ann_topk", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.where(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(corpus, qs, k = 5)
        .select("qid", "rank", "id")
        .orderBy("qid", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 25 = 0),
         c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         s AS (SELECT qid, id, list_cosine_similarity(qv, v) AS sim
               FROM q, c WHERE id <> qid),
         r AS (SELECT qid, id, row_number() OVER
                 (PARTITION BY qid ORDER BY sim DESC, id) AS rnk FROM s)
         SELECT qid, rnk AS "rank", id FROM r WHERE rnk <= 5
         ORDER BY qid, rnk"""),
    // approximate-ANN recall gates, two regimes per method:
    //  - random: recall@5 vs exact brute force on the raw embeddings,
    //    floor 0.25 (unstructured random vectors cap achievable recall;
    //    measured at sf0.01: ivf 0.64, lsh 0.51);
    //  - planted: deterministic perturbed copies of corpus vectors
    //    (sim ~0.99) must find their source in top-5, floor 0.9 — where
    //    ANN SHOULD succeed, it must (measured: 1.0 for both).
    Gate("ann_recall_floor", { (s, dir) =>
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
      runParallel(
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
      """SELECT method, true AS recall_ok, true AS planted_ok
         FROM (VALUES ('ivf'),('lsh')) AS t(method) ORDER BY method"""),
    // int8-quantized brute force vs float32: 4× less embedding data for a
    // small recall cost (measured 0.99 recall@5 at sf0.01; floor 0.9)
    Gate("ann_q8_recall", { (s, dir) =>
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
      """SELECT * FROM (VALUES ('q8_recall_floor_09', true)) AS t("check", ok)
         ORDER BY "check""""),
    Gate("cosine_neardup_exact", { (s, dir) =>
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
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings)
         SELECT a.id AS id_a, b.id AS id_b
         FROM e a JOIN e b ON a.id < b.id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         ORDER BY id_a, id_b"""),
    // gate for the SCALE path (the O(n²) twin above is the oracle only):
    // the raw embeddings have no true high-sim pairs (max pair sim 0.51 at
    // sf0.01 — random collisions SRP-LSH legitimately can't bucket), so the
    // gate plants them: perturbed copies at sim ~0.99, where an LSH band
    // miss is ~7e-7 per pair. cosineNearDupPairs at threshold 0.9 must
    // recover >= 90% of the planted (id, id+1e6) pairs.
    Gate("cosine_neardup_lsh", { (s, dir) =>
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
      """SELECT * FROM (VALUES ('planted_recall_09', true)) AS t("check", ok)
         ORDER BY "check""""),
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
    Gate("semdedup_embeddings", { (s, dir) =>
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
      runParallel(
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
      runParallel(
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
      """SELECT * FROM (VALUES
           ('blocked_subset_of_exact', true),
           ('canonical_agrees_on_recovered', true),
           ('exact_dups_are_planted', true),
           ('planted_recall_075', true)) AS t("check", ok)
         ORDER BY "check""""),
    // Incremental IVF index growth: build over two-thirds of the vectors,
    // append the rest under the FROZEN centroids, then assert the probe
    // over the updated index equals an inline assignment of the full
    // corpus to the same centroids (checked-equality gate, classify_hixf
    // style) and that the recorded drift fraction is a valid fraction.
    Gate("ann_index_append", { (s, dir) =>
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
      runParallel(
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
      """SELECT * FROM (VALUES ('appended_index_equals_inline', true),
         ('drift_is_fraction', true)) AS t("check", ok) ORDER BY "check""""),
    // IVF compaction identity, same recipe as dedup_index_compaction:
    // build one wave, append the rest (each append leaves one file per
    // touched cell), dump a partition-pruned top-k probe, rewrite every
    // cell into a single file, probe again — the oracle re-reads the dump,
    // so a MATCH proves the rewrite was pure layout.
    Gate("ann_index_compaction", { (s, dir) =>
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
      s"""SELECT qid, rank, id FROM '$AnnCompactDumpPath/*.parquet'
         ORDER BY qid, rank"""),
    // Semantic (embedding-space) eval decontamination — the cosine twin
    // of decontaminate_eval. Eval = every vec_id % 7 == 0 row VERBATIM
    // (planted exact leaks, sim = 1); per-train-row match counts at tau
    // are exact on both engines (same threshold-boolean determinism as
    // cosine_neardup_exact, same vectors). The banded-LSH scale path is
    // gated on the deterministic half of its guarantee: identical
    // vectors have identical SRP signatures, so every planted leak MUST
    // be caught by the banding — probability-1, not a recall floor.
    Gate("decontaminate_semantic", { (s, dir) =>
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
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ev AS (SELECT id AS eval_id, v AS evec FROM e WHERE id % 7 = 0),
         hits AS (SELECT e.id, count(*) AS n
                  FROM e JOIN ev
                  ON list_cosine_similarity(e.v, ev.evec) >= 0.4
                  GROUP BY 1)
         SELECT e.id AS id, CAST(coalesce(n, 0) AS BIGINT) AS n_matches,
           coalesce(n, 0) > 0 AS contaminated, true AS planted_caught
         FROM e LEFT JOIN hits ON e.id = hits.id ORDER BY id""")
  )

  /** [[docsPar]] for the embeddings table: the sf-scale embeddings parquet
    * is also ONE row group, so a quadratic cosine sweep rooted at its scan
    * (BroadcastNestedLoopJoin stream side) runs in a single task. Applied
    * ONLY where the sweep dominates (cosine_neardup_exact: A/B 1.25 →
    * 0.44 s) — in the ANN/semdedup gates the added exchange cost more
    * than the parallelism bought (A/B'd and reverted). Results are
    * partitioning-invariant (row-local cosine, total-order tie-breaks). */
  private def embPar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").repartition(s.sparkContext.defaultParallelism)

  /** Pre-compaction probe rows for `ann_index_compaction`: the oracle
    * re-reads this dump, so a MATCH proves the IVF cell rewrite was pure
    * layout. */
  private val AnnCompactDumpPath = "/tmp/graft_verify_ann_compact"
}
