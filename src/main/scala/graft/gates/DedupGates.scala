package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import graft.sources.runParallel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document dedup (exact, MinHash-LSH, SimHash, spans, boilerplate,
  * persisted fingerprint index, streaming probe), eval
  * decontamination and web URL curation. */
private[graft] object DedupGates {
  def gates: Seq[Gate] = Seq(
    // ---- dedup suite -------------------------------------------------------
    Gate("dedup_exact_canonical", { (s, dir) =>
      Dedup.exactCanonical(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
         doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
         FROM documents ORDER BY doc_id"""),
    // gate margin: LSH banding is probabilistic — a pair at jaccard j is
    // missed with prob (1-j^4)^32 (~13% at j=0.5, ~1.5e-4 at j=0.7). The
    // byte-equality gate therefore compares only pairs at j >= 0.7, where a
    // band miss is negligible for any data regen/seed; the 0.5-threshold
    // regime stays covered by DedupSpec's recall assertions.
    Gate("dedup_minhash_lsh", { (s, dir) =>
      Dedup.minhashLshPairs(docsPar(s, dir), "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.5)
        .where(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("id_a", "id_b")
    },
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
         WHERE i*1.0/(ca.c + cb.c - i) >= 0.7 ORDER BY id_a, id_b"""),
    // near-dup canonicalization (pairs → connected components → min id).
    // Oracle: EXACT for any graph shape — a recursive CTE computes the
    // transitive closure of the pair graph and takes min over reachable
    // ids, so chains/stars (not just cliques) gate correctly if the data
    // regime ever changes. Gate at threshold 0.8 (band miss ~5e-8 per
    // pair): unlike the PAIR gate above, one missed pair relabels a whole
    // component, so the gate margin is tighter here; 0.7-threshold
    // behavior stays covered by OperatorsSpec.
    Gate("dedup_neardup_canonical", { (s, dir) =>
      Dedup.nearDupCanonical(docsPar(s, dir), "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.8)
        .orderBy("doc_id")
    },
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
         FROM canon ORDER BY doc_id"""),
    // exact all-pairs is the quadratic verification oracle: it runs over a
    // deterministic 1-in-3 sample partition (blocking); the full corpus is
    // covered by the LSH path above, which exactJaccardPairs cross-checks.
    Gate("dedup_ngram_jaccard", { (s, dir) =>
      Dedup.exactJaccardPairs(
          docsPar(s, dir).where(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", shingleK = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("id_a", "id_b")
    },
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
         WHERE i*1.0/(ca.c + cb.c - i) >= 0.5 ORDER BY id_a, id_b"""),
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
    Gate("dedup_simhash", { (s, dir) =>
      val docs = docsPar(s, dir)
      val sim = Dedup.simhashPairs(docs, "doc_id", "text",
          shingleK = 8, maxHamming = 3).select("id_a", "id_b").cache()
      val base = Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleK = 8, numBands = 32, rowsPerBand = 4, threshold = 0.8)
        .select("id_a", "id_b").cache()
      // simhash-banding and minhash-banding pair DAGs are independent —
      // materialize the two caches concurrently (guide §2.6)
      val ns = new Array[Long](2)
      runParallel(
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
      """SELECT * FROM (VALUES ('precision_all_above_j08', true),
         ('recall_floor_04', true)) AS t("check", ok) ORDER BY "check""""),
    // Substring-level dedup: identical 256-char spans (stride 224)
    // canonicalized corpus-wide; byte-exact oracle via the chunk pattern
    // (same generate_series cap + ASCII/length invariant as text_chunks).
    Gate("dedup_span_exact", { (s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text",
          size = 256, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    },
    // same series cap + stride as text_chunks; canonical = lexicographic
    // min (doc_id, chunk_idx) over identical chunk text, encoded as
    // doc_id*1000000+chunk_idx (chunk_idx <= 4 under the 1007-byte invariant)
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
         FROM c2 ORDER BY doc_id, chunk_idx"""),
    // Winnowed-fingerprint shared-span detection at arbitrary offsets.
    // Ground truth = pairs sharing an identical aligned 256-char chunk
    // (computable exactly by the oracle via the chunk pattern); the
    // winnowing theorem guarantees every such pair shares >= 1 fingerprint
    // (shared span 256 >= w + k - 1 = 23; shortest possible chunk is 33),
    // so `detected` is deterministically true — gate every row.
    Gate("dedup_winnowed_spans", { (s, dir) =>
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
    // same series cap + stride as text_chunks (1007-byte ASCII invariant)
      """WITH ch AS (SELECT doc_id, substr(text, CAST(i*224+1 AS INT), 256) AS chunk
           FROM documents, generate_series(0, 1000) t(i)
           WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, true AS detected FROM p ORDER BY id_a, id_b"""),
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
    Gate("dedup_boilerplate_lines", { (s, dir) =>
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
    // dedup_boilerplate_lines oracle: the 5-line twin mirrors the Spark
    // concat chain token-for-token; the per-source occurrence threshold
    // GREATEST(minDocs, ceil(nd·minFrac)) uses the identical expression
    // association (nd * 0.5 is IEEE-exact for integral nd), and string_agg
    // skipping NULLs reproduces collect_list skipping nulls, so the cleaned
    // text gates byte-exact. Series cap 8 > the twin's fixed 5 lines.
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
       FROM mark GROUP BY doc_id, source ORDER BY doc_id"""),
    // Incremental dedup: build a persisted fingerprint index over the
    // 'old' two-thirds once, dedup the 'new' third against it — old text
    // is never re-read. Exact hits join content hashes; near hits use
    // md5-scaled k-gram subsets (the engine-portable FracMinHash twin), so
    // the gate is byte-exact INCLUDING the scaled-Jaccard estimate — no
    // LSH band-miss caveat anywhere in this path.
    Gate("dedup_incremental", { (s, dir) =>
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
    // index-side scaled sets recomputed in full SQL: same md5 scaling rule
    // and the same jaccard_x1m expression tree as the engine (byte-exact,
    // estimator value included); series cap per the 1007-byte invariant
      dedupAgainstIndexSql),
    // Index-compaction identity: build one wave, APPEND a second (so the
    // index really holds multiple appended file waves), probe, dump the
    // probe rows, compact in place, probe again. The oracle re-reads the
    // pre-compaction dump — a hash MATCH proves compaction changed the
    // LAYOUT (few key-clustered files) and nothing else, byte-for-byte,
    // including the Jaccard estimates.
    Gate("dedup_index_compaction", { (s, dir) =>
      val docs = docsPar(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-fpidx-compact").toString
      Dedup.buildFingerprintIndex(
        docs.where(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text", idx,
        maxDf = Some(64))
      Dedup.appendToFingerprintIndex(
        docs.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", idx)
      val probe = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.dedupAgainstIndex(probe, "doc_id", "text", idx)
        .orderBy("doc_id", "match_id", "kind")
        .write.mode("overwrite").parquet(IdxCompactDumpPath)
      Dedup.compactFingerprintIndex(s, idx, filesPerTable = 4)
      Dedup.dedupAgainstIndex(probe, "doc_id", "text", idx)
        .orderBy("doc_id", "match_id", "kind")
    },
      s"""SELECT doc_id, match_id, kind, jaccard_x1m
         FROM '$IdxCompactDumpPath/*.parquet'
         ORDER BY doc_id, match_id, kind"""),
    // STREAMING under the oracle: the same probe-vs-persisted-index dedup
    // as dedup_incremental, but the probe third arrives as a real
    // Structured Streaming source (MemoryStream) drained through THREE
    // genuine micro-batches into the foreachBatch sink
    // (StreamingSketch.dedupAgainstIndexBatch). Every probe joins the
    // frozen index only, so micro-batch boundaries cannot change any
    // result row — the union of the per-batch outputs must equal the
    // one-shot batch result, and the oracle is the identical SQL as
    // dedup_incremental (byte-exact, estimator values included).
    Gate("stream_dedup_index", { (s, dir) =>
      import s.implicits._
      val docs = docsPar(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-stream-fpidx-gate").toString
      // the index build and the probe-side collect are independent scans of
      // the documents table — overlap them (guide §2.6)
      var probesV: Array[(Long, String)] = null
      runParallel(
        () => Dedup.buildFingerprintIndex(
          docs.where(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text",
          idx, maxDf = Some(64)),
        () => probesV = docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .collect().sortBy(_._1))
      val probes = probesV
      val out = java.nio.file.Files
        .createTempDirectory("graft-stream-dedup-gate").toString + "/matches"
      drainStream(s, probes.toSeq) { stream =>
        stream.toDF("doc_id", "text")
          .writeStream
          .foreachBatch(graft.streaming.StreamingSketch.dedupAgainstIndexBatch(
            idx, "doc_id", "text", out))
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("match_id"), col("kind"),
          col("jaccard_x1m"))
        .orderBy("doc_id", "match_id", "kind")
    },
    // identical semantics (and therefore identical oracle) to
    // dedup_incremental: the streaming sink unions per-micro-batch probes
    // of the same frozen index
      dedupAgainstIndexSql),
    // Eval-set decontamination: every (train, held-out) pair sharing an
    // identical 256-char chunk must be flagged by the winnowed cross-corpus
    // scan — deterministic by the winnowing guarantee (same margin as
    // dedup_winnowed_spans), gate every row.
    Gate("decontaminate_eval", { (s, dir) =>
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
    // same chunk pattern; pairs restricted to the train/held-out split
      """WITH ch AS (SELECT doc_id, substr(text, CAST(i*224+1 AS INT), 256) AS chunk
           FROM documents, generate_series(0, 1000) t(i)
           WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))),
         p AS (SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS heldout_id
               FROM ch a JOIN ch b ON a.chunk = b.chunk
               WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0)
         SELECT train_id, heldout_id, true AS detected FROM p
         ORDER BY train_id, heldout_id"""),
    // ---- web curation: URL canonicalization / dedup / domain stats --------
    // The sf tables carry no URLs, so (text_redaction discipline) a messy
    // synthetic absolute URL per doc_id is generated deterministically in
    // SPARK ONLY and dumped to a fixed path the oracle reads back
    // (the [[dump]] convention). The oracle then re-derives the
    // ENTIRE canonicalization chain in DuckDB from SQL GENERATED off the
    // same pattern/param constants (WebOps.canonicalPartsSql), so the two
    // sides cannot de-synchronize and every rule — fragment strip, default-
    // port drop, tracking-param removal, param sort, trailing-slash — is
    // cross-checked byte-exact. doc_ids ≡ 3 (mod 10) borrow the identity
    // of doc_id-3, planting genuine URL-level duplicate classes whose mess
    // (case, default port, tracking params, param order, fragments) still
    // differs per row.
    Gate("web_url_dedup", { (s, dir) =>
      WebOps.urlDedup(webUrls(s, dir), "doc_id", "url").orderBy("id")
    },
    // the web_* oracles re-derive the FULL canonicalization chain in
    // DuckDB from the dumped raw URLs, via SQL generated from the same
    // constants as the Column code (WebOps.canonicalPartsSql — single
    // source, engine-portable regexes with no backslash escapes)
      s"""$webCanonSql
         SELECT doc_id AS id,
           min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
           doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
             AS is_canonical
         FROM canon ORDER BY id"""),
    // Per-registered-domain doc / distinct-canonical-URL counts: exercises
    // registeredDomain's public-suffix rule (site7.co.uk stays a 3-label
    // registered domain; www. is shed as an ordinary subdomain label).
    Gate("web_domain_stats", { (s, dir) =>
      WebOps.domainStats(webUrls(s, dir), "doc_id", "url")
        .orderBy("registered_domain")
    },
      s"""$webCanonSql
         SELECT registered_domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical_urls
         FROM canon GROUP BY 1 ORDER BY 1"""),
    // Broadcast anti-join against a curated domain blocklist. The four
    // blocked domains hit cids ≡ 0,1,2,3 (mod 100) — ~4% of docs plus
    // their planted duplicates — so the filter is non-vacuous at sf0.01.
    Gate("web_blocked_filter", { (s, dir) =>
      import s.implicits._
      val blocked = WebBlockedDomains.toDF("registered_domain")
      WebOps.filterBlockedDomains(webUrls(s, dir), "url", blocked)
        .select("doc_id").orderBy("doc_id")
    },
      s"""$webCanonSql
         SELECT doc_id FROM canon
         WHERE registered_domain NOT IN
           (${WebBlockedDomains.map(d => s"'$d'").mkString(", ")})
         ORDER BY doc_id""")
  )

  /** Fixed dump path for the synthetic messy-URL table (web_* gates): the
    * generator is Spark-only, so the oracle re-reads the raw (doc_id, url)
    * rows by absolute path and re-derives the canonicalization chain from
    * [[WebOps.canonicalPartsSql]]-generated SQL. */
  private val UrlsDumpPath = "/tmp/graft_verify_urls"

  /** Domain blocklist for web_blocked_filter — chosen so each entry is hit
    * by cids ≡ 0,1,2,3 (mod 100) of the synthetic-URL generator (tld =
    * cid%4, site number = cid%50), keeping the filter non-vacuous. */
  private val WebBlockedDomains: Seq[String] =
    Seq("site0.com", "site1.org", "site2.co.uk", "site3.net")

  /** Generate + dump + read back the synthetic URL table (deterministic,
    * so the three web_* gates may each rewrite the same path). */
  private def webUrls(s: SparkSession, dir: String): DataFrame =
    dump(WebOps.syntheticUrls(t(s, dir, "documents").select("doc_id"),
      "doc_id"), UrlsDumpPath)

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

  /** Pre-compaction probe rows for `dedup_index_compaction`: the oracle
    * re-reads this dump, so a hash MATCH proves the post-compaction probe
    * is byte-identical to the pre-compaction one. */
  private val IdxCompactDumpPath = "/tmp/graft_verify_idx_compact"

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
}
