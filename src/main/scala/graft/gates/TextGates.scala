package graft
package gates

import graft.GraftFunctions._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis (doc stats, quality, repetition, terms, chunks, PII
  * redaction, BPE train/encode, char-LM perplexity) and multimodal
  * decode plumbing. */
private[graft] object TextGates {
  def gates: Seq[Gate] = Seq(
    // ---- text analysis -----------------------------------------------------
    Gate("text_doc_stats", { (s, dir) =>
      TextStats.docStats(t(s, dir, "documents"), "doc_id", "text")
        .drop("fingerprint")
        .orderBy("doc_id")
    }, {
      // docStats oracle: marker-count language heuristic mirrored in SQL.
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
    }),
    Gate("text_quality", { (s, dir) =>
      TextStats.qualityFlags(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, {
      // text_quality oracle: same length-difference occurrence trick as the
      // engine for the stopword ratio (TextStats.Stopwords inlined), plus the
      // Gopher duplicate-line/paragraph fractions.
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
    }),
    // Gopher-style repetition signals. The synthetic documents carry no
    // newlines, so the query derives a line-structured twin
    // deterministically IN BOTH ENGINES (every ' the ' becomes a blank
    // line, every space a line break) — duplicate-line/paragraph fractions
    // and the top-2-gram character fraction are then non-vacuous and gate
    // byte-exact.
    Gate("text_repetition", { (s, dir) =>
      val derived = docsPar(s, dir).select(col("doc_id"),
        replace(replace(col("text"), lit(" the "), lit("\n\n")),
          lit(" "), lit("\n")).as("text"))
      TextStats.repetitionStats(derived, "doc_id", "text")
        .orderBy("doc_id")
    }, {
      // text_repetition oracle: the same newline-derivation as the Spark query
      // (replace ' the ' with a blank line, then spaces with line breaks),
      // then the Gopher signals; word 2-grams via the generate_series pattern
      // (docs <= 1007 ASCII bytes ⇒ < 1000 words, Verify asserts). The single
      // IEEE division per ratio has identical integer operands in both
      // engines, so the gate is byte-exact.
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
    }),
    // tf-idf-flavored keyword extraction with integer-only ranking
    // (tf DESC, df ASC, term ASC — the discrete skeleton of tf·idf, no
    // floating log to diverge between engines); top-3 terms per doc,
    // byte-exact against the DuckDB mirror.
    Gate("text_top_terms", { (s, dir) =>
      TextStats.topTerms(docsPar(s, dir), "doc_id", "text",
          k = 3, minLen = 3)
        .orderBy("doc_id", "rk")
    },
    // integer-only tf-idf skeleton: rank by (tf DESC, df ASC, term ASC);
    // df reuses the doc-distinct tf table
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
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk"""),
    // context-window chunking (256 chars, 32 overlap): chunk strings are
    // compared byte-for-byte against the SQL mirror
    Gate("text_chunks", { (s, dir) =>
      TextStats.chunk(t(s, dir, "documents"), "doc_id", "text",
          size = 256, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    },
    // series capped at 1000 (no column-arg generate_series in DuckDB 1.0);
    // docs are <= 1007 bytes (Verify asserts), stride 224 → <= 5 chunks
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         substr(text, CAST(i*224+1 AS INT), 256) AS chunk
         FROM documents, generate_series(0, 1000) t(i)
         WHERE i <= greatest(0, ceil((length(text) - 256)*1.0/224))
         ORDER BY doc_id, chunk_idx"""),
    // PII / sensitive-pattern scrubbing. The synthetic documents carry no
    // PII, so (text_repetition discipline) a twin corpus is derived
    // deterministically IN BOTH ENGINES: each doc gets a deterministic
    // email, phone, digit run and key-shaped token appended, all integer/
    // md5 functions of doc_id. Per-class counts and the fully-redacted
    // text then gate byte-exact; the regex classes are single-sourced from
    // TextStats.PiiPatterns on both sides.
    Gate("text_redaction", { (s, dir) =>
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
    // text_redaction oracle: the twin-corpus construction mirrors the Spark
    // query's concat chain token-for-token; the count/redact SELECT list is
    // GENERATED from TextStats.PiiPatterns (single source — the SQL cannot
    // de-synchronize from the Column chain).
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
       FROM twin ORDER BY doc_id"""),
    // BPE-ish regex token counting (words / numbers / punctuation pieces).
    Gate("text_bpeish_tokens", { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(expr(
            "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
            .cast("long").as("n_bpeish"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
         FROM documents ORDER BY doc_id"""),
    // BPE tokenizer training (Sennrich et al. 2016): six merge steps over
    // the documents word vocabulary, each a frequency-weighted adjacent-
    // pair count with a lexicographic tie-break — every learned (pair,
    // merged) row depends on the exact counts of the whole corpus AND on
    // all previous merges, so six byte-exact rows gate the entire
    // iterative pipeline. The oracle replays the identical six rounds as
    // chained CTEs (generated, single-source constants).
    Gate("text_bpe_merges", { (s, dir) =>
      TextStats.bpeTrain(docsPar(s, dir), "text", steps = BpeSteps,
        maxWordLen = BpeMaxWordLen).orderBy("step")
    }, {
      // text_bpe_merges oracle: the same `BpeSteps` merge rounds as
      // TextStats.bpeTrain, generated as chained CTEs. Each round counts
      // frequency-weighted adjacent symbol pairs (series cap = BpeMaxWordLen
      // symbols per word), takes the (cnt DESC, pair ASC) top-1, and applies
      // the merge with the SAME two replace passes as the engine (a leftmost
      // match consumes a back-to-back occurrence's shared boundary space;
      // missed occurrences are never adjacent, so two passes are exhaustive).
      // string_split_regex('\s+') mirrors Spark's split("\\s+"); words longer
      // than BpeMaxWordLen are excluded on both sides. Every CTE is
      // MATERIALIZED: each round references its predecessor from both the
      // pair count and the rewrite (plus four scalar m-subqueries), so
      // DuckDB's default inlining re-evaluates the whole prefix chain
      // exponentially many times — materialization makes the oracle linear
      // in rounds, like the engine.
      val sel = (1 to BpeSteps)
        .map(r => s"SELECT $r AS step, pair, merged FROM m$r")
        .mkString("\n         UNION ALL ")
      s"""WITH $bpeCtes
       SELECT step, pair, merged FROM ($sel) ORDER BY step"""
    }),
    // The encode half: train the six merges, then tokenize EVERY document
    // with them row-locally (zero shuffle — the merges ride along as
    // string literals) and gate the per-doc word/BPE-token counts
    // byte-exact. The oracle re-derives the identical merges from its own
    // CTE chain, so this gate cross-checks train AND encode end-to-end.
    Gate("text_bpe_tokens", { (s, dir) =>
      val docs = docsPar(s, dir)
      val merges = TextStats.bpeTrain(docs, "text", steps = BpeSteps,
        maxWordLen = BpeMaxWordLen)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.bpeTokenCount(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }, {
      // text_bpe_tokens oracle: re-derives the same six merges via [[bpeCtes]]
      // and applies them to every document row-locally — per-word char
      // symbols joined by DOUBLE spaces (no merge can span a word boundary),
      // the identical two-pass rewrite per round, token count = remaining
      // space-separated symbols. Empty docs guard to (0, 0).
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
    }),
    // Character-trigram LM quality scoring (the CCNet perplexity filter):
    // train on doc_id%10!=0, score the held-out tenth AND its char-reversed
    // twin against the same model. sum_p_x1e9 gates BYTE-EXACT (one IEEE
    // division per position, integer sum — KMV/cents precedent); the NLL is
    // a float sum, so it gates as a margin BOOLEAN: real text beats its
    // reversed twin by >= 1900 milli-nats/char (observed min gap 3893-4479
    // across sf0.001/0.01/0.1; floor at ~half, LSH-floor discipline —
    // cross-engine log/sum jitter is ~1e-9, six orders below the margin).
    Gate("text_lm_perplexity", { (s, dir) =>
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
    // text_lm_perplexity oracle: add-one-smoothed char-trigram model over
    // the training 90%, scored on the held-out tenth and its reversed twin.
    // sum_p_x1e9 mirrors the Spark expression term-for-term (one IEEE
    // division of integer-derived operands per position, HALF_UP == half-
    // away for positives, integer sum); the NLL margin boolean uses the
    // same 1900 milli-nat floor. Series cap 1005 = 1007 - 2 covers every
    // len-2 trigram position under the 1007-byte ASCII invariant Verify
    // asserts (a 1000 cap would drop the tail positions of 1003-1007-byte
    // docs). The final LEFT JOIN from `held` mirrors lmScore's F4 posture:
    // a doc shorter than 3 chars keeps a (0, 0, false) row instead of
    // vanishing from the oracle while Spark preserves it.
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
       ORDER BY h.doc_id"""),
    // ---- multimodal plumbing ----------------------------------------------
    Gate("multimodal_frame_meta", { (s, dir) =>
      Multimodal.frameMeta(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload")
        .orderBy("id")
    },
      """WITH chars AS (SELECT doc_id,
           CAST(count(DISTINCT substr(text, CAST(i AS INT), 1)) AS INT) AS dc
           FROM documents, generate_series(1, 1000) t(i)
           WHERE i <= length(text) GROUP BY 1)
         SELECT d.doc_id AS id, CAST(length(d.text) AS BIGINT) AS n_bytes,
                c.dc AS n_distinct_bytes,
                CAST(length(d.text)//64 + 1 AS INT) AS n_frames
         FROM documents d JOIN chars c USING (doc_id) ORDER BY id"""),
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
    Gate("multimodal_decode", { (s, dir) =>
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
      """SELECT doc_id AS id, CAST(3 + doc_id % 5 AS INT) AS width,
         CAST(2 + doc_id % 4 AS INT) AS height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
         true AS decode_exact, true AS resize_exact
         FROM documents ORDER BY id"""),
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
    Gate("multimodal_image_neardup", { (s, dir) =>
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
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
         CAST(0 AS INT) AS hamming
         FROM documents WHERE doc_id % 7 = 0 ORDER BY id_a, id_b"""),
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
    Gate("multimodal_audio_decode", { (s, dir) =>
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
      """SELECT doc_id AS id, CAST(8000 AS INT) AS sample_rate,
         CAST(1 + doc_id % 2 AS INT) AS channels,
         CAST(120 + doc_id % 50 AS BIGINT) AS n_frames,
         true AS decode_exact, true AS energy_exact
         FROM documents ORDER BY id""")
  )

  /** text_bpe_merges constants — shared by the gate query and the
    * generated oracle so they cannot de-synchronize. */
  private val BpeSteps = 6
  private val BpeMaxWordLen = 30

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
}
