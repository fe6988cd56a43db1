package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: assert the physical plans keep the shapes that make
  * the engine scale — pruned scans, broadcast joins for dimensions, top-k
  * pushdown, partial aggregation — so a regression (e.g. a lost broadcast
  * hint or an accidental full-schema scan) fails CI, not a 100 TB run.
  */
class PlanQualitySpec extends AnyFunSuite with SparkTestBase {
  private val sfDir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def withBroadcastOff[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("q01 scan is column-pruned to exactly the used columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_returnflag:string,l_linestatus:string>"), p)
    assert(p.contains("partial_sum"), "partial aggregation missing")
  }

  test("q03 dimension join is a broadcast hash join") {
    val p = plan("q03_segment_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("ann_topk gets WindowGroupLimit top-k pushdown on both shuffle sides") {
    val p = plan("ann_topk")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side should broadcast")
  }

  test("classify_exact pushes the corpus/query split into the parquet scan") {
    val p = plan("classify_exact")
    assert(p.contains("PushedFilters"), p)
    // the modulo split must reach the scan as a data filter, not a
    // post-scan Project
    assert(p.contains("pmod") || p.contains("%"), p)
  }

  test("sketch aggregation runs as partial + final (map-side combine)") {
    val p = plan("hll_distinct_users")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_graft_hll_agg") || p.contains("partial_"), p)
  }

  test("ivf cell assignment is shuffle-free (one exchange total: top-k)") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = graft.operators.Similarity.ivfTopK(corpus, qs, 5, 8, 2)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the corpus is never shuffled for assignment: nearest_centroids is a
    // per-row codegen'd sweep; the ONLY shuffle is the final per-query
    // top-k window, and the probe side is broadcast
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("""\(\d+\) Window\s""".r.findAllIn(p).size == 1, p)
    assert(p.contains("graft_nearest_centroids"), p)
  }

  test("bloom-pruned join evaluates the filter probe-side before joining") {
    val p = plan("join_bloom_pruned")
    // the codegen'd membership predicate must appear as a row-local Filter
    // over the probe scan (pre-shuffle); the blob is a references-array
    // literal, so NO nested-loop join may reappear (its per-row getBinary
    // copied the whole blob for every probe row)
    assert(p.contains("graft_bloom_contains"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), "bloom-pruned join fell back to SMJ")
    assert(p.contains("partial_"), "final aggregate lost map-side combine")
  }

  test("bottom-k sample gets per-partition top-k pruning before the shuffle") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.Sampling
      .bottomK(docs.select("doc_id", "source"), Seq("source"), "doc_id", 10)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // WindowGroupLimit both below (partial) and above (final) the exchange:
    // at most k rows per stratum per input partition cross the wire
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("interleaved probe is a row-local bulk count, no join in the plan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val filters = graft.operators.Classify.buildFilters(
      graft.operators.Classify.groupShingles(
        docs.select(col("source").as("group"), col("text"))),
      expectedShinglesPerGroup = 4096)
    val p = graft.operators.Classify
      .interleavedSketch(filters,
        docs.limit(20).select(col("doc_id").as("query_id"), col("text")),
        minFraction = 0.1)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the blob arrives as a broadcast reference inside the expression —
    // probing must NOT reintroduce a join against a filter table
    assert(p.contains("graft_ixf_count_contained"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("kmv sketch gets per-partition top-k pruning before the shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.Kmv
      .sketch(docs, Seq("source"), "doc_id", 32)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // same shape as bottomK: rank<=k runs below AND above the exchange, so
    // at most k hashes per stratum per input partition cross the wire
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("repetition stats: top-bigram aggregates short keys with top-1 pruning") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.TextStats
      .repetitionStats(docs, "doc_id", "text")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the (id, gram) count must keep map-side combine, and the per-doc
    // top-1 must prune per-partition before the window exchange — and no
    // exchange may ever hash-partition on the raw document text column
    // (joins on the short doc_id key are fine, whatever their strategy)
    assert(p.contains("partial_count"), p)
    assert(p.contains("WindowGroupLimit"), p)
    // anchored on the attribute form (text#NN) so a legitimately-keyed
    // text_len/text_hash column can't fail spuriously
    assert(!"""hashpartitioning\(text#""".r.findFirstIn(p).isDefined, p)
  }

  test("hash split is row-local: no exchange in the plan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.Sampling
      .hashSplit(docs.select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("[codegen id :"), p) // whole-stage codegen'd project
  }

  test("export shards: one shard-key exchange, per-shard sort, never global") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.Sampling
      .exportShards(docs.select("doc_id"), "doc_id", nShards = 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // exactly one exchange, hash-partitioned on the derived shard — a
    // global (range-partitioned) sort would serialize the whole corpus
    // through one ordering at 100 TB
    assert("hashpartitioning\\(shard".r.findAllIn(p).size == 1, p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("salted join shuffles on (key, salt), not on the key alone") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("k", concat(lit("k"),
        expr("64 div (pmod(user_id, 64) + 1)").cast("string")))
      .select("k", "event_id")
    val dim = ev.groupBy("k").agg(min(col("event_id")).as("rep"))
    // the whole point of the salt is that the join's exchanges hash on
    // (k, __salt) — a plan partitioning on k alone would put each hot key
    // back on one reducer. (A dim this small would normally broadcast —
    // and a broadcast join needs no salt at all — so the test pins the
    // threshold off to see the shuffled-join layout the operator exists
    // for.)
    val p = withBroadcastOff {
      graft.operators.Joins.saltedJoin(ev, dim, "k", buckets = 8)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    val joinParts = parts.filter(_.contains("__salt"))
    assert(joinParts.nonEmpty, s"no (key, salt) exchange in:\n$p")
    assert(joinParts.forall(_.contains("k#")), joinParts.mkString("\n"))
  }

  test("boilerplate strip applies the threshold table as a broadcast join") {
    val p = plan("dedup_boilerplate_lines")
    // the (source, line) COUNT legitimately shuffles; the strip-back join
    // of the threshold-small boilerplate table must broadcast, never
    // sort-merge the full line stream against it
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("importance resampling: broadcast models, two-level top-k pruning") {
    val p = plan("sample_importance")
    // the two vocabulary-bounded trigram models join broadcast — the
    // corpus-side explode never shuffles for the lookups
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // topKByScore prunes per-bucket before the global rank
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("image near-dup: banded candidate join, never all-pairs") {
    val p = plan("multimodal_image_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "banded Hamming join degenerated to all-pairs:\n" + p)
    // the join key is the (band, band_value) pair of 8-byte scalars
    assert(p.contains("band"), p)
  }

  test("lm scoring joins the vocabulary-bounded model broadcast") {
    val p = plan("text_lm_perplexity")
    // gram + context model joins: at least two broadcast exchanges; the
    // per-position stream must never hash-shuffle on the gram strings
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    // gram-keyed exchanges may only be the model build's two count
    // shuffles (gram, then the derived ctx prefix); a third would mean
    // the PER-POSITION stream hash-shuffles on gram strings — the layout
    // the broadcast exists to avoid
    val gramParts = "hashpartitioning\\([^)]*gram[^)]*\\)".r.findAllIn(p).toSeq
    assert(gramParts.size <= 2,
      s"per-position gram stream shuffles on gram strings:\n$gramParts")
  }

  test("conv integrity: window and aggregate share ONE conv_id exchange") {
    val p = plan("conv_integrity")
    // the groupBy(conv_id) must reuse the lag-window's hashpartitioning —
    // two conv_id exchanges would shuffle every turn's text twice
    val convParts =
      "hashpartitioning\\([^)]*conv_id[^)]*\\)".r.findAllIn(p).toSeq
    assert(convParts.size == 1,
      s"integrity shuffles turns on conv_id more than once:\n$convParts")
  }

  test("top terms: short-key shuffles only, per-doc top-k pruned") {
    val p = plan("text_top_terms")
    // tf/df aggregate with map-side combine; the per-doc top-k prunes
    // per-partition before the window exchange; document text never
    // becomes a shuffle key (the (id, term) explode keys are short)
    assert(p.contains("partial_count"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!"""hashpartitioning\(text#""".r.findFirstIn(p).isDefined, p)
  }

  test("range-layout bucket index is row-local: no exchange") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // fixed boundaries: the bucket projection must stay inside the scan
    // stage — a codegen'd boolean-add chain, safe before any exchange
    val p = li
      .select(graft.operators.RangeLayout
        .bucketOf(col("l_extendedprice"), Array(900.0, 2000.0, 5e4))
        .as("bucket"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p)
  }

  test("loss-mask packing shuffles on the stratum, never on text") {
    import org.apache.spark.sql.functions._
    val turns = graft.sources.Transcripts.generate(spark, nConvs = 10)
      .withColumn("shard", pmod(xxhash64(col("conv_id")), lit(4)))
      .withColumn("tok", length(col("text")).cast("long"))
    val p = graft.operators.Conversations
      .packWithLossMask(turns, "tok", 512, strataCols = Seq("shard"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""hashpartitioning\(shard#""".r.findFirstIn(p).isDefined, p)
    assert(!"""hashpartitioning\(text#""".r.findFirstIn(p).isDefined, p)
  }

  test("semantic contamination: broadcast-NLJ scan, embeddings never shuffle keys") {
    val p = plan("decontaminate_semantic")
    // the eval side rides as a broadcast; the train scan is one map-side
    // pass with the codegen'd cosine — no shuffle carries a vector key
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!"""hashpartitioning\((vec|evec|embedding)#""".r
      .findFirstIn(p).isDefined, p)
  }

  test("conv role transitions: one turn scan, edges emitted in one pass") {
    val p = plan("conv_role_transitions")
    // a union of lag/lead window branches would scan + shuffle the turn
    // table twice; the single-generator form reads it once
    // count detail-section scan nodes ("(n) Scan parquet"), not the tree
    // rendering of the same node
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      "transitions scan the turn table more than once:\n" + p)
    assert(p.contains("partial_count"), "map-side partial count missing")
  }
}
