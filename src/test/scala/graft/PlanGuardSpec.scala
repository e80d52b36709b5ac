package graft

/** Scale guard: no benched similarity/dedup plan may contain an all-pairs
  * physical join. Every scale path (PPJoin prefix index, minhash bands,
  * sign-LSH buckets) is bucket-keyed by design — if a refactor ever
  * reintroduces a CartesianProduct or BroadcastNestedLoopJoin into one of
  * these plans, this spec fails before the driver benches it at 100× the
  * data. Plans are inspected pre-execution (AQE's initial plan): AQE can
  * turn a shuffle join into a broadcast HASH join at runtime, but never
  * introduces a nested-loop join that isn't already in the initial plan.
  */
class PlanGuardSpec extends SparkTestBase {

  private val guarded = Seq(
    "q_dedup_exact", "q_dedup_jaccard", "q_dedup_minhash",
    "q_dedup_simhash", "q_embed_neardup", "q_ann_lsh", "q_ann_ivf",
    "q_dedup_cluster", "q_contamination", "q_repetition", "q_range_join",
    "q_semdedup", "q_xcontamination", "q_substring_dup", "q_upsert",
    "q_chunk_overlap", "q_oov_rate", "q_dedup_scaled", "q_corpus_run",
    "q_split_leakage", "q_ivm", "q_skipgram", "q_neg_sample",
    "q_media_phash", "q_lpa", "q_substring_rewrite", "q_ivf_pq",
    "q_containment", "q_media_jpeg", "q_bpe_apply", "q_bpe_vocab",
    "q_winnow_pairs", "q_winnow_spans", "q_token_shards", "q_corpus_run2",
    "q_corpus_run3", "q_corpus_run4", "q_corpus_run6", "q_corpus_run7",
    "q_scoped_dedup", "q_line_dedup", "q_decontam_spans")
  // q_corpus_run5 is left out on purpose: its DSIR threshold is a one-row
  // broadcast cross join (BroadcastNestedLoopJoin against a single row),
  // not an all-pairs join

  test("no CartesianProduct / BroadcastNestedLoopJoin in any scale-path similarity plan") {
    for (name <- guarded) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains CartesianProduct — all-pairs join regression")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains BroadcastNestedLoopJoin — all-pairs join regression")
    }
  }

  test("URL ops are scan-speed: one file scan, zero shuffles, codegen'd projection") {
    import org.apache.spark.sql.functions._
    // the registrable-domain + canonicalization CASE chains must stay a
    // pure projection over the scan — no UDF, no Exchange, one stage —
    // or the "domain keys derive at scan speed" scaladoc claim is false
    val d = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.ops.UrlOps.registrableDomain(concat(lit("https://www."),
          col("source"), lit(".example.com/a"))).as("dom"),
        graft.ops.UrlOps.canonicalizeUrl(concat(lit("HTTP://u@x."),
          col("source"), lit(".com:80/p?utm_a=1&b=2#f"))).as("canon"))
    val plan = d.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"URL projection must not shuffle:\n$plan")
    assert("FileScan".r.findAllIn(plan).length == 1)
    // the registrable-domain chain ALONE is codegen'd (pure CASE/regexp —
    // the `*(n)` whole-stage prefix); canonicalizeUrl's param-sort lambdas
    // are interpreted by design (higher-order functions don't codegen),
    // which is why it shares the single projection rather than its own op
    val domOnly = graft.core.Tables.documents(spark, sfDir)
      .select(graft.ops.UrlOps.registrableDomain(concat(lit("https://www."),
        col("source"), lit(".example.com/a"))).as("dom"))
      .queryExecution.executedPlan.toString
    assert(domOnly.contains("*(1) Project"),
      s"registrableDomain must stay inside whole-stage codegen:\n$domOnly")
  }

  test("htmlExtract is scan-speed: one file scan, zero shuffles") {
    import org.apache.spark.sql.functions._
    // the whole step chain (regexp_replace/replace + the line-split
    // lambdas) must stay a pure projection over the scan — the "runs at
    // scan grain inside the task-per-file WARC read" scaladoc claim
    val d = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.ops.HtmlOps.htmlExtract(col("text")).as("t"))
    val plan = d.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"htmlExtract must not shuffle:\n$plan")
    assert("FileScan".r.findAllIn(plan).length == 1)
  }

  test("q_langid: profile joins broadcast; the only NLJ is the bounded langs expansion") {
    val plan = SparkEntry.queries("q_langid")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the (langs x K) profile must broadcast onto the doc-gram stream,
    // never shuffle it; the langs cross-expansion is a handful of rows
    // (broadcast-NLJ by construction) and no unplanned cartesian exists
    assert(plan.contains("BroadcastHashJoin"),
      s"lang profile must broadcast-join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("mixEpoch: the weight table broadcasts onto the scan") {
    import org.apache.spark.sql.functions.col
    val plan = graft.ops.Sampling.mixEpoch(
        graft.core.Tables.documents(spark, sfDir),
        col("doc_id"), col("lang"), alpha = 0.3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the group-grain weight table must broadcast, never shuffle the corpus")
    // the weight table itself holds two SANCTIONED 1-row broadcasts
    // (total + normalizer crossJoins) — those are BNLJs by construction;
    // only a genuine cartesian would be a regression
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_ann_topk is the one sanctioned nested-loop plan (exactness baseline)") {
    // bruteForceTopK is DOCUMENTED as corpus-scan × broadcast-queries; it
    // must stay a broadcast NLJ (small side broadcast), never a cartesian.
    val plan = SparkEntry.queries("q_ann_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_ann_bq: the one NLJ is the bounded query-code broadcast; fetch and re-rank joins hash") {
    // the Hamming scan is DOCUMENTED as code-scan × broadcast of |Q|
    // 16-byte code rows — one BNLJ by design. The shortlist fetch and the
    // query-vector re-rank join are key-equi and must plan as broadcast
    // HASH joins, and nothing may plan a cartesian.
    val plan = SparkEntry.queries("q_ann_bq")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj == 1, s"expected exactly the sanctioned Hamming-scan NLJ, got $nlj:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"fetch + re-rank joins must broadcast-hash:\n$plan")
  }

  test("q_hybrid_search: legs are cut once; the fused plan is pure key-equi joins") {
    // the legs are localCheckpointed |Q|·k-row lists (each feeds the
    // candidate universe AND its rank join — without the cut the whole
    // BM25/ANN pipelines re-evaluated, 6 NLJs in the fused plan), so the
    // fusion plan itself must contain NO nested-loop join at all
    val plan = SparkEntry.queries("q_hybrid_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"fused plan must not re-evaluate the legs:\n$plan")
  }

  test("q_tpch_q2: dims broadcast, min decorrelated into ONE aggregation, top-100 never global-sorts") {
    val plan = SparkEntry.queries("q_tpch_q2")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "part/supplier dims must broadcast against the lineitem fact")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // one partial+final pair for min(cost), one for the distinct — a
    // correlated rewrite would re-aggregate per probe row (more HashAggregates)
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected ≤4 HashAggregate nodes (decorrelated min + distinct), got $aggs")
    assert(plan.contains("TakeOrderedAndProject"),
      "limit 100 must be a streaming heap, not sort-then-limit")
  }

  test("q_tpch_q8: one aggregation pass, dims broadcast, no all-pairs join") {
    val plan = SparkEntry.queries("q_tpch_q8")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // conditional + total sums fold in ONE partial/final aggregate pair
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 2, s"expected one partial+final aggregate pair, got $aggs")
  }

  test("q_tpch_q7/q16/q10/q14/q19: dims broadcast, no all-pairs join") {
    for (name <- Seq("q_tpch_q7", "q_tpch_q16", "q_tpch_q10", "q_tpch_q14",
        "q_tpch_q19")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: dims must broadcast")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name: all-pairs join")
    }
  }

  test("q_tpch_q9s: dims broadcast, ONE aggregation pass over the two-fact join") {
    val plan = SparkEntry.queries("q_tpch_q9s")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "part/supplier/nation dims must broadcast against the lineitem fact")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // profit folds in one partial+final pair; the synthesized ps side adds
    // its own distinct pair (pairs dedup) — anything beyond 4 HashAggregates
    // means a re-aggregation crept in
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected ≤4 HashAggregate nodes (profit pair + ps distinct pair), got $aggs")
  }

  test("q_tpch_q11s: global scalar computed once and broadcast, never per probe") {
    // AQE's pre-execution plan hides exchange reuse (it applies at
    // runtime); plan the probe without it so the static ReuseExchange rule
    // is visible — same technique as the q_zorder codegen probe
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try SparkEntry.queries("q_tpch_q11s")(spark, sfDir)
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!plan.contains("CartesianProduct"),
      "the 1-row threshold must broadcast, not cartesian")
    assert(plan.contains("BroadcastExchange"),
      "the 1-row global threshold must broadcast against the per-part aggregate")
    // what matters at 100 TB: the fact table feeds BOTH the per-part
    // aggregate and the global scalar through ONE scan — Spark's exchange
    // reuse must dedup the shared subtree (the threshold branch reads the
    // reused shuffle, it never rescans lineitem)
    val factScans = "FileScan parquet".r.findAllIn(plan).length
    assert(factScans <= 3, // lineitem + supplier + nation, each once
      s"expected ≤3 parquet scans (fact once, dims once), got $factScans:\n${plan.take(3000)}")
    assert(plan.contains("ReusedExchange"),
      s"the shared per-part subtree must be exchange-reused, not recomputed:\n${plan.take(3000)}")
  }

  test("q_tpch_q6: predicates reach the scan, single aggregate, no join") {
    val plan = SparkEntry.queries("q_tpch_q6")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "Q6 is a pure scan aggregate")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "the date window must reach the parquet scan")
  }

  test("q_tpch_q22: lapsed-customer NOT EXISTS lowers to a left-anti join") {
    val plan = SparkEntry.queries("q_tpch_q22")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      "the no-recent-order correlation must be a left-anti join")
    assert(!plan.contains("CartesianProduct"))
    // the one BroadcastNestedLoopJoin is the SANCTIONED 1-row scalar
    // average broadcast (same pattern as q_ann_topk's exactness baseline)
  }

  test("q_tpch_q21: EXISTS/NOT-EXISTS lower to semi + anti joins, top-100 is a heap") {
    val plan = SparkEntry.queries("q_tpch_q21")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "the multi-supplier EXISTS must lower to a left-semi join")
    assert(plan.contains("LeftAnti"),
      "the no-other-late NOT EXISTS must lower to a left-anti join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "both correlations are equi-keyed on l_orderkey — never all-pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      "limit 100 must be a streaming heap, not sort-then-limit")
  }

  test("q_tpch_q20: correlated scalar agg decorrelated, supplier filter is a semi join") {
    val plan = SparkEntry.queries("q_tpch_q20")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "the IN-subquery must lower to a left-semi join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // per-part total + per-(supp,part) total + nothing else: a correlated
    // rewrite would re-aggregate per probe row (HashAggregate explosion)
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected ≤4 HashAggregate nodes (two partial+final pairs), got $aggs")
  }

  test("q_topk plans as TakeOrderedAndProject, never a global sort") {
    val plan = SparkEntry.queries("q_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be the streaming per-partition heap, not sort-then-limit")
  }

  test("flagship entry joins the dimension by broadcast") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "orders x customer must broadcast the dim side")
  }

  test("q_bm25: stats broadcast, no all-pairs join, postings filter precedes the tf agg") {
    val plan = SparkEntry.queries("q_bm25")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastExchange"),
      "the 1-row (n_docs, avgdl) stats table must broadcast")
    // the query-term filter must run BEFORE the (doc, term) aggregation —
    // a vocabulary-wide tf table would shuffle every distinct token
    assert(plan.contains("tok#") && plan.contains("IN ("),
      s"expected the term IN-filter in the plan:\n${plan.take(2000)}")
  }

  test("q_cms: the depth*width sketch broadcasts against the probe side") {
    val plan = SparkEntry.queries("q_cms")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the bounded sketch table must broadcast, never shuffle the probes")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_budget_cap / prefixSumByGroup: no one-task global window") {
    // every Window in the plan must partition by something — an empty
    // partitionBy funnels the whole dataset through a single task
    val plan = SparkEntry.queries("q_budget_cap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    windows.foreach { w =>
      assert(!w.contains("windowspecdefinition()"),
        s"unpartitioned window (single-task funnel):\n$w")
    }
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_zorder: the Morton interleave stays inside whole-stage codegen") {
    // the expression must compile via doGenCode, never the interpreted
    // CodegenFallback path that would break the scan+project codegen span
    val e = graft.functions.InterleaveBits(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      org.apache.spark.sql.catalyst.expressions.Literal(2L), 16)
    assert(!e.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    // AQE's pre-execution AdaptiveSparkPlanExec hides codegen subtrees
    // from the dump — plan the probe without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_zorder")(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      // codegen stages render as "*(n) Project/..." — the project carrying
      // interleavebits must be inside one
      assert(plan.toString.linesIterator.exists(l =>
        l.contains("interleavebits") && l.contains("*(")),
        s"interleave broke whole-stage codegen:\n${plan.toString.take(1200)}")
      val dump = org.apache.spark.sql.execution.debug.codegenString(plan)
      assert(dump.contains("Found") && !dump.startsWith("Found 0"),
        s"no compiled codegen subtree in q_zorder:\n${dump.take(800)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_dataset_diff: one shuffle join, column compares are in-plan projections") {
    val plan = SparkEntry.queries("q_dataset_diff")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"full-outer diff must be a hash/merge join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("localCheckpointCappedStats: capped path clamps the estimate AND keeps constraints") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge
    // A join chain whose SIZE ESTIMATE overflows Long but whose actual
    // result is one row: filters don't shrink the size-only estimate, so
    // five cross-joined single-row slices of a ~64 KB file estimate to
    // (64 KB)^5 ≈ 2^80 while executing five 1-row legs.
    val legs = (1 to 5).map { n =>
      graft.core.Tables.documents(spark, sfDir)
        .select(col("doc_id").as(s"d$n")).filter(col(s"d$n") === 1)
    }
    val df = legs.reduce(_ crossJoin _).filter(col("d1") > 0)
    val plainLr = df.localCheckpoint().queryExecution.logical
    assert(!plainLr.stats.sizeInBytes.isValidLong,
      s"probe too small — capped path not exercised: ${plainLr.stats.sizeInBytes}")
    val cappedLr = graftbridge.localCheckpointCappedStats(df)
      .queryExecution.logical
    assert(cappedLr.stats.sizeInBytes == BigInt(Long.MaxValue),
      s"estimate not clamped: ${cappedLr.stats.sizeInBytes}")
    // the rebuild must expose byte-for-byte the plain checkpoint's
    // constraint set (same output attrs on both checkpoints of one df)
    assert(cappedLr.constraints == plainLr.constraints,
      s"constraints dropped on the capped path:\n plain=${plainLr.constraints}\n capped=${cappedLr.constraints}")
    assert(cappedLr.constraints.exists(_.references.exists(_.name == "d1")),
      "expected the d1 filter constraint to survive the capped rebuild")
  }

  test("dsirWeights: the scoring join broadcasts the dictionary-grain model") {
    import org.apache.spark.sql.functions._
    val plan = graft.ops.TextOps.dsirWeights(
        graft.core.Tables.documents(spark, sfDir), "doc_id", "text",
        col("lang") === "en", dim = 64)
      .queryExecution.executedPlan.toString
    // the corpus-grain (id, bucket, count) frame must join the ≤ dim-row
    // log-ratio model by BROADCAST — a shuffle here would move the whole
    // corpus to co-locate with a 64-row table
    assert(plan.contains("BroadcastHashJoin"),
      s"DSIR scoring join must broadcast the bucket model:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "all-pairs join in the DSIR plan")
  }

  test("groupAdvantage: stats come from groupBy + join-back, never a window") {
    import org.apache.spark.sql.functions._
    val plan = graft.ops.Sampling.groupAdvantage(
        graft.core.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", "n_chars")
      .queryExecution.executedPlan.toString
    // prompt count scales with the corpus: the z-score must ride
    // group-keyed hash aggregation, not a per-group Window (whose sort
    // is wasted) and never a broadcast of the unbounded stats side
    assert(!plan.contains("Window"),
      s"groupAdvantage must not plan a Window:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("generation-eval plans: no cartesian/NLJ; kappa's one NLJ is the 1-row totals broadcast") {
    import org.apache.spark.sql.functions._
    val d = graft.core.Tables.documents(spark, sfDir)
    // the clipped-count metrics and the vote/win-rate aggs must plan as
    // pure hash-agg + hash-join chains — an NLJ anywhere here would put
    // an unbounded gram or group side on an all-pairs loop
    val clean = Seq(
      "bleu" -> graft.ops.OverlapEval.bleu(
        graft.ops.OverlapEval.slicePair(d, "doc_id", "text"), maxN = 4),
      "chrf" -> graft.ops.OverlapEval.chrF(
        graft.ops.OverlapEval.charPair(d, "doc_id", "text")),
      "vote" -> graft.ops.EvalMetrics.majorityVote(d, "source", "lang", "en"),
      "wilson" -> graft.ops.EvalMetrics.wilsonWinRate(
        d.select(col("source").as("win"), col("lang").as("lose")),
        "win", "lose"))
    for ((name, q) <- clean) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans an NLJ")
    }
    val kp = graft.ops.EvalMetrics.cohenKappa(
        d.select(col("lang").as("a"),
          graft.functions.TextAnalysis.langId(col("text")).as("b")), "a", "b")
      .queryExecution.executedPlan.toString
    assert(!kp.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(kp).length == 1,
      s"kappa must have exactly the 1-row pe-broadcast NLJ:\n${kp.take(1500)}")
  }
}
