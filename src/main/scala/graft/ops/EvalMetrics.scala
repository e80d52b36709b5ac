package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed model-evaluation metrics over prediction tables — the
  * "score a trained model on 10^9 held-out rows" pass.
  *
  * `partitions` on [[aucExact]] / [[aucByGroup]] is the range width of
  * [[WindowOps.rankFunctions]]: derived from the scored frame's size by
  * default ([[WindowOps.rankWidth]]; width 1 is the plain window), used as
  * given when positive. On [[prCurve]] it is [[PrefixSum]]'s fixed width.
  */
object EvalMetrics {

  /** Exact ROC AUC via the Mann–Whitney U statistic — computed with the
    * DISTRIBUTED rank machinery ([[WindowOps.rankFunctions]]): no single
    * task ever sorts the score column, yet the result is the exact
    * tie-corrected AUC (midranks for tied scores):
    *
    *   AUC = (Σ_{positives} midrank − P(P+1)/2) / (P·N)
    *
    * All rank math stays in integer longs (2·midrank = rank +
    * rows-through-peers); the final division runs in one fixed double
    * order, rounded to 6 — bit-replayable in any engine.
    *
    * `labelCol` must be 0/1 (anything else raises), `scoreCol` casts to
    * double. One row: (n_pos, n_neg, auc).
    */
  /** Per-group exact AUC — the per-segment eval table (AUC per language,
    * per market segment, per cohort): [[aucExact]]'s midrank math with the
    * ranks computed per group by the same distributed machinery, so a
    * giant segment never sorts in one task. Groups with no positives or
    * no negatives have undefined AUC → null (never a fabricated 0/1).
    * One row per group: (group, n_pos, n_neg, auc).
    */
  def aucByGroup(df: DataFrame, groupCol: String, labelCol: String,
                 scoreCol: String, partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    val lab0 = col(labelCol).cast("int")
    val lab = when(lab0 === 0 || lab0 === 1, lab0)
      .otherwise(raise_error(concat(
        lit(s"aucByGroup: label outside {0,1}: "), lab0.cast("string"))))
    val scored = df.select(col(groupCol).as("_grp"), lab.as("_lab"),
      col(scoreCol).cast("double").as("_score"))
    val ranked = WindowOps.rankFunctions(scored, "_grp", Seq("_score"),
      numTiles = 2, partitions = partitions, keepRanks = true)
    ranked.groupBy(col("_grp").as(groupCol))
      .agg(
        sum(when(col("_lab") === 1, col("rank") + col("peers_through"))
          .otherwise(lit(0L))).as("sum2"),
        sum(col("_lab").cast("long")).as("p"),
        sum(lit(1L) - col("_lab").cast("long")).as("ng"))
      .select(
        col(groupCol), col("p").as("n_pos"), col("ng").as("n_neg"),
        when(col("p") === 0 || col("ng") === 0, lit(null).cast("double"))
          .otherwise(round((col("sum2").cast("double") / lit(2.0) -
              col("p").cast("double") * (col("p").cast("double") + lit(1.0)) / lit(2.0)) /
            (col("p").cast("double") * col("ng").cast("double")), 6)).as("auc"))
  }

  /** Log loss (cross-entropy) and Brier score in one aggregation pass.
    * Probabilities must lie strictly in (0, 1) — out-of-range raises
    * rather than silently clamping (a clamp constant is a modeling
    * choice, not the metric). Per-row ln / squared-error terms are summed
    * in decimal(38,18) (order-independent) and the means round to 4 / 9 —
    * the surprisal libm treatment, so engines agree bit-for-bit.
    * One row: (n, logloss, brier).
    */
  def loglossBrier(df: DataFrame, labelCol: String, probCol: String): DataFrame = {
    val lab0 = col(labelCol).cast("int")
    val lab = when(lab0 === 0 || lab0 === 1, lab0.cast("double"))
      .otherwise(raise_error(concat(
        lit(s"loglossBrier: label outside {0,1}: "), lab0.cast("string"))))
    val p0 = col(probCol).cast("double")
    val p = when(p0 > 0.0 && p0 < 1.0, p0)
      .otherwise(raise_error(concat(
        lit(s"loglossBrier: probability outside (0,1): "), p0.cast("string"))))
    val ll = -(lab * log(p) + (lit(1.0) - lab) * log(lit(1.0) - p))
    val se = (p - lab) * (p - lab)
    df.select(lab.as("_y"), ll.as("_ll"), se.as("_se"))
      .agg(count(lit(1)).as("n"),
        sum(col("_ll").cast("decimal(38,18)")).as("sll"),
        sum(col("_se").cast("decimal(38,18)")).as("sse"))
      .select(col("n"),
        round(col("sll").cast("double") / col("n").cast("double"), 4).as("logloss"),
        round(col("sse").cast("double") / col("n").cast("double"), 9).as("brier"))
  }

  /** Calibration (reliability-diagram) bins: probabilities floor-bucketed
    * into `bins` equal-width bins — floor, not round: half-rounding modes
    * differ across engines (the quantizeInt8 rule) — with per-bin count,
    * mean predicted probability, and observed positive rate. p = 1.0
    * lands in the last bin. One hash aggregation.
    */
  def calibrationBins(df: DataFrame, labelCol: String, probCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationBins: bins must be >= 2: $bins")
    val p = col(probCol).cast("double")
    val b = least(floor(p * bins).cast("long"), lit(bins - 1L))
    df.select(col(labelCol).cast("long").as("_y"), p.as("_p"), b.as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(sum(col("_p").cast("decimal(38,18)")).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean_p"),
        round(sum(col("_y")).cast("double") /
          count(lit(1)).cast("double"), 9).as("frac_pos"))
  }

  def aucExact(df: DataFrame, labelCol: String, scoreCol: String,
               partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    val lab0 = col(labelCol).cast("int")
    val lab = when(lab0 === 0 || lab0 === 1, lab0)
      .otherwise(raise_error(concat(
        lit(s"aucExact: label outside {0,1}: "), lab0.cast("string"))))
    val scored = df.select(lab.as("_lab"),
        col(scoreCol).cast("double").as("_score"))
      .withColumn("_ag", lit(1))
    val ranked = WindowOps.rankFunctions(scored, "_ag", Seq("_score"),
      numTiles = 2, partitions = partitions, keepRanks = true)
    ranked.agg(
        sum(when(col("_lab") === 1, col("rank") + col("peers_through"))
          .otherwise(lit(0L))).as("sum2"), // Σ 2·midrank over positives
        sum(col("_lab").cast("long")).as("p"),
        sum(lit(1L) - col("_lab").cast("long")).as("ng"))
      .select(
        col("p").as("n_pos"), col("ng").as("n_neg"),
        round((col("sum2").cast("double") / lit(2.0) -
            col("p").cast("double") * (col("p").cast("double") + lit(1.0)) / lit(2.0)) /
          (col("p").cast("double") * col("ng").cast("double")), 6).as("auc"))
  }

  /** Full precision/recall/F1 curve over every distinct score threshold
    * (predict positive when score ≥ thr) in ONE value-grain construction:
    * collapse rows to (score, pos, neg) counts (map-side combine — the
    * raw corpus never sorts), then cumulative tp/fp over scores
    * DESCENDING via [[PrefixSum.prefixSum]] — the distributed prefix sum,
    * NOT a one-task unpartitioned window — and closed-form fn/tn from the
    * broadcast totals. The threshold-sweep companion to [[aucExact]]
    * (which integrates this curve into one number); what you read to PICK
    * the operating threshold.
    *
    * Determinism: counts are exact longs; precision/recall/f1 are fixed
    * double expressions rounded 6 (f1 = 0 when tp = 0, never null).
    * Thresholds are the RAW scores cast to double — fractional scores
    * (model probabilities in [0,1]) keep their full resolution; grouping
    * is on the exact double bits, so equal inputs collapse and nothing
    * is silently truncated to integer bands.
    *
    * Output: (thr, tp, fp, fn, tn, precision, recall, f1), one row per
    * distinct score, ascending thr.
    */
  def prCurve(df: DataFrame, labelCol: String, scoreCol: String,
              partitions: Int = 32): DataFrame = {
    val lab0 = col(labelCol).cast("int")
    val lab = when(lab0 === 0 || lab0 === 1, lab0)
      .otherwise(raise_error(concat(
        lit(s"prCurve: label outside {0,1}: "), lab0.cast("string"))))
    val collapsed = df.select(lab.as("_lab"),
        col(scoreCol).cast("double").as("thr"))
      .groupBy("thr").agg(
        sum(col("_lab").cast("long")).as("pos"),
        sum(lit(1L) - col("_lab").cast("long")).as("neg"))
      .withColumn("_ns", -col("thr")) // descending-score order key
    val tp = PrefixSum.prefixSum(collapsed, "_ns", "pos", partitions)
      .withColumnRenamed("cum", "tp")
    val both = PrefixSum.prefixSum(tp, "_ns", "neg", partitions)
      .withColumnRenamed("cum", "fp")
    val tot = both.agg(sum("pos").as("p"), sum("neg").as("n"))
    val pr = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
    val rc = col("tp").cast("double") / col("p").cast("double")
    both.crossJoin(broadcast(tot))
      .select(col("thr"), col("tp"), col("fp"),
        (col("p") - col("tp")).as("fn"), (col("n") - col("fp")).as("tn"),
        round(pr, 6).as("precision"), round(rc, 6).as("recall"),
        round(when(col("tp") > 0, lit(2.0) * pr * rc / (pr + rc))
          .otherwise(0.0), 6).as("f1"))
  }

  /** Precision@k / Recall@k per query — the binary-relevance companions
    * to [[rankingMetrics]]'s graded NDCG (rel > 0 counts as relevant;
    * same (score desc, id asc) ranking). Precision divides by the FULL
    * cutoff k (a short candidate list is penalized, the standard IR
    * convention); queries with no relevant candidate recall 0, never
    * null. Integer ratios in one fixed double order, round 6. Output:
    * (query, n_rel, hits, precision, recall).
    */
  def precisionRecallAtK(df: DataFrame, queryCol: String, idCol: String,
                         scoreCol: String, relCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"precisionRecallAtK needs k >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query").orderBy(col("score").desc, col("id").asc)
    df.select(col(queryCol).as("query"), col(idCol).as("id"),
        col(scoreCol).cast("double").as("score"),
        (col(relCol).cast("int") > 0).as("rel"))
      .withColumn("r", row_number().over(w))
      .groupBy("query").agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"),
        sum(when(col("rel") && col("r") <= k, 1L).otherwise(0L)).as("hits"))
      .select(col("query"), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / k, 6).as("precision"),
        round(when(col("n_rel") > 0,
          col("hits").cast("double") / col("n_rel").cast("double"))
          .otherwise(0.0), 6).as("recall"))
  }

  /** Ranking-quality metrics per query — NDCG@k (graded, exponential
    * gain: (2^rel − 1)/log₂(rank+1), Järvelin & Kekäläinen 2002) and
    * MRR@k — the retrieval-eval pass next to the classification metrics
    * above (score a BM25/ANN ranking against labeled relevance).
    *
    * Deterministic cross-engine: ranks come from (score desc, id asc)
    * row_number (ideal ranks from (rel desc, id asc)); per-rank gain
    * terms are IEEE doubles cast to decimal(38,18) and summed
    * order-independently; the final DCG/IDCG ratio and the 1/first-rel
    * reciprocal run in one fixed double order, rounded to 6. Queries
    * with no relevant candidate score 0 on both (never null).
    *
    * Scale contract: the per-query window sorts ONE query's candidate
    * list — retrieval inputs are top-m lists by construction, so
    * per-task state is the list length, and queries distribute across
    * tasks (same contract as [[aucByGroup]]'s per-group ranks at the
    * usual segment sizes; a pathological million-candidate query is a
    * skewed group AQE handles).
    *
    * Output: (query, n_cands, ndcg, mrr), one row per query.
    */
  def rankingMetrics(df: DataFrame, queryCol: String, idCol: String,
                     scoreCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"rankingMetrics needs k >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
    val ranked = df.select(col(queryCol).as("query"), col(idCol).as("id"),
        col(scoreCol).cast("double").as("score"),
        col(relCol).cast("int").as("rel"))
      .withColumn("r", row_number().over(
        w.partitionBy("query").orderBy(col("score").desc, col("id").asc)))
      .withColumn("ri", row_number().over(
        w.partitionBy("query").orderBy(col("rel").desc, col("id").asc)))
    def gain(rel: org.apache.spark.sql.Column, rank: org.apache.spark.sql.Column) =
      ((pow(lit(2.0), rel.cast("double")) - 1.0) / log2(rank.cast("double") + 1.0))
        .cast("decimal(38,18)")
    val zero = lit(0).cast("decimal(38,18)")
    ranked.groupBy("query").agg(
        count(lit(1)).as("n_cands"),
        sum(when(col("r") <= k, gain(col("rel"), col("r"))).otherwise(zero)).as("dcg"),
        sum(when(col("ri") <= k, gain(col("rel"), col("ri"))).otherwise(zero)).as("idcg"),
        min(when(col("r") <= k && col("rel") > 0, col("r"))).as("fr"))
      .select(col("query"), col("n_cands"),
        round(when(col("idcg") > zero,
          col("dcg").cast("double") / col("idcg").cast("double"))
          .otherwise(0.0), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("fr"), lit(0.0)), 6).as("mrr"))
  }

  /** Unbiased pass@k (Chen et al. 2021, public — the Codex estimator):
    * per problem group with n samples of which c pass,
    * pass@k = 1 − C(n−c, k)/C(n, k), computed exactly as the
    * fixed-order product Π_{i=0..k−1} (n−c−i)/(n−i) — the standard
    * code-eval metric over a sampled-generations table.
    *
    * The Column expression here and the SQL [[passAtKSql]] generates
    * come from the SAME term layout (left-associated double multiply of
    * identical CAST'd integers), so both engines multiply the same
    * numbers in the same order; the result is quantized (round 6).
    * Semantics: c = 0 → 0; n − c < k → 1 (every k-subset contains a
    * pass); n < k → NULL (the estimator needs n ≥ k).
    *
    * Shape at 100 TB: ONE group-keyed count aggregation; each pass@k is
    * k in-row product terms — problems scale, k is a literal.
    */
  def passAtK(df: DataFrame, groupCol: String,
              passCol: org.apache.spark.sql.Column,
              ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"passAtK ks: $ks")
    val base = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(passCol.cast("int").cast("long")).as("c"))
    base.select(col("grp") +: col("n") +: col("c") +: passAtKCols(ks): _*)
  }

  /** The pass@k projections over LONG columns `n`/`c` — one builder for
    * the batch aggregation and the streaming maintained counts
    * ([[graft.streaming.Streams.passAtKStream]]), so the two paths share
    * every multiply, cast and round and cannot drift.
    */
  private[graft] def passAtKCols(ks: Seq[Int])
      : Seq[org.apache.spark.sql.Column] =
    ks.map { k =>
      val prod = (0 until k).map(i =>
        (col("n") - col("c") - lit(i.toLong)).cast("double") /
          (col("n") - lit(i.toLong)).cast("double")).reduceLeft(_ * _)
      round(when(col("n") < k, lit(null).cast("double"))
        .when(col("c") === 0L, 0.0)
        .when(col("n") - col("c") < k, 1.0)
        .otherwise(lit(1.0) - prod), 6).as(s"pass_$k")
    }

  /** The SQL twin of one [[passAtK]] column over integer expressions
    * `n`/`c` — generated, not hand-written, so the two renderings cannot
    * drift.
    */
  def passAtKSql(n: String, c: String, k: Int): String = {
    require(k >= 1, s"passAtKSql k: $k")
    val prod = (0 until k).map(i =>
      s"(CAST($n - $c - $i AS DOUBLE) / CAST($n - $i AS DOUBLE))")
      .mkString(" * ")
    s"""round(CASE WHEN $n < $k THEN NULL
       |           WHEN $c = 0 THEN 0.0
       |           WHEN $n - $c < $k THEN 1.0
       |           ELSE 1.0 - ($prod) END, 6)""".stripMargin
  }

  /** Self-consistency majority vote (Wang et al. 2023): per problem group,
    * the modal answer across sampled generations (ties broken to the
    * lexicographically smallest answer — deterministic, engine-portable),
    * its vote share, and whether it matches `gold`. One row per group:
    * (grp, vote, votes, total, share, correct).
    *
    * Shape at 100 TB: one corpus-grain count aggregation down to
    * (group × answer) grain — checkpointed, two group-grain consumers
    * after it. No window; the argmax is max-count join-back + min(ans).
    */
  def majorityVote(df: DataFrame, groupCol: String, ansCol: String,
                   gold: String): DataFrame = {
    val votes = df.groupBy(col(groupCol).as("grp"), col(ansCol).as("ans"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    val m = votes.groupBy("grp").agg(max("cnt").as("mc"), sum("cnt").as("tot"))
    votes.join(m, "grp").filter(col("cnt") === col("mc"))
      .groupBy("grp", "mc", "tot").agg(min("ans").as("vote"))
      .select(col("grp"), col("vote"), col("mc").as("votes"),
        col("tot").as("total"),
        round(col("mc").cast("double") / col("tot").cast("double"), 6)
          .as("share"),
        (col("vote") === lit(gold)).cast("int").as("correct"))
  }

  /** The z for the 95% Wilson interval — single source for both
    * renderers (the SQL twin interpolates z and z² from here).
    */
  val WilsonZ: Double = 1.96

  /** Arena win rates with Wilson score intervals (Wilson 1927) — the
    * leaderboard-with-error-bars view of pairwise policy outcomes, the
    * uncertainty companion to the Bradley-Terry ratings. Input: one row
    * per game (winCol = winning policy, loseCol = losing policy). One row
    * per policy: (policy, wins, games, rate, lo, hi); lo/hi clamped to
    * [0,1] — the Wilson interval never needs the clamp mathematically,
    * but the fixed round-6 boundary does.
    *
    * Shape at 100 TB: union-explode to (policy, win-flag) grain, one
    * group-keyed count agg; the interval is in-row closed-form math.
    */
  def wilsonWinRate(outcomes: DataFrame, winCol: String, loseCol: String,
                    z: Double = WilsonZ): DataFrame = {
    val games = outcomes.select(col(winCol).as("policy"), lit(1L).as("w"))
      .unionByName(outcomes.select(col(loseCol).as("policy"), lit(0L).as("w")))
    val agg = games.groupBy("policy")
      .agg(sum("w").as("wins"), count(lit(1)).as("games"))
    agg.select(col("policy") +: col("wins") +: col("games") +:
      wilsonCols(z): _*)
  }

  /** The Wilson rate/lo/hi projections over LONG columns `wins`/`games` —
    * one builder for the batch aggregation and the streaming maintained
    * counts ([[graft.streaming.Streams.winRateStream]]): shared operation
    * order, shared clamps, shared rounding.
    */
  private[graft] def wilsonCols(z: Double = WilsonZ)
      : Seq[org.apache.spark.sql.Column] = {
    val nD = col("games").cast("double")
    val p = col("wins").cast("double") / nD
    val z2 = z * z
    val denom = lit(1.0) + lit(z2) / nD
    val center = (p + lit(z2) / (lit(2.0) * nD)) / denom
    val half = lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z2) / (lit(4.0) * nD * nD)) / denom
    Seq(round(p, 6).as("rate"),
      round(greatest(lit(0.0), center - half), 6).as("lo"),
      round(least(lit(1.0), center + half), 6).as("hi"))
  }

  /** The SQL twin of [[wilsonWinRate]]'s projection over integer columns
    * `wins`/`games` — generated (same operation order, z/z² interpolated
    * from [[WilsonZ]]) so the two renderings cannot drift.
    */
  def wilsonSql(wins: String, games: String, z: Double = WilsonZ): String = {
    val z2 = z * z
    val n = s"CAST($games AS DOUBLE)"
    val p = s"(CAST($wins AS DOUBLE) / $n)"
    val denom = s"(1.0 + $z2 / $n)"
    val center = s"(($p + $z2 / (2.0 * $n)) / $denom)"
    val half =
      s"($z * sqrt($p * (1.0 - $p) / $n + $z2 / (4.0 * $n * $n)) / $denom)"
    s"""round($p, 6) AS rate,
       |  round(greatest(0.0, $center - $half), 6) AS lo,
       |  round(least(1.0, $center + $half), 6) AS hi""".stripMargin
  }

  /** Distinct-n generation diversity (Li et al. 2016): per problem
    * group, distinct n-grams / total n-grams pooled across the group's
    * generations, n = 1..maxN — low ratios flag mode collapse /
    * repetitive sampling. One row per (grp, n):
    * (grp, n, n_total, n_distinct, distinct_ratio).
    *
    * Shape at 100 TB: the gram explode is token-linear; the per-group
    * distinct is a two-level hash aggregation — nothing is ever
    * all-pairs and no window appears.
    */
  def distinctN(df: DataFrame, groupCol: String, textCol: String,
                maxN: Int): DataFrame = {
    require(maxN >= 1, s"distinctN maxN: $maxN")
    import graft.functions.TextAnalysis
    val toks = df.select(col(groupCol).as("grp"),
      TextAnalysis.tokensArr(col(textCol)).as("toks"))
    val grams = toks.select(col("grp"),
      explode(flatten(array((1 to maxN).map { n =>
        val gs = when(size(col("toks")) >= n,
          TextAnalysis.ngramsArr(col("toks"), n))
          .otherwise(array().cast("array<string>"))
        transform(gs, g => struct(lit(n).as("n"), g.as("g")))
      }: _*))).as("x"))
      .select(col("grp"), col("x.n").as("n"), col("x.g").as("g"))
    grams.groupBy("grp", "n")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("grp"), col("n"), col("n_total"), col("n_distinct"),
        round(col("n_distinct").cast("double") /
          col("n_total").cast("double"), 6).as("distinct_ratio"))
  }

  /** Cohen's kappa (1960) between two categorical raters — the
    * inter-annotator-agreement number every labeling/RLHF pipeline reports:
    * κ = (pₒ − pₑ)/(1 − pₑ) with pₒ the observed agreement and pₑ the
    * chance agreement from the marginals. NULL (never NaN) at the
    * degenerate pₑ = 1. One row: (tot, po, pe, kappa).
    *
    * Shape at 100 TB: one corpus pass to the |A|×|B| contingency table
    * (checkpointed), then marginal math at label grain. The final 1-row
    * crossJoin is the benign broadcast-totals pattern.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val ra = cell.groupBy(col("a").as("k")).agg(sum("c").as("ca"))
    val rb = cell.groupBy(col("b").as("k")).agg(sum("c").as("cb"))
    // disjoint rater label sets join to an EMPTY marginal product: the
    // chance agreement is genuinely 0 (no label both raters use), not
    // NULL — coalesce so kappa degrades to po instead of NULL
    val pe = ra.join(rb, "k")
      .agg(coalesce(sum(col("ca").cast("double") * col("cb").cast("double")),
        lit(0.0)).as("s"))
    val agg = cell.agg(sum("c").as("tot"),
      sum(when(col("a") === col("b"), col("c")).otherwise(lit(0L)))
        .as("agree"))
    val poRaw = col("agree").cast("double") / col("tot").cast("double")
    val peRaw = col("s") /
      (col("tot").cast("double") * col("tot").cast("double"))
    agg.crossJoin(broadcast(pe))
      .select(col("tot"), round(poRaw, 6).as("po"), round(peRaw, 6).as("pe"),
        round(when(lit(1.0) - peRaw === 0.0, lit(null).cast("double"))
          .otherwise((poRaw - peRaw) / (lit(1.0) - peRaw)), 6).as("kappa"))
  }
}
