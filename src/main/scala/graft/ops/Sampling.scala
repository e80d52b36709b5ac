package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is useless at 100 TB: it changes under task
  * retry (a re-run partition draws different rows), isn't reproducible
  * across runs, and can't be audited. These samplers derive the draw from
  * the ROW itself — a uniform 32-bit value from md5(key:salt) — so the
  * sample is a pure, engine-portable filter: same rows on every run, every
  * partitioning, every engine (the DuckDB oracle replays it exactly), and
  * it pushes down to the scan as a codegen'd predicate with zero shuffle.
  * Changing `salt` yields an independent resample.
  */
object Sampling {

  /** Uniform 32-bit draw for a row: first 8 hex digits of md5(key ':' salt). */
  def hashDraw(key: Column, salt: String): Column =
    conv(substring(md5(to_binary(concat(key.cast("string"), lit(":" + salt)),
      lit("utf-8"))), 1, 8), 16, 10).cast("long")

  private def threshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    math.floor(rate * 4294967296.0).toLong
  }

  /** Keep ~`rate` of rows, deterministically (draw < rate·2³²). */
  def hashSample(df: DataFrame, key: Column, rate: Double,
                 salt: String = "graft"): DataFrame =
    df.filter(hashDraw(key, salt) < threshold(rate))

  /** Stratified sample: per-stratum keep rates, `defaultRate` for strata
    * not listed. One codegen'd CASE — no per-stratum passes, no shuffle.
    */
  def stratifiedSample(df: DataFrame, key: Column, strata: Column,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "graft"): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(threshold(defaultRate))) {
      case (acc, (stratum, r)) =>
        when(strata === stratum, lit(threshold(r))).otherwise(acc)
    }
    df.filter(hashDraw(key, salt) < thr)
  }

  /** Data mixing: rebalance a corpus across groups (language, source
    * domain) by downsampling every group to ~the smallest group's size —
    * per-group keep rate = min_count / group_count. The rates are derived
    * IN the plan (one groupBy the size of the group dictionary + a 1-row
    * broadcast of the min + a join back on the group key that AQE
    * broadcasts when the dictionary is small), so nothing is collected at
    * the driver and the group cardinality may be web-scale (domains).
    * The draw is the same deterministic md5 filter as [[hashSample]]:
    * retry-stable, partitioning-independent, engine-replayable.
    *
    * The threshold is floor(2³² · (min/cnt)) computed in IEEE doubles in
    * this exact operation order — the oracle replays it verbatim, so keep
    * decisions are bit-identical across engines.
    */
  def rebalanceToMin(df: DataFrame, key: Column, group: Column,
                     salt: String = "graft"): DataFrame = {
    val counts = df.groupBy(group.as("_g")).agg(count(lit(1)).as("_cnt"))
    val minCnt = counts.agg(min(col("_cnt")).as("_min"))
    val thr = counts.crossJoin(broadcast(minCnt))
      .withColumn("_thr",
        floor(lit(4294967296.0) *
          (col("_min").cast("double") / col("_cnt").cast("double"))).cast("long"))
      .select(col("_g"), col("_thr"))
    df.join(thr, group === col("_g"))
      .filter(hashDraw(key, salt) < col("_thr"))
      .drop("_g", "_thr")
  }

  /** The SQL a DuckDB/ANSI engine needs to replay [[hashDraw]] — kept next
    * to the Scala so the two formulas can't drift apart.
    */
  def hashDrawSql(keyExpr: String, salt: String): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR) || ':$salt'), 1, 8)) AS BIGINT)"

  /** The SQL twin of [[hashSample]]'s keep predicate — same draw, same
    * floor(rate·2³²) threshold, so a sampled FIT set replays identically.
    */
  def hashSampleSql(keyExpr: String, rate: Double, salt: String): String =
    s"${hashDrawSql(keyExpr, salt)} < ${threshold(rate)}"

  /** Deterministic train/val/test split: adds `split` = the index of the
    * weight bucket the row's [[hashDraw]] lands in (weights are
    * normalized; cumulative thresholds floor(2³²·Σwᵢ) in IEEE doubles with
    * fixed op order, so the assignment replays bit-identically in any
    * engine). Buckets are EXCLUSIVE and EXHAUSTIVE — every row gets
    * exactly one split, rows never migrate between splits when other
    * weights change only downstream of their bucket, and (like every
    * sampler here) the filter is a pure codegen'd predicate: zero shuffle,
    * retry-stable, auditable.
    */
  def splitByHash(df: DataFrame, key: Column, weights: Seq[Double],
                  salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0),
      s"splitByHash: weights must be positive: $weights")
    val total = weights.sum
    // cumulative thresholds in fixed order; last pinned to 2^32 so
    // rounding never leaves a row unassigned
    val cum = weights.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(4294967296.0 * (c / total)).toLong)
      .updated(weights.size - 1, 4294967296L)
    val draw = hashDraw(key, salt)
    val split = cum.init.zipWithIndex.foldRight(
      lit(weights.size - 1): Column) { case ((thr, i), acc) =>
      when(draw < thr, lit(i)).otherwise(acc)
    }
    df.withColumn("split", split)
  }

  /** Oracle dual of [[splitByHash]]: the CASE expression an ANSI engine
    * needs to replay the split — thresholds come from the SAME Scala
    * computation, so the two can't drift apart.
    */
  def splitByHashSql(keyExpr: String, weights: Seq[Double],
                     salt: String = "graft"): String = {
    val total = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(4294967296.0 * (c / total)).toLong)
      .updated(weights.size - 1, 4294967296L)
    val draw = hashDrawSql(keyExpr, salt)
    cum.init.zipWithIndex
      .map { case (thr, i) => s"WHEN $draw < $thr THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${weights.size - 1} END")
  }

  /** Weighted sample without replacement, k rows per group — deterministic
    * Efraimidis–Spirakis with INTEGER weights: a row's priority is the MIN
    * of `weight` independent 60-bit hashes (min of w uniforms ⇒ selection
    * odds ∝ weight), and each group keeps its k lowest priorities. No
    * `ln`/`pow` priorities: libm transcendentals differ by ulps across
    * engines, integer min/compare is bit-portable everywhere.
    *
    * Shape at 100 TB: the weight-fold explode is in-row (weights capped by
    * `maxWeight` — fail loudly, an unbounded weight would amplify a row
    * arbitrarily), the per-row min folds BEFORE any shuffle, and the
    * per-group top-k is one window over (group, priority). Retry-stable
    * and partitioning-independent like every sampler here.
    */
  def weightedSamplePerGroup(df: DataFrame, key: Column, group: Column,
                             weight: Column, k: Int, maxWeight: Int = 1000,
                             salt: String = "graft"): DataFrame = {
    // withColumn below REPLACES same-named input columns (they'd be
    // silently overwritten and then dropped) — same guard as
    // ScaleOps.smallestKPerGroup's reserved names
    Seq("_g", "_key", "_pri").foreach(c =>
      require(!df.columns.contains(c),
        s"weightedSamplePerGroup: input must not contain reserved column '$c'"))
    val guarded = when(weight >= 1 && weight <= maxWeight, weight.cast("int"))
      .otherwise(raise_error(concat(lit(
        s"weightedSamplePerGroup: weight outside [1, $maxWeight]: "),
        weight.cast("string"))).cast("int"))
    // min over j of hash60(key ':' salt ':' j) — folded in-row, no explode
    val pri = array_min(transform(sequence(lit(0), guarded - 1), j =>
      conv(substring(md5(to_binary(
        concat(key.cast("string"), lit(":" + salt + ":"), j.cast("string")),
        lit("utf-8"))), 1, 15), 16, 10).cast("long")))
    // two-level top-k (ScaleOps): a huge group never sorts in one task
    graft.ops.ScaleOps.smallestKPerGroup(
        df.withColumn("_g", group).withColumn("_key", key)
          .withColumn("_pri", pri),
        "_g", Seq("_pri", "_key"), k)
      .drop("_g", "_key", "_pri")
  }

  /** Deterministic negative sampling — k pseudo-random negatives per id
    * for contrastive training (the partner of
    * [[graft.ops.TextOps.skipgramPairs]]' positives): ids land on a
    * hash-shuffled ring inside `buckets` hash buckets; id's negatives are
    * the next `k` ids around its bucket's ring. Hash placement makes the
    * ring order corpus-random, so ring neighbors are uniform-ish draws —
    * but fully deterministic (retry/rerun/engine-stable) where a
    * rand()-based sampler is not, and self-pairs are impossible by
    * construction (offset ≥ 1, modulo bucket size).
    *
    * Scale shape: every window is PARTITIONED by bucket (no global rank,
    * no one-task funnel); the ring join is an equi-join on
    * (bucket, position). Buckets of size ≤ j yield fewer than k negatives
    * for their ids (wrap would self-pair) — size buckets ≫ k via the
    * `buckets` knob. Output: (id, neg_id, j) for j in 1..k.
    */
  def negativeSample(df: DataFrame, key: Column, k: Int, buckets: Int,
                     salt: String = "neg"): DataFrame = {
    require(k >= 1 && buckets >= 1, s"negativeSample: k=$k buckets=$buckets")
    val ids = df.select(key.cast("long").as("id")).distinct()
      .withColumn("_b", pmod(hashDraw(col("id"), salt + ":b"), lit(buckets.toLong)))
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("_b")
          .orderBy(hashDraw(col("id"), salt + ":r"), col("id"))) - 1)
    val sizes = ids.groupBy("_b").agg(count(lit(1)).as("_n"))
    val probes = ids.join(broadcast(sizes), "_b")
      .select(col("id"), col("_b"), col("_n"), col("_r"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .filter(col("j") < col("_n")) // wrap past the ring would self-pair
      .select(col("id"), col("_b"), col("j"),
        pmod(col("_r") + col("j"), col("_n")).as("_rj"))
    probes.join(ids.select(col("_b"), col("_r").as("_rj"),
        col("id").as("neg_id")), Seq("_b", "_rj"))
      .select("id", "neg_id", "j")
  }

  /** Reproducible GLOBAL SHUFFLE index — the order a training run reads
    * the corpus in: position = rank in (hashDraw(key, salt), key) order.
    * Changing `salt` is a fresh epoch permutation; the same salt replays
    * the identical order on any cluster. The rank is the DISTRIBUTED
    * prefix sum over a unique encoded order key (draw·2³¹ + key — the
    * 32-bit draw shifted 31 keeps the encoding inside int64 under ANSI
    * arithmetic; key must be a non-negative id < 2³¹), never a
    * one-task global window.
    *
    * Output: (id, pos) with pos in [0, n).
    */
  def shuffleIndex(df: DataFrame, key: Column, salt: String): DataFrame = {
    val base = df.select(key.cast("long").as("id"))
      .withColumn("_enc",
        hashDraw(col("id"), salt) * lit(2147483648L) + col("id"))
      .withColumn("_one", lit(1L))
    PrefixSum.prefixSum(base, "_enc", "_one")
      .select(col("id"), (col("cum") - 1).as("pos"))
  }

  /** Temperature-scaled source-mixing WEIGHTS — the multilingual /
    * multi-source sampling formula (Lample & Conneau 2019 XLM §3.1,
    * also the mT5/data-mixture recipe): q_g ∝ (n_g/N)^alpha, alpha in
    * (0,1] flattening the natural distribution (alpha=1 → proportional,
    * alpha→0 → uniform) so low-resource sources are upsampled. This is
    * the TABLE a mixing pipeline computes first; the per-doc draw then
    * uses [[weightedSamplePerGroup]]/[[rebalanceToMin]] machinery.
    *
    * Determinism: share = one double division of exact longs; the
    * powered weight is round(pow, 6) BEFORE normalizing (the logreg
    * quantize trick — a 1-ulp libm pow difference cannot propagate),
    * the normalizer sums DECIMAL(38,18) (order-independent), outputs
    * round 6. Two 1-row broadcasts, one group aggregation — the whole
    * op is group-grain.
    *
    * Output: (grp, n, share, weight, boost) with boost = weight/share,
    * the per-doc oversampling factor.
    */
  def mixWeights(df: DataFrame, group: Column, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"mixWeights: alpha in (0,1]: $alpha")
    val counts = df.groupBy(group.as("grp")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("t"))
    val shared = counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("t").cast("double"))
      .withColumn("w", round(pow(col("share"), lit(alpha)), 6))
    val norm = shared.agg(sum(col("w").cast("decimal(38,18)")).as("z"))
    shared.crossJoin(broadcast(norm))
      .select(col("grp"), col("n"), round(col("share"), 6).as("share"),
        round(col("w") / col("z").cast("double"), 6).as("weight"),
        round(col("w") / col("z").cast("double") / col("share"), 6).as("boost"))
  }

  /** CURRICULUM read order — the training-prep step "read the highest
    * quality tier first, shuffled within each tier": position = rank in
    * (bucket DESC, draw, id) order — one distributed running count in
    * that order ([[PrefixSum]] on the exact-rank scaffold, never a
    * one-task global window). Same salt = same curriculum on any cluster.
    *
    * Output: (id, bucket, pos) with pos in [0, n), descending-bucket
    * blocks each internally hash-shuffled.
    */
  def curriculumIndex(df: DataFrame, bucket: Column, key: Column,
                      salt: String = "curriculum"): DataFrame = {
    val base = df.select(bucket.cast("int").as("bucket"),
        key.cast("long").as("id"))
      .withColumn("draw", hashDraw(col("id"), salt))
      .withColumn("_one", lit(1L))
    PrefixSum.runningSum(base, None,
        Seq(col("bucket").desc, col("draw"), col("id")), "_one")
      .select(col("id"), col("bucket"), (col("cum") - 1).as("pos"))
  }

  /** Temperature-mixing EPOCH materializer — [[mixWeights]] applied to
    * the corpus: every document of group g is replicated floor(boost_g)
    * times plus one more with probability frac(boost_g), decided by the
    * same deterministic [[hashDraw]] as every sampler here — so the
    * epoch has ≈ N·weight_g rows per group (upsampled low-resource
    * groups repeat docs, downsampled ones drop docs), is retry-stable,
    * partitioning-independent, and fully oracle-replayable. `copy`
    * numbers the repetitions (1..copies) so downstream shuffling /
    * sharding can treat each repetition as its own row.
    *
    * Shape: the group-grain weight table broadcast onto the scan + one
    * in-row sequence explode — zero extra shuffles.
    *
    * Output: (id, grp, copy).
    */
  def mixEpoch(df: DataFrame, key: Column, group: Column, alpha: Double,
               salt: String = "mix"): DataFrame = {
    val w = mixWeights(df, group, alpha).select(col("grp"), col("boost"))
    val fl = floor(col("boost")).cast("long")
    val frac = col("boost") - floor(col("boost"))
    val extra = (hashDraw(col("id"), salt) <
      floor(lit(4294967296.0) * frac).cast("long")).cast("long")
    df.select(key.cast("long").as("id"), group.as("grp"))
      .join(broadcast(w), "grp")
      .withColumn("_copies", fl + extra)
      .filter(col("_copies") > 0)
      .select(col("id"), col("grp"),
        explode(sequence(lit(1L), col("_copies"))).as("copy"))
  }

  /** Preference-pair construction — the RLHF/DPO data-prep stage: within
    * each group (prompt), rank candidates by score and pair BEST with
    * WORST, second-best with second-worst, … (rank r ↔ rank n+1−r, r <
    * n+1−r) — the maximal-margin pairing that gives a reward model its
    * highest-signal comparisons. Tied-score pairs are dropped: a
    * preference needs a strict order, and emitting coin-flip pairs
    * teaches noise.
    *
    * Shape at 100 TB: one shuffle on the group key; the rank window is
    * per-group, which matches the workload — a prompt's candidate list
    * is small (a sampling batch), it's the GROUP COUNT that is huge.
    * The pairing self-join is an equi-join on (group, partner rank).
    * Output: (grp, chosen_id, rejected_id, chosen_score, rejected_score,
    * margin), exact doubles.
    */
  def preferencePairs(df: DataFrame, idCol: String, groupCol: String,
                      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id").asc)
    val r = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        col(scoreCol).cast("double").as("score"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
    r.as("a").join(r.as("b"),
        col("a.grp") === col("b.grp") &&
          col("b.rk") === col("a.n") + 1 - col("a.rk") &&
          col("a.rk") < col("b.rk"))
      .filter(col("a.score") > col("b.score"))
      .select(col("a.grp").as("grp"),
        col("a.id").as("chosen_id"), col("b.id").as("rejected_id"),
        col("a.score").as("chosen_score"), col("b.score").as("rejected_score"),
        (col("a.score") - col("b.score")).as("margin"))
  }

  /** REJECTION-SAMPLING selection — the best-of-n data-prep stage (keep
    * each prompt's top-n highest-reward candidates; the Llama-2 "SFT from
    * the reward model's favorites" recipe, the selection dual of
    * [[preferencePairs]]' best↔worst pairing). Rank = (score DESC, id
    * ASC) within each group — the id tie-break makes the cut replay
    * exactly under retry/repartition.
    *
    * Shape at 100 TB: ranks go through
    * [[graft.ops.ScaleOps.smallestKPerGroup]]'s two-level heap, so a
    * viral prompt with millions of sampled candidates never funnels
    * through one task; the final row_number window only ever sees ≤ n
    * survivors per group.
    *
    * Output: (grp, id, score, rank), rank in [1, n].
    */
  def bestOfN(df: DataFrame, idCol: String, groupCol: String,
              scoreCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bestOfN: n must be >= 1: $n")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        col(scoreCol).cast("double").as("score"))
      .withColumn("_ns", -col("score"))
    val w = Window.partitionBy("grp").orderBy(col("_ns"), col("id"))
    graft.ops.ScaleOps.smallestKPerGroup(base, "grp", Seq("_ns", "id"), n)
      .withColumn("rank", row_number().over(w))
      .select("grp", "id", "score", "rank")
  }

  /** GROUP-RELATIVE ADVANTAGE — the reward-normalization stage of
    * group-relative policy optimization (Shao et al. 2024, public): each
    * candidate's advantage is its reward z-scored WITHIN its prompt
    * group, adv = (r − mean_g) / std_g (population std), so a prompt
    * whose every sample scores high contributes no spurious gradient.
    * Degenerate groups (singleton, or all rewards equal → std 0) get
    * advantage 0 — no signal, not a division blow-up.
    *
    * Determinism across engines: per-group sums go through
    * DECIMAL(38,18) so the mean/std are association-order-free, and the
    * advantage is quantized to 6 decimals — the q_standardize recipe
    * applied per group.
    *
    * Shape at 100 TB: one shuffle on the group key for the stats, one
    * for the join back — NO broadcast (prompt count scales with the
    * corpus, unlike q_standardize's bounded dim table) and NO global
    * window. Output: (grp, id, reward, adv).
    */
  def groupAdvantage(df: DataFrame, idCol: String, groupCol: String,
                     rewardCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      col(rewardCol).cast("double").as("reward"))
    val stats = base.groupBy("grp").agg(
        count(lit(1)).as("n"),
        sum(col("reward").cast("decimal(38,18)")).as("sx"),
        sum((col("reward") * col("reward")).cast("decimal(38,18)")).as("sxx"))
      .select(col("grp"),
        (col("sx").cast("double") / col("n")).as("mean"),
        sqrt(greatest(lit(0.0),
          col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
            (col("sx").cast("double") / col("n")))).as("std"))
    base.join(stats, "grp")
      .select(col("grp"), col("id"), col("reward"),
        round(when(col("std") === 0.0, 0.0)
          .otherwise((col("reward") - col("mean")) / col("std")), 6).as("adv"))
  }
}
