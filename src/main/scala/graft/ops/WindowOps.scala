package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, graftbridge, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Window-function operators — extension phase beyond the reference surface
  * (SURVEY.md §2.5: "grouping sets/cube/rollup, window functions ... Spark
  * built-ins cover these"). All windows partition by a key, so at scale each
  * window state is bounded by the largest single partition key, and the plan
  * is one shuffle on the partition key (WindowExec after a hash exchange).
  */
object WindowOps {

  /** Running (prefix) sum per key, deterministic via a unique tie-breaker in
    * the ordering. Sum goes through DECIMAL so the result is
    * order-independent exact.
    */
  def runningSum(df: DataFrame, partCol: String, orderCols: Seq[String],
                 valCol: String): DataFrame = {
    val w = Window.partitionBy(partCol)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("running",
      sum(col(valCol).cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** Top-n-per-group via row_number — the scalable "per-key top-k"
    * (one shuffle, no global sort; rank state is O(1) per row).
    */
  def topNPerGroup(df: DataFrame, partCol: String, orderCols: Seq[(String, Boolean)],
                   n: Int): DataFrame = {
    val ord = orderCols.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    val w = Window.partitionBy(partCol).orderBy(ord: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Previous value per key in event-time order (lag). */
  def lagPerKey(df: DataFrame, partCol: String, orderCols: Seq[String],
                valCol: String): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(orderCols.map(col): _*)
    df.withColumn("prev", lag(col(valCol), 1).over(w))
  }

  /** The range width of the exact-rank scaffold, and so of every rank,
    * quantile and prefix-sum operator built on it: the optimizer's size
    * estimate of `df` over `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
    * rounded up and clamped to [1, `spark.sql.shuffle.partitions`]. A frame
    * that fits one advisory partition is ranked by the plain window (width
    * 1). Without CBO the estimate errs high, so a large input is never
    * under-split. The division runs in BigInt because estimates can
    * overflow a Long (see `graftbridge.localCheckpointCappedStats`). With
    * an advisory size of 1 byte the width is `spark.sql.shuffle.partitions`
    * for any input, which is how a caller (or a spec) pins it.
    */
  def rankWidth(df: DataFrame): Int = {
    val conf = graftbridge.sqlConf(df.sparkSession)
    val advisory = BigInt(math.max(1L,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
    val cap = math.max(1, conf.getConf(SQLConf.SHUFFLE_PARTITIONS))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((est + advisory - 1) / advisory).max(1).min(cap).toInt
  }

  /** The exact-rank scaffold — the one home of every exact rank, quantile
    * and prefix sum ([[rankFunctions]], the quantile forms,
    * [[PrefixSum]]). A global rank written as one window sorts the whole
    * group (or, with no group, the whole frame) in ONE task; the scaffold
    * keeps the math and splits the sort. It runs `local` (windows
    * partitioned by the keys it is given) over ranges of `df` sorted by
    * (`group`, `orderCols`), and adds `_pid` (the range), `_off` (the
    * `weight` of the group's rows in earlier ranges) and `_n` (the group's
    * total `weight`), so a global position, or a running sum, is `_off`
    * plus the local one. With no `group` the whole frame is one group.
    *
    * `width` is [[rankWidth]] of the ranked frame. At width 1 there is one
    * range, so there are no offsets: `local` runs partitioned by the group
    * alone (with no group, by `_pid` over the frame gathered into one
    * partition, so no window runs unpartitioned), `_off` is 0 and `_n` is
    * the group's window sum — one exchange, nothing materialized. At
    * width P > 1:
    *
    *  1. range-partition by (group, orderCols) — each group's rows split
    *     across consecutive sorted ranges, P parallel sorts; equal sort
    *     keys land in ONE partition (range assignment is a deterministic
    *     function of the key), so tie groups never straddle a boundary.
    *     The ranges are MATERIALIZED (`localCheckpoint`): the offsets and
    *     the local pass must see the SAME boundaries, and
    *     RangePartitioner's sampling is not stable across re-executions
    *     (rdd.id seeds it),
    *  2. `local` partitioned by (range, group),
    *  3. per-(range, group) weights → per-group running offsets and totals,
    *     computed IN-PLAN (a G·P-row aggregate windowed per group, ≤ P rows
    *     per window — nothing collects to the driver) and broadcast-joined
    *     back. The offsets are sums of `weight`, never a maximum of the
    *     local pass (with negative weights a running sum's maximum is not
    *     the range's total).
    *
    * Results are bit-identical to the one-task window at every width
    * (WindowRankSpec, PrefixSumSpec).
    */
  private[ops] def rankScaffold(df: DataFrame, group: Option[String],
                                orderCols: Seq[Column], weight: Column,
                                width: Int)(
      local: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val g = group.map(col).toSeq
    if (width == 1) {
      val (one, keys) =
        if (g.nonEmpty) (df.withColumn("_pid", lit(0)), g)
        else (df.repartition(1).withColumn("_pid", F.spark_partition_id()),
          Seq(col("_pid")))
      local(one, keys)
        .withColumn("_off", lit(0L))
        .withColumn("_n", sum(weight).over(Window.partitionBy(keys: _*)))
    } else {
      val parted = df
        .repartitionByRange(width, (g ++ orderCols): _*)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
      val sums = parted.groupBy((col("_pid") +: g): _*).agg(sum(weight).as("_c"))
      // with no group the ≤ P range rows are one window partition, keyed by
      // a column that is false on every range: a literal key would be
      // folded into an unpartitioned window, and an expression key would
      // be re-derived (and re-shuffled) for each of the two windows
      val (keyed, byGroup) =
        if (g.nonEmpty) (sums, g)
        else (sums.withColumn("_all", col("_pid") < 0), Seq(col("_all")))
      val wOff = Window.partitionBy(byGroup: _*).orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = keyed
        .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
        .withColumn("_n", sum(col("_c")).over(Window.partitionBy(byGroup: _*)))
        .select((col("_pid").as("_opid") +: g.map(_.as("_og"))) ++
          Seq(col("_off"), col("_n")): _*)
      // null-safe: a null group is one group, as in the width-1 window
      val onRange = g.foldLeft(col("_pid") === col("_opid"))(_ && _ <=> col("_og"))
      local(parted, col("_pid") +: g)
        .join(broadcast(offs), onRange)
        .drop("_opid", "_og")
    }
  }

  /** Distributed ranking functions — ntile / percent_rank / cume_dist per
    * group WITHOUT a whole-group single-task sort.
    *
    * `Window.partitionBy(lowCardinalityKey).orderBy(...)` with rank
    * functions is a genuine straggler shape: every group's FULL sort lands
    * on one task because ntile/percent_rank/cume_dist need whole-group
    * ranks. This runs on the exact-rank scaffold ([[rankScaffold]], the
    * [[PrefixSum]] pattern generalized to per-group ranks):
    *
    *  1. per range and group, a local row_number plus min/max row_number
    *     over each distinct order key (tie-aware rank and cume counts),
    *  2. the scaffold's per-group offset and total turn them global,
    *  3. closed forms over the global rank: standard ntile bucketing
    *     (first n%k buckets get one extra row), percent_rank =
    *     (rank−1)/(n−1), cume_dist = peers_through_current / n.
    *
    * The range width is [[rankWidth]] of the input: an input that fits
    * one advisory partition is ranked by the plain window partitioned by
    * the group (no range exchange, no checkpoint, no offsets). Results are
    * bit-identical to the one-task-per-group window (asserted in
    * WindowRankSpec) at every width. `orderCols` should be a total order
    * within each group for ntile determinism (ties make any engine's ntile
    * order-dependent); percent_rank/cume_dist are tie-aware either way.
    * Output adds `ntile_<k>`, `pct_rank`, `cume` (+ `_pid` when `keepPid`,
    * for distribution assertions in specs; 0 at width 1).
    */
  def rankFunctions(df: DataFrame, groupCol: String, orderCols: Seq[String],
                    numTiles: Int, keepPid: Boolean = false,
                    keepRanks: Boolean = false): DataFrame =
    ranks(df, Some(groupCol), orderCols, numTiles, keepPid, keepRanks)

  /** [[rankFunctions]] with an optional group: `None` ranks the whole
    * frame as one group ([[EvalMetrics.aucExact]]).
    */
  private[ops] def ranks(df: DataFrame, group: Option[String],
                         orderCols: Seq[String], numTiles: Int,
                         keepPid: Boolean = false,
                         keepRanks: Boolean = false): DataFrame = {
    val reserved = Seq("_pid", "_lrn", "_lmin", "_lmax", "_off", "_n", "_c",
      "_opid", "_og")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"rankFunctions: input must not contain reserved column '$c'"))
    val ordCols: Seq[Column] = orderCols.map(col)
    val joined = rankScaffold(df, group, ordCols, lit(1L), rankWidth(df)) {
      (frame, keys) =>
        val wl = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
        val wk = Window.partitionBy((keys ++ ordCols): _*)
        frame
          .withColumn("_lrn", row_number().over(wl).cast("long"))
          .withColumn("_lmin", min(col("_lrn")).over(wk)) // local tie-aware rank
          .withColumn("_lmax", max(col("_lrn")).over(wk)) // local peers-through count
    }
    val grn = col("_off") + col("_lrn")     // global row_number
    val grank = col("_off") + col("_lmin")  // global tie-aware rank
    val gcume = col("_off") + col("_lmax")  // global rows-through-peers
    val n = col("_n")
    // standard ntile over the global row_number: q = n div k, r = n mod k;
    // the first r buckets hold q+1 rows. Doubles are exact here (group
    // sizes < 2^53); the q=0 branch (n < k) never divides by zero because
    // `when` evaluates lazily and rn <= r*(q+1) = n always holds then.
    val k = lit(numTiles.toLong)
    val q = floor(n.cast("double") / k.cast("double")).cast("long")
    val r = n - q * k
    val tile = when(grn <= r * (q + lit(1L)),
        ceil(grn.cast("double") / (q + lit(1L)).cast("double")))
      .otherwise(r + ceil((grn - r * (q + lit(1L))).cast("double") / q.cast("double")))
      .cast("long")
    val out0 = joined
      .withColumn(s"ntile_$numTiles", tile)
      .withColumn("pct_rank", when(n === 1, lit(0.0))
        .otherwise((grank - lit(1L)).cast("double") / (n - lit(1L)).cast("double")))
      .withColumn("cume", gcume.cast("double") / n.cast("double"))
    // integer rank surface for exact downstream math (AUC midranks):
    // `rank` = tie-aware global rank, `peers_through` = rows ≤ the
    // current order key, `group_n` = group size — all exact longs
    val out1 =
      if (keepRanks) out0.withColumn("rank", grank)
        .withColumn("peers_through", gcume).withColumn("group_n", n)
      else out0
    val out = out1.drop("_lrn", "_lmin", "_lmax", "_off", "_n")
    if (keepPid) out else out.drop("_pid")
  }

  /** (group, _v, _cnt, _cum, _n) per DISTINCT value per group: value
    * count, INCLUSIVE cumulative count in value order, and group total —
    * the weighted-rank core all quantile forms share. The collapse to
    * distinct values happens FIRST (one hash aggregation), so the
    * cumulative pass scales with |distinct values|, not |rows| — the
    * decisive difference on low-cardinality measures. The cumulative pass
    * runs on the exact-rank scaffold ([[rankScaffold]]) over the collapsed
    * table, whose size sets the width ([[rankWidth]]) unless the caller
    * gives one: at width 1 it is one window partitioned by the group, at
    * width P it is P parallel sorted ranges with per-(range, group)
    * partial sums and in-plan broadcast offsets. With no group the whole
    * input is one group. Nulls are excluded (the `percentile` /
    * `quantile_cont` contract).
    */
  private def groupValueCum(df: DataFrame, group: Option[String], valueCol: String,
                            weightCol: Option[String] = None,
                            width: Option[Int] = None): DataFrame = {
    Seq("_v", "_cnt", "_pid", "_lcum", "_c", "_off", "_n", "_opid", "_og")
      .foreach(c => require(!df.columns.contains(c),
        s"quantiles: input must not contain reserved column '$c'"))
    // weight = row multiplicity: cumulative sums over (group, value,
    // weight) rows are IDENTICAL to count-based sums over the raw rows
    // they stand for. Pre-weighted input rides the machinery DIRECTLY —
    // no re-collapse shuffle; duplicate (group, value) rows are harmless
    // because a tie's sub-intervals all carry the same value, so any rank
    // probe landing in the tie range selects it regardless of the split.
    val g = group.map(col).toSeq
    val v = col(valueCol).cast("double").as("_v")
    val counts = weightCol match {
      case Some(wc) =>
        df.select(g :+ v :+ col(wc).cast("long").as("_cnt"): _*)
          .filter(col("_v").isNotNull)
      case None =>
        df.select(g :+ v: _*)
          .filter(col("_v").isNotNull)
          .groupBy(g :+ col("_v"): _*).agg(count(lit(1)).as("_cnt"))
    }
    rankScaffold(counts, group, Seq(col("_v")), col("_cnt"),
        width.getOrElse(rankWidth(counts))) { (frame, keys) =>
      frame.withColumn("_lcum", sum(col("_cnt")).over(
        Window.partitionBy(keys: _*).orderBy("_v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }.select(g ++ Seq(col("_v"), col("_cnt"),
      (col("_off") + col("_lcum")).as("_cum"), col("_n")): _*)
  }

  /** Schema of [[exactQuantilesGlobal]]'s result. */
  private val GlobalQuantileSchema = StructType(Seq(
    StructField("q", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** Exact GLOBAL discrete quantiles without a one-task global sort:
    * quantile_disc(q) = min value whose cumulative distribution reaches q
    * (the element at sorted position ceil(q·n), ties collapse), from the
    * collapsed weighted-cumulative table ([[groupValueCum]] with no group —
    * a collapsed table that fits one advisory partition is one plain
    * window). Exactly matches DuckDB's `quantile_disc`
    * (oracle-checked).
    *
    * EAGER: every q is answered by one aggregate row (`min(_v)` where the
    * cumulative share reaches q, one column per distinct q), which is
    * collected here; the result is a local relation, so a consumer reads
    * it with no further job.
    *
    * Output: (q DOUBLE NOT NULL, value DOUBLE), one row per distinct
    * requested quantile, in q order; a q that no value reaches (an empty
    * input) has no row.
    */
  def exactQuantilesGlobal(df: DataFrame, valueCol: String,
                           qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $qs")
    val cum = groupValueCum(df.select(col(valueCol)), None, valueCol)
    val cume = col("_cum").cast("double") / col("_n").cast("double")
    val probes = qs.distinct.sorted
    val hit = cum.agg(min(when(cume >= probes.head, col("_v"))),
        probes.tail.map(q => min(when(cume >= q, col("_v")))): _*)
      .head()
    val rows = probes.indices.filterNot(hit.isNullAt)
      .map(i => Row(probes(i), hit.getDouble(i)))
    df.sparkSession.createDataFrame(rows.asJava, GlobalQuantileSchema)
  }

  /** Per-group DISCRETE quantiles — the group-partitioned dual of
    * [[exactQuantilesGlobal]] (quantile_disc semantics: min value whose
    * cumulative distribution reaches q) on the same distributed
    * cumulative machinery: no group ever sorts in one task. The edge
    * rule [[graft.ops.StatsOps.psiByGroup]] bins against.
    * Output: (group, q, value).
    */
  def exactQuantilesByGroupDiscrete(df: DataFrame, groupCol: String,
                                    valueCol: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $qs")
    val cum = groupValueCum(df, Some(groupCol), valueCol)
    cum.select(col(groupCol), explode(typedLit(qs.sorted)).as("q"), col("_v"),
        (col("_cum").cast("double") / col("_n").cast("double")).as("_cume"))
      .filter(col("_cume") >= col("q"))
      .groupBy(groupCol, "q").agg(min(col("_v")).as("value"))
  }

  /** Exact PER-GROUP continuous (interpolated) quantiles with bounded
    * per-task state — the scale-safe dual of the `percentile` aggregate,
    * which buffers EVERY group value in one aggregation buffer (a 10⁹-row
    * group's values in one task's memory). Here ranks come from the
    * distributed two-pass machinery; each requested q interpolates
    * between the values at row positions ⌊1+(n−1)q⌋ and ⌈1+(n−1)q⌉,
    * found by probing which tie-interval [rank, peers_through] contains
    * the position — a filtered aggregation, no group ever sorts in one
    * task. Matches `percentile` / DuckDB `quantile_cont` exactly (same
    * lo + (hi−lo)·frac interpolation order).
    *
    * Output: (group, q, value), one row per group × quantile.
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            qs: Seq[Double]): DataFrame =
    quantilesFromCum(groupValueCum(df, Some(groupCol), valueCol), groupCol, qs)

  /** [[exactQuantilesByGroup]] over PRE-AGGREGATED data: each input row is
    * a (group, value, weight) with weight = how many raw rows it stands
    * for. Produces bit-identical results to running the unweighted form
    * over the expanded rows — rank positions and interpolation are pure
    * functions of the cumulative weights. Input rows need NOT be unique
    * per (group, value): a tie's sub-intervals all carry the same value,
    * so the probe is split-invariant. The point at scale: a caller that
    * already holds the collapsed table (e.g. [[graft.ops.StatsOps
    * .madPerGroup]]'s deviation pass) re-ranks |distinct values| rows,
    * not |raw rows|, and pays no re-collapse shuffle.
    */
  def exactQuantilesByGroupWeighted(df: DataFrame, groupCol: String,
                                    valueCol: String, weightCol: String,
                                    qs: Seq[Double]): DataFrame =
    quantilesByGroupWeighted(df, groupCol, valueCol, weightCol, qs, None)

  /** [[exactQuantilesByGroupWeighted]] at a `width` taken from another
    * frame than `df` (its [[rankWidth]] when `None`) — for a caller whose
    * input is a join that keeps one side's rows but whose size estimate is
    * the join's product ([[StatsOps.madPerGroup]]'s deviation pass).
    */
  private[ops] def quantilesByGroupWeighted(df: DataFrame, groupCol: String,
                                            valueCol: String, weightCol: String,
                                            qs: Seq[Double],
                                            width: Option[Int]): DataFrame =
    quantilesFromCum(
      groupValueCum(df, Some(groupCol), valueCol, Some(weightCol), width),
      groupCol, qs)

  private def quantilesFromCum(cum: DataFrame, groupCol: String,
                               qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0, 1]: $qs")
    // a value's row positions are the interval [_cum−_cnt+1, _cum]
    val pos = lit(1.0) + (col("_n") - lit(1L)).cast("double") * col("q")
    val lo = floor(pos)
    val hi = ceil(pos)
    val rankLo = (col("_cum") - col("_cnt") + lit(1L)).cast("double")
    val rankHi = col("_cum").cast("double")
    cum
      .withColumn("q", explode(typedLit(qs.sorted)))
      .groupBy(col(groupCol), col("q"))
      .agg(
        max(when(rankLo <= lo && lo <= rankHi, col("_v"))).as("vlo"),
        max(when(rankLo <= hi && hi <= rankHi, col("_v"))).as("vhi"),
        first(pos - lo).as("frac"))
      .select(col(groupCol), col("q"),
        (col("vlo") + (col("vhi") - col("vlo")) * col("frac")).as("value"))
  }

  /** Batch sessionization: per-user session numbers from inactivity gaps —
    * the batch analog of [[graft.streaming.Streams]] session windows.
    * `session_n` = running count of gap-openers (first event, or > gap
    * since the previous one), so ids are 1,2,3… per user in time order.
    * All arithmetic on integer epoch-micros (exact, engine-portable);
    * `idCol` breaks timestamp ties deterministically. One shuffle on the
    * user key; window state is O(1) per row.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 idCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val gap = us - lag(us, 1).over(w)
    events
      .withColumn("_open",
        when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_n", sum(col("_open"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_open")
  }
}
