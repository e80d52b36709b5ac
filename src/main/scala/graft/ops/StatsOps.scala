package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped descriptive statistics with ENGINE-PORTABLE numerics.
  *
  * Built-in corr/stddev aggregates stream floating-point updates whose
  * result depends on partitioning and on each engine's update formula — a
  * cross-engine hash gate can never pin them. Here every moment is an
  * EXACT integer: values are fixed-point cents (inputs carry ≤ 2 decimals
  * by contract), the five sums Σx, Σy, Σx², Σy², Σxy accumulate in
  * decimal(38,0) (order-independent, overflow-checked), and the classic
  * closed forms run in double over those exact integers with a FIXED
  * operation order — so any engine that sums integers exactly reproduces
  * the doubles bit-for-bit.
  *
  * Shape at 100 TB: one two-phase hash aggregation; five numbers per
  * group cross the wire.
  *
  * `partitions`, on the rank-based operators (winsorize, madPerGroup,
  * flagOutliers, psi, psiByGroup), is the range width of the
  * [[WindowOps]] exact-rank scaffold: by default
  * ([[WindowOps.DerivedWidth]]) each ranked frame gets a width derived
  * from its size estimate ([[WindowOps.rankWidth]]) — 1, the plain
  * window, for a frame within one advisory partition; a positive value
  * is used as given.
  */
object StatsOps {

  /** Winsorize: clip a column at its GLOBAL [loQ, hiQ] discrete quantiles
    * (outlier capping before scale-sensitive statistics/training) — the
    * bounds come from the distributed quantile pass, collected on the
    * driver, and enter the plan as literals, so the clip itself is a pure
    * codegen'd projection (no join).
    * Adds `<valueCol>_w` (double); bounds follow `quantile_disc`
    * semantics (engine-replayable, no interpolated phantom values).
    */
  def winsorize(df: DataFrame, valueCol: String, loQ: Double, hiQ: Double,
                partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    require(loQ > 0 && hiQ <= 1 && loQ < hiQ,
      s"winsorize needs 0 < loQ < hiQ <= 1: ($loQ, $hiQ)")
    val bounds = graft.ops.WindowOps.exactQuantilesGlobal(
        df.select(col(valueCol)), valueCol, Seq(loQ, hiQ), partitions)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // a bound no value reaches (empty input) is NULL, which the clip skips
    def bound(q: Double) =
      bounds.get(q).map(lit).getOrElse(lit(null).cast("double"))
    df.withColumn(s"${valueCol}_w",
      least(greatest(col(valueCol).cast("double"), bound(loQ)), bound(hiQ)))
  }

  /** Per-group robust location/scale — median and MAD (median absolute
    * deviation), the outlier-resistant alternative to mean/stddev for
    * data-cleaning gates (a single corrupt magnitude can't drag either
    * statistic): the raw rows collapse to ONE (group, value, count)
    * table, read once, and BOTH ranked passes run count-weighted over it
    * ([[WindowOps.exactQuantilesByGroupWeighted]] — no group's values
    * ever buffer in one task, and the deviation pass re-ranks |distinct
    * values| rows, not |raw rows|). Deviations formed in plain double
    * (identical op on both engines, bit-identical to deviating the raw
    * rows). Output: (group, median, mad).
    */
  def madPerGroup(df: DataFrame, groupCol: String, valCol: String,
                  partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    Seq("_mv", "_mc").foreach(c => require(!df.columns.contains(c),
      s"madPerGroup: input must not contain reserved column '$c'"))
    // one scan + one hash aggregation; localCheckpoint so the two ranked
    // passes share the materialized collapse instead of re-scanning raw
    val counts = df
      .select(col(groupCol), col(valCol).cast("double").as("_mv"))
      .filter(col("_mv").isNotNull)
      .groupBy(groupCol, "_mv").agg(count(lit(1)).as("_mc"))
      .localCheckpoint()
    val med = graft.ops.WindowOps.exactQuantilesByGroupWeighted(
        counts, groupCol, "_mv", "_mc", Seq(0.5), partitions)
      .select(col(groupCol), col("value").as("_med"))
    val dev = counts.join(broadcast(med), groupCol)
      .select(col(groupCol),
        abs(col("_mv") - col("_med")).as("_dev"), col("_mc"))
    // `dev` has exactly `counts`' rows, but its size estimate is the
    // join's product of both sides: a derived width is taken from `counts`
    val devWidth =
      if (partitions == WindowOps.DerivedWidth) WindowOps.rankWidth(counts)
      else partitions
    graft.ops.WindowOps.exactQuantilesByGroupWeighted(
        dev, groupCol, "_dev", "_mc", Seq(0.5), devWidth)
      .select(col(groupCol), col("value").as("mad"))
      .join(broadcast(med), groupCol)
      .select(col(groupCol), col("_med").as("median"), col("mad"))
  }

  /** ANALYZE-style column profile: per column, row count / null count /
    * exact distinct count — the table-health pass run before trusting a
    * new 100 TB delivery. ONE scan: columns melt to (column, value)
    * rows (values stringified — injective for counting, so native and
    * string distinct counts agree) and one hash aggregation per column
    * group; numeric distribution detail belongs to
    * [[exactMomentsProfile]] / the quantile ops.
    */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableProfile: no columns")
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*))
      .as("kv"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"))
    melted.groupBy("column")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("nulls"),
        countDistinct(col("value")).as("n_distinct"))
  }

  /** Robust per-group outlier flags — the data-cleaning gate built on
    * [[madPerGroup]]: a row is an outlier when its absolute deviation
    * from the group median exceeds `k` MADs (k ≈ 5.2 matches the classic
    * modified-z threshold 3.5 / 0.6745; both statistics are
    * corruption-resistant, unlike mean/stddev which one bad magnitude
    * drags). Degenerate groups (mad = 0: over half the mass on one
    * value) flag ANY nonzero deviation — the conservative reading.
    *
    * Shape: the (group, median, mad) table is |groups| rows → broadcast
    * join; the flag itself is a codegen'd projection over one corpus
    * scan. Output: input row + (median, mad, is_outlier).
    */
  def flagOutliers(df: DataFrame, groupCol: String, valCol: String,
                   k: Double, partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    require(k > 0, s"flagOutliers: k must be positive, got $k")
    val stats = madPerGroup(df, groupCol, valCol, partitions)
    val dev = abs(col(valCol).cast("double") - col("median"))
    df.join(broadcast(stats), groupCol)
      .withColumn("is_outlier",
        when(col("mad") === 0.0, dev > 0.0).otherwise(dev > lit(k) * col("mad")))
  }

  /** Per-group n / mean / sample-stddev of `xCol`, and corr(x, y):
    * `(group, n, mean_x, stddev_x, corr_xy)`. Inputs must carry at most
    * 2 decimal places (the decimal(18,2) cast is exact by contract).
    */
  def exactMomentsProfile(df: DataFrame, groupCol: String,
                          xCol: String, yCol: String): DataFrame = {
    val xc = (col(xCol).cast("decimal(18,2)") * 100).cast("long")
    val yc = (col(yCol).cast("decimal(18,2)") * 100).cast("long")
    // Products are formed in decimal, NOT long: long*long wraps silently in
    // non-ANSI Spark for |cents| above ~3e9 (≈ $30M), while the DuckDB
    // oracle multiplies in HUGEINT. decimal(18,0)*decimal(18,0) →
    // decimal(37,0): exact, no precision-loss rounding, matches the
    // oracle's integer regime at any magnitude the cents cast admits.
    val xd = col("xc").cast("decimal(18,0)")
    val yd = col("yc").cast("decimal(18,0)")
    val agg = df.select(col(groupCol), xc.as("xc"), yc.as("yc"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc")).as("sx"),
        sum(col("yc")).as("sy"),
        sum(xd * xd).as("sxx"),
        sum(yd * yd).as("syy"),
        sum(xd * yd).as("sxy"))
    val nD = col("n").cast("decimal(38,0)")
    val sxD = col("sx").cast("decimal(38,0)")
    val syD = col("sy").cast("decimal(38,0)")
    val vx = (nD * col("sxx") - sxD * sxD).cast("double")
    val vy = (nD * col("syy") - syD * syD).cast("double")
    val cov = (nD * col("sxy") - sxD * syD).cast("double")
    agg.select(
      col(groupCol),
      col("n"),
      round(col("sx").cast("double") / col("n").cast("double") / 100.0, 6)
        .as("mean_x"),
      round(sqrt(vx / (col("n") * (col("n") - 1)).cast("double")) / 100.0, 6)
        .as("stddev_x"),
      round(cov / (sqrt(vx) * sqrt(vy)), 6).as("corr_xy"))
  }

  /** Pairwise Pearson correlation MATRIX over k fixed-point columns in
    * ONE aggregation pass — the k-column generalization of
    * [[exactMomentsProfile]] (same exact-cents contract: ≤ 2 decimals,
    * sums in decimal, products in decimal so no long wrap, closed forms
    * in fixed double order, round 6 — the oracle replays every pair).
    * The feature-redundancy screen run before training: k(k+1)/2 sums
    * cross the wire ONCE; a naive per-pair `corr` call scans the corpus
    * k²/2 times.
    *
    * Output: (x, y, n, corr) for each unordered pair x < y in `cols`
    * order.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"corrMatrix needs >= 2 distinct columns: $cols")
    val centCols = cols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("decimal(18,2)") * 100).cast("long").as(s"c$i") }
    def d(i: Int) = col(s"c$i").cast("decimal(18,0)")
    val sums = cols.indices.map(i => sum(col(s"c$i")).as(s"s$i")) ++
      (for { i <- cols.indices; j <- cols.indices if i <= j }
        yield sum(d(i) * d(j)).as(s"s${i}_$j")) ++
      cols.indices.map(i => max(abs(col(s"c$i"))).as(s"m$i"))
    val agg = df.select(centCols: _*)
      .agg(count(lit(1)).as("n"), sums: _*)
    // Overflow guard (round 9, advisor catch): with precision-loss mode,
    // decimal(38,0) overflow in nD * s_ij returns NULL silently while the
    // DuckDB oracle's HUGEINT keeps going. Every term is bounded by
    // n²·max|cents|², so n·max|cents| < 1e18 (10x under the 10^19
    // decimal-38 bound) guarantees no intermediate overflows; outside the
    // bound the op REFUSES loudly instead of emitting NULL corr.
    val mAbs = greatest(cols.indices.map(i => col(s"m$i").cast("double")): _*)
    val nGuarded = when(mAbs * col("n").cast("double") >= lit(1e18),
      raise_error(concat(lit("corrMatrix: overflow bound exceeded: " +
        "n*max|cents| >= 1e18 (n="), col("n").cast("string"),
        lit(", max|cents|="), mAbs.cast("string"),
        lit("); rescale inputs or shard")))
        .cast("long")).otherwise(col("n"))
    val nD = col("n").cast("decimal(38,0)")
    def sD(i: Int) = col(s"s$i").cast("decimal(38,0)")
    def v(i: Int) = (nD * col(s"s${i}_$i") - sD(i) * sD(i)).cast("double")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield
      struct(lit(cols(i)).as("x"), lit(cols(j)).as("y"),
        round((nD * col(s"s${i}_$j") - sD(i) * sD(j)).cast("double") /
          (sqrt(v(i)) * sqrt(v(j))), 6).as("corr"))
    agg.select(nGuarded.as("n"), explode(array(pairs: _*)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("n"),
        col("p.corr").as("corr"))
  }

  /** Embedding-space drift between two corpus slices — the vector analog
    * of [[psi]] (which monitors scalars): per-dimension mean shift plus
    * the cosine between the two mean vectors (1.0 = directionally
    * identical centroids; the retrain-the-index alarm for an ANN stack
    * when it drops). All means are decimal-summed exact ratios and the
    * cosine folds the k-row mean table through decimal sums in fixed
    * order — cross-engine replayable like every stats op here.
    *
    * Shape: one explode + map-side-combined aggregation PER SLICE at
    * (dim) grain — shuffle volume is dims rows — then dims-sized joins;
    * nothing collects or sorts a slice.
    *
    * Output: (d, mean_a, mean_b, drift, cos_means) — one row per
    * dimension (1-based), `cos_means` repeated on each row (the psi
    * convention).
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    def dimMeans(df: DataFrame, name: String) =
      df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
        .groupBy("d")
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)).cast("double")).as(name))
    val m = dimMeans(a, "ma").join(dimMeans(b, "mb"), "d")
    val cosParts = m.agg(
      sum((col("ma") * col("mb")).cast("decimal(38,18)")).cast("double").as("ab"),
      sum((col("ma") * col("ma")).cast("decimal(38,18)")).cast("double").as("aa"),
      sum((col("mb") * col("mb")).cast("decimal(38,18)")).cast("double").as("bb"))
    m.crossJoin(broadcast(cosParts))
      .select((col("d") + 1).cast("long").as("d"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round(abs(col("ma") - col("mb")), 6).as("drift"),
        round(col("ab") / (sqrt(col("aa")) * sqrt(col("bb"))), 6)
          .as("cos_means"))
  }

  /** Population Stability Index — the standard "did the data drift
    * between two corpus slices" monitor a production training pipeline
    * runs before retraining. The CURRENT slice is binned against the
    * REFERENCE slice's own equal-frequency quantile edges (the textbook
    * construction), and PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over the bins with
    * add-one (Laplace) smoothing so empty bins stay finite AND the number
    * is a pure function of the counts (no epsilon tuning).
    *
    * Deterministic cross-engine: edges are the discrete lower quantiles
    * from [[WindowOps.exactQuantilesGlobal]] (cume ≥ q, min value — i.e.
    * `cume_dist`-replayable, no interpolation), bin assignment is
    * 1 + Σⱼ[v > edgeⱼ] (ties land low in every engine), shares are exact
    * integer ratios in IEEE doubles, and the per-bin ln terms sum in
    * decimal(38,18) (order-independent) before the final round — the
    * same libm treatment as the surprisal/bigram-LM scores.
    *
    * Scale shape: one distributed quantile pass over the reference (the
    * [[WindowOps]] two-pass machinery), then ONE hash aggregation per
    * slice on a codegen'd bin expression (edges are bins−1 literal
    * doubles — driver-held by contract, like k-means centers); the spine
    * join and totals are bins-sized. Nothing ever sorts or collects a
    * slice.
    *
    * Output: (bin, ref_n, cur_n, ref_share, cur_share, term, psi) — one
    * row per bin, `psi` repeated on each row.
    */
  /** Per-group PSI — drift per source/language/segment, the GROUP BY
    * form of [[psi]], and FULLY distributed: unlike the global op (whose
    * bins−1 edges ride the driver as literals, the k-means-centers
    * contract), every stage here is a table — per-group discrete decile
    * edges from [[WindowOps.exactQuantilesByGroupDiscrete]] (no group
    * sorts in one task), bin assignment via a (group,value)-collapsed
    * join against the group's edges (×(bins−1) on DISTINCT values only,
    * never raw rows), bins-sized spine/total/psi joins per group. Groups
    * are the REFERENCE's groups (a current-only group has no profile to
    * drift from — excluded by the inner edge join, documented contract).
    *
    * Output: (group, bin, ref_n, cur_n, ref_share, cur_share, term,
    * psi) — bins rows per group, `psi` repeated within the group.
    */
  def psiByGroup(ref: DataFrame, cur: DataFrame, groupCol: String,
                 valueCol: String, bins: Int = 10,
                 partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    require(bins >= 2, s"psiByGroup needs at least 2 bins: $bins")
    val qs = (1 until bins).map(_.toDouble / bins)
    def slim(df: DataFrame) =
      df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
        .where(col("v").isNotNull)
    val refS = slim(ref)
    val edges = WindowOps
      .exactQuantilesByGroupDiscrete(refS, "g", "v", qs, partitions)
      .select(col("g"), col("value").as("e"))
    def binCounts(slimmed: DataFrame, name: String) = {
      val gv = slimmed.groupBy("g", "v").agg(count(lit(1)).as("c"))
      gv.join(edges, "g")
        .groupBy(col("g"), col("v"), col("c"))
        .agg((sum(when(col("v") > col("e"), 1).otherwise(0)) + 1).as("bin"))
        .groupBy("g", "bin").agg(sum("c").as(name))
    }
    val spine = edges.select("g").distinct()
      .select(col("g"), explode(sequence(lit(1), lit(bins))).as("bin"))
    val joined = spine
      .join(binCounts(refS, "ref_n"), Seq("g", "bin"), "left")
      .join(binCounts(slim(cur), "cur_n"), Seq("g", "bin"), "left")
      .select(col("g"), col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val tot = joined.groupBy("g")
      .agg(sum("ref_n").as("rt"), sum("cur_n").as("ct"))
    val terms = joined.join(tot, "g")
      .withColumn("p", (col("ref_n") + 1).cast("double") /
        (col("rt") + bins).cast("double"))
      .withColumn("qq", (col("cur_n") + 1).cast("double") /
        (col("ct") + bins).cast("double"))
      .withColumn("term", (col("p") - col("qq")) * log(col("p") / col("qq")))
    val psiTot = terms.groupBy("g").agg(
      round(sum(col("term").cast("decimal(38,18)")).cast("double"), 4).as("psi"))
    terms.join(psiTot, "g")
      .select(col("g").as(groupCol), col("bin").cast("long").as("bin"),
        col("ref_n"), col("cur_n"),
        round(col("p"), 6).as("ref_share"), round(col("qq"), 6).as("cur_share"),
        round(col("term"), 6).as("term"), col("psi"))
  }

  def psi(ref: DataFrame, cur: DataFrame, valueCol: String, bins: Int = 10,
          partitions: Int = WindowOps.DerivedWidth): DataFrame = {
    require(bins >= 2, s"psi needs at least 2 bins: $bins")
    val spark = ref.sparkSession
    val qs = (1 until bins).map(_.toDouble / bins)
    // NULLs are excluded everywhere — mirrors psiByGroup's slim() (and the
    // oracle's equality joins, which drop NULLs): a NULL is "no
    // observation", not a bin-1 value (round 9, advisor catch — the
    // when/otherwise bucket otherwise mapped NULL to bin 1).
    def slim(df: DataFrame) =
      df.select(col(valueCol).cast("double").as("v")).where(col("v").isNotNull)
    val edges = WindowOps.exactQuantilesGlobal(slim(ref), "v", qs, partitions)
      .select(col("value").cast("double"))
      .collect().map(_.getDouble(0)).toSeq
    def bucket(v: org.apache.spark.sql.Column) =
      edges.map(e => when(v > lit(e), 1).otherwise(0)).reduce(_ + _) + 1
    def binCounts(df: DataFrame, name: String) =
      slim(df).select(bucket(col("v")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(name))
    val spine = spark.range(1, bins + 1).select(col("id").cast("int").as("bin"))
    val joined = spine
      .join(binCounts(ref, "ref_n"), Seq("bin"), "left")
      .join(binCounts(cur, "cur_n"), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val tot = joined.agg(sum("ref_n").as("rt"), sum("cur_n").as("ct"))
    val terms = joined.crossJoin(broadcast(tot))
      .withColumn("p", (col("ref_n") + 1).cast("double") /
        (col("rt") + bins).cast("double"))
      .withColumn("qq", (col("cur_n") + 1).cast("double") /
        (col("ct") + bins).cast("double"))
      .withColumn("term", (col("p") - col("qq")) * log(col("p") / col("qq")))
    val psiTot = terms.agg(
      round(sum(col("term").cast("decimal(38,18)")).cast("double"), 4).as("psi"))
    terms.crossJoin(broadcast(psiTot))
      .select(col("bin").cast("long").as("bin"), col("ref_n"), col("cur_n"),
        round(col("p"), 6).as("ref_share"), round(col("qq"), 6).as("cur_share"),
        round(col("term"), 6).as("term"), col("psi"))
  }

  /** Power-iteration rounds for [[topPrincipalComponent]] — single source
    * for the Column renderer and the unrolled-CTE SQL twin. Determinism
    * does not require convergence: both engines run the SAME fixed
    * iteration count from the same start vector. 24 rounds: the fixture
    * embedding spectrum is near-flat (λ₂/λ₁ ≈ 0.93), so convergence is
    * geometric-but-slow — 24 rounds land the eigen-equation residual
    * ≈ 4% of λ AND keep the deflated second chain's eigenvalue below
    * the first (16 was measurably not enough for the ordering), while
    * keeping the unrolled oracle bounded.
    */
  val PcaIters: Int = 24

  /** Top principal component of an embedding column — the dominant
    * direction of the covariance matrix by POWER ITERATION (v ← C·v/‖C·v‖
    * from the all-ones start, [[PcaIters]] rounds), the "which way does this
    * embedding space mostly point" diagnostic behind whitening and
    * anisotropy checks (Mu & Viswanath 2018 all-but-the-top). One row per
    * dimension: (dim, loading, eigval) with eigval the final iterate's
    * ‖C·v‖ (the Rayleigh quotient at convergence).
    *
    * Engine-portable numerics: the two corpus passes (per-dim sums, in-row
    * outer products) and every per-iteration contraction accumulate in
    * decimal(38,18) — order-independent — and the closed forms run in
    * double with a fixed operation order, so the DuckDB twin reproduces
    * the doubles bit-for-bit regardless of row order.
    *
    * Shape at 100 TB: the outer-product explode is dim² per row but
    * map-side partial aggregation collapses each task to dim² rows before
    * the shuffle; the iterations run on the dim²-row covariance table
    * (checkpointed once) — corpus touched exactly twice, never per round.
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String,
                            iters: Int = PcaIters): DataFrame = {
    val (_, _, _, vk, nrm) = pcaCore(df, vecCol, iters)
    vk.crossJoin(broadcast(nrm))
      .select(col("i").cast("long").as("dim"),
        round(col("v"), 6).as("loading"), round(col("nm"), 6).as("eigval"))
  }

  /** The shared engine under [[topPrincipalComponent]],
    * [[topTwoPrincipalComponents]] and [[whitenAllButTop]]: (per-dim
    * decimal sums `(i, sx)`, 1-row `n`, dim² covariance `(i, j, c)`,
    * final iterate `(i, v)`, 1-row `nm`).
    */
  private def pcaCore(df: DataFrame, vecCol: String, iters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(iters >= 1, s"pcaCore iters: $iters")
    val vec = col(vecCol).cast("array<double>")
    // the outer-product projection is dim² heavy per row: spread it even
    // when the input is one small parquet split (a 2k-row file otherwise
    // runs the whole 8M-struct explode in ONE task — measured 6× the
    // wall-clock; at real scale inputs arrive pre-split and this shuffle
    // of bare vectors is noise)
    val src = df.select(vec.as("_v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val srcVec = col("_v")
    val means = src.select(posexplode(srcVec).as(Seq("p", "x")))
      .select((col("p") + 1).as("i"), col("x"))
      .groupBy("i")
      .agg(sum(col("x").cast("decimal(38,18)")).cast("double").as("sx"))
    val nRow = src.agg(count(lit(1)).cast("double").as("n"))
    val pairs = src.select(explode(flatten(transform(srcVec, (xi, pi) =>
        transform(srcVec, (xj, pj) => struct((pi + 1).as("i"), (pj + 1).as("j"),
          (xi * xj).as("xx")))))).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.xx").cast("decimal(38,18)")).cast("double").as("sxy"))
    val meansCk = means.localCheckpoint() // dim rows; 3 consumers
    val c = pairs
      .join(meansCk.select(col("i"), col("sx").as("sxi")), "i")
      .join(meansCk.select(col("i").as("j"), col("sx").as("sxj")), "j")
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        ((col("sxy") - col("sxi") * col("sxj") / col("n")) / col("n")).as("c"))
      .localCheckpoint() // dim² rows; every iteration consumes it
    val (vk, nrm) = powerIterate(c, iters)
    (meansCk, nRow, c, vk, nrm)
  }

  /** `iters` power rounds over a (i, j, c) covariance-shaped table from
    * the ALL-ONES start (generic position — an axis start can sit in the
    * null space of a deflated matrix and never move; the first round
    * normalizes, so the start needs no scaling). Returns the final
    * iterate `(i, v)` and the 1-row `‖C·v‖` frame.
    *
    * The rounds run ON THE DRIVER over the collected dim² table — the
    * same bounded model-state pull as the k-means/logreg chains (dim² ≈
    * 4k doubles, never corpus rows); a distributed rendering spent
    * 2 shuffles × `iters` Spark stages moving 64-row frames (~0.4 s a
    * round of pure local-mode overhead). The decimal arithmetic
    * replicates the SQL twin exactly: each product rounds to
    * DECIMAL(38,18) via the double's shortest decimal representation
    * (what Spark's Cast and DuckDB both do), sums are exact, and the
    * closed forms run in double — bit-identical to the oracle's rounds.
    */
  private def powerIterate(c: DataFrame, iters: Int)
      : (DataFrame, DataFrame) = {
    val spark = c.sparkSession
    import spark.implicits._
    val entries = c.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val dims = entries.map(_._1).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    def dec(d: Double) =
      new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(18, java.math.RoundingMode.HALF_UP)
    var v = Array.fill(dims.length)(1.0)
    var nm = 0.0
    for (_ <- 1 to iters) {
      val acc = Array.fill(dims.length)(java.math.BigDecimal.ZERO)
      for ((i, j, cv) <- entries)
        acc(idx(i)) = acc(idx(i)).add(dec(cv * v(idx(j))))
      val w = acc.map(_.doubleValue)
      nm = math.sqrt(
        w.map(x => dec(x * x)).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          .doubleValue)
      // degenerate covariance (all vectors identical → C = 0): w is the
      // zero vector and nm = 0 — keep the zero iterate (loadings 0,
      // eigval 0) instead of dividing into NaN; the SQL twin's rounds
      // carry the same CASE
      v = if (nm == 0.0) w else w.map(_ / nm)
    }
    (dims.zip(v).toSeq.toDF("i", "v"), Seq(nm).toDF("nm"))
  }

  /** Top TWO principal components by Hotelling deflation: fit v₁/λ₁ as
    * [[topPrincipalComponent]], deflate C₂ = C − λ₁v₁v₁ᵀ on the dim²
    * table, iterate again. Long output, one row per (component, dim):
    * (comp, dim, loading, eigval). The corpus is still touched exactly
    * twice — deflation and the second chain run entirely at dim² grain.
    */
  def topTwoPrincipalComponents(df: DataFrame, vecCol: String,
                                iters: Int = PcaIters): DataFrame = {
    val (_, _, c, v1, n1) = pcaCore(df, vecCol, iters)
    val c2 = c
      .join(v1.select(col("i"), col("v").as("vi")), "i")
      .join(v1.select(col("i").as("j"), col("v").as("vj")), "j")
      .crossJoin(broadcast(n1))
      .select(col("i"), col("j"),
        (col("c") - (col("nm") * col("vi")) * col("vj")).as("c"))
      .localCheckpoint()
    val (v2, n2) = powerIterate(c2, iters)
    def comp(k: Int, v: DataFrame, nm: DataFrame) =
      v.crossJoin(broadcast(nm))
        .select(lit(k).as("comp"), col("i").cast("long").as("dim"),
          round(col("v"), 6).as("loading"), round(col("nm"), 6).as("eigval"))
    comp(1, v1, n1).unionByName(comp(2, v2, n2))
  }

  /** All-but-the-top whitening (Mu & Viswanath 2018): per vector,
    * subtract the corpus mean and remove the projection onto the top
    * principal component — the post-processing that measurably improves
    * cosine-similarity quality on anisotropic embedding spaces (and so
    * the semantic-dedup/ANN legs here). Output: (id, w) with w the
    * whitened array, elements rounded to 6.
    *
    * Shape at 100 TB: the PC fit is [[topPrincipalComponent]]'s two
    * corpus passes; the transform itself is one more scan with the
    * (μ, v) pair broadcast as two dim-length arrays — per-row math is
    * fixed-order in-row folds (deterministic without decimal help).
    */
  def whitenAllButTop(df: DataFrame, idCol: String, vecCol: String,
                      iters: Int = PcaIters): DataFrame = {
    val (means, nRow, _, vk, _) = pcaCore(df, vecCol, iters)
    val mv = means.crossJoin(broadcast(nRow))
      .select(col("i"), (col("sx") / col("n")).as("mu"))
      .join(vk, "i")
      .agg(array_sort(collect_list(struct(col("i"), col("mu")))).as("ms"),
        array_sort(collect_list(struct(col("i"), col("v")))).as("vs"))
      .select(transform(col("ms"), s => s.getField("mu")).as("mu"),
        transform(col("vs"), s => s.getField("v")).as("pc"))
    // fanOut: the whiten transform (center + project + reconstruct per
    // row) is scan-side — single-task on a one-split input otherwise
    graft.ops.ScaleOps.fanOut(df)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("x"))
      .crossJoin(broadcast(mv))
      // bind cent/proj behind a projection boundary so the fold is not
      // re-evaluated per output element
      .select(col("id"), col("pc"),
        zip_with(col("x"), col("mu"), (a, b) => a - b).as("cent"))
      .select(col("id"), col("pc"), col("cent"),
        aggregate(zip_with(col("cent"), col("pc"), (a, b) => a * b),
          lit(0.0), (acc, e) => acc + e).as("proj"))
      .select(col("id"),
        zip_with(col("cent"), col("pc"),
          (c0, vv) => round(c0 - col("proj") * vv, 6)).as("w"))
  }

  /** Full DuckDB statement: the twin of
    * `topPrincipalComponent(table, vecCol, iters)` — the covariance
    * build plus `iters` unrolled w/nrm/v CTE rounds (the kmeansCtes
    * unrolling pattern), decimal sums everywhere a row order could leak.
    */
  def pcaSql(table: String, vecCol: String,
             iters: Int = PcaIters): String =
    s"""WITH ${pcaCtesSql(table, vecCol, iters)}
       |SELECT CAST(v.i AS BIGINT) AS dim, round(v.v, 6) AS loading,
       |       round(nm, 6) AS eigval
       |FROM v$iters v CROSS JOIN nrm$iters ORDER BY dim""".stripMargin

  /** The covariance build + `iters` unrolled w/nrm/v rounds as CTE
    * bodies (`e`/`nn`/`m`/`xp`/`c`/`v0`/…/`v{iters}`) — shared by
    * [[pcaSql]] and [[whitenSql]]. Every CTE is MATERIALIZED: each round
    * references the previous one more than once, and un-materialized
    * CTEs re-inline the WHOLE chain per reference — exponential replay
    * in chain depth (the q_ivf_pq lesson; at 16 rounds it exhausts file
    * handles before it exhausts patience).
    */
  def pcaCtesSql(table: String, vecCol: String,
                 iters: Int = PcaIters): String = {
    val rounds = pcaRoundsSql(iters, p = "", cov = "c")
    s"""pe AS MATERIALIZED (SELECT CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM pe),
       |m AS MATERIALIZED (SELECT i, CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx FROM (
       |  SELECT i, v[i] AS x FROM pe CROSS JOIN unnest(range(1, len(v)+1)) AS a(i))
       |  GROUP BY i),
       |xp AS MATERIALIZED (SELECT i, j, CAST(sum(CAST(xx AS DECIMAL(38,18))) AS DOUBLE) AS sxy FROM (
       |  SELECT a.i AS i, b.j AS j, v[a.i] * v[b.j] AS xx FROM pe
       |  CROSS JOIN unnest(range(1, len(v)+1)) AS a(i)
       |  CROSS JOIN unnest(range(1, len(v)+1)) AS b(j))
       |  GROUP BY i, j),
       |c AS MATERIALIZED (SELECT x.i AS i, x.j AS j,
       |        (x.sxy - mi.sx * mj.sx / nn.n) / nn.n AS c
       |      FROM xp x JOIN m mi ON mi.i = x.i JOIN m mj ON mj.i = x.j
       |      CROSS JOIN nn),
       |v0 AS MATERIALIZED (SELECT i, 1.0 AS v FROM m),
       |$rounds""".stripMargin
  }

  /** `iters` unrolled power rounds over covariance CTE `$cov` starting
    * from `${p}v0`, names prefixed `$p` so a second (deflated) chain can
    * coexist with the first — all MATERIALIZED (see [[pcaCtesSql]]).
    */
  private def pcaRoundsSql(iters: Int, p: String, cov: String): String =
    (1 to iters).map { k =>
      s"""${p}w$k AS MATERIALIZED (SELECT $cov.i AS i, CAST(sum(CAST($cov.c * v.v AS DECIMAL(38,18))) AS DOUBLE) AS w
         |        FROM $cov JOIN ${p}v${k - 1} v ON v.i = $cov.j GROUP BY $cov.i),
         |${p}nrm$k AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nm FROM ${p}w$k),
         |${p}v$k AS MATERIALIZED (SELECT i, CASE WHEN nm = 0 THEN w ELSE w / nm END AS v FROM ${p}w$k CROSS JOIN ${p}nrm$k)""".stripMargin
    }.mkString(",\n")

  /** Full DuckDB statement: the twin of
    * `topTwoPrincipalComponents(table, vecCol, iters)` — the
    * [[pcaCtesSql]] chain, the Hotelling deflation of the dim² table,
    * and a second prefixed round chain.
    */
  def pca2Sql(table: String, vecCol: String,
              iters: Int = PcaIters): String =
    s"""WITH ${pcaCtesSql(table, vecCol, iters)},
       |c2 AS MATERIALIZED (SELECT c.i AS i, c.j AS j,
       |        c.c - (x.nm * vi.v) * vj.v AS c
       |      FROM c JOIN v$iters vi ON vi.i = c.i
       |             JOIN v$iters vj ON vj.i = c.j
       |      CROSS JOIN nrm$iters x),
       |dv0 AS MATERIALIZED (SELECT i, 1.0 AS v FROM m),
       |${pcaRoundsSql(iters, p = "d", cov = "c2")}
       |SELECT 1 AS comp, CAST(v.i AS BIGINT) AS dim, round(v.v, 6) AS loading,
       |       round(nm, 6) AS eigval
       |FROM v$iters v CROSS JOIN nrm$iters
       |UNION ALL
       |SELECT 2 AS comp, CAST(v.i AS BIGINT) AS dim, round(v.v, 6) AS loading,
       |       round(nm, 6) AS eigval
       |FROM dv$iters v CROSS JOIN dnrm$iters
       |ORDER BY comp, dim""".stripMargin

  /** Full DuckDB statement: the twin of
    * `whitenAllButTop(table, idCol, vecCol, iters)` — the [[pcaCtesSql]]
    * chain plus the broadcast-(μ, v) projection transform; the per-row
    * fold replays Spark's in-row left fold exactly
    * (list_prepend + list_reduce). Output is the LONG form (id, d, w) —
    * 0-based dim like Spark's posexplode — because the driver comparator
    * cannot hash a top-level array column.
    */
  def whitenSql(table: String, idCol: String, vecCol: String,
                iters: Int = PcaIters): String =
    s"""WITH ${whitenCtesSql(table, idCol, vecCol, iters)}
       |SELECT id, CAST(a.i - 1 AS INT) AS d, w[a.i] AS w
       |FROM wout CROSS JOIN unnest(range(1, len(w)+1)) AS a(i)
       |ORDER BY id, d""".stripMargin

  /** [[whitenSql]]'s chain as CTE bodies ending in
    * `wout AS (id, w double[])` — composable under downstream chains
    * (the whitened-SemDeDup oracle).
    */
  def whitenCtesSql(table: String, idCol: String, vecCol: String,
                    iters: Int = PcaIters): String =
    s"""${pcaCtesSql(table, vecCol, iters)},
       |pcw AS MATERIALIZED (SELECT m.i AS i, m.sx / nn.n AS mu, v.v AS v
       |      FROM m JOIN v$iters v ON v.i = m.i CROSS JOIN nn),
       |mv AS MATERIALIZED (SELECT list(mu ORDER BY i) AS mu,
       |                           list(v ORDER BY i) AS pc FROM pcw),
       |base AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS x FROM $table),
       |cent AS (SELECT b.id,
       |           list_transform(range(1, len(b.x)+1), i -> b.x[i] - a.mu[i]) AS cent,
       |           a.pc AS pc
       |         FROM base b CROSS JOIN mv a),
       |p AS (SELECT id, cent, pc,
       |        list_reduce(list_prepend(0.0,
       |          list_transform(range(1, len(cent)+1), i -> cent[i] * pc[i])),
       |          (acc, e) -> acc + e) AS proj
       |      FROM cent),
       |wout AS MATERIALIZED (SELECT id, list_transform(range(1, len(cent)+1),
       |         i -> round(cent[i] - proj * pc[i], 6)) AS w
       |      FROM p)""".stripMargin
}
