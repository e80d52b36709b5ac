package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.WindowOps

/** Distributed rank functions: must equal the one-task-per-group window
  * bit-for-bit at any range width (the derived one included), while never
  * giving a whole group to a single task when split into ranges. Widths
  * are pinned with `withRankWidth`; `None` is the derived width.
  */
class WindowRankSpec extends SparkTestBase {
  import spark.implicits._

  private val widths = Seq(Some(1), Some(8), Some(32), None)

  private def atWidth[A](p: Option[Int])(body: => A): A =
    p.fold(body)(withRankWidth(_)(body))

  private lazy val orders = graft.core.Tables.orders(spark, sfDir)
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  test("rankFunctions equals built-in ntile/percent_rank/cume_dist at any partitioning") {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val expect = orders.select(col("o_orderkey"),
        ntile(10).over(w).cast("long").as("t"),
        percent_rank().over(w).as("p"),
        cume_dist().over(w).as("c"))
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    for (p <- widths) {
      val got = atWidth(p)(WindowOps.rankFunctions(orders, "o_orderpriority",
          Seq("o_totalprice", "o_orderkey"), numTiles = 10)
        .select(col("o_orderkey"), col("ntile_10"), col("pct_rank"), col("cume"))
        .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap)
      assert(got.size == expect.size, s"row count diverged at width $p")
      // bit-for-bit: the closed forms use the same double ops as the built-in
      expect.foreach { case (k, e) =>
        assert(got(k) == e, s"rank values diverged at width $p key=$k: ${got(k)} vs $e")
      }
    }
  }

  test("rankFunctions is tie-aware: equal order keys share rank and cume") {
    // many ties: value has only 7 distinct levels across 400 rows
    val df = spark.range(0, 400).select(
      (col("id") % 2).as("g"), pmod(hash(col("id")), lit(7)).as("v"))
    val w = Window.partitionBy("g").orderBy("v")
    val expect = df.select(col("g"), col("v"),
        percent_rank().over(w).as("p"), cume_dist().over(w).as("c"))
      .distinct().as[(Long, Int, Double, Double)].collect().toSet
    val got = withRankWidth(8)(WindowOps.rankFunctions(df, "g", Seq("v"), numTiles = 4)
      .select(col("g"), col("v"), col("pct_rank"), col("cume"))
      .distinct().as[(Long, Int, Double, Double)].collect().toSet)
    assert(got == expect)
  }

  test("no task receives a whole group: every group spans multiple range partitions") {
    val byPid = withRankWidth(8)(WindowOps.rankFunctions(orders, "o_orderpriority",
        Seq("o_totalprice", "o_orderkey"), numTiles = 10, keepPid = true)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("_pid")).as("nPids"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect())
    assert(byPid.length == 5)
    byPid.foreach { case (g, nPids, n) =>
      assert(nPids >= 2, s"group $g ($n rows) landed on a single partition")
    }
  }

  test("ntile with n < k gives each row its own bucket (q=0 branch never divides)") {
    val df = Seq((1L, 10.0), (1L, 20.0), (1L, 30.0)).toDF("g", "v")
    val got = withRankWidth(4)(WindowOps.rankFunctions(df, "g", Seq("v"), numTiles = 10)
      .select("v", "ntile_10").as[(Double, Long)].collect().sortBy(_._1))
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
  }

  test("exactQuantilesGlobal matches the sorted-array definition at any partitioning") {
    val df = spark.range(0, 5000)
      .select(pmod(hash(col("id")), lit(997)).cast("double").as("x"))
    val sorted = df.orderBy("x").as[Double].collect()
    def disc(q: Double): Double = sorted(math.ceil(q * sorted.length).toInt - 1)
    for (p <- widths) {
      val got = atWidth(p)(WindowOps.exactQuantilesGlobal(df.repartition(11), "x",
          Seq(0.1, 0.5, 0.9, 1.0))
        .as[(Double, Double)].collect().toMap)
      Seq(0.1, 0.5, 0.9, 1.0).foreach { q =>
        assert(got(q) == disc(q), s"quantile $q diverged at width $p")
      }
    }
  }

  test("exactQuantilesByGroup equals the percentile aggregate at any partitioning") {
    val df = spark.range(0, 6000).select(
      (col("id") % 3).cast("string").as("g"),
      pmod(hash(col("id")), lit(991)).cast("double").as("v"))
    val expect = Seq(0.1, 0.5, 0.9).flatMap { q =>
      df.groupBy("g").agg(percentile(col("v"), lit(q)).as("value"))
        .as[(String, Double)].collect().map { case (g, v) => (g, q, v) }
    }.toSet
    for (p <- widths) {
      val got = atWidth(p)(WindowOps.exactQuantilesByGroup(df.repartition(11), "g", "v",
          Seq(0.1, 0.5, 0.9))
        .as[(String, Double, Double)].collect().toSet)
      assert(got == expect, s"quantiles diverged at width $p")
    }
  }

  /** The lazy global form: explode the qs, keep the values whose
    * cumulative share reaches q, min per q, order by q — over one plain
    * cumulative window. The collected form must equal it row for row and
    * in schema, nullability included.
    */
  private def lazyGlobalQuantiles(df: org.apache.spark.sql.DataFrame,
                                  valueCol: String, qs: Seq[Double]) = {
    val cum = df.select(col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy("_v").agg(count(lit(1)).as("_cnt"))
      .withColumn("_cum", sum(col("_cnt")).over(Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum(col("_cnt")).over(Window.partitionBy()))
    cum.select(explode(typedLit(qs.sorted)).as("q"), col("_v"),
        (col("_cum").cast("double") / col("_n").cast("double")).as("_cume"))
      .filter(col("_cume") >= col("q"))
      .groupBy("q").agg(min(col("_v")).as("value"))
      .orderBy("q")
  }

  test("exactQuantilesGlobal collects: same rows and schema as the lazy form on edge inputs") {
    val xs = spark.range(0, 3000)
      .select(pmod(hash(col("id")), lit(211)).cast("double").as("x"))
    val empty = spark.range(0).select(col("id").cast("double").as("x"))
    val cases = Seq(
      "general" -> (xs, Seq(0.25, 0.5, 0.75, 0.95)),
      "empty input" -> (empty, Seq(0.5, 0.9)),
      "duplicate qs" -> (xs, Seq(0.9, 0.5, 0.5, 0.9)),
      "q = 1.0" -> (xs, Seq(1.0)))
    for ((label, (df, qs)) <- cases; p <- Seq(None, Some(8))) {
      val got = atWidth(p)(WindowOps.exactQuantilesGlobal(df, "x", qs))
      val want = lazyGlobalQuantiles(df, "x", qs)
      assert(got.schema == want.schema, s"$label: schema ${got.schema} vs ${want.schema}")
      assert(got.collect().toSeq == want.collect().toSeq, s"$label rows at width $p")
    }
    assert(WindowOps.exactQuantilesGlobal(empty, "x", Seq(0.5)).count() == 0)
    assert(WindowOps.exactQuantilesGlobal(xs, "x", Seq(0.5, 0.5)).count() == 1)
    assert(WindowOps.exactQuantilesGlobal(xs, "x", Seq(1.0)).head().getDouble(1) == 210.0)
  }

  test("job budget: exactQuantilesGlobal at the default width stays in its job budget and returns a local relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val df = spark.range(0, 5000)
      .select(pmod(hash(col("id")), lit(997)).cast("double").as("x"))
    val (got, jobs) = org.apache.spark.TestBus.jobsOf(spark.sparkContext)(
      WindowOps.exactQuantilesGlobal(df, "x", Seq(0.25, 0.5, 0.75, 0.95)))
    assert(jobs <= 3, s"exactQuantilesGlobal ran $jobs jobs")
    assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      got.queryExecution.optimizedPlan.treeString)
    val (_, readJobs) = org.apache.spark.TestBus.jobsOf(spark.sparkContext)(got.collect())
    assert(readJobs == 0, s"reading the result ran $readJobs jobs")
  }

  test("a frame within one advisory partition derives width 1: no range exchange, no checkpoint") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(0, 400).select((col("id") % 3).as("g"),
      pmod(hash(col("id")), lit(53)).as("v"), col("id"))
    assert(WindowOps.rankWidth(df) == 1)
    def checkpoints(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }.size
    def rangeExchange(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.executedPlan.toString.contains("rangepartitioning")
    val ranked = WindowOps.rankFunctions(df, "g", Seq("v", "id"), numTiles = 4)
    val quant = WindowOps.exactQuantilesByGroup(df, "g", "v", Seq(0.5))
    for ((name, out) <- Seq("rankFunctions" -> ranked, "exactQuantilesByGroup" -> quant)) {
      assert(checkpoints(out) == 0, s"$name checkpointed at width 1")
      assert(!rangeExchange(out), s"$name planned a range exchange at width 1")
    }
    // the ranged form of the same call does checkpoint its ranges
    assert(checkpoints(withRankWidth(8)(WindowOps.rankFunctions(df, "g", Seq("v", "id"),
      numTiles = 4))) > 0)
    // and both forms agree bit for bit
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "ntile_4", "pct_rank", "cume").collect().toSet
    assert(rows(ranked) == rows(withRankWidth(8)(WindowOps.rankFunctions(df, "g", Seq("v", "id"),
      numTiles = 4))))
  }

  test("madPerGroup's deviation pass takes the width of the collapsed counts, not of their join") {
    import org.apache.spark.sql.execution.LogicalRDD
    // about 3000 distinct (g, v) pairs: the collapse fits one advisory
    // partition, while the join's product estimate runs to gigabytes
    val df = spark.range(0, 5000).select((col("id") % 3).as("g"),
      pmod(hash(col("id")), lit(1000)).cast("double").as("v"))
    val mad = graft.ops.StatsOps.madPerGroup(df, "g", "v")
    // the one materialized input is the shared collapse: no ranged pass
    // checkpoints its ranges, and nothing is range-partitioned
    val rdds = mad.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd.id }
    assert(rdds.distinct.size == 1, mad.queryExecution.optimizedPlan.treeString)
    assert(!mad.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    val ranged = withRankWidth(8)(graft.ops.StatsOps.madPerGroup(df, "g", "v")
      .as[(Long, Double, Double)].collect().toSet)
    assert(mad.as[(Long, Double, Double)].collect().toSet == ranged)
  }

  test("with a tiny advisory partition size the derived width is spark.sql.shuffle.partitions") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(key)
    val df = spark.range(0, 2000).select((col("id") % 2).as("g"),
      pmod(hash(col("id")), lit(101)).cast("double").as("v"), col("id"))
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      spark.conf.set(key, "1")
      assert(WindowOps.rankWidth(df) == shufflePartitions)
      val pids = WindowOps.rankFunctions(df, "g", Seq("v", "id"), numTiles = 4,
          keepPid = true)
        .select("_pid").distinct().count()
      assert(pids > 1 && pids <= shufflePartitions, s"$pids ranges")
      val expect = df.select(col("g"), col("v"), percentile(col("v"), lit(0.5))
        .over(Window.partitionBy("g")).as("m")).select("g", "m").distinct()
        .as[(Long, Double)].collect().toSet
      val got = WindowOps.exactQuantilesByGroup(df, "g", "v", Seq(0.5))
        .select("g", "value").as[(Long, Double)].collect().toSet
      assert(got == expect)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("weighted quantiles over the collapsed table equal unweighted over raw rows") {
    val df = spark.range(0, 6000).select(
      (col("id") % 3).cast("string").as("g"),
      pmod(hash(col("id")), lit(97)).cast("double").as("v")) // heavy ties
    val collapsed = df.groupBy("g", "v").agg(count(lit(1)).as("w"))
    val qs = Seq(0.1, 0.5, 0.9)
    val raw = WindowOps.exactQuantilesByGroup(df, "g", "v", qs)
      .as[(String, Double, Double)].collect().toSet
    val weighted = WindowOps.exactQuantilesByGroupWeighted(
        collapsed, "g", "v", "w", qs)
      .as[(String, Double, Double)].collect().toSet
    assert(weighted == raw, "weighted form must be bit-identical to raw")
    // madPerGroup (now built on the weighted form) stays consistent with
    // a direct percentile cross-check on a small frame
    val small = Seq(("a", 1.0), ("a", 2.0), ("a", 9.0),
      ("b", 4.0), ("b", 4.0)).toDF("g", "v")
    val mad = graft.ops.StatsOps.madPerGroup(small, "g", "v")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // group a: median 2, deviations {1,0,7} → mad 1; group b: 4/0
    assert(mad("a") == ((2.0, 1.0)) && mad("b") == ((4.0, 0.0)))
  }

  test("flagOutliers: k-MAD gate flags planted outliers, mad=0 groups flag any deviation") {
    val df = (Seq.fill(9)(("a", 100.0)) :+ ("a", 1000.0)) ++
      ((1 to 11).map(i => ("b", i.toDouble)) :+ ("b", 100.0))
    val got = graft.ops.StatsOps.flagOutliers(
        df.toDF("g", "v"), "g", "v", k = 2.0)
      .filter(col("is_outlier")).select("g", "v")
      .as[(String, Double)].collect().toSet
    // a: median 100, mad 0 -> ONLY the 1000 deviates; b: median 6.5,
    // mad 3 -> threshold 6: only the planted 100 exceeds it
    assert(got == Set(("a", 1000.0), ("b", 100.0)), s"got $got")
    // non-outliers keep their stats columns (gate is a projection, not a filter)
    val all = graft.ops.StatsOps.flagOutliers(
      df.toDF("g", "v"), "g", "v", k = 2.0)
    assert(all.count() == df.size.toLong)
    assert(all.columns.toSet == Set("g", "v", "median", "mad", "is_outlier"))
  }

  test("aucExact: tie-corrected AUC matches the pairwise definition") {
    import graft.ops.EvalMetrics
    // pos scores {3,2}, neg {1,2}: pairs 3>1, 3>2, 2>1 win, 2==2 half
    // → AUC = 3.5/4 = 0.875
    val df = Seq((1, 3.0), (1, 2.0), (0, 1.0), (0, 2.0)).toDF("lab", "score")
    val r = withRankWidth(3)(EvalMetrics.aucExact(df, "lab", "score").collect().head)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.875)
    // perfect separation → 1.0; reversed → 0.0; partitioning-independent
    val sep = spark.range(0, 1000).select(
      (col("id") >= 500).cast("int").as("lab"), col("id").cast("double").as("score"))
    assert(EvalMetrics.aucExact(sep, "lab", "score").collect().head.getDouble(2) == 1.0)
    assert(EvalMetrics.aucExact(sep.select(lit(1) - col("lab") as "lab", col("score")),
      "lab", "score").collect().head.getDouble(2) == 0.0)
    val big = spark.range(0, 20000).select(
      pmod(hash(col("id")), lit(2)).cast("int").as("lab"),
      pmod(hash(col("id"), lit(7)), lit(100)).cast("double").as("score"))
    val a = withRankWidth(4)(EvalMetrics.aucExact(big, "lab", "score").collect().head)
    val b = withRankWidth(32)(EvalMetrics.aucExact(big.repartition(17), "lab", "score")
      .collect().head)
    assert(a == b, "AUC must be partitioning-independent")
  }

  test("degenerate inputs: empty frame and single-valued groups") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("g", StringType), StructField("v", DoubleType))))
    assert(WindowOps.rankFunctions(empty, "g", Seq("v"), 4).count() == 0)
    assert(WindowOps.exactQuantilesByGroup(empty, "g", "v", Seq(0.5)).count() == 0)
    // one distinct value per group: every quantile IS that value
    val const = Seq(("a", 7.0), ("a", 7.0), ("b", 3.0)).toDF("g", "v")
    val got = WindowOps.exactQuantilesByGroup(const, "g", "v", Seq(0.1, 0.9))
      .as[(String, Double, Double)].collect().toSet
    assert(got == Set(("a", 0.1, 7.0), ("a", 0.9, 7.0),
      ("b", 0.1, 3.0), ("b", 0.9, 3.0)))
  }

  test("the scaffold plans no window without a partition key, with or without a group") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    import graft.ops.{EvalMetrics, PrefixSum}
    def unkeyed(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.optimizedPlan.collect {
        case w: WindowNode if w.partitionSpec.isEmpty => w
      }.size
    val df = spark.range(0, 2000).select((col("id") % 3).as("g"),
      pmod(hash(col("id")), lit(53)).as("v"), col("id"))
    // the detector sees a literal key the optimizer folds away
    assert(unkeyed(df.withColumn("k", lit(1))
      .withColumn("s", sum(col("v")).over(Window.partitionBy("k")))) == 1)
    val scored = df.select((col("id") % 2).as("lab"), col("v").as("score"))
    for (p <- Seq(1, 8)) withRankWidth(p) {
      for ((name, out) <- Seq(
          "prefixSum" -> PrefixSum.prefixSum(df, "id", "v"),
          "prefixSumByGroup" -> PrefixSum.prefixSumByGroup(df, "g", Seq("id"), "v"),
          "rankFunctions" -> WindowOps.rankFunctions(df, "g", Seq("v", "id"), numTiles = 4),
          "aucExact" -> EvalMetrics.aucExact(scored, "lab", "score"))) {
        assert(unkeyed(out) == 0,
          s"$name at width $p: ${out.queryExecution.optimizedPlan.treeString}")
      }
    }
  }

  test("reserved column names are rejected loudly") {
    val df = Seq((1L, 2L)).toDF("g", "_pid")
    val e = intercept[IllegalArgumentException] {
      WindowOps.rankFunctions(df, "g", Seq("_pid"), numTiles = 2)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("corrMatrix: matches the two-column profile; linear pair scores 1") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (i.toDouble, (2 * i).toDouble, ((i * 37) % 100).toDouble))
      .toDF("a", "b", "c")
    val m = graft.ops.StatsOps.corrMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(m.size == 3 && m.forall(_._2._1 == 200L))
    assert(m(("a", "b"))._2 == 1.0)
    assert(m.forall { case (_, (_, c)) => c >= -1.0 && c <= 1.0 })
    // bit-parity with the proven 2-column moments profile on the same pair
    val ref = graft.ops.StatsOps.exactMomentsProfile(
        df.withColumn("g", org.apache.spark.sql.functions.lit("all")),
        "g", "a", "c")
      .select("corr_xy").head().getDouble(0)
    assert(m(("a", "c"))._2 == ref)
  }

  test("psiByGroup: a single group reproduces the global psi exactly") {
    import spark.implicits._
    val ref = (1 to 500).map(i => ("s0", ((i * 61) % 300 + 1).toDouble))
      .toDF("src", "value")
    val cur = (1 to 400).map(i => ("s0", ((i * 97) % 300 + 30).toDouble))
      .toDF("src", "value")
    val grouped = graft.ops.StatsOps.psiByGroup(ref, cur, "src", "value", bins = 10)
      .select("bin", "ref_n", "cur_n", "ref_share", "cur_share", "term", "psi")
      .orderBy("bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    val global = graft.ops.StatsOps.psi(
        ref.select("value"), cur.select("value"), "value", bins = 10)
      .orderBy("bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(grouped == global)
    // a current-only group has no reference profile -> excluded
    val extra = cur.unionByName(Seq(("s9", 1.0)).toDF("src", "value"))
    val out = graft.ops.StatsOps.psiByGroup(ref, extra, "src", "value", bins = 10)
    assert(out.select("src").distinct().as[String].collect().toSeq == Seq("s0"))
  }

  test("rankingMetrics: NDCG/MRR match the textbook formulas") {
    import spark.implicits._
    val df = Seq(
      // q1: relevant docs ranked 1st and 3rd
      ("q1", 1L, 0.9, 3), ("q1", 2L, 0.8, 0), ("q1", 3L, 0.7, 1),
      // q2: nothing relevant
      ("q2", 4L, 0.9, 0), ("q2", 5L, 0.8, 0),
      // q3: ideal order (rel strictly tracks score)
      ("q3", 6L, 0.9, 2), ("q3", 7L, 0.8, 1), ("q3", 8L, 0.7, 0)
    ).toDF("query", "id", "score", "rel")
    val got = graft.ops.EvalMetrics
      .rankingMetrics(df, "query", "id", "score", "rel", k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val dcg1 = 7.0 / log2(2) + 0.0 / log2(3) + 1.0 / log2(4)
    val idcg1 = 7.0 / log2(2) + 1.0 / log2(3) + 0.0 / log2(4)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("q1") == ((3L, r6(dcg1 / idcg1), 1.0)))
    assert(got("q2") == ((2L, 0.0, 0.0)))
    assert(got("q3")._2 == 1.0 && got("q3")._3 == 1.0)
    // k truncation: with k=1 only the top hit counts; q1's rank-3 rel
    // drops out of DCG but MRR still finds the rank-1 hit
    val k1 = graft.ops.EvalMetrics
      .rankingMetrics(df, "query", "id", "score", "rel", k = 1)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(k1("q1") == ((1.0, 1.0))) // dcg@1 = idcg@1 = 7
  }

  test("precisionRecallAtK: textbook values, short-list penalty, no-rel zeroes") {
    import spark.implicits._
    val df = Seq(
      // q1: 3 candidates, 2 relevant, both in top-2
      ("q1", 1L, 0.9, 1), ("q1", 2L, 0.8, 2), ("q1", 3L, 0.7, 0),
      // q2: nothing relevant
      ("q2", 4L, 0.9, 0),
      // q3: 1 relevant, ranked below the k=2 cutoff
      ("q3", 5L, 0.9, 0), ("q3", 6L, 0.8, 0), ("q3", 7L, 0.7, 3)
    ).toDF("query", "id", "score", "rel")
    val got = graft.ops.EvalMetrics
      .precisionRecallAtK(df, "query", "id", "score", "rel", k = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("q1") == ((2L, 2L, 1.0, 1.0)))
    assert(got("q2") == ((0L, 0L, 0.0, 0.0)))
    assert(got("q3") == ((1L, 0L, 0.0, 0.0)))
  }

  test("passAtK: Codex-estimator hand values and the three edge branches") {
    import spark.implicits._
    // A: n=4, c=2 → pass@1 = 1 − 2/4 = 0.5; pass@2 = 1 − (2/4)(1/3) = 5/6
    // B: c=0 → 0 at every k;  C: n−c=1 < 2 → pass@2 = 1 exactly
    // D: singleton → pass@2 NULL (estimator needs n ≥ k), pass@1 = 1
    val df = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false)) ++
      Seq.fill(3)(("B", false)) ++
      Seq.fill(2)(("C", true)) ++ Seq(("C", false)) ++
      Seq(("D", true))).toDF("prob", "ok")
    val got = graft.ops.EvalMetrics
      .passAtK(df, "prob", col("ok"), ks = Seq(1, 2))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(got("A") == ((4L, 2L, Some(0.5), Some(0.833333))))
    assert(got("B") == ((3L, 0L, Some(0.0), Some(0.0))))
    assert(got("C") == ((3L, 2L, Some(0.666667), Some(1.0))))
    assert(got("D") == ((1L, 1L, Some(1.0), None)))
  }

  test("psi: identical slices score ~0, a shifted slice scores high") {
    import spark.implicits._
    val base = (1 to 1000).map(i => (i % 97).toDouble).toDF("value")
    def run(cur: org.apache.spark.sql.DataFrame) =
      graft.ops.StatsOps.psi(base, cur, "value", bins = 10)
    val same = run(base).select("psi").head().getDouble(0)
    assert(same < 0.02, s"identical slices drifted: psi=$same")
    // +200 shift pushes every current value above the reference's top
    // decile edge -> all current mass lands in the last bin
    val shifted = run(base.select((col("value") + 200.0).as("value")))
    assert(shifted.select("psi").head().getDouble(0) > 1.0)
    val lastBin = shifted.filter(col("bin") === 10).head()
    assert(lastBin.getLong(2) == 1000L, "shifted mass not in top bin")
    // all bins present, shares sum to ~1 on each side
    assert(shifted.count() == 10)
    val sums = run(base).agg(
      org.apache.spark.sql.functions.sum("ref_share"),
      org.apache.spark.sql.functions.sum("cur_share")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-3)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-3)
  }
}
