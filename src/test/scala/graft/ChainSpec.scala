package graft

import org.apache.spark.sql.functions._
import graft.chain.{KMeans, NaiveBayes, PageRank}

/** Chained-job analytics (SURVEY §2.3 #30-32) against hand-computed truths.
  * The CORRECTNESS gate (q_pagerank / q_kmeans_assign / q_nb_*) covers the
  * fixture-scale behavior; these specs pin the math on tiny inputs.
  */
class ChainSpec extends SparkTestBase {

  test("bradleyTerry: planted strengths recovered in order; never-winner floors at 0") {
    import spark.implicits._
    // round-robin outcomes consistent with strength A > B > C; D never wins
    val pairs = (Seq.fill(9)(("A", "B")) ++ Seq.fill(3)(("B", "A")) ++
      Seq.fill(9)(("B", "C")) ++ Seq.fill(3)(("C", "B")) ++
      Seq.fill(10)(("A", "C")) ++ Seq.fill(2)(("C", "A")) ++
      Seq.fill(4)(("A", "D")) ++ Seq.fill(4)(("B", "D")))
      .toDF("win", "lose")
    val got = graft.chain.BradleyTerry.fit(pairs, iterations = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("A")._1 == 23 && got("D")._1 == 0)
    assert(got("A")._2 > got("B")._2 && got("B")._2 > got("C")._2)
    assert(got("C")._2 > 0.0 && got("D")._2 == 0.0)
    // rescale contract: mean rating 1 over the 4 items
    val tot = got.values.map(_._2).sum
    assert(math.abs(tot - 4.0) < 1e-4, s"sum $tot")
    // determinism: a second fit reproduces identical quantized ratings
    val again = graft.chain.BradleyTerry.fit(pairs, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    got.foreach { case (k, (_, v)) => assert(again(k) == v) }
  }
  test("bradleyTerry: 20 MM rounds stay flat-cost (per-round truncation) and refine the 3-round fit") {
    import spark.implicits._
    val pairs = (Seq.fill(9)(("A", "B")) ++ Seq.fill(3)(("B", "A")) ++
      Seq.fill(9)(("B", "C")) ++ Seq.fill(3)(("C", "B")) ++
      Seq.fill(10)(("A", "C")) ++ Seq.fill(2)(("C", "A")) ++
      Seq.fill(4)(("A", "D")) ++ Seq.fill(4)(("B", "D")))
      .toDF("win", "lose")
    // without per-round lineage truncation this plan is ~4^20 nodes and
    // never finishes analysis; with it, 20 rounds complete in seconds
    val t0 = System.nanoTime()
    val got = graft.chain.BradleyTerry.fit(pairs, iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120.0, s"20 MM rounds took $secs s — lineage regrowth?")
    assert(got("A") > got("B") && got("B") > got("C") && got("C") > got("D"))
    assert(got("D") == 0.0)
    assert(math.abs(got.values.sum - 4.0) < 1e-4)
    // deeper fit sharpens the planted ordering vs 3 rounds (A pulls away)
    val coarse = graft.chain.BradleyTerry.fit(pairs, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("A") / got("C") >= coarse("A") / coarse("C") - 1e-6)
  }

  import spark.implicits._

  test("PageRank on a 3-node cycle converges to uniform scores") {
    // a->b->c->a: perfectly symmetric, every score stays exactly 1.0
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val scores = PageRank.run(spark, PageRank.uniformWeights(edges), iterations = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores.size == 3)
    scores.values.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("PageRank star graph: hub absorbs leaf mass, leaves settle at 1-d") {
    // x->hub, y->hub, hub->x (out-weight 1): after enough iterations
    // leaf y (no in-edges) = 0.15; x = 0.15 + 0.85*hub; hub = 0.15+0.85*(x+y)
    val edges = Seq(("x", "hub"), ("y", "hub"), ("hub", "x")).toDF("src", "dst")
    val s = PageRank.run(spark, PageRank.uniformWeights(edges), iterations = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(s("y") - 0.15) < 1e-9)
    // fixed point: hub = 0.15 + 0.85*(x + y), x = 0.15 + 0.85*hub.
    // convergence is geometric at 0.85^2 per round-trip → ~7e-3 after 30
    // iterations; assert within that bound
    assert(math.abs(s("hub") - (0.15 + 0.85 * (s("x") + s("y")))) < 0.01)
    assert(math.abs(s("x") - (0.15 + 0.85 * s("hub"))) < 0.01)
  }

  test("KMeans separates two obvious clusters and assigns all points") {
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), // init centers (first k by id)
      (2L, Seq(0.1, -0.1)), (3L, Seq(0.2, 0.1)),
      (4L, Seq(9.9, 10.1)), (5L, Seq(10.2, 9.8))
    ).toDF("id", "vec")
    val (centers, assigned) = KMeans.run(spark, pts, "id", "vec", k = 2, iterations = 3)
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(Set(0L, 2L, 3L).map(byId) == Set(byId(0L))) // one cluster
    assert(Set(1L, 4L, 5L).map(byId) == Set(byId(1L))) // the other
    assert(byId(0L) != byId(1L))
    // center of the origin cluster = mean of its members
    val c0 = centers(byId(0L))
    assert(math.abs(c0.head - (0.0 + 0.1 + 0.2) / 3) < 1e-12)
    assert(KMeans.inertia(pts, "id", "vec", centers) < 0.2)
  }

  test("assignRouted: small k and degenerate routes fall back to the exact scan") {
    val pts = spark.range(0, 200).select(col("id"),
      array((pmod(hash(col("id")), lit(1000)) / 100.0),
        (pmod(hash(col("id") * 3), lit(1000)) / 100.0)).as("vec"))
    val centers = (0 until 6).map(i => Seq(i * 2.0, 10.0 - i))
    // k = 6 <= 8 -> exact path by construction
    val exact = KMeans.assign(pts, "id", "vec", centers)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val routed = KMeans.assignRouted(pts, "id", "vec", centers, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(routed == exact)
  }

  test("assignRouted: every point assigned once; high agreement with the exact argmin") {
    // 64 well-spread centers on a hash grid, 2000 points
    val pts = spark.range(0, 2000).select(col("id"),
      array((pmod(hash(col("id")), lit(1000)) / 100.0),
        (pmod(hash(col("id") * 3), lit(1000)) / 100.0)).as("vec"))
    val centers = (0 until 64).map(i => Seq((i % 8) * 1.25, (i / 8) * 1.25))
    val exact = KMeans.assign(pts, "id", "vec", centers)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val routedDf = KMeans.assignRouted(pts, "id", "vec", centers, nProbe = 2)
    val routed = routedDf.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(routed.size == 2000 && routed.values.forall(c => c >= 0 && c < 64))
    val agree = routed.count { case (id, c) => exact(id) == c }
    assert(agree >= 1900, s"routed/exact agreement only $agree/2000")
    // deterministic under repartitioning
    val again = KMeans.assignRouted(pts.repartition(13), "id", "vec",
      centers, nProbe = 2).collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(again == routed)
    // probing every coarse cell IS the exact scan
    val full = KMeans.assignRouted(pts, "id", "vec", centers, nProbe = 64)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(full == exact)
  }

  test("assignRouted large-k join form is bit-identical to the expression form") {
    // k = 600 spans JoinedAssignK: the dispatcher must pick the join
    // form, and the join form must reproduce the expression form's
    // assignments EXACTLY — same probe, same kernel, same tie-break
    // (the expression form past ~1000 cells silently loses codegen to
    // Janino's 64 KB limit; the join form is how the production path
    // keeps JIT at cells ∝ n)
    val pts = spark.range(0, 1500).select(col("id"),
      array((pmod(hash(col("id")), lit(1000)) / 100.0),
        (pmod(hash(col("id") * 3), lit(1000)) / 100.0)).as("vec"))
    val centers = (0 until 600).map(i => Seq((i % 25) * 0.41, (i / 25) * 0.42))
    assert(centers.length >= KMeans.JoinedAssignK)
    val c = math.round(math.sqrt(centers.length.toDouble)).toInt
    val (coarse, members) = KMeans.routeTables(centers, c, iters = 3)
    val nonEmpty = members.zipWithIndex.filter(_._1.nonEmpty)
    val expr = KMeans.assignRoutedExpr(pts, "id", "vec", centers, 2,
        coarse, nonEmpty)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val joined = KMeans.assignRoutedJoined(pts, "id", "vec", centers, 2,
        coarse, nonEmpty)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(joined == expr, "join-form assignments must be bit-identical")
    val rejoined = KMeans.assignRoutedJoinedRejoin(pts, "id", "vec", centers, 2,
        coarse, nonEmpty)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rejoined == expr, "rejoin-form assignments must be bit-identical")
    val dispatched = KMeans.assignRouted(pts, "id", "vec", centers, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(dispatched == expr)
    // the joined form also round-trips the vector column unchanged
    val vRow = KMeans.assignRoutedJoined(pts, "id", "vec", centers, 2,
        coarse, nonEmpty)
      .filter(col("id") === 7L).select("v").collect()(0).getSeq[Double](0)
    val vIn = pts.filter(col("id") === 7L)
      .select(col("vec").cast("array<double>")).collect()(0).getSeq[Double](0)
    assert(vRow == vIn)
  }

  test("assignRouted null-vector rows get a null cluster on BOTH sides of JoinedAssignK") {
    // the degenerate-input contract: a null vector must surface as a
    // null-cluster ROW (never silently dropped, never argmin'd over
    // null distances) in assign, the expression route, and the large-k
    // join route alike — behavior cannot change when k crosses the
    // codegen switch
    val pts = spark.range(0, 100).select(col("id"),
      when(col("id") % 10 =!= 0,
        array((pmod(hash(col("id")), lit(1000)) / 100.0),
          (pmod(hash(col("id") * 3), lit(1000)) / 100.0))).as("vec"))
    val nNull = 10
    val centers = (0 until 64).map(i => Seq((i % 8) * 1.25, (i / 8) * 1.25))
    val c = math.round(math.sqrt(centers.length.toDouble)).toInt
    val (coarse, members) = KMeans.routeTables(centers, c, iters = 3)
    val nonEmpty = members.zipWithIndex.filter(_._1.nonEmpty)
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Int]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    val exact = pairs(KMeans.assign(pts, "id", "vec", centers))
    val expr = pairs(KMeans.assignRoutedExpr(pts, "id", "vec", centers, 2,
      coarse, nonEmpty))
    val joined = pairs(KMeans.assignRoutedJoined(pts, "id", "vec", centers, 2,
      coarse, nonEmpty))
    val rejoined = pairs(KMeans.assignRoutedJoinedRejoin(pts, "id", "vec",
      centers, 2, coarse, nonEmpty))
    assert(exact.size == 100 && expr.size == 100 && joined.size == 100 &&
      rejoined.size == 100, "no form may drop rows")
    assert(exact.values.count(_.isEmpty) == nNull)
    assert(expr.values.count(_.isEmpty) == nNull)
    assert(joined == expr, "join/expression forms must agree with nulls present")
    assert(rejoined == expr, "rejoin form must agree with nulls present")
  }

  test("NaiveBayes contingency math matches hand counts") {
    // 4 docs: two classes, feature f1 only in class A, f2 in both
    val ev = Seq(
      (1L, "A", "f1"), (1L, "A", "f2"),
      (2L, "A", "f1"),
      (3L, "B", "f2"),
      (4L, "B", "f2")
    ).toDF("docId", "cls", "feature")
    val m = NaiveBayes.train(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // (A,f1): a = n_yi+1 = 3, b = n_i-n_yi+1 = 1 → ll = ln 3
    assert(math.abs(m(("A", "f1")) - math.log(3.0)) < 1e-12)
    // (B,f1): a = 0+1 = 1, b = 2-0+1 = 3 → ll = -ln 3
    assert(math.abs(m(("B", "f1")) + math.log(3.0)) < 1e-12)
    // predict: a doc with f1 must be A
    val pred = NaiveBayes.predict(Seq((9L, "f1")).toDF("docId", "feature"),
        NaiveBayes.train(ev))
      .orderBy(desc("score")).select("cls").head().getString(0)
    assert(pred == "A")
  }

  test("LogisticRegression learns a separable problem and is partitioning-deterministic") {
    import spark.implicits._
    // y = 1 iff x1 > 0 — linearly separable with margin; GD from zero
    // must push w1 positive and classify the training set correctly
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map { i =>
      val x1 = if (i % 2 == 0) 1.0 + rnd.nextDouble() else -1.0 - rnd.nextDouble()
      (i, Seq(x1, rnd.nextDouble() - 0.5), (if (x1 > 0) 1 else 0))
    }
    val df = rows.toDF("id", "v", "y")
    val w = graft.chain.LogisticRegression.train(spark, df, "id", "v", "y",
      dims = 2, iterations = 20, lr = 0.5)
    assert(w.length == 3)
    assert(w(0) > 0.5, s"w1 must grow positive on the separating dim: $w")
    val preds = graft.chain.LogisticRegression.predict(df, "id", "v", "y",
        dims = 2, w = w)
      .select("pred", "label").as[(Boolean, Int)].collect()
    val acc = preds.count(p => p._1 == (p._2 == 1)).toDouble / preds.length
    assert(acc >= 0.99, s"separable data must classify: acc=$acc")
    // the quantized-gradient contract: identical weights on a different
    // physical partitioning (decimal sums + round-6 per round)
    val w2 = graft.chain.LogisticRegression.train(spark, df.repartition(13),
      "id", "v", "y", dims = 2, iterations = 20, lr = 0.5)
    assert(w == w2, s"training must be partitioning-deterministic: $w vs $w2")
    // loss decreases over training (20 rounds vs 1 round)
    def logloss(ws: Seq[Double]): Double =
      graft.chain.LogisticRegression.predict(df, "id", "v", "y", 2, ws)
        .select(avg(when(col("label") === 1, -log(greatest(col("p"), lit(1e-9))))
          .otherwise(-log(greatest(lit(1.0) - col("p"), lit(1e-9))))))
        .head.getDouble(0)
    val w1round = graft.chain.LogisticRegression.train(spark, df, "id", "v", "y",
      dims = 2, iterations = 1, lr = 0.5)
    assert(logloss(w) < logloss(w1round),
      s"more rounds must reduce training loss: ${logloss(w)} vs ${logloss(w1round)}")
  }

  /** The Lloyd loop in its earlier form, kept as the reference for the
    * driver-assembled centers: the per-(cluster, d) sums regrouped by
    * cluster in a second shuffle (`collect_list`, `array_sort`, `m / n`
    * in Spark). A null cluster (a point whose vector holds a null
    * element) matches no center index.
    */
  private def referenceLloyd(points: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, k: Int, iterations: Int): Seq[Seq[Double]] = {
    val pts = points.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    var centers: Seq[Seq[Double]] = pts.orderBy("id").limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iterations) {
      val assigned = KMeans.assign(pts, "id", "v", centers)
        .select("cluster", "v").localCheckpoint(false)
      val updated = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cluster", "d")
        .agg(sum(col("x").cast("decimal(38,18)")).cast("double").as("m"),
          count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(transform(
          array_sort(collect_list(struct(col("d"), (col("m") / col("n")).as("c")))),
          s => s("c")).as("c"))
        .collect().filterNot(_.isNullAt(0))
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      centers = centers.indices.map(i => updated.getOrElse(i, centers(i)))
    }
    centers
  }

  private def bits(cs: Seq[Seq[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToRawLongBits))

  /** Random 8-dim vectors, plus the two degenerate shapes: the first two
    * points equal (the second init center never wins a point, so its
    * cluster stays empty) and one late point with a null element.
    */
  private def lloydInputs: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val random = (0L until 240L).map(i => (i, Seq.fill(8)(rnd.nextGaussian() * 3)))
    val dup = random.head +: (random.head._1 + 1000L, random.head._2) +: random.tail
    val withNull = random.map { case (i, v) =>
      val boxed: Seq[java.lang.Double] = v.map(java.lang.Double.valueOf)
      (i, if (i == 100L) boxed.updated(5, null) else boxed)
    }
    Seq("random" -> random.toDF("id", "vec"),
      "empty cluster" -> dup.sortBy(_._1).toDF("id", "vec")
        .withColumn("id", when(col("id") === 1000L, lit(-1L)).otherwise(col("id"))),
      "null element" -> withNull.toDF("id", "vec"))
  }

  test("KMeans.run centers are bit-identical to the regrouping reference") {
    lloydInputs.foreach { case (name, pts) =>
      val (centers, _) = KMeans.run(spark, pts, "id", "vec", k = 4, iterations = 3)
      val want = referenceLloyd(pts, "id", "vec", k = 4, iterations = 3)
      assert(bits(centers) == bits(want), name)
    }
  }

  test("pqTrain codebooks are bit-identical to the regrouping reference per subspace") {
    lloydInputs.foreach { case (name, pts) =>
      val cbs = graft.similarity.Similarity.pqTrain(spark, pts, "id", "vec",
        m = 2, ks = 4, iterations = 3)
      val want = (0 until 2).map { s =>
        referenceLloyd(pts.select(col("id"), slice(col("vec"), s * 4 + 1, 4).as("sub")),
          "id", "sub", k = 4, iterations = 3)
      }
      assert(cbs.map(bits) == want.map(bits), name)
    }
  }
}
