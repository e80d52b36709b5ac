package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{Sampling, WindowOps}

/** Deterministic sampling + batch sessionization semantics (the oracle gate
  * checks fixture-scale values; these pin the properties that make the ops
  * scale-safe: retry-stable draws, nested samples, gap-exact sessions).
  */
class SamplingSessionSpec extends SparkTestBase {
  import spark.implicits._

  test("assembleThreads: run collapse, tail trim, transcript bytes — hand-computed") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      // thread 1: roles u,u,a,u -> runs [u:p1|p2][a:p3][u:p4]
      (1L, ts(1), 10L, "u", "p1"), (1L, ts(2), 11L, "u", "p2"),
      (1L, ts(3), 12L, "a", "p3"), (1L, ts(4), 13L, "u", "p4"),
      // thread 2: single event
      (2L, ts(1), 20L, "a", "solo"))
      .toDF("thread", "t", "seq", "role", "payload")
    val all = graft.ops.Dialog.assembleThreads(ev, "thread", "t", "seq",
        "role", "payload", maxTurns = 8)
      .orderBy("thread").collect()
    assert(all(0).getLong(1) == 3 && all(0).getLong(2) == 3 &&
      all(0).getLong(3) == 4)
    assert(all(0).getString(4) == "u: p1 | p2\na: p3\nu: p4")
    assert(all(1).getString(4) == "a: solo" && all(1).getLong(1) == 1)
    // context trim keeps the TAIL: maxTurns=2 drops the first run only
    val trimmed = graft.ops.Dialog.assembleThreads(ev, "thread", "t", "seq",
        "role", "payload", maxTurns = 2)
      .filter($"thread" === 1L).head()
    assert(trimmed.getLong(1) == 3 && trimmed.getLong(2) == 2 &&
      trimmed.getLong(3) == 2)
    assert(trimmed.getString(4) == "a: p3\nu: p4")
  }

  test("lossMaskSpans: spans address exactly the maskRole content in the transcript") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      (1L, ts(1), 10L, "u", "p1"), (1L, ts(2), 11L, "u", "p2"),
      (1L, ts(3), 12L, "a", "p3"), (1L, ts(4), 13L, "u", "p4"),
      (2L, ts(1), 20L, "a", "solo"))
      .toDF("thread", "t", "seq", "role", "payload")
    val spans = graft.ops.Dialog.lossMaskSpans(ev, "thread", "t", "seq",
        "role", "payload", maxTurns = 8, maskRole = "a")
      .orderBy("thread", "turn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // thread 1: "u: p1 | p2\na: p3\nu: p4" — "p3" at [14,16);
    // thread 2: "a: solo" — "solo" at [3,7)
    assert(spans == Seq((1L, 2, 14L, 16L), (2L, 1, 3L, 7L)), spans.toString)
    // the invariant that makes spans trustworthy: substring(transcript)
    // over each span is the turn's content byte-for-byte
    val tx = graft.ops.Dialog.assembleThreads(ev, "thread", "t", "seq",
        "role", "payload", maxTurns = 8)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(tx(1L).substring(14, 16) == "p3" && tx(2L).substring(3, 7) == "solo")
    // spans follow the TRIMMED transcript when maxTurns trims: thread 1
    // becomes "a: p3\nu: p4", content at [3,5), kept-turn index 1
    val t2 = graft.ops.Dialog.lossMaskSpans(ev, "thread", "t", "seq",
        "role", "payload", maxTurns = 2, maskRole = "a")
      .filter($"thread" === 1L).head()
    assert((t2.getInt(1), t2.getLong(2), t2.getLong(3)) == ((1, 3L, 5L)))
  }

  test("preferencePairs: best-worst inward pairing, ties dropped — hand-computed") {
    import spark.implicits._
    // group g: scores 40,30,20,10 -> (40,10),(30,20); group h: 5,5 -> tie
    // dropped; group i: singleton -> no pair; group j: odd count 3 ->
    // middle unpaired
    val df = Seq(
      (1L, "g", 40), (2L, "g", 30), (3L, "g", 20), (4L, "g", 10),
      (5L, "h", 5), (6L, "h", 5), (7L, "i", 9),
      (8L, "j", 3), (9L, "j", 2), (10L, "j", 1))
      .toDF("id", "grp", "score")
    val got = graft.ops.Sampling.preferencePairs(df, "id", "grp", "score")
      .orderBy("grp", "chosen_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("g", 1L, 4L, 30.0), ("g", 2L, 3L, 10.0), ("j", 8L, 10L, 2.0)))
  }

  test("bestOfN: top-n per group with id tie-break, repartition-invariant — hand-computed") {
    // group g1: scores 9,7,7,3 — n=2 keeps 9 and the LOWER-id 7;
    // group g2: fewer candidates than n — all kept, ranked
    val d = Seq((1L, "g1", 7.0), (2L, "g1", 9.0), (3L, "g1", 7.0),
        (4L, "g1", 3.0), (5L, "g2", 1.0))
      .toDF("id", "grp", "score")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.bestOfN(df, "id", "grp", "score", n = 2)
        .orderBy("grp", "rank")
        .as[(String, Long, Double, Int)].collect().toSeq
    val got = run(d)
    assert(got == Seq(("g1", 2L, 9.0, 1), ("g1", 1L, 7.0, 2),
      ("g2", 5L, 1.0, 1)), got.toString)
    assert(got == run(d.repartition(7)), "selection must be partitioning-independent")
  }

  test("rlhf composition: cross-policy outcomes only, stronger policy out-rates") {
    // prompt p1: policy A's candidates (40,30) outscore B's (20,10) ->
    // inward pairs (40,10),(30,20), both A-beats-B; prompt p2: 9(A),
    // 8(A),2(A),1(B) -> pair (9,1) is A-beats-B but (8,2) is A-vs-A,
    // which the cross-policy projection must drop (a policy cannot
    // beat itself in an arena leaderboard)
    val d = Seq(
      (1L, "p1", 40.0, "A"), (2L, "p1", 10.0, "B"),
      (3L, "p1", 30.0, "A"), (4L, "p1", 20.0, "B"),
      (5L, "p2", 9.0, "A"), (6L, "p2", 1.0, "B"),
      (7L, "p2", 8.0, "A"), (8L, "p2", 2.0, "A"))
      .toDF("id", "grp", "score", "policy")
    val pairs = Sampling.preferencePairs(d, "id", "grp", "score")
    val lab = d.select($"id", $"policy")
    val outcomes = pairs
      .join(lab.select($"id".as("chosen_id"), $"policy".as("win")), "chosen_id")
      .join(lab.select($"id".as("rejected_id"), $"policy".as("lose")), "rejected_id")
      .filter($"win" =!= $"lose")
      .select("win", "lose")
    assert(outcomes.count() == 3, "the A-vs-A pair must not reach the BT stage")
    val ratings = graft.chain.BradleyTerry.fit(outcomes, iterations = 3)
      .orderBy("item").as[(String, Long, Double)].collect().toSeq
    assert(ratings.map(_._1) == Seq("A", "B"))
    assert(ratings.head._2 == 3L && ratings(1)._2 == 0L)
    assert(ratings.head._3 > ratings(1)._3,
      s"undefeated policy must out-rate: $ratings")
  }

  test("groupAdvantage: within-group z-score, degenerate groups get 0 — hand-computed") {
    // group g: rewards 1,2,3 -> mean 2, pop std sqrt(2/3), advs
    // ±1/sqrt(2/3) = ±1.224745 (round 6); group h: constant rewards ->
    // std 0 -> adv 0 (not NaN); group i: singleton -> adv 0
    val d = Seq((1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0),
        (4L, "h", 5.0), (5L, "h", 5.0), (6L, "i", 7.0))
      .toDF("id", "grp", "reward")
    val got = Sampling.groupAdvantage(d, "id", "grp", "reward")
      .orderBy("id").as[(String, Long, Double, Double)].collect().toSeq
    assert(got.map(_._4) == Seq(-1.224745, 0.0, 1.224745, 0.0, 0.0, 0.0),
      got.toString)
    assert(got.map(r => (r._1, r._3)) == Seq(("g", 1.0), ("g", 2.0),
      ("g", 3.0), ("h", 5.0), ("h", 5.0), ("i", 7.0)))
  }

  test("hashSample is deterministic and repartition-invariant") {
    val df = spark.range(0, 5000).toDF("id")
    val a = Sampling.hashSample(df, col("id"), 0.3).as[Long].collect().sorted
    val b = Sampling.hashSample(df.repartition(13), col("id"), 0.3)
      .as[Long].collect().sorted
    assert(a.sameElements(b))
    assert(math.abs(a.length / 5000.0 - 0.3) < 0.03) // ~binomial tolerance
  }

  test("samples at increasing rates nest (same salt => monotone thresholds)") {
    val df = spark.range(0, 2000).toDF("id")
    val small = Sampling.hashSample(df, col("id"), 0.1).as[Long].collect().toSet
    val big = Sampling.hashSample(df, col("id"), 0.4).as[Long].collect().toSet
    assert(small.subsetOf(big))
    // a different salt draws an (almost surely) different sample
    val other = Sampling.hashSample(df, col("id"), 0.1, salt = "b").as[Long].collect().toSet
    assert(small != other)
  }

  test("stratifiedSample applies per-stratum rates") {
    val df = spark.range(0, 4000)
      .select(col("id"), when(col("id") % 2 === 0, "keep").otherwise("thin").as("s"))
    val got = Sampling.stratifiedSample(df, col("id"), col("s"),
      Map("keep" -> 1.0), 0.0)
    val strata = got.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(strata == Map("keep" -> 2000L)) // rate 1.0 keeps all, 0.0 drops all
  }

  test("funnel counts only strictly-ordered completions") {
    def ts(m: Int) = new Timestamp(m * 60000L)
    val ev = Seq(
      ("u1", "view", ts(1)), ("u1", "click", ts(2)), ("u1", "purchase", ts(3)), // full
      ("u2", "click", ts(1)), ("u2", "view", ts(2)),   // out of order: stops at view
      ("u3", "view", ts(5)), ("u3", "click", ts(5)),   // tie does NOT advance
      ("u4", "purchase", ts(1))                        // never viewed: depth 0
    ).toDF("user_id", "event_type", "ts")
    val got = graft.ops.Funnel.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
  }

  test("sessionize splits on gap > threshold, numbers sessions per user") {
    def ts(m: Int) = new Timestamp(m * 60000L)
    val ev = Seq(
      ("u1", 1L, ts(0)), ("u1", 2L, ts(10)),   // session 1
      ("u1", 3L, ts(50)),                       // gap 40 min -> session 2
      ("u1", 4L, ts(55)),
      ("u2", 5L, ts(0))                         // separate user
    ).toDF("user_id", "event_id", "ts")
    val got = WindowOps.sessionize(ev, "user_id", "ts", "event_id", gapSeconds = 1800)
      .select("event_id", "session_n").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("splitByHash: exclusive, exhaustive, near the weights, repartition-invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(0, 20000).toDF("k")
    val a = graft.ops.Sampling.splitByHash(df, col("k"), Seq(0.8, 0.1, 0.1))
      .select("k", "split").as[(Long, Int)].collect().toMap
    assert(a.size == 20000) // exactly one split per row (exclusive+exhaustive)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts(0) - 16000) < 400, s"train share off: $counts")
    assert(math.abs(counts(1) - 2000) < 200 && math.abs(counts(2) - 2000) < 200,
      s"val/test share off: $counts")
    val b = graft.ops.Sampling.splitByHash(df.repartition(13), col("k"),
      Seq(0.8, 0.1, 0.1)).select("k", "split").as[(Long, Int)].collect().toMap
    assert(a == b, "split assignment must be partitioning-independent")
  }

  test("rebalanceToMin levels group sizes to ~min and is repartition-invariant") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val before = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val mn = before.values.min
    val out = Sampling.rebalanceToMin(docs, col("doc_id"), col("lang"), "t")
    // subset of the input, and deterministic under repartitioning
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.rebalanceToMin(docs.repartition(13), col("doc_id"),
      col("lang"), "t").select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == ids2)
    assert(ids.toSet.subsetOf(docs.select("doc_id").as[Long].collect().toSet))
    // every group lands within binomial noise of the min count (4 sigma),
    // and the min group keeps everything (rate exactly 1)
    val after = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(after(before.minBy(_._2)._1) == mn)
    after.foreach { case (g, n) =>
      assert(math.abs(n - mn) <= 4 * math.sqrt(mn) + 1,
        s"group $g: $n vs target $mn (before ${before(g)})")
    }
  }

  test("negativeSample: k distinct non-self negatives, repartition-invariant") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 200).toDF("id")
    val a = graft.ops.Sampling.negativeSample(df, col("id"), k = 3, buckets = 4)
      .as[(Long, Long, Int)].collect()
    assert(a.forall(r => r._1 != r._2), "self-pair produced")
    val perId = a.groupBy(_._1)
    assert(perId.size == 200 && perId.values.forall(_.length == 3))
    assert(perId.values.forall(_.map(_._2).distinct.length == 3),
      "duplicate negative within an id")
    val b = graft.ops.Sampling.negativeSample(
        df.repartition(13), col("id"), k = 3, buckets = 4)
      .as[(Long, Long, Int)].collect()
    assert(a.toSet == b.toSet, "not repartition-invariant")
    // degenerate ring: 2 ids in 1 bucket, k=5 -> exactly 1 negative each
    val tiny = graft.ops.Sampling.negativeSample(
        spark.range(0, 2).toDF("id"), col("id"), k = 5, buckets = 1)
      .as[(Long, Long, Int)].collect()
    assert(tiny.length == 2 && tiny.forall(r => r._1 != r._2), s"got ${tiny.toSeq}")
  }

  test("shuffleIndex: a bijective permutation, repartition-invariant, salt-independent epochs") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 500).toDF("id")
    val a = graft.ops.Sampling.shuffleIndex(df, col("id"), "e0")
      .as[(Long, Long)].collect()
    // bijection: every position 0..n-1 exactly once
    assert(a.map(_._2).sorted.toSeq == (0L until 500L))
    assert(a.map(_._1).distinct.length == 500)
    // position = rank in (draw, id) order — check against a driver-side sort
    val drawOf = df.select(col("id"),
        graft.ops.Sampling.hashDraw(col("id"), "e0").as("d"))
      .as[(Long, Long)].collect().toMap
    val expected = a.map(_._1).sortBy(id => (drawOf(id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    a.foreach { case (id, pos) => assert(pos == expected(id), s"id $id") }
    // repartition-invariant
    def index(in: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.shuffleIndex(in, col("id"), "e0")
        .as[(Long, Long)].collect().toSet
    assert(a.toSet == index(df.repartition(13)))
    // the same permutation from the multi-range prefix sum
    for (w <- Seq(7, 32); in <- Seq(df, df.repartition(13)))
      assert(withRankWidth(w)(index(in)) == a.toSet, s"width $w")
    // a new salt is a genuinely different permutation
    val c = graft.ops.Sampling.shuffleIndex(df, col("id"), "e1")
      .as[(Long, Long)].collect().toMap
    assert(a.count { case (id, pos) => c(id) == pos } < 50,
      "epoch permutations should share almost no fixed points")
  }

  test("curriculumIndex: the one-task (bucket desc, draw, id) row number at every width") {
    import org.apache.spark.sql.expressions.Window
    // five buckets of uneven size plus null buckets (last in a descending
    // order), arriving over scattered partitions
    val df = spark.range(0, 2000).select(col("id"),
        when(col("id") % 97 =!= 0, pmod(hash(col("id")), lit(5))).as("b"))
      .repartition(13)
    val expect = df.select(col("id"), col("b").cast("int").as("bucket"),
        (row_number().over(Window.orderBy(col("b").desc,
          Sampling.hashDraw(col("id"), "cur"), col("id"))) - 1).cast("long").as("pos"))
      .as[(Long, Option[Int], Long)].collect().toSet
    assert(expect.map(_._2).size == 6)
    def index = Sampling.curriculumIndex(df, col("b"), col("id"), salt = "cur")
      .as[(Long, Option[Int], Long)].collect().toSet
    for ((label, got) <- Seq("derived width" -> index) ++
        Seq(1, 7, 32).map(w => s"width $w" -> withRankWidth(w)(index)))
      assert(got == expect, label)
  }

  test("mixWeights: hand-computed temperature scaling, weights sum to 1, flattening") {
    import org.apache.spark.sql.functions.{col, lit, concat}
    // groups of size 100, 300, 600
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g", org.apache.spark.sql.functions
        .when(col("id") < 100, "small")
        .when(col("id") < 400, "mid").otherwise("big"))
    val m = graft.ops.Sampling.mixWeights(df, col("g"), alpha = 0.5)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val w = Map("small" -> math.sqrt(0.1), "mid" -> math.sqrt(0.3),
      "big" -> math.sqrt(0.6)).map { case (k, v) =>
        k -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val z = w.values.sum
    for ((g, n, share) <- Seq(("small", 100L, 0.1), ("mid", 300L, 0.3), ("big", 600L, 0.6))) {
      assert(m(g)._2 == n && math.abs(m(g)._3 - share) < 1e-9)
      assert(math.abs(m(g)._4 - w(g) / z) < 1e-6, s"$g weight")
      assert(math.abs(m(g)._5 - w(g) / z / share) < 1e-5, s"$g boost")
    }
    // weights sum to ~1; temperature flattens: small upsampled, big down
    assert(math.abs(m.values.map(_._4).sum - 1.0) < 1e-5)
    assert(m("small")._5 > 1.0 && m("big")._5 < 1.0)
  }

  test("mixEpoch: per-doc copies follow floor(boost)+Bernoulli(frac), epoch sizes ~ N*weight") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g", org.apache.spark.sql.functions
        .when(col("id") < 100, "small")
        .when(col("id") < 400, "mid").otherwise("big"))
    val weights = graft.ops.Sampling.mixWeights(df, col("g"), alpha = 0.5)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val epoch = graft.ops.Sampling.mixEpoch(df, col("id"), col("g"),
        alpha = 0.5, salt = "ep")
      .as[(Long, String, Long)].collect() // (id, grp, copy)
    val byId = epoch.groupBy(_._1)
    // per-doc: copies == floor(boost) or floor(boost)+1, copy numbering 1..copies
    for ((id, rows) <- byId) {
      val g = if (id < 100) "small" else if (id < 400) "mid" else "big"
      val fl = math.floor(weights(g)._5).toLong
      val n = rows.length.toLong
      assert(n == fl || n == fl + 1, s"id $id: $n copies vs boost ${weights(g)._5}")
      assert(rows.map(_._3).sorted.toSeq == (1L to n))
    }
    // group totals track N * weight (binomial concentration at n>=100)
    for (g <- Seq("small", "mid", "big")) {
      val got = epoch.count(_._2 == g).toDouble
      val want = 1000.0 * weights(g)._4
      assert(math.abs(got - want) / want < 0.15, s"$g: $got vs ~$want")
    }
    // deterministic + repartition-invariant
    val again = graft.ops.Sampling.mixEpoch(df.repartition(13), col("id"),
        col("g"), alpha = 0.5, salt = "ep")
      .as[(Long, String, Long)].collect()
    assert(epoch.toSet == again.toSet)
  }
}
