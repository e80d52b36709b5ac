package graft

import graft.chain.KMeans
import graft.similarity.AnnIndex
import org.apache.spark.sql.functions._

/** Spark jobs that move no data are scheduler round trips on short
  * operations: a table load plans without a job, a Lloyd iteration runs
  * one shuffle, serving an index infers no schema, a fold copies its
  * frozen quantizers and counts its manifest without one, and a prefix
  * sum within one range builds as a plain plan.
  */
class JobBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsOf[A](body: => A): (A, Int) =
    org.apache.spark.TestBus.jobsOf(spark.sparkContext)(body)

  test("Tables.load runs no job") {
    graft.core.Tables.names.foreach { n =>
      val (df, jobs) = jobsOf(graft.core.Tables.load(spark, sfDir, n))
      assert(df.columns.nonEmpty)
      assert(jobs == 0, s"Tables.load($n) ran $jobs jobs")
    }
  }

  test("KMeans.run(k = 4, iterations = 3) runs at most 1 + 2 per iteration jobs; the centers alone no more") {
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    val iterations = 3
    val ((centers, assigned), jobs) =
      jobsOf(KMeans.run(spark, embs, "vec_id", "embedding", k = 4, iterations))
    info(s"KMeans.run: $jobs jobs")
    assert(jobs <= 1 + 2 * iterations, s"KMeans.run ran $jobs jobs")
    val (centersOnly, centerJobs) =
      jobsOf(KMeans.run(spark, embs, "vec_id", "embedding", k = 4, iterations)._1)
    assert(centerJobs <= 1 + 2 * iterations, s"KMeans.run(...)._1 ran $centerJobs jobs")
    assert(centersOnly == centers)
    // the final assignment still answers every point against the centers
    val want = KMeans.assign(embs, "vec_id", "embedding", centers)
      .select("id", "cluster").as[(Long, Int)].collect().sorted.toSeq
    assert(assigned.select("id", "cluster").as[(Long, Int)].collect().sorted.toSeq == want)
  }

  test("a folding maintain runs at most 3 jobs") {
    val p = graft.io.IoScratch.dir + "/job_budget_fold"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    AnnIndex.export(spark, embs.filter(col("vec_id") < 300), "vec_id", "embedding",
      p, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400), "vec_id", "embedding", p, "d1"))
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 400),
      "vec_id", "embedding", p, "d2"))
    // the lists and codes rewrites and the manifest write; the quantizers
    // are copied as files and the manifest is counted from footers
    val (folded, jobs) = jobsOf(AnnIndex.maintain(spark, p, minDeltas = 2))
    assert(folded)
    info(s"folding maintain: $jobs jobs")
    assert(jobs <= 3, s"a folding maintain ran $jobs jobs")
  }

  test("servedTopK on a one-delta index runs at most 5 jobs") {
    val p = graft.io.IoScratch.dir + "/job_budget_served"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    AnnIndex.export(spark, embs.filter(col("vec_id") < 300), "vec_id", "embedding",
      p, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300),
      "vec_id", "embedding", p, "d1"))
    val queries = embs.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq.toDF("qid", "qv")
    val (top, jobs) = jobsOf(AnnIndex.servedTopK(spark, p, queries, "qid", "qv",
      k = 5, nProbe = 2).collect())
    assert(top.length == 4 * 5)
    info(s"servedTopK + collect: $jobs jobs")
    assert(jobs <= 5, s"servedTopK ran $jobs jobs")
  }

  test("prefix-sum consumers build with no job at the fixture's derived width") {
    for (q <- Seq("q_shard_pack", "q_seq_pack", "q_budget_cap", "q_domain_budget",
        "q_shuffle_index", "q_pad_waste", "q_pr_curve")) {
      val (df, jobs) = jobsOf(SparkEntry.queries(q)(spark, sfDir))
      assert(df.columns.nonEmpty)
      assert(jobs == 0, s"building $q ran $jobs jobs")
    }
  }

  test("a width-7 prefixSum builds with its range checkpoint only, no totals collect") {
    val df = spark.range(0, 3000).select(col("id"),
      pmod(hash(col("id")), lit(97)).cast("long").as("v"))
    val (_, jobs) = withRankWidth(7)(jobsOf(graft.ops.PrefixSum.prefixSum(df, "id", "v")))
    info(s"width-7 prefixSum build: $jobs jobs")
    assert(jobs == 3, s"a width-7 prefixSum build ran $jobs jobs")
  }
}
