package graft

import graft.dedup.{CorpusPipeline, Dedup}
import graft.ops.{PrefixSum, Sampling, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.functions._

/** The shared corpus chain must be the chain every capstone used to spell
  * out by hand, and its quality gate must hand the dedup closure one
  * materialized input.
  */
class CorpusPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = graft.core.Tables.documents(spark, sfDir)

  /** The near-dedup → split → budget → pack chain spelled out op by op:
    * the reference [[CorpusPipeline.dedupSplitPack]] must equal.
    */
  private def referenceChain(docs: DataFrame, sourceBudget: Long,
                             shardBudget: Long): DataFrame = {
    val edges = Dedup.minhashLshEdges(docs, "doc_id", "text",
      shingleN = 2, bands = 4, rowsPerBand = 4, tau = 0.8)
    val kept = docs.join(Dedup.canonicalize(docs, "doc_id", edges), "doc_id")
      .filter(col("doc_id") === col("canon_id"))
      .select("doc_id", "source", "n_chars")
    val train = Sampling.splitByHash(kept, col("doc_id"), Seq(0.8, 0.1, 0.1),
        salt = "run")
      .filter(col("split") === 0)
      .withColumn("pri", Sampling.hashDraw(col("doc_id"), "runpri"))
    val capped = PrefixSum.budgetCapPerGroup(
        train.select("doc_id", "source", "n_chars", "pri"),
        "source", Seq("pri", "doc_id"), "n_chars", budget = sourceBudget)
      .select("doc_id", "n_chars")
    PrefixSum.packShards(capped, "doc_id", "n_chars", budget = shardBudget)
      .select("doc_id", "cum", "shard")
  }

  private def rows(df: DataFrame) =
    df.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  test("dedupSplitPack equals the hand-written chain in rows and schema") {
    // the capstone budgets, a tight pair, and the gated input
    val inputs = Seq((docs, 3000L, 8000L), (docs, 400L, 900L),
      (CorpusPipeline.gate(docs), 3000L, 8000L))
    for ((in, sb, pb) <- inputs) {
      val got = CorpusPipeline.dedupSplitPack(in, sb, pb)
      val ref = referenceChain(in, sb, pb)
      assert(got.schema == ref.schema, s"budgets $sb/$pb")
      val g = rows(got)
      assert(g.nonEmpty, s"budgets $sb/$pb kept nothing")
      assert(g == rows(ref), s"budgets $sb/$pb")
    }
  }

  test("gate reads its input through one materialized scan") {
    val gated = CorpusPipeline.gate(docs)
    val leaves = gated.queryExecution.executedPlan.collectLeaves()
    assert(leaves.size == 1 && leaves.head.isInstanceOf[RDDScanExec],
      s"gate output must be one checkpointed scan:\n${gated.queryExecution.executedPlan}")
    // the rows of the inline gate join it materializes
    val keep = TextOps.qualityRules(docs, "doc_id", "text")
      .filter(col("keep")).select(col("id").as("doc_id"))
    val inline = docs.join(keep, "doc_id")
    assert(gated.schema == inline.schema)
    assert(gated.count() > 0 && gated.count() < docs.count())
    assert(gated.exceptAll(inline).isEmpty && inline.exceptAll(gated).isEmpty)
    // the stopword list is the gate's: with none that can match, no
    // document has a stopword and none passes
    assert(CorpusPipeline.gate(docs, Seq("zzzz")).isEmpty)
  }
}
