package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{PrefixSum, Sampling, TextOps}

/** The training-corpus chain every corpus capstone runs, written once.
  * Over documents `(doc_id, source, text, n_chars)`:
  *
  *  1. [[gate]] (optional, in front): the Gopher-rule quality gate
  *     ([[TextOps.qualityRules]]), survivors materialized once;
  *  1. near-dedup: [[Dedup.minhashLshEdges]] (2-shingles, 4 bands × 4
  *     rows, τ = 0.8) → [[Dedup.canonicalize]], keep each component's
  *     canonical document;
  *  1. deterministic split: [[Sampling.splitByHash]] 0.8 / 0.1 / 0.1
  *     (salt "run"), keep the train slice;
  *  1. per-source budget: [[PrefixSum.budgetCapPerGroup]] of `n_chars`
  *     per `source` in ([[Sampling.hashDraw]] priority, salt "runpri";
  *     `doc_id`) order;
  *  1. shard packing: [[PrefixSum.packShards]] of `n_chars` in `doc_id`
  *     order.
  *
  * Every stage is a library op and Catalyst sees one query. The
  * operating point (minhash parameters, split fractions, salts) is fixed
  * here; only the two budgets vary with the corpus size.
  */
object CorpusPipeline {

  /** Steps 2–5 over `docs(doc_id, source, text, n_chars)`: returns the
    * packed train slice `(doc_id, cum, shard)`, unordered.
    */
  def dedupSplitPack(docs: DataFrame, sourceBudget: Long,
                     shardBudget: Long): DataFrame = {
    val edges = Dedup.minhashLshEdges(docs, "doc_id", "text",
      shingleN = 2, bands = 4, rowsPerBand = 4, tau = 0.8)
    val kept = docs.join(Dedup.canonicalize(docs, "doc_id", edges), "doc_id")
      .filter(col("doc_id") === col("canon_id"))
      .select("doc_id", "source", "n_chars")
    val train = Sampling.splitByHash(kept, col("doc_id"),
        Seq(0.8, 0.1, 0.1), salt = "run")
      .filter(col("split") === 0)
      .withColumn("pri", Sampling.hashDraw(col("doc_id"), "runpri"))
    val capped = PrefixSum.budgetCapPerGroup(
        train.select("doc_id", "source", "n_chars", "pri"),
        "source", Seq("pri", "doc_id"), "n_chars", budget = sourceBudget)
      .select("doc_id", "n_chars")
    PrefixSum.packShards(capped, "doc_id", "n_chars", budget = shardBudget)
      .select("doc_id", "cum", "shard")
  }

  /** Step 1: the documents whose `text` passes [[TextOps.qualityRules]]
    * at `stopwords`, same columns. Materialized once (localCheckpoint):
    * Catalyst does not dedupe common subtrees and the dedup closure
    * references its input 4–6 times, so an un-materialized gate would
    * re-run its scan, text-analysis aggregation and join at every
    * reference.
    */
  def gate(docs: DataFrame, stopwords: Seq[String] = TextOps.Stopwords): DataFrame = {
    val keep = TextOps.qualityRules(docs, "doc_id", "text", stopwords = stopwords)
      .filter(col("keep")).select(col("id").as("doc_id"))
    docs.join(keep, "doc_id").localCheckpoint()
  }
}
