package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sums + token-budget shard packing.
  *
  * A global running sum is usually written as one unpartitioned window —
  * which Spark executes as a SINGLE task (the whole dataset through one
  * sorter). Both prefix sums here run on [[WindowOps]]' exact-rank
  * scaffold (its scaladoc holds the rationale): the running sum is the
  * scaffold's local pass, and `cum` = the range's offset + the local sum,
  * at the scaffold's width ([[WindowOps.rankWidth]] of the input).
  *
  * The result is partitioning-independent (it equals the one-task window
  * bit-for-bit — asserted in PrefixSumSpec), so the DuckDB oracle is just
  * `sum() OVER (ORDER BY …)`.
  */
object PrefixSum {

  /** Adds `cum` = running sum of `valCol` (as a long) in `orderCols` order
    * (inclusive) within each `group`, or over the whole frame with no group.
    * `orderCols` may be sort orders (`col(c).desc`).
    */
  private[ops] def runningSum(df: DataFrame, group: Option[String],
                              orderCols: Seq[Column], valCol: String): DataFrame = {
    Seq("_pid", "_local", "_c", "_off", "_n", "_opid", "_og")
      .foreach(c => require(!df.columns.contains(c),
        s"prefix sum: input must not contain reserved column '$c'"))
    val v = col(valCol).cast("long")
    WindowOps.rankScaffold(df, group, orderCols, v, WindowOps.rankWidth(df)) {
      (frame, keys) =>
        frame.withColumn("_local", sum(v).over(Window.partitionBy(keys: _*)
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }.withColumn("cum", col("_off") + col("_local"))
      .drop("_pid", "_local", "_off", "_n")
  }

  /** Adds `cum` = running sum of `valCol` in `orderCol` order (inclusive).
    * `orderCol` must be unique (it is the total order).
    */
  def prefixSum(df: DataFrame, orderCol: String, valCol: String): DataFrame =
    runningSum(df, None, Seq(col(orderCol)), valCol)

  /** Token-budget shard packing — the "cut a corpus into ~budget-token
    * training shards in a stable order" pipeline step: shard id = the
    * document's cumulative START offset div budget, so shard boundaries
    * are deterministic, order-stable, and every shard holds ≥ budget
    * tokens' worth of docs except possibly the last (a doc that crosses a
    * boundary belongs to the shard its first token lands in).
    */
  def packShards(df: DataFrame, orderCol: String, sizeCol: String,
                 budget: Long): DataFrame =
    prefixSum(df, orderCol, sizeCol)
      // integral `div`, not double `/`: exact past 2^53 (100 TB of tokens)
      .withColumn("shard", expr(s"(cum - $sizeCol) div ${budget}L"))

  /** GPT-style SEQUENCE PACKING — the loader-facing map from documents to
    * fixed-length training sequences: the corpus is one contiguous token
    * stream in `orderCol` order, cut every `seqLen` tokens, and a document
    * crossing a cut CONTINUES in the next sequence (unlike [[packShards]],
    * which never splits a doc — shards are files, sequences are training
    * windows). Output is the SEGMENT table a data loader actually reads:
    * one row per (sequence, document) overlap —
    *
    *   (id, seq, seq_off, doc_off, len)
    *
    * meaning: tokens [doc_off, doc_off+len) of document `id` land at
    * [seq_off, seq_off+len) of sequence `seq`. The segment boundaries are
    * exactly where an attention-reset mask flips, so this table IS the
    * packing-with-boundaries metadata (every token covered exactly once:
    * per-doc Σlen = doc size, per-seq Σlen = seqLen except the final
    * partial sequence — both spec-pinned).
    *
    * Shape at 100 TB: the global offsets ride the DISTRIBUTED
    * [[prefixSum]] (never a one-task window); the per-doc segment explode
    * is in-row and bounded by ⌈size/seqLen⌉+1 rows per doc, so total
    * output rows ≤ docs + total_tokens/seqLen. Zero-size docs are absent
    * (nothing to pack).
    */
  def packSequences(df: DataFrame, orderCol: String, sizeCol: String,
                    seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"packSequences: seqLen must be >= 1: $seqLen")
    val cum = prefixSum(df.filter(col(sizeCol) > 0), orderCol, sizeCol)
    val start = col("cum") - col(sizeCol)                 // global start, 0-based
    val firstSeq = expr(s"(cum - $sizeCol) div ${seqLen}L")
    val lastSeq = expr(s"(cum - 1) div ${seqLen}L")
    cum.select(col(orderCol).as("id"), col(sizeCol).cast("long").as("_sz"),
        start.cast("long").as("_start"),
        explode(sequence(firstSeq, lastSeq)).as("seq"))
      .withColumn("_segStart",
        greatest(col("_start"), col("seq") * seqLen))
      .withColumn("_segEnd",
        least(col("_start") + col("_sz"), (col("seq") + 1) * seqLen))
      .select(col("id"), col("seq"),
        (col("_segStart") - col("seq") * seqLen).as("seq_off"),
        (col("_segStart") - col("_start")).as("doc_off"),
        (col("_segEnd") - col("_segStart")).as("len"))
  }

  /** Adds `cum` = running sum of `valCol` within each group, in
    * `orderCols` order (inclusive). The per-GROUP dual of [[prefixSum]]: a
    * naive `Window.partitionBy(group)` funnels every group through ONE
    * task (the giant-source straggler); on the scaffold a group wider than
    * one range is summed in parallel ranges with in-plan offsets. Result
    * is bit-identical to the one-task window (PrefixSumSpec asserts it).
    * `orderCols` must be a total order within each group.
    */
  def prefixSumByGroup(df: DataFrame, groupCol: String, orderCols: Seq[String],
                       valCol: String): DataFrame =
    runningSum(df, Some(groupCol), orderCols.map(col), valCol)

  /** Per-group token-budget selection — the data-mixing step "cap every
    * source/domain at B tokens, keeping documents in a deterministic
    * priority order until the budget is exhausted" (priority is typically
    * a [[Sampling.hashDraw]] for a uniform budgeted subsample, or a
    * quality score for quality-first selection). Keeps exactly the rows
    * whose INCLUSIVE running size in priority order fits the budget: a
    * document that would cross the boundary is dropped, later smaller
    * documents are NOT pulled back in (first-fit would destroy the
    * prefix property that makes the cut order-stable and auditable).
    * Output keeps `cum` — the row's cumulative cost, ≤ `budget`.
    */
  def budgetCapPerGroup(df: DataFrame, groupCol: String, orderCols: Seq[String],
                        sizeCol: String, budget: Long): DataFrame =
    prefixSumByGroup(df, groupCol, orderCols, sizeCol)
      .filter(col("cum") <= budget)

  /** Padding-waste audit of fixed-size batching — the number a
    * training/serving stack reads before turning on length bucketing:
    * batches of `batchSize` rows pad every member to the batch max, so
    * waste = Σ_batches (members·max − Σ len). Computed for the given
    * `orderCol` (arrival order vs a length-sorted key — pass both and
    * diff them). Batch index = (rank − 1) div batchSize where rank is
    * the DISTRIBUTED [[prefixSum]] of ones over `orderCol` — no global
    * one-task window. Output: one row (n_rows, n_batches, total, padded,
    * waste, waste_frac round 6), exact integers.
    */
  def padWaste(df: DataFrame, orderCol: String, lenCol: String,
               batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"padWaste batchSize: $batchSize")
    val ranked = prefixSum(
      df.select(col(orderCol).as("_ord"), col(lenCol).cast("long").as("len"))
        .withColumn("_one", lit(1L)),
      "_ord", "_one")
    ranked
      .withColumn("batch", expr(s"(cum - 1) div ${batchSize}L"))
      .groupBy("batch")
      .agg(count(lit(1)).as("m"), max(col("len")).as("mx"),
        sum(col("len")).as("s"))
      .agg(sum(col("m")).as("n_rows"),
        count(lit(1)).as("n_batches"),
        sum(col("s")).as("total"),
        sum(col("m") * col("mx")).as("padded"))
      .select(col("n_rows"), col("n_batches"), col("total"), col("padded"),
        (col("padded") - col("total")).as("waste"),
        round((col("padded") - col("total")).cast("double") /
          col("padded").cast("double"), 6).as("waste_frac"))
  }
}
