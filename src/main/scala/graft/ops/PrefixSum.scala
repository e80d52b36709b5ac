package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sum + token-budget shard packing.
  *
  * A global running sum is usually written as one unpartitioned window —
  * which Spark executes as a SINGLE task (the whole dataset through one
  * sorter). This implementation keeps the math identical but distributes:
  *
  *  1. range-partition by the order column (P parallel sorted ranges),
  *  2. per-partition local running sum (parallel windows),
  *  3. collect the P partition TOTALS (P longs — not rows) to the driver,
  *     scan them into per-partition start offsets, broadcast back as a
  *     literal map,
  *  4. global prefix = local prefix + offset(partition).
  *
  * The result is partitioning-independent (it equals the one-task window
  * bit-for-bit — asserted in PrefixSumSpec), so the DuckDB oracle is just
  * `sum() OVER (ORDER BY …)`.
  */
object PrefixSum {

  /** Adds `cum` = running sum of `valCol` in `orderCol` order (inclusive).
    * `orderCol` must be unique (it is the total order).
    */
  def prefixSum(df: DataFrame, orderCol: String, valCol: String,
                partitions: Int = 32): DataFrame = {
    val parted = df.repartitionByRange(partitions, col(orderCol))
      .withColumn("_pid", F.spark_partition_id())
    val w = Window.partitionBy("_pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // MATERIALIZE pass 1: the totals collect and the final projection must
    // see the SAME range boundaries, and RangePartitioner's sampling is not
    // stable across re-executions (rdd.id seeds it). localCheckpoint pins
    // the partitioning and truncates lineage (cluster scale: checkpoint).
    val local = parted.withColumn("_local",
      sum(col(valCol).cast("long")).over(w))
      .localCheckpoint()
    // P partition totals -> driver (P values), scanned into start offsets.
    // sum(valCol), NOT max(_local): with negative values the running sum's
    // max is not the partition total.
    val totals = local.groupBy("_pid").agg(sum(col(valCol).cast("long")).as("_tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid + 1, acc + tot)
    }.toMap // pid -> sum of all earlier partitions' totals
    val offCol = typedLit(offsets)
    local
      .withColumn("cum", col("_local") + coalesce(
        element_at(offCol, col("_pid")), lit(0L)))
      .drop("_pid", "_local")
  }

  /** Token-budget shard packing — the "cut a corpus into ~budget-token
    * training shards in a stable order" pipeline step: shard id = the
    * document's cumulative START offset div budget, so shard boundaries
    * are deterministic, order-stable, and every shard holds ≥ budget
    * tokens' worth of docs except possibly the last (a doc that crosses a
    * boundary belongs to the shard its first token lands in).
    */
  def packShards(df: DataFrame, orderCol: String, sizeCol: String,
                 budget: Long, partitions: Int = 32): DataFrame =
    prefixSum(df, orderCol, sizeCol, partitions)
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
                    seqLen: Long, partitions: Int = 32): DataFrame = {
    require(seqLen >= 1, s"packSequences: seqLen must be >= 1: $seqLen")
    val cum = prefixSum(df.filter(col(sizeCol) > 0), orderCol, sizeCol,
      partitions)
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
    * `orderCols` order (inclusive). The per-GROUP dual of [[prefixSum]],
    * on the [[WindowOps.rankFunctions]] two-pass shape: a naive
    * `Window.partitionBy(group)` funnels every group through ONE task (the
    * giant-source straggler); here the data is range-partitioned by
    * (group, order) into P parallel sorted ranges, summed locally, and
    * each (partition, group)'s start offset is computed IN-PLAN from a
    * G·P-row aggregate (windowed per group, ≤ P rows per window — nothing
    * collects to the driver) and broadcast-joined back. Result is
    * bit-identical to the one-task window (PrefixSumSpec asserts it).
    * `orderCols` must be a total order within each group.
    */
  def prefixSumByGroup(df: DataFrame, groupCol: String, orderCols: Seq[String],
                       valCol: String, partitions: Int = 32): DataFrame = {
    val reserved = Seq("_pid", "_local", "_c", "_off", "_opid", "_og")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"prefixSumByGroup: input must not contain reserved column '$c'"))
    val ordCols = orderCols.map(col)
    // MATERIALIZE pass 1 (prefixSum rationale): both passes must see the
    // SAME range boundaries; RangePartitioner sampling isn't re-run-stable.
    val parted = df
      .repartitionByRange(partitions, (col(groupCol) +: ordCols): _*)
      .withColumn("_pid", F.spark_partition_id())
      .localCheckpoint()
    val wl = Window.partitionBy(col("_pid"), col(groupCol)).orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("_local",
      sum(col(valCol).cast("long")).over(wl))
    val cnts = parted.groupBy(col("_pid"), col(groupCol))
      .agg(sum(col(valCol).cast("long")).as("_c"))
    val wOff = Window.partitionBy(groupCol).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = broadcast(cnts
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .select(col("_pid").as("_opid"), col(groupCol).as("_og"), col("_off")))
    local.join(offs,
        col("_pid") === col("_opid") && col(groupCol) === col("_og"))
      .withColumn("cum", col("_local") + col("_off"))
      .drop("_pid", "_local", "_off", "_opid", "_og")
  }

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
                        sizeCol: String, budget: Long,
                        partitions: Int = 32): DataFrame =
    prefixSumByGroup(df, groupCol, orderCols, sizeCol, partitions)
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
               batchSize: Int, partitions: Int = 32): DataFrame = {
    require(batchSize >= 1, s"padWaste batchSize: $batchSize")
    val ranked = prefixSum(
      df.select(col(orderCol).as("_ord"), col(lenCol).cast("long").as("len"))
        .withColumn("_one", lit(1L)),
      "_ord", "_one", partitions)
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
