package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PrefixSum

/** Distributed prefix sum: must equal the one-task global window
  * bit-for-bit at any partition count, without ever RUNNING a one-task
  * global window.
  */
class PrefixSumSpec extends SparkTestBase {
  import spark.implicits._

  test("prefixSum equals a global window at any partitioning") {
    val df = spark.range(0, 3000).select(col("id"),
      pmod(hash(col("id")), lit(97)).cast("long").as("v"))
    val expect = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    for (p <- Seq(1, 7, 32)) {
      val got = PrefixSum.prefixSum(df, "id", "v", partitions = p)
        .select("id", "cum").as[(Long, Long)].collect().toMap
      assert(got == expect, s"prefix sum diverged at partitions=$p")
    }
  }

  test("prefixSum stays correct with negative values (totals = sum, not max)") {
    val df = spark.range(0, 1000).select(col("id"),
      (pmod(hash(col("id")), lit(21)) - 10).cast("long").as("v"))
    val expect = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    val got = PrefixSum.prefixSum(df, "id", "v", partitions = 7)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("packShards: shards are contiguous, ordered, and budget-shaped") {
    val df = spark.range(0, 500).select(col("id"),
      (pmod(hash(col("id")), lit(50)) + 1).cast("long").as("n"))
    val shards = PrefixSum.packShards(df, "id", "n", budget = 300L)
      .select("id", "n", "shard").as[(Long, Long, Long)].collect().sortBy(_._1)
    // shard ids never decrease in doc order and skip nothing
    val ids = shards.map(_._3)
    assert(ids.zip(ids.tail).forall { case (a, b) => b == a || b == a + 1 })
    assert(ids.head == 0L)
    // every full shard's payload reaches the budget before it closes:
    // (start of the NEXT shard) - (start of this one) >= budget
    val starts = shards.groupBy(_._3).map { case (s, rows) =>
      s -> rows.map(r => r._2).sum
    }
    starts.toSeq.sortBy(_._1).dropRight(1).foreach { case (s, tot) =>
      assert(tot >= 300L - 50L, s"shard $s undersized: $tot") // crossing doc rule
    }
  }

  test("prefixSumByGroup equals the per-group one-task window at any partitioning") {
    val df = spark.range(0, 3000).select(col("id"),
      pmod(hash(col("id")), lit(5)).as("g"),
      // negatives included: totals must come from sum, not max
      (pmod(hash(col("id") * 7), lit(21)) - 10).cast("long").as("v"))
    val expect = df.withColumn("cum",
        sum(col("v")).over(Window.partitionBy("g").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    for (p <- Seq(1, 7, 32)) {
      val got = PrefixSum.prefixSumByGroup(df, "g", Seq("id"), "v", partitions = p)
        .select("id", "cum").as[(Long, Long)].collect().toMap
      assert(got == expect, s"diverged at partitions=$p")
    }
  }

  test("budgetCapPerGroup keeps exactly the inclusive prefix that fits") {
    val df = spark.range(0, 400).select(col("id"),
      pmod(hash(col("id")), lit(4)).as("g"),
      (pmod(hash(col("id") + 13), lit(50)) + 1).cast("long").as("n"))
    val kept = PrefixSum.budgetCapPerGroup(df, "g", Seq("id"), "n", budget = 500L)
      .select("id", "g", "n", "cum").as[(Long, Int, Long, Long)].collect()
    // driver-side reference: accumulate EVERY doc (a crossing doc is
    // dropped but still consumes budget — no first-fit backfill)
    val ref = df.select("id", "g", "n").as[(Long, Int, Long)].collect()
      .sortBy(_._1).groupBy(_._2).values.flatMap { rows =>
        var acc = 0L
        rows.toSeq.flatMap { case (id, g, n) =>
          acc += n
          if (acc <= 500L) Some((id, g, n, acc)) else None
        }
      }.toSet
    assert(kept.toSet == ref)
    assert(kept.forall(_._4 <= 500L))
    assert(kept.nonEmpty)
  }

  test("packSequences: hand-checked boundary segments + exact-cover invariants") {
    // docs 5,3,4 at seqLen 4 — stream [0,12): doc 1 spans the seq0/seq1
    // cut, doc 2 fills seq1's tail, doc 3 is exactly seq2
    val d = Seq((1L, 5L), (2L, 3L), (3L, 4L), (4L, 0L)).toDF("id", "sz")
    val got = PrefixSum.packSequences(d, "id", "sz", seqLen = 4)
      .orderBy("id", "seq")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 4L),   // doc 1 tokens [0,4) -> seq 0 at offset 0
      (1L, 1L, 0L, 4L, 1L),   // doc 1 token  [4,5) CONTINUES into seq 1
      (2L, 1L, 1L, 0L, 3L),   // doc 2 fills seq 1 positions [1,4)
      (3L, 2L, 0L, 0L, 4L)),  // doc 3 is exactly seq 2; zero-size doc 4 absent
      got.toString)
    // fixture invariants: every token covered exactly once
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val seg = PrefixSum.packSequences(docs, "doc_id", "n_chars", seqLen = 512)
    val perDoc = seg.groupBy("id").agg(sum("len").as("l"))
      .join(docs, col("id") === col("doc_id"))
      .filter(col("l") =!= col("n_chars")).count()
    assert(perDoc == 0, "per-doc segment lengths must sum to the doc size")
    val total = docs.agg(sum("n_chars")).head.getLong(0)
    val perSeq = seg.groupBy("seq").agg(sum("len").as("l")).collect()
    val lastSeq = (total - 1) / 512
    perSeq.foreach { r =>
      val (s, l) = (r.getLong(0), r.getLong(1))
      if (s < lastSeq) assert(l == 512, s"seq $s holds $l of 512")
      else assert(l == total - lastSeq * 512, s"final seq $s holds $l")
    }
    // segments within a sequence tile it: offsets are a disjoint cover
    val overlap = seg.as("a").join(seg.as("b"),
        col("a.seq") === col("b.seq") && col("a.id") < col("b.id") &&
          col("a.seq_off") < col("b.seq_off") + col("b.len") &&
          col("b.seq_off") < col("a.seq_off") + col("a.len")).count()
    assert(overlap == 0, "segments within a sequence must not overlap")
  }

  test("padWaste: hand-computed batches; length-sorting cuts waste on the fixture") {
    import spark.implicits._
    // batchSize 2, lens in id order 10,2,8,4,6: batches [10,2],[8,4],[6]
    // waste = (2*10-12) + (2*8-12) + (1*6-6) = 8+4+0 = 12; padded = 42
    val d = Seq((1L, 10L), (2L, 2L), (3L, 8L), (4L, 4L), (5L, 6L))
      .toDF("id", "len")
    val r = graft.ops.PrefixSum.padWaste(d, "id", "len", batchSize = 2).head()
    assert(r.getLong(0) == 5 && r.getLong(1) == 3)
    assert(r.getLong(2) == 30 && r.getLong(3) == 42 && r.getLong(4) == 12)
    // fixture: sorting by length must strictly reduce waste, same totals
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("len"))
    val arrival = graft.ops.PrefixSum.padWaste(docs, "doc_id", "len", 32).head()
    val sorted = graft.ops.PrefixSum.padWaste(
      docs.withColumn("k", expr("len * 4294967296L + doc_id")),
      "k", "len", 32).head()
    assert(arrival.getLong(2) == sorted.getLong(2)) // same token mass
    assert(sorted.getLong(4) < arrival.getLong(4),
      s"sorted waste ${sorted.getLong(4)} !< arrival ${arrival.getLong(4)}")
  }
}
