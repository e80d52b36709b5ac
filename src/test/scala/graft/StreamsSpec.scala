package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams

/** Incremental processing (#23): the same declarative operators running on
  * micro-batches via MemoryStream, with watermark/state semantics.
  */
class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("state store defaults to RocksDB (every stateful test here runs on it)") {
    // GraftSession.builder plumbs the cluster-scale provider by default —
    // the session this suite's watermark/dedup/session tests run on IS a
    // RocksDB-backed one, so the whole suite is the end-to-end proof.
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
  }

  test("windowed agg counts per tumbling window and key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val agg = Streams.windowedAgg(
      in.toDF.toDF("ts", "user_id", "value"), "ts", "user_id", "value",
      windowLen = "10 seconds", watermarkDelay = "5 seconds")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData((ts(1), 7L, 2.0), (ts(3), 7L, 3.0), (ts(12), 7L, 4.0), (ts(4), 8L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .selectExpr("user_id", "cnt", "total").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // user 7: window [0,10) has 2 events totaling 5.0; [10,20) has 1 of 4.0
      assert(rows == Set((7L, 2L, 5.0), (7L, 1L, 4.0), (8L, 1L, 1.0)))
    } finally q.stop()
  }

  test("session_window agg: batch and streaming agree with the custom sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (1L, ts(1), 2.0), (1L, ts(4), 3.0),   // session A: gap <= 5s
      (1L, ts(20), 1.0),                    // session B
      (2L, ts(2), 7.0))                     // session C
    // batch path
    val batch = Streams.sessionWindowAgg(
        events.toDF("userId", "ts", "value"), "ts", "userId", "value",
        gap = "5 seconds", watermarkDelay = "0 seconds")
      .select("userId", "nEvents", "totalValue")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch == Set((1L, 2L, 5.0), (1L, 1L, 1.0), (2L, 1L, 7.0)))
    // streaming path: same sessions once the watermark closes them
    val in = MemoryStream[(Long, Timestamp, Double)]
    val q = Streams.sessionWindowAgg(
        in.toDF.toDF("userId", "ts", "value"), "ts", "userId", "value",
        gap = "5 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData((9L, ts(100), 0.0)) // advance watermark, close sessions
      q.processAllAvailable()
      val stream = spark.table("swin")
        .select("userId", "nEvents", "totalValue")
        .as[(Long, Long, Double)].collect().toSet
      assert(stream == batch, s"stream $stream != batch $batch")
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF.toDF("uid", "cts", "click"),
      views.toDF.toDF("uid", "vts", "view"),
      keyCol = "uid", ltsCol = "cts", rtsCol = "vts",
      before = "5 seconds", after = "0 seconds",
      watermarkDelay = "2 seconds")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append).start()
    try {
      // view at t=8 precedes click at t=10 within 5s → joins;
      // view at t=2 is 8s before → outside the interval;
      // view at t=12 is AFTER the click (after=0) → outside;
      // uid mismatch never joins
      clicks.addData((1L, ts(10), "c1"))
      views.addData((1L, ts(8), "v8"), (1L, ts(2), "v2"),
        (1L, ts(12), "v12"), (2L, ts(9), "vOther"))
      q.processAllAvailable()
      // advance both watermarks past the interval so results finalize
      clicks.addData((9L, ts(60), "late"))
      views.addData((9L, ts(60), "late"))
      q.processAllAvailable()
      val got = spark.table("ij").selectExpr("uid", "click", "view")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got.filterNot(_._2 == "late") == Set((1L, "c1", "v8")))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched clicks with nulls after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF.toDF("uid", "cts", "click"),
      views.toDF.toDF("uid", "vts", "view"),
      keyCol = "uid", ltsCol = "cts", rtsCol = "vts",
      before = "5 seconds", after = "0 seconds",
      watermarkDelay = "2 seconds", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ij_lo")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((1L, ts(10), "matched"), (2L, ts(10), "orphan"))
      views.addData((1L, ts(8), "v8")) // matches uid 1 only
      q.processAllAvailable()
      // outer results may only emit once the watermark PROVES no view can
      // still arrive for uid 2 — advance it well past 10s + 5s + 2s
      for (t <- Seq(100L, 200L)) {
        clicks.addData((9L, ts(t), "late")); views.addData((9L, ts(t), "late"))
        q.processAllAvailable()
      }
      val got = spark.table("ij_lo").selectExpr("uid", "click", "view")
        .collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSet
      assert(got.contains((1L, "matched", "v8")))
      assert(got.contains((2L, "orphan", null)),
        s"unmatched left row must emit with null right side: $got")
    } finally q.stop()
  }

  test("interval-join state is evicted once the watermark passes the interval") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF.toDF("uid", "cts", "click"),
      views.toDF.toDF("uid", "vts", "view"),
      keyCol = "uid", ltsCol = "cts", rtsCol = "vts",
      before = "5 seconds", after = "0 seconds",
      watermarkDelay = "2 seconds")
    val q = joined.writeStream.format("memory").queryName("ij_state")
      .outputMode(OutputMode.Append).start()
    try {
      // 60 buffered rows per side around t≈10s
      clicks.addData((0 until 60).map(i => (i.toLong, ts(10 + i % 3), s"c$i")): _*)
      views.addData((0 until 60).map(i => (i.toLong, ts(9 + i % 3), s"v$i")): _*)
      q.processAllAvailable()
      def stateRows: Long = Option(q.lastProgress) match {
        case Some(p) => p.stateOperators.map(_.numRowsTotal).sum
        case None    => -1L
      }
      val before = stateRows
      assert(before >= 100, s"expected ≥120 buffered state rows, saw $before")
      // the watermark sweep: a far-future event on BOTH sides, two batches
      // (watermark takes effect the batch after it is observed) — state
      // for the t≈10s rows must be DROPPED, not retained forever
      for (t <- Seq(1000L, 2000L)) {
        clicks.addData((999L, ts(t), "adv")); views.addData((999L, ts(t), "adv"))
        q.processAllAvailable()
      }
      val after = stateRows
      assert(after < before / 10,
        s"watermark must evict interval-join state: $before -> $after rows")
    } finally q.stop()
  }

  test("streaming heavy hitters: hot values survive across batches, tails evict") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = Streams.heavyHittersStream(in.toDS(), k = 4)
      .writeStream.format("memory").queryName("hh_s")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: group A — "hot" 6 of 10 rows, 4 distinct tail values
      in.addData(Seq.fill(6)(("A", "hot")) ++
        Seq(("A", "t1"), ("A", "t2"), ("A", "t3"), ("A", "t4")): _*)
      q.processAllAvailable()
      // batch 2: more hot + fresh tail; hot must persist with a growing
      // count; true freq 12/20 > 1/4 ⇒ MG guarantees presence
      in.addData(Seq.fill(6)(("A", "hot")) ++
        Seq(("A", "t5"), ("A", "t6"), ("A", "t7"), ("A", "t8")): _*)
      q.processAllAvailable()
      val rows = spark.table("hh_s")
        .select("group", "value", "cnt_lower", "total")
        .as[(String, String, Long, Long)].collect()
      val lastHot = rows.filter(r => r._2 == "hot" && r._4 == 20)
      assert(lastHot.nonEmpty, s"hot value missing after batch 2: ${rows.toSeq}")
      // MG lower bound: within total/k of the true count, never above it
      val c = lastHot.head._3
      assert(c <= 12 && c >= 12 - 20 / 4, s"hot count bound violated: $c")
    } finally q.stop()
  }

  test("streaming chat threads: run collapse across batch boundaries, parity with the batch op") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, String)]
    val q = Streams.chatThreadsStream(
        in.toDF.toDF("thread", "t", "seq", "role", "payload"),
        "thread", "t", "seq", "role", "payload", maxTurns = 3)
      .writeStream.format("memory").queryName("chat_s")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 ends mid-run of role "u"; batch 2 CONTINUES that run —
      // the collapse must bridge the boundary, not open a new turn
      in.addData((1L, ts(1), 1L, "u", "p1"), (1L, ts(2), 2L, "a", "p2"),
        (1L, ts(3), 3L, "u", "p3"))
      q.processAllAvailable()
      in.addData((1L, ts(4), 4L, "u", "p4"), (1L, ts(5), 5L, "a", "p5"),
        (1L, ts(6), 6L, "u", "p6"))
      q.processAllAvailable()
      val last = spark.table("chat_s")
        .filter($"n_turns" === 5)
        .select("thread", "n_turns", "n_kept", "n_events", "transcript")
        .as[(Long, Long, Long, Long, String)].head()
      // 5 runs total (u|a|u+u|a|u), last 3 kept: u: p3 | p4, a: p5, u: p6
      assert(last == ((1L, 5L, 3L, 4L, "u: p3 | p4\na: p5\nu: p6")))
      // parity: the batch operator over ALL events produces the same row
      val batch = graft.ops.Dialog.assembleThreads(
          Seq((1L, ts(1), 1L, "u", "p1"), (1L, ts(2), 2L, "a", "p2"),
            (1L, ts(3), 3L, "u", "p3"), (1L, ts(4), 4L, "u", "p4"),
            (1L, ts(5), 5L, "a", "p5"), (1L, ts(6), 6L, "u", "p6"))
            .toDF("thread", "t", "seq", "role", "payload"),
          "thread", "t", "seq", "role", "payload", maxTurns = 3)
        .select("thread", "n_turns", "n_kept", "n_events", "transcript")
        .as[(Long, Long, Long, Long, String)].head()
      assert(batch == last)
    } finally q.stop()
  }

  test("streaming quota: state persists across batches and equals the batch op") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = Streams.quotaStream(in.toDF.toDF("k", "ord", "sz"),
        "k", "ord", "sz", budget = 100L)
      .writeStream.format("memory").queryName("quota_s")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: A consumes 90 of 100; B consumes 60
      in.addData(("A", 1L, 50L), ("A", 2L, 40L), ("B", 3L, 60L))
      q.processAllAvailable()
      // batch 2: A's 20 crosses (rejected, still consumes); A's 5 after
      // the crossing is NOT backfilled; B's 40 exactly fills its budget
      in.addData(("A", 4L, 20L), ("A", 5L, 5L), ("B", 6L, 40L))
      q.processAllAvailable()
      val rows = spark.table("quota_s")
        .select("k", "ord", "cum", "accepted")
        .as[(String, Long, Long, Boolean)].collect().toSet
      assert(rows == Set(
        ("A", 1L, 50L, true), ("A", 2L, 90L, true), ("B", 3L, 60L, true),
        ("A", 4L, 110L, false), ("A", 5L, 115L, false), ("B", 6L, 100L, true)),
        s"got $rows")
      // parity with the batch operator over the same total order
      import spark.implicits._
      def batch = graft.ops.PrefixSum.budgetCapPerGroup(
          Seq(("A", 1L, 50L), ("A", 2L, 40L), ("B", 3L, 60L),
            ("A", 4L, 20L), ("A", 5L, 5L), ("B", 6L, 40L)).toDF("k", "ord", "sz"),
          "k", Seq("ord"), "sz", budget = 100L)
        .select("k", "ord", "cum").as[(String, Long, Long)].collect().toSet
      val streamAccepted = rows.filter(_._4).map(r => (r._1, r._2, r._3))
      // the batch op at the derived width and at multi-range widths
      for ((label, b) <- Seq("derived width" -> batch) ++
          Seq(7, 32).map(w => s"width $w" -> withRankWidth(w)(batch)))
        assert(streamAccepted == b,
          s"stream accept set diverged from batch at $label: $streamAccepted vs $b")
    } finally q.stop()
  }

  test("streaming best-of-n: the live top-n per prompt equals the batch op after every batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long, Double)]
    val q = Streams.bestOfNStream(in.toDF.toDF("grp", "id", "score"),
        "grp", "id", "score", n = 2)
      .writeStream.format("memory").queryName("bofn_s")
      .outputMode(OutputMode.Update).start()
    def latest(): Set[(String, Long, Double, Int)] = {
      // Update mode re-emits a prompt's full current list each batch it
      // changes; the LIVE table is each prompt's latest emission — for a
      // memory sink, the max-rank-consistent last rows per (grp, rank)
      val all = spark.table("bofn_s")
        .as[(String, Long, Double, Int)].collect()
      // later emissions overwrite: take the last occurrence per (grp, rank)
      all.zipWithIndex.groupBy(r => (r._1._1, r._1._4))
        .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
    }
    def batchOn(rows: Seq[(String, Long, Double)]) =
      graft.ops.Sampling.bestOfN(rows.toDF("grp", "id", "score"),
          "id", "grp", "score", n = 2)
        .as[(String, Long, Double, Int)].collect().toSet
    try {
      // batch 1: p1 fills with 9,7 (id 2 wins the 7-tie by lower id)
      val b1 = Seq(("p1", 1L, 7.0), ("p1", 2L, 9.0), ("p2", 3L, 1.0))
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1), s"after batch 1: ${latest()}")
      // batch 2: a late 8.0 evicts p1's 7.0; a worse candidate (0.5)
      // leaves p2 unchanged in state but the contract is vs the batch op
      val b2 = Seq(("p1", 4L, 8.0), ("p2", 5L, 0.5))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1 ++ b2), s"after batch 2: ${latest()}")
    } finally q.stop()
  }

  test("bestOfNStream: per-prompt state survives a restart from checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_bofn_in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bofn_ckpt")
    val schema = StructType(Seq(StructField("grp", StringType),
      StructField("id", LongType), StructField("score", DoubleType)))
    // memory sink can't recover from a checkpoint — collect emissions
    // through foreachBatch (which can) into a driver-side queue
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double, Int)]()
    def start() = Streams.bestOfNStream(
        spark.readStream.schema(schema).csv(dir.toString),
        "grp", "id", "score", n = 2)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.as[(String, Long, Double, Int)].collect().foreach(sink.add)
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Update).start()
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "p1,1,7.0\np1,2,9.0\n".getBytes)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    sink.clear() // keep only post-restart emissions
    // a candidate lands while the query is DOWN; the restarted query
    // must merge it against the CHECKPOINTED list — 9.0 from before the
    // restart stays on top, 8.0 evicts 7.0. Losing state would emit a
    // one-element list (8.0 at rank 1) instead.
    java.nio.file.Files.write(dir.resolve("b.csv"), "p1,4,8.0\n".getBytes)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = sink.toArray(Array.empty[(String, Long, Double, Int)]).toSet
    assert(got == Set(("p1", 2L, 9.0, 1), ("p1", 4L, 8.0, 2)), s"got $got")
  }

  test("hllDistinctStream: window registers survive a restart from checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hll_ckpt")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
    def start() = Streams.hllDistinctStream(
        spark.readStream.schema(schema).csv(dir.toString),
        "ts", "user_id", windowLen = "10 seconds", watermarkDelay = "5 seconds")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.select("est_distinct", "n_rows")
          .as[(Double, Long)].collect().foreach(sink.add)
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Update).start()
    def csv(users: Range): String =
      users.map(u => s"1970-01-01 00:00:0${u % 9 + 1},$u").mkString("\n")
    java.nio.file.Files.write(dir.resolve("a.csv"), csv(0 until 100).getBytes)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    sink.clear()
    // 100 NEW users land in the SAME window while the query is DOWN; the
    // restarted query must merge them into the CHECKPOINTED registers —
    // the window's estimate must equal the batch sketch of all 200.
    // Losing state would re-estimate from the second slice alone (~100).
    java.nio.file.Files.write(dir.resolve("b.csv"), csv(100 until 200).getBytes)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val last = sink.toArray(Array.empty[(Double, Long)]).last
    val batchAll = graft.functions.Sketches.hllDistinct(
      (0L until 200L).toDF("u"), org.apache.spark.sql.functions.col("u"))
      .collect().head.getDouble(1)
    assert(last == ((batchAll, 200L)), s"got $last, want ($batchAll, 200)")
  }

  test("streaming minhash near-dup: later near-copies are dropped against the index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.io.IoScratch.dir + "/stream_neardup"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while seven wizards brew hazy potions behind the old stone mill"
    val in = MemoryStream[(Long, String)]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.dedupStreamMinhash(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text",
      indexPath = s"$dir/index", tau = 0.6, shingleN = 2,
      checkpointDir = s"$dir/ckpt") { (survivors, _) =>
      accepted ++= survivors.select("doc_id")
        .collect().map(_.getLong(0))
    }
    try {
      // batch 1: an original + an unrelated doc + a within-batch near-copy
      in.addData((1L, base), (2L, "completely different text about spark " +
        "engines shuffling petabytes through sorted exchanges nightly"),
        (3L, base + " extra"))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 1 (must be caught by the INDEX),
      // and a fresh doc (must survive)
      in.addData((10L, base + " tail"), (11L, "entirely novel content with " +
        "unique tokens nowhere else in this tiny corpus whatsoever"))
      q.processAllAvailable()
    } finally q.stop()
    assert(accepted.toSet == Set(1L, 2L, 11L),
      s"expected {1,2,11} to survive, got ${accepted.toSet}")
    // the index holds exactly the survivors' band rows
    val indexed = spark.read.parquet(s"$dir/index").select("id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 11L))
  }

  test("replayed batch ignores its own index partition (crash between index write and commit)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.io.IoScratch.dir + "/stream_neardup_replay"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again " +
        "while seven wizards brew hazy potions behind the old stone mill"),
      (2L, "completely different text about spark engines shuffling " +
        "petabytes through sorted exchanges nightly"))
    // Pre-seed the index exactly as a crashed first run leaves it: the
    // batch=0 delta written, the checkpoint NOT committed. The fresh
    // checkpoint below makes the first processed batch id 0 again — the
    // replay. Docs must NOT self-match their own index rows; both must be
    // re-accepted and the delta rewritten identically (idempotent replay).
    graft.dedup.Dedup.bandTable(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 2, bands = 4, rowsPerBand = 4)
      .select("id", "band", "bh", "set")
      .write.mode("overwrite").parquet(s"$dir/index/batch=0")
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupStreamMinhash(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text",
      indexPath = s"$dir/index", tau = 0.6, shingleN = 2,
      checkpointDir = s"$dir/ckpt") { (survivors, _) =>
      accepted ++= survivors.select("doc_id").collect().map(_.getLong(0))
    }
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(accepted.toSet == Set(1L, 2L),
      s"replay lost docs (self-matched own index): ${accepted.toSet}")
    val indexed = spark.read.parquet(s"$dir/index").select("id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L), s"index delta corrupted by replay: $indexed")
  }

  test("annAbsorbStream: landing-directory shards absorb exactly once across restarts") {
    import org.apache.spark.sql.functions.col
    val dir = graft.io.IoScratch.dir + "/ann_absorb"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    val base = embs.filter(col("vec_id") < 300)
    val shard1 = embs.filter(col("vec_id") >= 300 && col("vec_id") % 2 === 0)
    val shard2 = embs.filter(col("vec_id") >= 300 && col("vec_id") % 2 =!= 0)
    graft.similarity.AnnIndex.export(spark, base, "vec_id", "embedding",
      s"$dir/index", cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    // twin index maintained by the BATCH append path — the parity oracle
    graft.similarity.AnnIndex.export(spark, base, "vec_id", "embedding",
      s"$dir/twin", cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    graft.similarity.AnnIndex.append(spark,
      embs.filter(col("vec_id") >= 300), "vec_id", "embedding", s"$dir/twin")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/landing"))
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$dir/landing/$name.parquet")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def absorbAll(): Unit = {
      val q = Streams.annAbsorbStream(spark, s"$dir/landing", s"$dir/index",
        checkpointDir = s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    land(shard1, "s1")
    absorbAll() // run 1: absorbs shard 1, then STOPS (simulated downtime)
    land(shard2, "s2")
    absorbAll() // run 2: fresh query, same checkpoint — only shard 2 is new
    absorbAll() // run 3: nothing new — must be a no-op
    val root = graft.similarity.AnnIndex.resolve(spark, s"$dir/index")
    assert(graft.similarity.AnnIndex.committedDeltas(spark, root).size == 2,
      "each shard batch must commit exactly one delta")
    // exactly-once: every vector present exactly once
    val n = embs.count()
    val ids = graft.similarity.AnnIndex.vectorLists(spark, root)
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.length == n && ids.distinct.length == n,
      s"expected $n unique vectors, got ${ids.length} (${ids.distinct.length} unique)")
    // parity: the absorbed index serves exactly what the batch-append twin serves
    def served(p: String) = graft.similarity.AnnIndex.servedTopK(spark, p,
        embs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(served(s"$dir/index") == served(s"$dir/twin"))
  }

  test("annAbsorbStream compactEvery: deltas fold mid-stream, absorb continues on the compacted base") {
    import org.apache.spark.sql.functions.col
    val dir = graft.io.IoScratch.dir + "/ann_absorb_compact"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    val base = embs.filter(col("vec_id") < 300)
    val rest = embs.filter(col("vec_id") >= 300)
    val shards = (0 to 2).map(r => rest.filter(col("vec_id") % 3 === r))
    graft.similarity.AnnIndex.export(spark, base, "vec_id", "embedding",
      s"$dir/index", cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    graft.similarity.AnnIndex.export(spark, base, "vec_id", "embedding",
      s"$dir/twin", cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    graft.similarity.AnnIndex.append(spark, rest, "vec_id", "embedding",
      s"$dir/twin")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/landing"))
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$dir/landing/$name.parquet")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def absorbAll(): Unit = {
      val q = Streams.annAbsorbStream(spark, s"$dir/landing", s"$dir/index",
        checkpointDir = s"$dir/ckpt", compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
    }
    land(shards(0), "s1")
    absorbAll()
    val root1 = graft.similarity.AnnIndex.resolve(spark, s"$dir/index")
    assert(graft.similarity.AnnIndex.committedDeltas(spark, root1).size == 1,
      "one delta below the threshold: no fold yet")
    land(shards(1), "s2")
    absorbAll() // second delta reaches compactEvery=2 -> fold in-batch
    val root2 = graft.similarity.AnnIndex.resolve(spark, s"$dir/index")
    assert(root2 != root1, "the fold publishes a fresh version")
    assert(graft.similarity.AnnIndex.committedDeltas(spark, root2).isEmpty,
      "the compacted version starts with an empty delta set")
    land(shards(2), "s3")
    absorbAll() // a post-compaction shard absorbs onto the new base
    val root3 = graft.similarity.AnnIndex.resolve(spark, s"$dir/index")
    assert(graft.similarity.AnnIndex.committedDeltas(spark, root3).size == 1)
    // exactly-once through the fold: every vector present exactly once
    val n = embs.count()
    import spark.implicits._
    val ids = graft.similarity.AnnIndex.vectorLists(spark, root3)
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.length == n && ids.distinct.length == n,
      s"expected $n unique vectors, got ${ids.length}")
    // serving parity with the batch-append twin, across the fold
    def served(p: String) = graft.similarity.AnnIndex.servedTopK(spark, p,
        embs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(served(s"$dir/index") == served(s"$dir/twin"))
  }

  test("hybridAbsorbStream: landing doc+vector shards absorb exactly once, fold at compactEvery, full-export parity") {
    import org.apache.spark.sql.functions.col
    val dir = graft.io.IoScratch.dir + "/hybrid_absorb_stream"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val embs = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("v"))
    val joined = docs.join(embs, "doc_id") // one landing row per document
    val base = joined.filter(col("doc_id") % 4 === 0)
    val shards = (1 to 3).map(r => joined.filter(col("doc_id") % 4 === r))
    graft.similarity.HybridIndex.export(spark,
      base.select("doc_id", "text"), "doc_id", "text",
      base.select(col("doc_id").as("vec_id"), col("v")), "vec_id", "v",
      s"$dir/index")
    // the parity twin: ONE full export over everything the stream absorbs
    graft.similarity.HybridIndex.export(spark,
      joined.select("doc_id", "text"), "doc_id", "text",
      joined.select(col("doc_id").as("vec_id"), col("v")), "vec_id", "v",
      s"$dir/twin")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/landing"))
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$dir/landing/$name.parquet")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def absorbAll(): Unit = {
      val q = Streams.hybridAbsorbStream(spark, s"$dir/landing",
        s"$dir/index", checkpointDir = s"$dir/ckpt", compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
    }
    land(shards(0).select("doc_id", "text", "v"), "s1")
    absorbAll()
    land(shards(1).select("doc_id", "text", "v"), "s2")
    absorbAll() // second delta trips compactEvery=2 -> fold
    assert(graft.similarity.AnnIndex.committedDeltas(spark,
      graft.similarity.AnnIndex.resolve(spark, s"$dir/index")).isEmpty,
      "the fold leaves an empty delta set")
    land(shards(2).select("doc_id", "text", "v"), "s3")
    absorbAll() // restart absorbs only the new shard onto the folded base
    absorbAll() // nothing new: a no-op
    import spark.implicits._
    val lexQueries = Seq(1 -> Seq("scan", "column"), 2 -> Seq("window", "sort"))
    val queries = embs.filter(col("doc_id").isin(1, 2))
      .select(col("doc_id").as("vec_id"), col("v"))
    def served(p: String) = graft.similarity.HybridIndex.servedTopK(spark, p,
        lexQueries, queries, "vec_id", "v", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served(s"$dir/index") == served(s"$dir/twin"),
      "an absorbed+folded history must serve the full-export bits")
  }

  test("streaming dedup keeps first occurrence") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = Streams.dedupStream(in.toDF.toDF("ts", "id"), "ts", Seq("id"), "5 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_s")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), 1L), (ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      in.addData((ts(1), 1L), (ts(3), 3L)) // replay of id=1 dropped
      q.processAllAvailable()
      assert(spark.table("dedup_s").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sessionize closes a session when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionize(spark, in.toDS, gapMs = 5000)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((5L, ts(1), 1.5), (5L, ts(2), 2.5))
      q.processAllAvailable()
      // a much-later event advances the event-time watermark past
      // lastTs(=2s) + gap(5s), closing user 5's session
      in.addData((6L, ts(60), 9.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[graft.streaming.SessionResult]
        .collect().filter(_.userId == 5L)
      assert(sessions.length == 1)
      assert(sessions.head.nEvents == 2 && sessions.head.totalValue == 4.0)
      assert(sessions.head.firstTs == 1000L && sessions.head.lastTs == 2000L)
    } finally q.stop()
  }

  test("batch and streaming sessionization agree on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // user 1: events at 1s,11s (one session), 101s (second session);
    // user 2: 5s | 50s,56s — the 45s gap splits at gap=30s.
    // (No ts(0): an event AT the initial watermark is late by definition.)
    val events = Seq(
      (1L, 10L, ts(1), 1.0), (1L, 11L, ts(11), 1.0), (1L, 12L, ts(101), 1.0),
      (2L, 20L, ts(5), 1.0), (2L, 21L, ts(50), 1.0), (2L, 22L, ts(56), 1.0))

    val batch = graft.ops.WindowOps.sessionize(
        events.toDF("user_id", "event_id", "ts", "value"),
        "user_id", "ts", "event_id", gapSeconds = 30)
      .groupBy("user_id", "session_n")
      .agg(count(lit(1)).as("n"),
        min(unix_millis(col("ts"))).as("firstMs"),
        max(unix_millis(col("ts"))).as("lastMs"))
      .select("user_id", "n", "firstMs", "lastMs")
      .as[(Long, Long, Long, Long)].collect().toSet

    val in = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionize(spark, in.toDS, gapMs = 30000)
    val q = out.writeStream.format("memory").queryName("sessions_parity")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      in.addData(events.map(e => (e._1, e._3, e._4)): _*)
      q.processAllAvailable()
      in.addData((999L, ts(100000), 0.0)) // advance watermark: close everything
      q.processAllAvailable()
      spark.table("sessions_parity").as[graft.streaming.SessionResult]
        .collect().filter(_.userId != 999L)
        .map(s => (s.userId, s.nEvents, s.firstTs, s.lastTs)).toSet
    } finally q.stop()

    assert(streamed == batch) // same sessions, same stats, both engines
  }

  test("file readStream ingests files that appear while the query runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in")
    java.nio.file.Files.write(dir.resolve("a.txt"), "spark maps rows\n".getBytes)
    val lines = spark.readStream.text(dir.toString).withColumnRenamed("value", "text")
    val q = Streams.wordCountStream(lines, "text")
      .writeStream.format("memory").queryName("wc_file")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      // a file landing AFTER the query started is picked up incrementally —
      // Disco's concurrent-stage contract (inputs appear while running)
      java.nio.file.Files.write(dir.resolve("b.txt"), "spark reduces\n".getBytes)
      q.processAllAvailable()
      val m = spark.table("wc_file").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("spark" -> 2L, "maps" -> 1L, "rows" -> 1L, "reduces" -> 1L))
    } finally q.stop()
  }

  test("stream writes through the redis scheme sink per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val srv = new graft.io.MiniRedis()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_redis_ckpt")
    try {
      val in = MemoryStream[(String, String)]
      val q = Streams.toRedis(in.toDF.toDF("key", "value"), srv.url(),
        "key", "value", ckpt.toString)
      try {
        in.addData(("a", "1"), ("b", "2"))
        q.processAllAvailable()
        in.addData(("a", "3"))
        q.processAllAvailable()
        val got = graft.io.Redis.read(spark, Seq(srv.url()))
          .as[(String, String)].collect().sorted.toSeq
        assert(got == Seq("a" -> "1", "a" -> "3", "b" -> "2"))
      } finally q.stop()
    } finally srv.close()
  }

  test("restart from checkpoint resumes without reprocessing old files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_state")
    val srv = new graft.io.MiniRedis()
    try {
      java.nio.file.Files.write(dir.resolve("a.txt"), "alpha\n".getBytes)
      def start() = Streams.toRedis(
        spark.readStream.text(dir.toString)
          .select(org.apache.spark.sql.functions.lit("k").as("key"),
            org.apache.spark.sql.functions.col("value")),
        srv.url(), "key", "value", ckpt.toString)
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      // new file lands while the query is DOWN; the restarted query picks
      // up exactly the delta — committed batches are not replayed (the
      // restart-a-failed-job durability contract)
      java.nio.file.Files.write(dir.resolve("b.txt"), "beta\n".getBytes)
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      val got = graft.io.Redis.read(spark, Seq(srv.url()))
        .as[(String, String)].collect().map(_._2).sorted.toSeq
      assert(got == Seq("alpha", "beta")) // each exactly once
    } finally srv.close()
  }

  test("streaming CDC apply folds micro-batches into the snapshot, deletes drop keys") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val snapPath = s"$dir/snapshot"
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("k", "version", "payload")
      .write.parquet(snapPath)
    val in = MemoryStream[(Long, Long, String, String)]
    val q = Streams.applyChangelogStream(
      in.toDF.toDF("k", "version", "payload", "op"),
      snapPath, "k", "version", "op", s"$dir/ckpt")
    try {
      // batch 1: update k=1, insert k=4
      in.addData((1L, 2L, "a2", "upsert"), (4L, 2L, "d", "upsert"))
      q.processAllAvailable()
      // batch 2: delete k=2, stale change for k=1 loses to the merged v2
      in.addData((2L, 3L, "b3", "delete"), (1L, 0L, "a0", "upsert"))
      q.processAllAvailable()
      val got = spark.read.parquet(snapPath)
        .orderBy("k").as[(Long, Long, String)].collect().toSeq
      assert(got == Seq((1L, 2L, "a2"), (3L, 1L, "c"), (4L, 2L, "d")))
    } finally q.stop()
  }

  test("maintained view stream: aggregate stays delta-consistent with the snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mview").toString
    val view = s"$dir/view"
    val snap0 = Seq((1L, 0L, "a", 10.0), (2L, 0L, "a", 20.0), (3L, 0L, "b", 30.0))
      .toDF("k", "v", "g", "x")
    Streams.seedMaintainedView(snap0, view, "g", "x")
    val in = MemoryStream[(Long, Long, String, Double, String)]
    val q = Streams.maintainedViewStream(
      in.toDF.toDF("k", "v", "g", "x", "op"),
      view, "k", "v", "op", "g", "x", s"$dir/ckpt")
    try {
      // batch 1: group-moving update (1: a->b), insert (4 in c)
      in.addData((1L, 2L, "b", 11.0, "upsert"), (4L, 2L, "c", 40.0, "upsert"))
      q.processAllAvailable()
      // batch 2: delete 2 (empties nothing: a loses its last member ->
      // group a disappears), stale change for 1 loses
      in.addData((2L, 3L, "a", 0.0, "delete"), (1L, 1L, "z", 999.0, "upsert"))
      q.processAllAvailable()
      // batch 3: delete b's MAX (k3, x=30) — the maintained min/max must
      // heal through the bounded group rescan, not go stale
      in.addData((3L, 4L, "b", 0.0, "delete"))
      q.processAllAvailable()
      val agg = spark.read.parquet(s"$view/agg")
        .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE)",
          "CAST(min_val AS DOUBLE)", "CAST(max_val AS DOUBLE)")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(agg == Set(("b", 1L, 11.0, 11.0, 11.0),
        ("c", 1L, 40.0, 40.0, 40.0)), s"got $agg")
      // the maintained aggregate equals a recompute over the snapshot —
      // snapshot and agg swapped together, never out of step
      val recompute = graft.ops.ChangeOps.groupAgg(
          spark.read.parquet(s"$view/snap"), "g", "x")
        .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE)",
          "CAST(min_val AS DOUBLE)", "CAST(max_val AS DOUBLE)")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(agg == recompute)
    } finally q.stop()
  }

  test("maintained view: EVERY crash boundary leaves a consistent observable pair and replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.hadoop.fs.Path
    // the swap sequence has these on-disk states a crash can leave behind
    // (k0: before the batch touches disk; k1: new pair staged in
    // ._merge_new; k2: cur renamed aside to ._merge_old — the window the
    // one-rename design must heal; k3: new pair renamed in, old aside;
    // k4: clean completion). For each, the OBSERVABLE pair under the
    // recovery rule (cur if present, else old) must be internally
    // consistent (agg == recompute(snap)) and a replayed batch must
    // converge to the same final state.
    val snap0 = Seq((1L, 0L, "a", 10.0), (2L, 0L, "a", 20.0), (3L, 0L, "b", 30.0))
      .toDF("k", "v", "g", "x")
    val batch = Seq((1L, 2L, "b", 11.0, "upsert"), (3L, 3L, "b", 0.0, "delete"),
      (4L, 2L, "c", 40.0, "upsert"))
      .toDF("k", "v", "g", "x", "op")
    val snap1 = graft.ops.ChangeOps.applyChangelog(snap0, batch, "k", "v", "op")
      .select("k", "v", "g", "x").localCheckpoint()
    val agg1 = graft.ops.ChangeOps.maintainAgg(
      graft.ops.ChangeOps.groupAgg(snap0, "g", "x"), snap0, batch,
      "k", "v", "op", "g", "x").localCheckpoint()
    def writePair(path: String, s: org.apache.spark.sql.DataFrame,
                  a: org.apache.spark.sql.DataFrame): Unit = {
      s.write.mode("overwrite").parquet(s"$path/snap")
      a.write.mode("overwrite").parquet(s"$path/agg")
    }
    def consistent(path: String): Unit = {
      val s = spark.read.parquet(s"$path/snap")
      val a = spark.read.parquet(s"$path/agg")
        .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE) AS sv",
          "CAST(min_val AS DOUBLE) AS mn", "CAST(max_val AS DOUBLE) AS mx")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val r = graft.ops.ChangeOps.groupAgg(s, "g", "x")
        .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE) AS sv",
          "CAST(min_val AS DOUBLE) AS mn", "CAST(max_val AS DOUBLE) AS mx")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(a == r, s"pair at $path out of step: agg $a vs recompute $r")
    }
    val expected = agg1
      .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE) AS sv")
      .as[(String, Long, Double)].collect().toSet
    for (kill <- 0 to 4) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_mv_k$kill").toString
      val view = s"$dir/view"
      val fs = new Path(view).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // materialize the exact on-disk state the crash at this boundary leaves
      kill match {
        case 0 => writePair(view, snap0, graft.ops.ChangeOps.groupAgg(snap0, "g", "x"))
        case 1 =>
          writePair(view, snap0, graft.ops.ChangeOps.groupAgg(snap0, "g", "x"))
          writePair(s"$view._merge_new", snap1, agg1)
        case 2 =>
          writePair(s"$view._merge_old", snap0, graft.ops.ChangeOps.groupAgg(snap0, "g", "x"))
          writePair(s"$view._merge_new", snap1, agg1)
        case 3 =>
          writePair(s"$view._merge_old", snap0, graft.ops.ChangeOps.groupAgg(snap0, "g", "x"))
          writePair(view, snap1, agg1)
        case 4 => writePair(view, snap1, agg1)
      }
      // 1) whatever a reader (or recovery) observes NOW is a consistent pair
      if (fs.exists(new Path(view))) consistent(view)
      else consistent(s"$view._merge_old")
      // 2) restart + replay the batch: every kill point converges to the
      // same final state (idempotent merge — k3/k4 re-apply onto snap1)
      val in = MemoryStream[(Long, Long, String, Double, String)]
      val q = Streams.maintainedViewStream(
        in.toDF.toDF("k", "v", "g", "x", "op"),
        view, "k", "v", "op", "g", "x", s"$dir/ckpt")
      try {
        in.addData((1L, 2L, "b", 11.0, "upsert"), (3L, 3L, "b", 0.0, "delete"),
          (4L, 2L, "c", 40.0, "upsert"))
        q.processAllAvailable()
        val got = spark.read.parquet(s"$view/agg")
          .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE) AS sv")
          .as[(String, Long, Double)].collect().toSet
        assert(got == expected, s"kill=$kill replay diverged: $got vs $expected")
        consistent(view)
        assert(!fs.exists(new Path(view + "._merge_old")), s"kill=$kill left _merge_old")
      } finally q.stop()
    }
  }

  test("maintained view recovers from a crash that left only ._merge_old") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mview_crash").toString
    val view = s"$dir/view"
    Streams.seedMaintainedView(
      Seq((1L, 0L, "a", 10.0)).toDF("k", "v", "g", "x"), view, "g", "x")
    // simulate the crash window between rename(cur, old) and
    // rename(new, cur): the view path is GONE, the last consistent pair
    // sits in ._merge_old
    val fs = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(view),
      new org.apache.hadoop.fs.Path(view + "._merge_old")))
    val in = MemoryStream[(Long, Long, String, Double, String)]
    val q = Streams.maintainedViewStream(
      in.toDF.toDF("k", "v", "g", "x", "op"),
      view, "k", "v", "op", "g", "x", s"$dir/ckpt")
    try {
      in.addData((2L, 1L, "a", 5.0, "upsert"))
      q.processAllAvailable()
      // the batch restored the pair, then applied: a = {1:10, 2:5}
      val agg = spark.read.parquet(s"$view/agg")
        .selectExpr("g", "cnt", "CAST(sum_val AS DOUBLE)")
        .as[(String, Long, Double)].collect().toSet
      assert(agg == Set(("a", 2L, 15.0)), s"got $agg")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(view + "._merge_old")))
    } finally q.stop()
  }

  test("incremental word count matches the batch operator semantics") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val out = Streams.wordCountStream(in.toDF.toDF("text"), "text")
    val q = out.writeStream.format("memory").queryName("wc_s")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData("spark maps rows", "spark reduces")
      q.processAllAvailable()
      val m = spark.table("wc_s").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("spark" -> 2L, "maps" -> 1L, "rows" -> 1L, "reduces" -> 1L))
    } finally q.stop()
  }

  test("quantilesStream: per-window estimates equal the batch sketch per slice") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, Double)]
    val qs = Seq(0.5, 0.95)
    val out = Streams.quantilesStream(in.toDF.toDF("ts", "event_id", "value"),
      "ts", "event_id", "value", windowLen = "10 seconds",
      watermarkDelay = "5 seconds", k = 16, qs = qs)
    val q = out.writeStream.format("memory").queryName("qsk_s")
      .outputMode(OutputMode.Complete).start()
    try {
      // window [0,10): 40 rows (> k ⇒ sampled); [10,20): 5 rows (exact)
      val w1 = (1 to 40).map(i => (ts(i % 9 + 1), i.toLong, ((i * 137) % 100).toDouble))
      val w2 = (1 to 5).map(i => (ts(11 + i), (100 + i).toLong, (i * 10).toDouble))
      in.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      val got = spark.table("qsk_s").select("n_rows", "q0", "q1")
        .as[(Long, Double, Double)].collect()
        .map { case (n, a, b) => n -> (a, b) }.toMap
      def batch(rows: Seq[(Timestamp, Long, Double)]): (Double, Double) = {
        val r = graft.functions.Sketches.quantileSketch(
            rows.map(t => (t._2, t._3)).toDF("event_id", "value"),
            org.apache.spark.sql.functions.col("event_id"),
            org.apache.spark.sql.functions.col("value"), k = 16, qs)
          .orderBy("q").select("est_value").as[Double].collect()
        (r(0), r(1))
      }
      assert(got(40L) == batch(w1))
      assert(got(5L) == batch(w2))
    } finally q.stop()
  }

  test("distinctCountStream: windowed KMV estimate equals the batch sketch per window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val out = Streams.distinctCountStream(in.toDF.toDF("ts", "user_id"),
      "ts", "user_id", windowLen = "10 seconds", watermarkDelay = "5 seconds",
      k = 8)
    val q = out.writeStream.format("memory").queryName("dc")
      .outputMode(OutputMode.Complete).start()
    try {
      // window [0,10): 20 distinct users (> k ⇒ estimated);
      // window [10,20): 3 distinct over 4 rows (< k ⇒ exact count)
      val w1 = (1 to 20).map(u => (ts(u % 9 + 1), u.toLong))
      val w2 = Seq((ts(12), 100L), (ts(13), 101L), (ts(14), 100L), (ts(15), 102L))
      in.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      val rows = spark.table("dc").select("n_rows", "est_distinct")
        .as[(Long, Double)].collect().toMap
      def batchEst(users: Seq[Long]): Double =
        graft.functions.Sketches.kmvDistinct(users.toDF("u"),
            org.apache.spark.sql.functions.col("u"), k = 8)
          .select("est_distinct").head().getDouble(0)
      assert(rows(20L) == batchEst(w1.map(_._2)))
      assert(rows(4L) == 3.0)
    } finally q.stop()
  }

  test("hllDistinctStream: windowed HLL estimate equals the batch sketch per window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val out = Streams.hllDistinctStream(in.toDF.toDF("ts", "user_id"),
      "ts", "user_id", windowLen = "10 seconds", watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("hlldc")
      .outputMode(OutputMode.Complete).start()
    try {
      // window [0,10): 200 distinct users over 400 rows (registers fill
      // across micro-batch partial merges); window [10,20): 3 distinct
      val w1 = (1 to 400).map(u => (ts(u % 9 + 1), (u % 200).toLong))
      val w2 = Seq((ts(12), 900L), (ts(13), 901L), (ts(14), 900L), (ts(15), 902L))
      in.addData(w1: _*)
      q.processAllAvailable()
      in.addData(w2: _*) // second micro-batch exercises the state merge
      q.processAllAvailable()
      val rows = spark.table("hlldc").select("n_rows", "est_distinct")
        .as[(Long, Double)].collect().toMap
      def batchEst(users: Seq[Long]): Double =
        graft.functions.Sketches.hllDistinct(users.toDF("u"),
            org.apache.spark.sql.functions.col("u"))
          .select("est").head().getDouble(0)
      assert(rows(400L) == batchEst(w1.map(_._2)))
      assert(rows(4L) == batchEst(w2.map(_._2)))
    } finally q.stop()
  }

  test("editEvalStream: per-window CER/WER equals the batch op on each slice") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, String)]
    val out = Streams.editEvalStream(in.toDF.toDF("ts", "cand", "ref"),
      "ts", "cand", "ref", windowLen = "10 seconds",
      watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("ee")
      .outputMode(OutputMode.Complete).start()
    try {
      val w1 = Seq(
        (ts(1), "the quick brown fox", "the quick red fox"),
        (ts(3), "alpha beta gamma", "alpha beta gamma"),
        (ts(5), "one two", "one two three"))
      val w2 = Seq((ts(12), "x y z", "p q"))
      in.addData(w1: _*)
      q.processAllAvailable()
      in.addData(w2: _*)
      q.processAllAvailable()
      def batch(slice: Seq[(Timestamp, String, String)]) = {
        import graft.functions.TextAnalysis.tokensArr
        import org.apache.spark.sql.functions.col
        val pair = slice.toDF("ts", "c", "r").select(
          tokensArr(col("c")).as("cand"), tokensArr(col("r")).as("ref"))
        val r = graft.ops.OverlapEval.editEval(pair).collect()(0)
        (r.getDouble(3), r.getDouble(6))
      }
      val full = spark.table("ee").select("pairs", "cer", "wer")
        .as[(Long, Double, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(full(3L) == batch(w1) && full(1L) == batch(w2))
    } finally q.stop()
  }

  test("driftMonitorStream: per-window PSI matches the batch formula; drift ranks above calm") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // reference profile computed batch-side once (the broadcast-dim
    // pattern): quartile edges + Laplace-smoothed shares of values 1..100
    val ref = (1 to 100).map(_.toDouble)
    val edges = graft.ops.WindowOps.exactQuantilesGlobal(
        ref.toDF("value"), "value", Seq(0.25, 0.5, 0.75))
      .orderBy("q").select("value").as[Double].collect().toSeq
    def bucketOf(v: Double) = 1 + edges.count(v > _)
    val refCnt = (1 to 4).map(b => ref.count(bucketOf(_) == b))
    val shares = refCnt.map(c => (c + 1).toDouble / (ref.size + 4))
    val in = MemoryStream[(Timestamp, Double)]
    val mon = Streams.driftMonitorStream(in.toDF.toDF("ts", "value"),
      "ts", "value", edges, shares,
      windowLen = "10 seconds", watermarkDelay = "5 seconds")
    val q = mon.writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Complete).start()
    try {
      // window [0,10): one value per quartile (calm);
      // window [10,20): all mass in the top bin (drifted)
      val calm = Seq(10.0, 30.0, 60.0, 90.0)
      val drifted = Seq(99.0, 98.0, 97.0)
      in.addData(calm.zipWithIndex.map { case (v, i) => (ts(i + 1), v) } ++
        drifted.zipWithIndex.map { case (v, i) => (ts(i + 12), v) }: _*)
      q.processAllAvailable()
      def batchPsi(vals: Seq[Double]): Double =
        (0 until 4).map { i =>
          val p = shares(i)
          val qq = (vals.count(bucketOf(_) == i + 1) + 1).toDouble / (vals.size + 4)
          (p - qq) * math.log(p / qq)
        }.sum
      val rows = spark.table("drift").select("n", "psi")
        .as[(Long, Double)].collect().toMap
      assert(rows.keySet == Set(calm.size.toLong, drifted.size.toLong))
      assert(math.abs(rows(4L) - batchPsi(calm)) < 1e-4)
      assert(math.abs(rows(3L) - batchPsi(drifted)) < 1e-4)
      assert(rows(3L) > rows(4L), "drifted window must out-score the calm one")
    } finally q.stop()
  }

  test("composite recovery: drift + quota + distinct over ONE stream all recover from a mid-window crash") {
    import org.apache.spark.sql.DataFrame
    // One event stream feeds THREE independently-checkpointed stateful
    // pipelines (windowed PSI drift, per-key quota, windowed KMV distinct).
    // The queries stop MID-WINDOW — window [0,10) is split across the
    // crash — and after restart every pipeline must equal the batch truth
    // over the FULL data: the drift/distinct window states (RocksDB) must
    // merge pre- and post-crash rows, and the quota's per-key accumulator
    // must carry its pre-crash consumption (a reset would re-accept).
    val inDir = java.nio.file.Files.createTempDirectory("graft_multi_in")
    val ckD = java.nio.file.Files.createTempDirectory("graft_multi_ck_drift")
    val ckC = java.nio.file.Files.createTempDirectory("graft_multi_ck_dc")
    val ckQ = java.nio.file.Files.createTempDirectory("graft_multi_ck_quota")
    val qOut = java.nio.file.Files.createTempDirectory("graft_multi_qout")
    // drift reference profile: quartiles of 1..100 (the broadcast-dim
    // pattern, as in the single-op drift test)
    val ref = (1 to 100).map(_.toDouble)
    val edges = graft.ops.WindowOps.exactQuantilesGlobal(
        ref.toDF("value"), "value", Seq(0.25, 0.5, 0.75))
      .orderBy("q").select("value").as[Double].collect().toSeq
    def bucketOf(v: Double) = 1 + edges.count(v > _)
    val refCnt = (1 to 4).map(b => ref.count(bucketOf(_) == b))
    val shares = refCnt.map(c => (c + 1).toDouble / (ref.size + 4))
    // rows: (ts, user_id, value, grp, ord, sz); ord monotone across files
    def row(i: Int, t: Long, user: Long, v: Double) =
      (ts(t), user, v, if (i % 2 == 1) "A" else "B", i.toLong, 5L)
    val file1 = (1 to 20).map(i =>
      row(i, (i % 9) + 1, (i % 10) + 1, ((i * 37) % 100 + 1).toDouble))
    val file2 = (21 to 40).map(i =>
      row(i, (i % 9) + 1, (i % 15) + 11, ((i * 53) % 100 + 1).toDouble)) ++
      (41 to 46).map(i =>
        row(i, 12 + (i % 6), (i % 4) + 100, (95 + i % 5).toDouble))
    val w1 = file1 ++ file2.filter(_._1.getTime < 10000)
    val w2 = file2.filter(_._1.getTime >= 10000)
    assert(w1.size == 40 && w2.size == 6)
    val cols = Seq("ts", "user_id", "value", "grp", "ord", "sz")
    def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      val ev = spark.readStream
        .schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE, grp STRING, ord BIGINT, sz BIGINT")
        .parquet(inDir.toString)
      val qd = Streams.driftMonitorStream(ev, "ts", "value", edges, shares,
          windowLen = "10 seconds", watermarkDelay = "5 seconds")
        .writeStream.format("memory").queryName("mw_drift")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckD.toString).start()
      val qc = Streams.distinctCountStream(ev, "ts", "user_id",
          windowLen = "10 seconds", watermarkDelay = "5 seconds", k = 8)
        .writeStream.format("memory").queryName("mw_dc")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckC.toString).start()
      val qq = Streams.quotaStream(ev, "grp", "ord", "sz", budget = 60L)
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckQ.toString)
        .foreachBatch { (df: DataFrame, id: Long) =>
          // overwrite-by-batch: a replayed batch rewrites its own delta,
          // so the sink is exactly-once under replay (the
          // dedupStreamMinhash index pattern)
          df.write.mode("overwrite").parquet(s"$qOut/batch=$id")
        }
        .start()
      Seq(qd, qc, qq)
    }
    file1.toDF(cols: _*).repartition(1).write.mode("append").parquet(inDir.toString)
    val run1 = startAll()
    try run1.foreach(_.processAllAvailable()) finally run1.foreach(_.stop())
    // crash happened mid-window-1; more of window 1 plus window 2 arrive
    // while everything is down
    file2.toDF(cols: _*).repartition(1).write.mode("append").parquet(inDir.toString)
    val run2 = startAll()
    try {
      run2.foreach(_.processAllAvailable())
      // 1. distinct: each window's estimate equals the batch sketch over
      // the FULL window slice (pre-crash rows must be in the state)
      val dc = spark.table("mw_dc").select("n_rows", "est_distinct")
        .as[(Long, Double)].collect().toMap
      def batchEst(users: Seq[Long]): Double =
        graft.functions.Sketches.kmvDistinct(users.toDF("u"),
            org.apache.spark.sql.functions.col("u"), k = 8)
          .select("est_distinct").head().getDouble(0)
      assert(dc.keySet == Set(40L, 6L), s"windows seen: ${dc.keySet}")
      assert(dc(40L) == batchEst(w1.map(_._2)),
        "window-1 distinct state did not merge across the crash")
      assert(dc(6L) == batchEst(w2.map(_._2)))
      // 2. drift: per-window PSI equals the batch formula on full slices
      def batchPsi(vals: Seq[Double]): Double =
        (0 until 4).map { i =>
          val p = shares(i)
          val qq = (vals.count(bucketOf(_) == i + 1) + 1).toDouble / (vals.size + 4)
          (p - qq) * math.log(p / qq)
        }.sum
      val dr = spark.table("mw_drift").select("n", "psi")
        .as[(Long, Double)].collect().toMap
      assert(dr.keySet == Set(40L, 6L))
      assert(math.abs(dr(40L) - batchPsi(w1.map(_._3))) < 1e-4,
        "window-1 drift state did not merge across the crash")
      assert(math.abs(dr(6L) - batchPsi(w2.map(_._3))) < 1e-4)
      assert(dr(6L) > dr(40L), "the drifted window must out-score the mixed one")
      // 3. quota: accepted set equals the batch op over the total order,
      // with no duplicate emissions across the restart
      val got = spark.read.parquet(qOut.toString)
        .select("grp", "ord", "cum", "accepted")
        .as[(String, Long, Long, Boolean)].collect().toSeq
      assert(got.map(r => (r._1, r._2)).distinct.size == got.size,
        "duplicate (grp, ord) emissions across restart")
      assert(got.size == file1.size + file2.size)
      val all = file1 ++ file2
      def batchKept = graft.ops.PrefixSum.budgetCapPerGroup(
          all.map(r => (r._4, r._5, r._6)).toDF("grp", "ord", "sz"),
          "grp", Seq("ord"), "sz", budget = 60L)
        .select("grp", "ord", "cum").as[(String, Long, Long)].collect().toSet
      val streamKept = got.filter(_._4).map(r => (r._1, r._2, r._3)).toSet
      // the batch op at the derived width and at multi-range widths
      for ((label, b) <- Seq("derived width" -> batchKept) ++
          Seq(7, 32).map(w => s"width $w" -> withRankWidth(w)(batchKept)))
        assert(streamKept == b,
          s"quota state lost across crash: ${streamKept.size} accepted vs " +
            s"batch ${b.size} at $label")
      // the crossing itself must span the crash: some pre-crash rows
      // accepted, and at least one post-crash rejection caused by
      // PRE-crash consumption
      val aCross = got.filter(r => r._1 == "A" && !r._4).map(_._2).min
      assert(aCross > 20, "A must cross its budget only after the restart")
    } finally run2.foreach(_.stop())
  }

  test("warcIngest: archives landing over time stream through normalize+gate; crash between files is exactly-once") {
    import graft.io.Warc
    val land = java.nio.file.Files.createTempDirectory("graft_warc_land")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_warc_ck")
    val outD = java.nio.file.Files.createTempDirectory("graft_warc_out")
    // fluent keep-doc: 32 words, stopwords present, varied vocabulary
    val fluent = (1 to 28).map(i => s"word$i").mkString(" ") +
      " the scan of and in"
    // dirty text: decomposed e+COMBINING ACUTE + control byte + ws run —
    // the normalize pass must clean it before the gate counts words
    def dirty(s: String) = s + " caf" + "e\u0301" + "\u0007" + "  \t "
    def archive(docs: Seq[(Long, String)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      docs.foreach { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val http = (s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n")
          .getBytes("US-ASCII") ++ body
        bos.write(Warc.gzipMember(Warc.recordBytes(Warc.WarcRecord(
          "response", s"<urn:t:$id>", "2026-01-01T00:00:00Z",
          Some(s"http://src${id % 3}.test/doc/$id"), http))))
      }
      bos.toByteArray
    }
    val batch1 = Seq(1L -> dirty(fluent), 2L -> "too short to keep")
    val batch2 = Seq(3L -> fluent, 4L -> dirty("also too short"))
    java.nio.file.Files.write(land.resolve("a.warc.gz"), archive(batch1))
    def start() = Streams.warcIngest(spark, land.toString + "/*.warc.gz")
      .writeStream.format("parquet")
      .option("path", outD.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // second archive lands while the query is DOWN (crash between files);
    // the restart must ingest exactly the delta — no replay of archive 1
    java.nio.file.Files.write(land.resolve("b.warc.gz"), archive(batch2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outD.toString)
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 4, s"each doc exactly once, got ${got.size}")
    // batch truth: the batch WARC reader + normalize + ROW-LOCAL gate
    // over both archives must agree row for row
    val parsed = Warc.read(spark, land.toString + "/*.warc.gz")
      .filter($"warc_type" === "response")
      .select(org.apache.spark.sql.functions
          .regexp_extract($"target_uri", "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"), $"content")
      .as[(Long, Array[Byte])]
      .map { case (id, c) =>
        (id, new String(Warc.httpBody(c).get, "UTF-8")) }
      .toDF("doc_id", "text_raw")
    val truth = graft.ops.TextOps.normalizeText(parsed, "doc_id", "text_raw")
      .select($"id".as("doc_id"), $"n_clean", $"text_clean")
      .withColumn("_q", graft.ops.TextOps.qualitySignalsLocal($"text_clean"))
      .select($"doc_id", $"text_clean", $"n_clean",
        ($"_q.n" > 0 && graft.ops.TextOps.qualityKeepExpr($"_q")).as("keep"))
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == truth)
    // the gate discriminated: fluent docs kept, short ones dropped, and
    // the dirt is gone from the cleaned text (normalize ran before it)
    assert(got(1L)._4 && got(3L)._4 && !got(2L)._4 && !got(4L)._4)
    assert(!got(1L)._2.contains("\u0007") && got(1L)._2.endsWith("caf\u00e9"))
  }

  test("warcIngest extractHtml: HTML-bodied archives stream through extract+normalize+gate with batch parity") {
    import graft.io.Warc
    val land = java.nio.file.Files.createTempDirectory("graft_html_land")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_html_ck")
    val outD = java.nio.file.Files.createTempDirectory("graft_html_out")
    val fluent = (1 to 28).map(i => s"word$i").mkString(" ") +
      " the scan of and in"
    // real crawl shape: the body is a PAGE — script/style/comment dirt
    // that must vanish before the gate ever counts a word, block tags
    // that must not glue words together
    def page(text: String) =
      "<html><head><title>T</title><style>body{color:red}</style>" +
      "<script>var secret = 1;</script></head><body>" +
      "<!-- nav --><h1>Hdr</h1><p>" + text + "</p></body></html>"
    def archive(docs: Seq[(Long, String)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      docs.foreach { case (id, html) =>
        val body = html.getBytes("UTF-8")
        val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
        bos.write(Warc.gzipMember(Warc.recordBytes(Warc.WarcRecord(
          "response", s"<urn:t:$id>", "2026-01-01T00:00:00Z",
          Some(s"http://src${id % 3}.test/doc/$id"), http))))
      }
      bos.toByteArray
    }
    java.nio.file.Files.write(land.resolve("a.warc.gz"),
      archive(Seq(1L -> page(fluent), 2L -> page("too short to keep"))))
    java.nio.file.Files.write(land.resolve("b.warc.gz"),
      archive(Seq(3L -> page(fluent + " extra the words here of note"))))
    val q = Streams.warcIngest(spark, land.toString + "/*.warc.gz",
        extractHtml = true)
      .writeStream.format("parquet")
      .option("path", outD.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outD.toString)
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 3)
    // markup stripped BEFORE the gate: no script/style/comment text, no
    // tags; heading and prose joined by the normalize whitespace collapse
    assert(got(1L)._4 && got(3L)._4 && !got(2L)._4)
    assert(got(1L)._2 == s"T Hdr $fluent", got(1L)._2)
    // batch truth: batch WARC reader + the SAME extract+normalize+gate
    val parsed = Warc.read(spark, land.toString + "/*.warc.gz")
      .filter($"warc_type" === "response")
      .select(org.apache.spark.sql.functions
          .regexp_extract($"target_uri", "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"), $"content")
      .as[(Long, Array[Byte])]
      .map { case (id, c) =>
        (id, new String(Warc.httpBody(c).get, "UTF-8")) }
      .toDF("doc_id", "text_html")
      .select($"doc_id",
        graft.ops.HtmlOps.htmlExtract($"text_html").as("text_raw"))
    val truth = graft.ops.TextOps.normalizeText(parsed, "doc_id", "text_raw")
      .select($"id".as("doc_id"), $"n_clean", $"text_clean")
      .withColumn("_q", graft.ops.TextOps.qualitySignalsLocal($"text_clean"))
      .select($"doc_id", $"text_clean", $"n_clean",
        ($"_q.n" > 0 && graft.ops.TextOps.qualityKeepExpr($"_q")).as("keep"))
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == truth)
  }

  test("warcIngest mixedMedia: HTML and PDF payloads dispatch by Content-Type") {
    import graft.io.{Pdf, Warc}
    val land = java.nio.file.Files.createTempDirectory("graft_mixed_land")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mixed_ck")
    val outD = java.nio.file.Files.createTempDirectory("graft_mixed_out")
    val fluent = (1 to 28).map(i => s"word$i").mkString(" ") +
      " the scan of and in"
    def page(text: String) =
      "<html><head><style>b{}</style><script>var s=1;</script></head>" +
      "<body><h1>Hdr</h1><p>" + text + "</p></body></html>"
    def rec(id: Long, body: Array[Byte], ctype: String): Array[Byte] = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      Warc.gzipMember(Warc.recordBytes(Warc.WarcRecord("response",
        s"<urn:t:$id>", "2026-01-01T00:00:00Z",
        Some(s"http://src${id % 3}.test/doc/$id"), http)))
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(rec(1L, page(fluent).getBytes("UTF-8"), "text/html; charset=utf-8"))
    bos.write(rec(2L, Pdf.build(fluent), "application/pdf"))
    bos.write(rec(3L, Pdf.build("too short to keep"), "application/pdf"))
    // a CORRUPT pdf must yield empty text for the gate to drop — never a
    // stream-killing throw
    bos.write(rec(4L, "not a pdf at all".getBytes("US-ASCII"), "application/pdf"))
    // the round-17 layouts stream through the same dispatch untouched:
    // Type0/CID fonts, AESV2 empty-password encryption, and the whole
    // stack combined (encrypted 1.5 file with a CID font)
    bos.write(rec(5L, Pdf.build(fluent, cidFont = true), "application/pdf"))
    bos.write(rec(6L, Pdf.build(fluent, encrypt = "aesv2"), "application/pdf"))
    bos.write(rec(7L, Pdf.build(fluent, xrefStream = true, cidFont = true,
      encrypt = "rc4-128"), "application/pdf"))
    // an encrypted doc a viewer would PROMPT for (non-empty password
    // proof) is empty text for the gate — never a throw
    val locked = {
      val b = Pdf.build(fluent, encrypt = "rc4-128")
      val s0 = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      val at = s0.indexOf("/U <")
      val c = s0.charAt(at + 4)
      (s0.substring(0, at + 4) + (if (c == '0') '1' else '0') +
        s0.substring(at + 5)).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    bos.write(rec(8L, locked, "application/pdf"))
    java.nio.file.Files.write(land.resolve("a.warc.gz"), bos.toByteArray)
    val q = Streams.warcIngest(spark, land.toString + "/*.warc.gz",
        mixedMedia = true)
      .writeStream.format("parquet")
      .option("path", outD.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outD.toString)
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 8)
    // the HTML leg extracted (markup gone), the PDF leg's layout line
    // breaks collapsed to spaces by normalize (the pdftotext convention —
    // real PDFs break lines between words; the fixture builder chunks
    // mid-word, so the char content is verbatim and the splits are at
    // known 60-char boundaries)
    assert(got(1L)._2 == s"Hdr $fluent" && got(1L)._4, got(1L).toString)
    val expected2 = Pdf.extractText(Pdf.build(fluent)).get
      .split("[ \n]+").mkString(" ")
    assert(got(2L)._2 == expected2 && got(2L)._4, got(2L).toString)
    assert(got(2L)._2.replace(" ", "") == fluent.replace(" ", ""))
    assert(!got(3L)._4, "short pdf must be gated out")
    assert(got(4L)._2 == "" && !got(4L)._4, "corrupt pdf yields empty text")
    // every round-17 layout extracts the same text as the classic one
    Seq(5L, 6L, 7L).foreach { id =>
      assert(got(id)._2 == expected2 && got(id)._4,
        s"layout $id must match the classic extraction: ${got(id)}")
    }
    assert(got(8L)._2 == "" && !got(8L)._4,
      "a password-locked pdf yields empty text for the gate")
  }

  test("streaming per-DOMAIN quota: raw URLs collapse to registrable domains, state spans batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    // raw URLs in mixed case / with tracking params; domain is the
    // registrable-domain of the CANONICALIZED url — the round-10 URL ops
    // composed with the per-key quota state
    val in = MemoryStream[(String, Long, Long)] // (url, ord, n_chars)
    val domained = in.toDF.toDF("url", "ord", "n_chars")
      .withColumn("domain", graft.ops.UrlOps.registrableDomain(
        graft.ops.UrlOps.canonicalizeUrl(col("url"))))
    val q = Streams.quotaStream(domained, "domain", "ord", "n_chars", budget = 100L)
      .writeStream.format("memory").queryName("dom_quota")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: a.example.com consumes 90 of its 100 budget across two
      // raw spellings; b.example.com consumes 40
      in.addData(
        ("https://A.example.com/x?utm_source=f", 1L, 50L),
        ("https://a.EXAMPLE.com:443/y", 2L, 40L),
        ("http://b.example.com/z", 3L, 40L))
      q.processAllAvailable()
      // batch 2: a's next doc (30) must be REJECTED on pre-batch
      // consumption (90+30 > 100); b's next (50) fits (40+50 <= 100)
      in.addData(
        ("https://a.example.com/w", 4L, 30L),
        ("HTTP://B.example.COM/v?fbclid=1", 5L, 50L))
      q.processAllAvailable()
      val got = spark.table("dom_quota")
        .select("domain", "ord", "cum", "accepted")
        .as[(String, Long, Long, Boolean)].collect()
        .map(r => r._2 -> r).toMap
      assert(got.size == 5)
      assert(got(1L) == ("a.example.com", 1L, 50L, true))
      assert(got(2L) == ("a.example.com", 2L, 90L, true))
      assert(got(3L) == ("b.example.com", 3L, 40L, true))
      assert(got(4L) == ("a.example.com", 4L, 120L, false),
        "pre-batch consumption must carry: 90+30 > 100")
      assert(got(5L) == ("b.example.com", 5L, 90L, true))
      // batch parity: accepted set equals the per-group prefix-sum cut
      val batchRows = Seq(
        ("a.example.com", 1L, 50L), ("a.example.com", 2L, 40L),
        ("b.example.com", 3L, 40L), ("a.example.com", 4L, 30L),
        ("b.example.com", 5L, 50L)).toDF("domain", "ord", "n_chars")
      def batchKept = graft.ops.PrefixSum.budgetCapPerGroup(
          batchRows, "domain", Seq("ord"), "n_chars", budget = 100L)
        .select("ord").as[Long].collect().toSet
      // the batch op at the derived width and at multi-range widths
      for (b <- batchKept +: Seq(7, 32).map(withRankWidth(_)(batchKept)))
        assert(got.filter(_._2._4).keySet == b)
    } finally q.stop()
  }

  test("lineDedupStream: a banner crossing minDocs mid-stream is removed from that batch onward") {
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_ld_idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ld_ck")
    val banner = "subscribe to our newsletter"
    def doc(id: Long) = (id, s"body text $id\n$banner")
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, String)]
    val q = Streams.lineDedupStream(in.toDF.toDF("doc_id", "text"),
        "doc_id", "text", idx.toString + "/index", minDocs = 5,
        ckpt.toString) { (df, _) =>
      df.as[(Long, Long, Long, String)].collect()
        .foreach(r => got(r._1) = r)
    }
    try {
      in.addData(doc(1), doc(2), doc(3)) // banner df = 3 < 5: everything kept
      q.processAllAvailable()
      assert((1L to 3L).forall(i => got(i)._3 == 0 &&
        got(i)._4 == s"body text $i\n$banner"))
      // batch 2 pushes the banner's ACCUMULATED df to 6 >= 5: removed from
      // THIS batch's docs; batch-1 docs are already emitted and final
      in.addData(doc(4), doc(5), doc(6))
      q.processAllAvailable()
      assert((4L to 6L).forall(i => got(i)._3 == 1L &&
        got(i)._4 == s"body text $i"), s"batch-2 docs must lose the banner: $got")
      assert(got(1L)._4.contains(banner), "batch-1 emissions are final")
      // batch 3: the index remembers — still hot with a single new doc
      in.addData(doc(7))
      q.processAllAvailable()
      assert(got(7L)._3 == 1L && got(7L)._4 == "body text 7")
      // the unique body lines never trip the threshold
      assert(got.values.forall(_._2 == 2L))
    } finally q.stop()
  }

  test("qualityRulesLocal equals the batch qualityRules on the fixture corpus") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val batch = graft.ops.TextOps.qualityRules(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val local = graft.ops.TextOps.qualityRulesLocal(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(local == batch,
      "row-local gate must equal the corpus-scale aggregation gate")
  }

  test("annServeStream answers queries from the exported index, batch-parity per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val embs = graft.core.Tables.embeddings(spark, sfDir)
    val path = graft.io.IoScratch.dir + "/ann_index_stream_spec"
    graft.similarity.AnnIndex.export(spark, embs, "vec_id", "embedding",
      path, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val qvecs = embs.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val in = MemoryStream[(Long, Seq[Double])]
    val q = Streams.annServeStream(spark, path,
        in.toDF.toDF("query_id", "qv"), "query_id", "qv", k = 5, nProbe = 2)
      .writeStream.format("memory").queryName("ann_s")
      .outputMode(OutputMode.Update).start()
    def latest(): Set[(Long, Long, Double, Int)] = {
      val all = spark.table("ann_s").as[(Long, Long, Double, Int)].collect()
      all.zipWithIndex.groupBy(r => (r._1._1, r._1._4))
        .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
    }
    def batchOn(ids: Seq[Long]): Set[(Long, Long, Double, Int)] =
      graft.similarity.AnnIndex.servedTopK(spark, path,
          embs.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect()
        .map(r => (r._1, r._2, r._4, r._3)).toSet
    try {
      in.addData(qvecs.take(3): _*)
      q.processAllAvailable()
      assert(latest() == batchOn(Seq(0L, 1L, 2L)), s"batch 1: ${latest()}")
      // later-arriving queries get served; earlier results stand
      in.addData(qvecs.drop(3): _*)
      q.processAllAvailable()
      assert(latest() == batchOn(Seq(0L, 1L, 2L, 3L, 4L, 5L)),
        s"batch 2: ${latest()}")
    } finally q.stop()
  }

  test("passAtKStream equals the batch passAtK after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Boolean)]
    val q = Streams.passAtKStream(in.toDF.toDF("grp", "pass"),
        "grp", "pass", ks = Seq(1, 3))
      .writeStream.format("memory").queryName("passk_s")
      .outputMode(OutputMode.Update).start()
    def latest(): Map[String, (Long, Long, Option[Double], Option[Double])] = {
      val all = spark.table("passk_s")
        .as[(String, Long, Long, Option[Double], Option[Double])].collect()
      all.zipWithIndex.groupBy(_._1._1)
        .map { case (g, vs) =>
          val r = vs.maxBy(_._2)._1; g -> (r._2, r._3, r._4, r._5) }
    }
    def batchOn(rows: Seq[(String, Boolean)]) =
      graft.ops.EvalMetrics.passAtK(rows.toDF("grp", "pass"),
          "grp", org.apache.spark.sql.functions.col("pass"), Seq(1, 3))
        .as[(String, Long, Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    try {
      // batch 1: p1 has n=2 (1 pass) -> pass@3 NULL (n < k); p2 all-fail
      val b1 = Seq(("p1", true), ("p1", false), ("p2", false))
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1), s"after batch 1: ${latest()}")
      // batch 2: p1 crosses n >= 3; p2 gets its first pass; p3 is new
      val b2 = Seq(("p1", false), ("p1", true), ("p2", true), ("p3", true))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1 ++ b2), s"after batch 2: ${latest()}")
    } finally q.stop()
  }

  test("winRateStream equals the batch wilsonWinRate after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = Streams.winRateStream(in.toDF.toDF("win", "lose"), "win", "lose")
      .writeStream.format("memory").queryName("winrate_s")
      .outputMode(OutputMode.Update).start()
    def latest(): Map[String, (Long, Long, Double, Double, Double)] = {
      val all = spark.table("winrate_s")
        .as[(String, Long, Long, Double, Double, Double)].collect()
      all.zipWithIndex.groupBy(_._1._1)
        .map { case (p, vs) =>
          val r = vs.maxBy(_._2)._1; p -> (r._2, r._3, r._4, r._5, r._6) }
    }
    def batchOn(rows: Seq[(String, String)]) =
      graft.ops.EvalMetrics.wilsonWinRate(rows.toDF("win", "lose"),
          "win", "lose")
        .as[(String, Long, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    try {
      val b1 = Seq(("a", "b"), ("a", "c"), ("b", "c"))
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1), s"after batch 1: ${latest()}")
      // c finally wins one; a policy can appear on both legs in one batch
      val b2 = Seq(("c", "a"), ("b", "a"))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(latest() == batchOn(b1 ++ b2), s"after batch 2: ${latest()}")
    } finally q.stop()
  }
}
