package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One closed user session: the state emitted when a gap timeout fires. */
case class SessionResult(userId: Long, nEvents: Long, totalValue: Double,
                         firstTs: Long, lastTs: Long)

/** Running per-key session state. */
/** One kept turn of a streaming conversation thread. */
case class ThreadRun(run: Long, role: String, nEvents: Long, content: String)

/** Bounded per-thread conversation state: the last `maxTurns` runs plus
  * the total run counter — O(maxTurns) forever, never the history.
  */
case class ThreadState(runs: Seq[ThreadRun], nTurns: Long)

case class SessionState(nEvents: Long, totalValue: Double,
                        firstTs: Long, lastTs: Long)

/** Incremental processing — the Spark-native answer to the reference's
  * concurrent stages / incremental inputs (master/src/job_coordinator.erl:
  * 276-294: a stage may start consuming while upstream still produces).
  * Structured Streaming runs the SAME declarative plan incrementally:
  * micro-batches flow through shuffle-partitioned stateful operators, state
  * lives in the state store (RocksDB at cluster scale), and watermarks bound
  * it — the 100 TB/day contract is "state ∝ open windows, not history".
  *
  * Every transform here takes and returns streaming Datasets, so they
  * compose with the batch operators (same Column expressions both ways).
  */
object Streams {

  /** Tumbling-window counts+sums per key with a watermark: late data beyond
    * `watermarkDelay` is dropped and window state is reclaimed — bounded
    * memory under unbounded input.
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valCol: String, windowLen: String,
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"),
        // decimal(38,18): order-independent sum that PRESERVES precision
        // (an (18,2) cast would round every element to cents)
        sum(col(valCol).cast("decimal(38,18)")).cast("double").as("total"))

  /** Streaming exact dedup: first occurrence wins within the watermark
    * horizon (the incremental form of [[graft.dedup.Dedup.exact]]).
    */
  def dedupStream(events: DataFrame, tsCol: String, idCols: Seq[String],
                  watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(idCols :+ tsCol)

  /** Gap-timeout sessionization via flatMapGroupsWithState — the custom
    * per-key state machine surface (Disco's stage `process` with carried
    * state, but incremental and fault-tolerant). A session closes when the
    * EVENT-TIME watermark passes `lastTs + gapMs` for the key — the
    * deterministic, replay-safe timeout (processing-time timeouts depend on
    * wall clocks and re-run differently on recovery).
    *
    * Input: (userId, ts, value); the watermark column is `_2`.
    */
  def sessionize(spark: SparkSession,
                 events: Dataset[(Long, java.sql.Timestamp, Double)],
                 gapMs: Long, watermarkDelay: String = "0 seconds"): Dataset[SessionResult] = {
    import spark.implicits._
    events.toDF("userId", "ts", "value")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionResult(userId, s.nEvents, s.totalValue,
              s.firstTs, s.lastTs))
          } else {
            // fold the batch in event-time order and split on gaps WITHIN
            // it too — a micro-batch may span several sessions, and batch/
            // streaming sessionization must agree (StreamsSpec parity test)
            val evs = it.toArray.sortBy(_._2.getTime)
            var closed = List.empty[SessionResult]
            var cur = state.getOption
            evs.foreach { case (_, ts, v) =>
              val t = ts.getTime
              cur = cur match {
                case Some(s) if t - s.lastTs > gapMs =>
                  closed ::= SessionResult(userId, s.nEvents, s.totalValue,
                    s.firstTs, s.lastTs)
                  Some(SessionState(1L, v, t, t))
                case Some(s) =>
                  Some(SessionState(s.nEvents + 1, s.totalValue + v,
                    math.min(s.firstTs, t), math.max(s.lastTs, t)))
                case None => Some(SessionState(1L, v, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** Streaming conversation assembly — [[graft.ops.Dialog]]'s run-collapse
    * + tail-trim maintained incrementally: per-thread state is a BOUNDED
    * ring of the last `maxTurns` turns (role, merged content, event
    * count) plus the total run counter — O(maxTurns) per thread forever,
    * never the thread's history. Each micro-batch folds its events in
    * (ts, seq) order into the ring: a same-role tail turn EXTENDS (run
    * collapse works across batch boundaries too — the case a
    * batch-at-a-time reimplementation gets wrong), a new role appends
    * and evicts the head. After each batch the thread emits its current
    * (n_turns, n_kept, n_events, transcript) — exactly the batch
    * operator's row, which is the StreamsSpec parity contract. Update
    * output mode.
    */
  def chatThreadsStream(events: DataFrame, threadCol: String, tsCol: String,
                        seqCol: String, roleCol: String, payloadCol: String,
                        maxTurns: Int): DataFrame = {
    require(maxTurns >= 1, s"chatThreadsStream maxTurns: $maxTurns")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(threadCol).cast("long"),
        col(tsCol).cast("timestamp").cast("long"),
        col(seqCol).cast("long"), col(roleCol).cast("string"),
        col(payloadCol).cast("string"))
      .as[(Long, Long, Long, String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ThreadState, (Long, Long, Long, Long, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (thread, it, state: GroupState[ThreadState]) =>
          var st = state.getOption.getOrElse(ThreadState(Vector.empty, 0L))
          it.toArray.sortBy(e => (e._2, e._3)).foreach {
            case (_, _, _, role, payload) =>
              st =
                if (st.runs.nonEmpty && st.runs.last.role == role) {
                  val t = st.runs.last
                  st.copy(runs = st.runs.init :+ t.copy(
                    nEvents = t.nEvents + 1,
                    content = t.content + " | " + payload))
                } else {
                  val nt = st.nTurns + 1
                  ThreadState(
                    (st.runs :+ ThreadRun(nt, role, 1L, payload))
                      .takeRight(maxTurns), nt)
                }
          }
          state.update(st)
          Iterator.single((thread, st.nTurns, st.runs.size.toLong,
            st.runs.map(_.nEvents).sum,
            st.runs.map(r => s"${r.role}: ${r.content}").mkString("\n")))
      }
      .toDF("thread", "n_turns", "n_kept", "n_events", "transcript")
  }

  /** Streaming best-of-n rejection sampling —
    * [[graft.ops.Sampling.bestOfN]] maintained incrementally as
    * candidates arrive: per-prompt state is the BOUNDED current top-n
    * list in the batch op's exact (score DESC, id ASC) order — O(n) per
    * prompt forever, never the candidate history. Each micro-batch
    * merges its arrivals into the list and the prompt re-emits its
    * current ranked selection — row-for-row what the batch operator
    * returns over the same event prefix (the StreamsSpec parity
    * contract), so a reward-model scoring stream can keep a live
    * "SFT favorites" table without rescanning the archive. Update
    * output mode.
    */
  def bestOfNStream(cands: DataFrame, groupCol: String, idCol: String,
                    scoreCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bestOfNStream: n must be >= 1, got $n")
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col(groupCol).cast("string"), col(idCol).cast("long"),
        col(scoreCol).cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Double, Long)], (String, Long, Double, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (grp, it, state: GroupState[Vector[(Double, Long)]]) =>
          val merged = (state.getOption.getOrElse(Vector.empty) ++
              it.map(e => (e._3, e._2)))
            // s + 0.0 normalizes -0.0 to +0.0 before negating: Spark's
            // SQL sort ranks -0.0 == 0.0 (id tie-break) while a raw
            // Scala Ordering on -s would order them strictly — the one
            // edge where the two renderings could disagree
            .sortBy { case (s, id) => (-(s + 0.0), id) }
            .take(n)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((s, id), i) =>
            (grp, id, s, i + 1)
          }
      }
      .toDF("grp", "id", "score", "rank")
  }

  /** Streaming pass@k — [[graft.ops.EvalMetrics.passAtK]] maintained
    * incrementally over an arriving generations stream: per-problem state
    * is the BOUNDED (n, c) count pair (never the sample history); each
    * micro-batch folds its arrivals in and the problem re-emits its
    * current row. The metric projections are
    * [[graft.ops.EvalMetrics.passAtKCols]] — the batch op's own column
    * builder applied to the maintained counts, so after every micro-batch
    * each problem's row equals the batch operator over the same event
    * prefix (the StreamsSpec parity contract). Update output mode.
    */
  def passAtKStream(samples: DataFrame, groupCol: String, passCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"passAtKStream ks: $ks")
    val spark = samples.sparkSession
    import spark.implicits._
    samples.select(col(groupCol).cast("string"),
        col(passCol).cast("boolean"))
      .as[(String, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (grp, it, state: GroupState[(Long, Long)]) =>
          var (n, c) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, pass) => n += 1; if (pass) c += 1 }
          state.update((n, c))
          Iterator.single((grp, n, c))
      }
      .toDF("grp", "n", "c")
      .select(col("grp") +: col("n") +: col("c") +:
        graft.ops.EvalMetrics.passAtKCols(ks): _*)
  }

  /** Streaming arena win rates — [[graft.ops.EvalMetrics.wilsonWinRate]]
    * maintained incrementally over an arriving outcomes stream
    * (winCol = winning policy, loseCol = losing policy): each outcome
    * explodes to its two (policy, win-flag) legs BEFORE the state op, so
    * per-policy state is the bounded (wins, games) pair; the Wilson
    * interval is [[graft.ops.EvalMetrics.wilsonCols]] — the batch
    * projection applied to the maintained counts (batch-parity after
    * every micro-batch). Update output mode.
    */
  def winRateStream(outcomes: DataFrame, winCol: String,
                    loseCol: String): DataFrame = {
    val spark = outcomes.sparkSession
    import spark.implicits._
    outcomes.select(explode(array(
        struct(col(winCol).cast("string").as("policy"), lit(1L).as("w")),
        struct(col(loseCol).cast("string").as("policy"), lit(0L).as("w"))))
        .as("leg"))
      .select(col("leg.policy"), col("leg.w"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (policy, it, state: GroupState[(Long, Long)]) =>
          var (wins, games) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, w) => games += 1; wins += w }
          state.update((wins, games))
          Iterator.single((policy, wins, games))
      }
      .toDF("policy", "wins", "games")
      .select(col("policy") +: col("wins") +: col("games") +:
        graft.ops.EvalMetrics.wilsonCols(): _*)
  }

  /** Streaming ANN SERVING over an exported index
    * ([[graft.similarity.AnnIndex.export]]) — queries ARRIVE as a stream,
    * the index is the static side: per query the nProbe nearest coarse
    * cells are picked by a WINDOWLESS in-row struct sort (streaming plans
    * forbid rank windows; array_sort on (d, cell) structs is the same
    * (d asc, cell asc) order [[graft.similarity.Similarity.probeCells]]
    * uses), candidates come from the stream-static equi-join against the
    * hive-partitioned inverted lists, sims are the SAME codegen'd
    * cosine projection as the batch rank tail, and the per-query top-k is
    * bounded [[bestOfNStream]]-shape state (so a query's list is also
    * maintained correctly if its candidates ever span micro-batches).
    * Emits (query_id, vec_id, sim, rank) in Update mode — row-for-row the
    * batch [[graft.similarity.AnnIndex.servedTopK]] over the same query
    * prefix (StreamsSpec parity).
    */
  def annServeStream(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, queries: DataFrame, queryId: String,
                     queryVec: String, k: Int, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorOps.{vec_dot, vec_norm, vec_sqdist}
    require(k >= 1 && nProbe >= 1, s"annServeStream: k=$k nProbe=$nProbe")
    // resolve the published version ONCE at stream definition: the whole
    // run serves a consistent snapshot even if a rebuild publishes later
    val root = graft.similarity.AnnIndex.resolve(spark, indexPath)
    val centers = graft.similarity.AnnIndex.loadCentroids(spark, root)
    val lists = graft.similarity.AnnIndex.vectorLists(spark, root)
      .select(col("vec_id"), col("v").as("cv"), col("n").as("cn"), col("cell"))
    val q0 = queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
    val cellStructs = centers.zipWithIndex.map { case (c, i) =>
      struct(vec_sqdist(col("qv"), lit(c.toArray)).as("d"),
        lit(i).as("cell"))
    }
    val probes = q0.select(col("query_id"), col("qv"), col("qn"),
      explode(transform(slice(array_sort(array(cellStructs: _*)), 1, nProbe),
        p => p.getField("cell"))).as("cell"))
    val cands = lists.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        vec_dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
      .filter(col("sim").isNotNull && !isnan(col("sim")))
      .select(col("query_id"), col("vec_id"), col("sim"))
      .as[(Long, Long, Double)]
    cands.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Double, Long)], (Long, Long, Double, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (q, it, state: GroupState[Vector[(Double, Long)]]) =>
          val merged = (state.getOption.getOrElse(Vector.empty) ++
              it.map(e => (e._3, e._2)))
            // the batch rank tail's (sim DESC, vec_id ASC) with -0.0
            // normalized to Spark SQL's -0.0 == 0.0 ordering
            .sortBy { case (s, id) => (-(s + 0.0), id) }
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((s, id), i) =>
            // the batch tail's round(sim, 6) — same BigDecimal HALF_UP
            (q, id, BigDecimal(s).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1)
          }
      }
      .toDF("query_id", "vec_id", "sim", "rank")
  }

  /** Streaming heavy hitters — incremental Misra–Gries per group: state is
    * ≤ k−1 counters per group (bounded forever, no TTL needed), updated
    * per micro-batch; after each batch the group's current candidates
    * emit as (group, value, cnt_lower, total). The MG counter is a LOWER
    * bound with error ≤ total/k (the streaming trade-off: an exact
    * recount needs the history — run the batch
    * [[graft.ops.ScaleOps.heavyHittersByGroup]] over the archive when
    * exactness matters); any value with true frequency > total/k is
    * guaranteed present. Update output mode.
    */
  def heavyHittersStream(events: Dataset[(String, String)],
                         k: Int): DataFrame = {
    require(k >= 2, s"heavyHittersStream: k must be >= 2, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Map[String, Long], Long), (String, String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (g, it, state: GroupState[(Map[String, Long], Long)]) =>
          val (prev, prevTotal) =
            state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          counters ++= prev
          var total = prevTotal
          it.foreach { case (_, v) =>
            total += 1
            if (counters.contains(v)) counters(v) += 1
            else if (counters.size < k - 1) counters(v) = 1
            else {
              val dead = counters.iterator.collect {
                case (key, c) if c == 1 => key }.toList
              counters.mapValuesInPlace((_, c) => c - 1)
              dead.foreach(counters.remove)
            }
          }
          state.update((counters.toMap, total))
          counters.iterator.map { case (v, c) => (g, v, c, total) }
      }
      .toDF("group", "value", "cnt_lower", "total")
  }

  /** Streaming per-key quota — the incremental form of
    * [[graft.ops.PrefixSum.budgetCapPerGroup]]: each key accumulates its
    * events' sizes in `mapGroupsWithState` state across micro-batches; an
    * event is accepted while the key's INCLUSIVE running total fits the
    * budget. A crossing event is rejected but still consumes budget — the
    * same no-backfill rule as the batch op, so the stream's accept set
    * equals the batch op's on the same arrival order (spec-pinned).
    * Events sort by `orderCol` WITHIN a micro-batch (cross-batch order is
    * arrival order), so a replayed batch makes identical decisions.
    * State per key is ONE long — millions of keys fit any state store.
    */
  def quotaStream(events: DataFrame, keyCol: String, orderCol: String,
                  sizeCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"quotaStream: budget must be positive, got $budget")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string"), col(orderCol).cast("long"),
        col(sizeCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (k, it, state: GroupState[Long]) =>
          var acc = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_._2).map { case (_, ord, sz) =>
            acc += sz
            (k, ord, acc, acc <= budget)
          }
          state.update(acc)
          out.iterator
      }
      .toDF(keyCol, orderCol, "cum", "accepted")
  }

  /** Streaming NEAR-dup filter: each micro-batch of documents is checked
    * against the accumulated MinHash band index of everything accepted so
    * far (the "dedup an incoming crawl against the corpus" pipeline —
    * the incremental form of [[graft.dedup.Dedup.minhashLshPairs]]).
    * Batch flow, inside foreachBatch:
    *
    *  1. band-hash the batch ([[graft.dedup.Dedup]] machinery, same
    *     signatures as the batch operator),
    *  2. LSH lookup: equi-join on (band, bandHash) against the index,
    *     exact shingle-Jaccard verification of collisions (precision 1,
    *     recall = the banding contract),
    *  3. WITHIN-batch dedup: same band join on the batch itself, keep the
    *     min-id representative of each dup pair,
    *  4. survivors flow to `accept` (the user's sink callback); their
    *     band rows land in the index under `index/batch=<batchId>` —
    *     overwrite-by-batch makes replays idempotent (a re-run batch
    *     rewrites ITS OWN index delta and re-accepts the same survivors).
    *
    * Index shape at scale: parquet partitioned by batch, read as one
    * (band, bandHash)-keyed table; collisions are band-bounded exactly
    * like the batch operator. Compact old batches with
    * [[graft.ops.ScaleOps.compactParquet]] when batch count grows.
    */
  def dedupStreamMinhash(docs: DataFrame, idCol: String, textCol: String,
                         indexPath: String, tau: Double,
                         shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                         checkpointDir: String)(
                         accept: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val bt = graft.dedup.Dedup.bandTable(
          batch, idCol, textCol, shingleN, bands, rowsPerBand)
          .localCheckpoint() // one computation feeds lookup, self-join, index write
        val fs = new org.apache.hadoop.fs.Path(indexPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val haveIndex = fs.exists(new org.apache.hadoop.fs.Path(indexPath))
        def verified(cand: DataFrame): DataFrame = cand
          .withColumn("inter",
            size(array_intersect(col("seta"), col("setb"))).cast("double"))
          .filter(col("inter") /
            (size(col("seta")) + size(col("setb")) - col("inter")) >= tau)
        // vs the accumulated index (skip batch 0 / empty index). PRIOR
        // batches only: on a foreachBatch replay (crash between the
        // batch=<id> index write and the checkpoint commit) this batch's
        // own partition already exists, and without the filter every
        // previously-accepted doc self-matches its own index rows
        // (identical bands, Jaccard 1 ≥ tau) — survivors come back empty
        // and the replay overwrites the index delta empty: silent loss in
        // exactly the path the overwrite-by-batch contract protects.
        val dupVsIndex =
          if (!haveIndex) spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
          else verified(
            bt.as("x").join(
              spark.read.option("basePath", indexPath).parquet(indexPath)
                .filter(col("batch") =!= batchId).as("y"),
              col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
            .select(col("x.id").as("id"), col("x.set").as("seta"),
              col("y.set").as("setb"))
            .distinct())
            .select("id")
        // within-batch: keep the smaller id of each verified dup pair
        val dupInBatch = verified(
          bt.as("x").join(bt.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
              col("x.id") > col("y.id"))
          .select(col("x.id").as("id"), col("x.set").as("seta"),
            col("y.set").as("setb"))
          .distinct())
          .select("id")
        val dups = dupVsIndex.unionByName(dupInBatch).distinct()
          .withColumnRenamed("id", "_dupid") // never collides with idCol
          .withColumn("_dup", lit(true))
        val survivors = batch
          .join(dups, batch(idCol) === dups("_dupid"), "left")
          .filter(col("_dup").isNull)
          .drop("_dupid", "_dup")
          .localCheckpoint() // pin before the index write mutates state
        accept(survivors, batchId)
        bt.join(survivors.select(col(idCol).as("_sid")),
            col("id") === col("_sid"))
          .select("id", "band", "bh", "set")
          .write.mode("overwrite")
          .parquet(s"$indexPath/batch=$batchId")
        ()
      }
      .start()

  /** Streaming LINE-dedup — the incremental form of
    * [[graft.dedup.Dedup.lineDedup]] for a continuously-ingested crawl:
    * each batch's documents are cleaned against the ACCUMULATED line
    * document-frequency index (index + this batch — a line crossing
    * `minDocs` total is removed from this batch's docs onward; documents
    * already emitted in earlier batches are final, the inherent
    * streaming-prefix semantics), then the batch's line counts append to
    * the index under `batch=<id>` — overwrite-by-batch, and prior-batch
    * filtering on read, make a foreachBatch replay after a crash
    * idempotent (the [[dedupStreamMinhash]] contract).
    */
  def lineDedupStream(docs: DataFrame, idCol: String, textCol: String,
                      indexPath: String, minDocs: Int, checkpointDir: String)(
                      emit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val lines = batch.select(col(idCol).as("id"),
            posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
          .localCheckpoint() // feeds counts, anti-join, and the index write
        val batchCounts = lines.groupBy("line")
          .agg(count_distinct(col("id")).as("c"))
          .localCheckpoint() // pinned BEFORE the index write mutates state
        val fs = new org.apache.hadoop.fs.Path(indexPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val haveIndex = fs.exists(new org.apache.hadoop.fs.Path(indexPath))
        val prior =
          if (!haveIndex)
            batchCounts.limit(0).select(col("line"), col("c"))
          else spark.read.option("basePath", indexPath).parquet(indexPath)
            .filter(col("batch") =!= batchId) // replay: skip own partition
            .select(col("line"), col("c"))
        val hot = batchCounts.unionByName(prior)
          .groupBy("line").agg(sum("c").as("ct"))
          .filter(col("ct") >= minDocs)
          .select("line")
        val kept = lines.join(hot, Seq("line"), "left_anti")
        emit(graft.dedup.Dedup.reassembleLines(lines, kept)
          .localCheckpoint(), batchId)
        batchCounts.select("line", "c") // batch comes from the partition path
          .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
        ()
      }
      .start()

  /** Declarative session windows — Spark's native `session_window`
    * (dynamic gap-merged windows in the engine's stateful operator), the
    * built-in dual of the two custom sessionizers here
    * ([[sessionize]] via flatMapGroupsWithState, and the batch
    * [[graft.ops.WindowOps.sessionize]]). Works identically on batch and
    * streaming input (StreamsSpec pins three-way parity): one row per
    * closed session with count/sum and the window bounds.
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
                       valCol: String, gap: String,
                       watermarkDelay: String): DataFrame = {
    val base =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    base
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("nEvents"),
        sum(col(valCol).cast("decimal(38,18)")).cast("double").as("totalValue"))
      .select(col(keyCol), col("session_window.start").as("sessionStart"),
        col("session_window.end").as("sessionEnd"),
        col("nEvents"), col("totalValue"))
  }

  /** Stream-stream interval join: each left event pairs with right events
    * for the same key whose event time lies in [leftTs - before,
    * leftTs + after]. BOTH sides carry watermarks, so Spark bounds the
    * join state to the interval plus the watermark delay — the unbounded
    * "remember the whole other stream" failure mode cannot occur, and
    * state is reclaimed as the watermarks advance (the 100 TB/day
    * contract: state ∝ window, not history).
    *
    * Column contract: `left` has (keyCol, ltsCol, ...), `right` has
    * (keyCol, rtsCol, ...); ltsCol/rtsCol must differ so the interval
    * predicate can reference both sides unambiguously.
    *
    * `joinType` "inner" (default) or "leftOuter": outer emits unmatched
    * left rows (right columns null) — but only once the watermark proves
    * no match can still arrive, so outer results trail the inner ones by
    * the interval + delay. The same time bound that makes outer results
    * CORRECT is what lets the engine drop join state (StreamsSpec pins
    * the eviction via the state-operator metrics, not just the rows).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         ltsCol: String, rtsCol: String,
                         before: String, after: String,
                         watermarkDelay: String,
                         joinType: String = "inner"): DataFrame = {
    require(ltsCol != rtsCol,
      "interval join: left/right timestamp columns must have distinct names")
    require(Seq("inner", "leftOuter").contains(joinType),
      s"interval join: joinType must be inner or leftOuter, got $joinType")
    val l = left.withWatermark(ltsCol, watermarkDelay)
    val r = right.withWatermark(rtsCol, watermarkDelay)
      .withColumnRenamed(keyCol, s"_r_$keyCol")
    l.join(r,
      col(keyCol) === col(s"_r_$keyCol") &&
        col(rtsCol) >= col(ltsCol) - expr(s"INTERVAL $before") &&
        col(rtsCol) <= col(ltsCol) + expr(s"INTERVAL $after"),
      joinType)
      .drop(s"_r_$keyCol")
  }

  /** Streaming distinct-count per window — unique keys per tumbling
    * window (the "unique users per hour" monitor) estimated by the
    * mergeable KMV bottom-k Aggregator
    * ([[graft.functions.Udafs.kmvSketch]]). The batch op
    * ([[graft.functions.Sketches.kmvDistinct]]) is a TakeOrdered plan
    * and cannot run incrementally; the Aggregator form carries the
    * sketch (k longs, sorted) as per-window streaming state and merges
    * partials — bounded memory per window, watermark reclaims state,
    * and the estimate matches the batch op bit-for-bit on the same
    * slice (shared finish formula; StreamsSpec pins parity).
    */
  def distinctCountStream(events: DataFrame, tsCol: String, keyCol: String,
                          windowLen: String, watermarkDelay: String,
                          k: Int = 256): DataFrame = {
    val sk = udaf(graft.functions.Udafs.kmvSketch(k))
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        graft.functions.Sketches.hash60(col(keyCol)).as("h"))
      .where(col("h").isNotNull) // null keys excluded, as in the batch op
      .groupBy(window(col(tsCol), windowLen))
      .agg(sk(col("h")).as("est_distinct"), count(lit(1)).as("n_rows"))
  }

  /** Streaming distinct-count per window on the HyperLogLog register
    * sketch ([[graft.functions.Udafs.hllSketch]]) — the TRULY-fixed-state
    * alternative to [[distinctCountStream]]'s KMV bottom-k: per-window
    * state is exactly 256 register ranks no matter the cardinality, and
    * registers merge by MAX across micro-batch partials. Each window's
    * estimate equals the batch sketch
    * ([[graft.functions.Sketches.hllDistinct]]) of the same slice
    * bit-for-bit (shared geometry + finish formula; StreamsSpec pins
    * parity). Output per window: (window, est_distinct, n_rows).
    */
  def hllDistinctStream(events: DataFrame, tsCol: String, keyCol: String,
                        windowLen: String, watermarkDelay: String): DataFrame = {
    val sk = udaf(graft.functions.Udafs.hllSketch)
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        graft.functions.Sketches.hash60(col(keyCol), "hll").as("h"))
      .where(col("h").isNotNull) // null keys excluded, as in the batch op
      .groupBy(window(col(tsCol), windowLen))
      .agg(sk(col("h")).as("est_distinct"), count(lit(1)).as("n_rows"))
  }

  /** Streaming edit-distance error rates — per-window corpus CER/WER
    * over an arriving (candidate, reference) generation stream. The
    * per-pair metrics are [[graft.ops.OverlapEval.editEvalCols]] — the
    * BATCH op's own row-local projection (shared builder, so the two
    * legs cannot drift) — and the window aggregate is four order-free
    * integer sums + two end divisions, so each window equals
    * [[graft.ops.OverlapEval.editEval]] run batch-side on the same
    * slice (StreamsSpec pins parity). State per window is five longs.
    * Output: (window, pairs, char_edits, ref_chars, cer, word_edits,
    * ref_words, wer).
    */
  def editEvalStream(pairs: DataFrame, tsCol: String, candCol: String,
                     refCol: String, windowLen: String,
                     watermarkDelay: String, werCap: Int = 40): DataFrame = {
    import graft.functions.TextAnalysis.tokensArr
    val cols = graft.ops.OverlapEval.editEvalCols(
      tokensArr(col(candCol)), tokensArr(col(refCol)), werCap)
    pairs.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol) +: cols: _*)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("pairs"), sum("cd").as("char_edits"),
        sum("rc").as("ref_chars"), sum("wd").as("word_edits"),
        sum("rwc").as("ref_words"))
      .select(col("window"), col("pairs"), col("char_edits"),
        col("ref_chars"),
        round(when(col("ref_chars") > 0, col("char_edits").cast("double") /
          col("ref_chars").cast("double")).otherwise(0.0), 6).as("cer"),
        col("word_edits"), col("ref_words"),
        round(when(col("ref_words") > 0, col("word_edits").cast("double") /
          col("ref_words").cast("double")).otherwise(0.0), 6).as("wer"))
  }

  /** Streaming per-window quantiles — "p50/p95 per hour" from the
    * mergeable bottom-k-hash quantile sketch
    * ([[graft.functions.Udafs.quantileSketchAgg]]): per-window state is
    * k (hash, value) pairs, watermark-reclaimed, and each window's
    * estimates equal [[graft.functions.Sketches.quantileSketch]] run
    * batch-side on the same slice bit-for-bit (shared sampling key and
    * read rule; StreamsSpec pins parity). One output column per
    * requested quantile: q0, q1, … in ascending-q order.
    */
  def quantilesStream(events: DataFrame, tsCol: String, keyCol: String,
                      valCol: String, windowLen: String,
                      watermarkDelay: String, k: Int,
                      qs: Seq[Double]): DataFrame = {
    val agg = udaf(graft.functions.Udafs.quantileSketchAgg(k, qs),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Double)]())
    val out = events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        graft.functions.Sketches.hash60(col(keyCol), "qsk").as("h"),
        col(valCol).cast("double").as("v"))
      .groupBy(window(col(tsCol), windowLen))
      .agg(agg(col("h"), col("v")).as("est"), count(lit(1)).as("n_rows"))
    val qCols = qs.sorted.zipWithIndex.map { case (_, i) =>
      element_at(col("est"), i + 1).as(s"q$i") }
    out.select(col("window") +: col("n_rows") +: qCols: _*)
  }

  /** Streaming drift monitor — the incremental form of
    * [[graft.ops.StatsOps.psi]]: per tumbling window, the PSI of the
    * window's value distribution against a FIXED reference profile
    * (`refEdges` = the reference slice's quantile edges, `refShares` =
    * its Laplace-smoothed bin shares — both computed ONCE batch-side and
    * carried as literals, the broadcast-dim pattern). The retrain/alert
    * trigger a production ingest pipeline keeps running.
    *
    * Plan: bin assignment is a codegen'd projection (edges are bins−1
    * literals), then ONE watermarked streaming aggregation per window
    * emitting a bins-wide count row — state per window is `bins` longs,
    * reclaimed at the watermark. The PSI fold over those counts is a
    * stateless projection at emit (fixed bin order ⇒ deterministic).
    * No chained stateful operators, so every output mode works.
    *
    * Output per window: (window, n, psi).
    */
  def driftMonitorStream(events: DataFrame, tsCol: String, valCol: String,
                         refEdges: Seq[Double], refShares: Seq[Double],
                         windowLen: String,
                         watermarkDelay: String): DataFrame = {
    val bins = refEdges.size + 1
    require(refShares.size == bins,
      s"refShares must have ${bins} entries (edges+1): ${refShares.size}")
    val bucket = refEdges.map(e =>
      when(col(valCol) > lit(e), 1).otherwise(0)).reduce(_ + _) + 1
    val counts = events
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), bucket.as("bin"))
      .groupBy(window(col(tsCol), windowLen))
      .agg(sum(when(col("bin") === 1, 1L).otherwise(0L)).as("n1"),
        (2 to bins).map(b =>
          sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"n$b")): _*)
    val n = (1 to bins).map(b => col(s"n$b")).reduce(_ + _)
    val psi = (1 to bins).map { b =>
      val q = (col(s"n$b") + 1).cast("double") / (n + bins).cast("double")
      val p = lit(refShares(b - 1))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    counts.select(col("window"), n.as("n"), round(psi, 4).as("psi"))
  }

  /** Incremental word count — the reference's flagship job as a stream. */
  def wordCountStream(lines: DataFrame, textCol: String): DataFrame =
    lines.select(explode(
        graft.functions.TextAnalysis.tokensArr(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Stream → scheme sink: each micro-batch flows through the BATCH redis
    * writer — the incremental form of the reference's redis output stream
    * (scheme_redis.py:46-49 `redis_output_stream`: task output pushed to a
    * redis list). foreachBatch is the composition point between streaming
    * and every batch sink in [[graft.io]]; batch ids are checkpointed, so
    * a recovered query resumes at the failed batch. RPUSH is append-only —
    * a batch replayed after a mid-batch crash can duplicate (the
    * reference's LPUSH contract is the same); dedupe downstream or key by
    * (batchId, row) where exactly-once matters.
    */
  def toRedis(df: DataFrame, url: String, keyCol: String, valCol: String,
              checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.Redis.write(batch, url, keyCol, valCol)
      }
      .start()

  /** Incremental CDC apply — a stream of changes folded into the parquet
    * snapshot at `snapshotPath` with the batch merge semantics of
    * [[graft.ops.ChangeOps.applyChangelog]] (latest-wins by version,
    * delete tombstones drop keys). Each micro-batch rewrites the snapshot
    * through an atomic swap (write beside → old aside → new in → drop old;
    * a crash between renames leaves `._merge_old` intact beside the path).
    *
    * Replay-safe WITHOUT relying on exactly-once sinks: the merge is
    * idempotent — re-applying a batch's (key, version) changes elects the
    * same winners — so a batch repeated after recovery converges to the
    * same snapshot. Full-rewrite-per-batch is the plain-parquet contract
    * (it is what a table format's row-level MERGE amortizes); batch
    * cadence, not per-row latency, is the operating point.
    */
  /** Streaming MAINTAINED VIEW: a changelog stream keeps BOTH the keyed
    * snapshot and its (group → cnt, sum) aggregate current — the
    * [[graft.ops.ChangeOps.maintainAgg]] incremental merge applied per
    * micro-batch, so the aggregate never recomputes from the snapshot.
    * Layout: `viewPath/snap` + `viewPath/agg`, rebuilt side-by-side into
    * `viewPath._merge_new` and swapped by ONE parent-directory rename —
    * snapshot and aggregate can never be observed out of step (the
    * two-store variant has a crash window between two swaps that replay
    * cannot heal; one parent swap removes it). Crash recovery and replay
    * idempotence follow [[applyChangelogStream]]: a replayed batch's
    * version race re-selects identical winners, so both the snapshot
    * merge and the delta merge are no-ops on the second application.
    * Seed the view once with [[seedMaintainedView]] before starting.
    */
  def maintainedViewStream(changes: DataFrame, viewPath: String,
                           keyCol: String, versionCol: String, opCol: String,
                           groupCol: String, valCol: String,
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(viewPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cur = new org.apache.hadoop.fs.Path(viewPath)
        val neu = new org.apache.hadoop.fs.Path(viewPath + "._merge_new")
        val old = new org.apache.hadoop.fs.Path(viewPath + "._merge_old")
        if (!fs.exists(cur) && fs.exists(old))
          require(fs.rename(old, cur),
            s"view recovery: could not restore $cur from $old")
        val snap = spark.read.parquet(s"$viewPath/snap")
        val agg = spark.read.parquet(s"$viewPath/agg")
        val newAgg = graft.ops.ChangeOps.maintainAgg(agg, snap, batch,
          keyCol, versionCol, opCol, groupCol, valCol).localCheckpoint()
        val newSnap = graft.ops.ChangeOps.applyChangelog(snap, batch,
          keyCol, versionCol, opCol).localCheckpoint()
        fs.delete(neu, true)
        newSnap.write.mode("overwrite").parquet(s"$neu/snap")
        newAgg.write.mode("overwrite").parquet(s"$neu/agg")
        fs.delete(old, true)
        require(fs.rename(cur, old), s"view swap: could not move $cur aside")
        if (!fs.rename(neu, cur)) {
          fs.rename(old, cur)
          throw new IllegalStateException(s"view swap failed for $cur — rolled back")
        }
        fs.delete(old, true)
        ()
      }
      .start()

  /** Materialize the initial snapshot + aggregate pair for
    * [[maintainedViewStream]].
    */
  def seedMaintainedView(snapshot: DataFrame, viewPath: String,
                         groupCol: String, valCol: String): Unit = {
    snapshot.write.mode("overwrite").parquet(s"$viewPath/snap")
    graft.ops.ChangeOps.groupAgg(snapshot, groupCol, valCol)
      .write.mode("overwrite").parquet(s"$viewPath/agg")
  }

  def applyChangelogStream(changes: DataFrame, snapshotPath: String,
                           keyCol: String, versionCol: String, opCol: String,
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // Crash recovery BEFORE reading: a crash between rename(neu, cur)
        // and delete(old) leaves a stale `._merge_old`; a crash between
        // rename(cur, old) and rename(neu, cur) leaves the path missing
        // with the last consistent snapshot in `._merge_old`. Restore it
        // if cur is gone, else the swap below clears the stale leftover.
        locally {
          val fs0 = new org.apache.hadoop.fs.Path(snapshotPath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val cur0 = new org.apache.hadoop.fs.Path(snapshotPath)
          val old0 = new org.apache.hadoop.fs.Path(snapshotPath + "._merge_old")
          if (!fs0.exists(cur0) && fs0.exists(old0))
            require(fs0.rename(old0, cur0),
              s"merge recovery: could not restore $cur0 from $old0")
        }
        val snap = spark.read.parquet(snapshotPath)
        val merged = graft.ops.ChangeOps
          .applyChangelog(snap, batch, keyCol, versionCol, opCol)
          .localCheckpoint() // sever from the files about to be swapped
        val fs = new org.apache.hadoop.fs.Path(snapshotPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cur = new org.apache.hadoop.fs.Path(snapshotPath)
        val neu = new org.apache.hadoop.fs.Path(snapshotPath + "._merge_new")
        val old = new org.apache.hadoop.fs.Path(snapshotPath + "._merge_old")
        fs.delete(neu, true)
        merged.write.mode("overwrite").parquet(neu.toString)
        // clear a stale `._merge_old` from a crash after the new snapshot
        // landed: rename-into-existing fails on local FS and NESTS on HDFS
        fs.delete(old, true)
        require(fs.rename(cur, old), s"merge swap: could not move $cur aside")
        if (!fs.rename(neu, cur)) {
          fs.rename(old, cur) // roll back, never leave the path empty
          throw new IllegalStateException(s"merge swap failed for $cur — rolled back")
        }
        fs.delete(old, true)
        ()
      }
      .start()

  /** Streaming INDEX ABSORB — the landing-directory ingest (the
    * [[warcIngest]] shape) for vector shards: parquet files of
    * (vec_id, v) appearing in `dir` fold through the frozen-quantizer
    * delta append ([[graft.similarity.AnnIndex.appendDelta]]), one
    * delta per micro-batch named by the batch id, committed by the
    * crash-safe `_DELTAS` manifest swap.
    *
    * Exactly-once end to end: the file-source checkpoint makes each
    * shard feed exactly one batch id; the deterministic delta name +
    * overwrite staging + read-only-committed-deltas rule make a
    * post-crash REPLAY of that batch a no-op, whichever side of the
    * crash the data landed on. And because the quantizers are frozen,
    * served results are a pure function of the absorbed vector set —
    * absorb ORDER and batching cannot change them (spec-pinned).
    * Structural rebuilds remain an explicit [[graft.similarity.AnnIndex.export]],
    * which supersedes all deltas under a new published version.
    *
    * `compactEvery` > 0 folds the committed deltas into a fresh
    * versioned base ([[graft.similarity.AnnIndex.maintain]] — frozen
    * quantizers, a pure rewrite) once that many have accumulated, so a
    * long-lived absorb stream never grows an unbounded per-read union
    * of small delta directories. The compaction runs inside the same
    * serialized foreachBatch; a crash between commit and compaction
    * just defers the fold to the next batch, and the `_ABSORBED`
    * ledger keeps replayed batch names exactly-once across it.
    * AT SERVING SCALE prefer `compactEvery = 0` plus an OUT-OF-BAND
    * [[indexMaintainer]] over [[graft.similarity.AnnIndex.maintain]]:
    * the fold is index-body-linear, so the in-batch trigger stalls
    * every `compactEvery`-th micro-batch by the full rewrite while
    * shards queue, whereas the maintainer folds on its own thread and
    * absorb latency stays flat — safe concurrently, because the
    * compactor sweeps late-committed deltas into the new version after
    * publishing and the absorber re-appends if a fold wins its race
    * (the two-sided recheck, spec-pinned).
    */
  def annAbsorbStream(spark: SparkSession, dir: String, indexPath: String,
                      checkpointDir: String, assignNProbe: Int = 0,
                      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          graft.similarity.AnnIndex.appendDelta(batch.sparkSession, batch,
            "vec_id", "v", indexPath, f"d$id%06d", assignNProbe)
          if (compactEvery > 0)
            graft.similarity.AnnIndex.maintain(batch.sparkSession, indexPath,
              minDeltas = compactEvery)
        }
        ()
      }
      .start()
  }

  /** Streaming HYBRID-index absorb — [[annAbsorbStream]]'s lexical+vector
    * twin: parquet shards of (doc_id, text, v) landing in `dir` fold
    * through [[graft.similarity.HybridIndex.appendDelta]] (per-shard
    * postings/termstats/corpusstats partials + vector codes, one atomic
    * named commit per micro-batch), with the same exactly-once
    * replay/crash contract and the same `compactEvery` fold trigger.
    * The served index after any absorb history equals a full export of
    * the union corpus bit-for-bit (disjoint-doc integer statistics —
    * the [[graft.similarity.HybridIndex]] class doc), so an arriving
    * document becomes searchable one micro-batch after it lands.
    */
  def hybridAbsorbStream(spark: SparkSession, dir: String, indexPath: String,
                         checkpointDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint() // 2 consumers: docs + vectors legs
          graft.similarity.HybridIndex.appendDelta(b.sparkSession,
            b.select("doc_id", "text"), "doc_id", "text",
            b.select(col("doc_id").as("vec_id"), col("v")), "vec_id", "v",
            indexPath, f"d$id%06d")
          if (compactEvery > 0)
            graft.similarity.HybridIndex.maintain(b.sparkSession, indexPath,
              minDeltas = compactEvery)
        }
        ()
      }
      .start()
  }

  /** OUT-OF-BAND index maintenance: run `fold` — an
    * [[graft.similarity.AnnIndex.maintain]] /
    * [[graft.similarity.HybridIndex.maintain]] closure — every
    * `periodMs` on a DAEMON thread until the returned handle closes.
    * This is the async form of the absorb streams' `compactEvery`
    * trigger: the index-body-linear fold runs beside the micro-batches
    * instead of inside them, so absorb latency stays flat across a
    * compaction (the fold and the absorber reconcile through the
    * two-sided late-delta recheck — [[graft.similarity.AnnIndex.compact]]).
    * A failing fold is retried next period, never fatal to the stream.
    * Daemon + explicit close: the thread can never hold a driver JVM
    * open (the MiniHttp/MiniRedis lesson).
    */
  def indexMaintainer(periodMs: Long)(fold: () => Unit): AutoCloseable = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!stop.get()) {
        try fold()
        catch { case scala.util.control.NonFatal(_) => () }
        val deadline = System.currentTimeMillis() + periodMs
        while (!stop.get() && System.currentTimeMillis() < deadline)
          Thread.sleep(25)
      }
    }, "graft-index-maintainer")
    t.setDaemon(true)
    t.start()
    () => { stop.set(true); t.join(30000) }
  }

  /** Streaming WARC landing-directory ingestion — the `add_inputs`
    * incremental-job analog at the crawl's front door: `.warc.gz`
    * archives appearing in `dir` stream through HTTP-body extraction →
    * NFC normalize → the ROW-LOCAL quality gate
    * ([[graft.ops.TextOps.qualityRulesLocal]] — stateless, so the whole
    * chain runs append-mode with exactly-once file semantics; the batch
    * gate's chained aggregations cannot stream). Emits one row per
    * response record: (doc_id from the target URI, source from the URI
    * host label, text_clean, n_clean, keep).
    *
    * File grain is the WARC contract (not block-splittable without an
    * index) — same as the batch reader; the file-source checkpoint gives
    * ingest-each-archive-exactly-once across restarts.
    *
    * `extractHtml = true` inserts [[graft.ops.HtmlOps.htmlExtract]]
    * between the HTTP body and the normalize pass — the round-13 crawl
    * front door: real response bodies are markup, and the extraction is
    * a row-local Column chain, so the whole pipeline stays one stateless
    * append-mode projection.
    *
    * `mixedMedia = true` is the round-15 mixed-media front door
    * (q_corpus_run6's streaming twin): each response is dispatched on
    * its parsed HTTP Content-Type — `application/pdf` through the
    * [[graft.io.Pdf]] text walk (row-local byte work inside the same
    * flatMap; line breaks are KEPT and the downstream normalize
    * collapses them to spaces — the pdftotext convention, correct for
    * real PDFs, which break lines BETWEEN words; the fixture builder's
    * mid-word chunking is a batch-query oracle contract, not this
    * ingest's. A malformed PDF yields empty text and is the quality
    * gate's to drop, never a stream-killing throw), everything else
    * through [[graft.ops.HtmlOps.htmlExtract]].
    */
  def warcIngest(spark: SparkSession, dir: String,
                 extractHtml: Boolean = false,
                 mixedMedia: Boolean = false): DataFrame = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val dispatchPdf = mixedMedia
    val parsed = spark.readStream.format("binaryFile").schema(schema)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        graft.io.Warc.decodeFile(path, bytes, strict = true)
          .filter(_.warcType == "response")
          .flatMap { r =>
            for {
              uri <- r.targetUri
              m <- "^https?://([^./]+)[^/]*/doc/(\\d+)$".r.findFirstMatchIn(uri)
              body <- graft.io.Warc.httpBody(r.content)
            } yield {
              if (dispatchPdf) {
                // the shared production dispatch (Warc.mediaText):
                // extract-or-empty, line structure kept for normalize
                val (kind, text) = graft.io.Warc.mediaText(r.content)
                (m.group(2).toLong, m.group(1), kind, text)
              } else (m.group(2).toLong, m.group(1), "html",
                new String(body, "UTF-8"))
            }
          }
      }
      .toDF("doc_id", "source", "kind", "text_raw")
      .pipe(df => if (extractHtml || mixedMedia) df.select(
        col("doc_id"), col("source"),
        when(col("kind") === "html",
          graft.ops.HtmlOps.htmlExtract(col("text_raw")))
          .otherwise(col("text_raw")).as("text_raw"))
      else df.select(col("doc_id"), col("source"), col("text_raw")))
    // one stateless projection end to end: normalize keeps the text, the
    // verdict is the shared row-local signal struct + keep expression —
    // no second leg, no stream-stream join, no state
    graft.ops.TextOps.normalizeText(parsed, "doc_id", "text_raw")
      .select(col("id").as("doc_id"), col("n_clean"), col("text_clean"))
      .withColumn("_q", graft.ops.TextOps.qualitySignalsLocal(col("text_clean")))
      .select(col("doc_id"), col("text_clean"), col("n_clean"),
        (col("_q.n") > 0 &&
          graft.ops.TextOps.qualityKeepExpr(col("_q"))).as("keep"))
  }
}
