package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HYBRID retrieval index persistence — the serving handoff for
  * BM25 + vector-ANN search ([[Similarity.rrfFuse]] over
  * [[graft.ops.TextOps.bm25TopK]] and [[Similarity.bqTopK]] legs).
  *
  * The in-session hybrid recomputes the BM25 statistics and the binary-
  * quantization code table per session; a production retrieval stack
  * builds them ONCE beside the corpus and serves queries from the
  * exported tables. [[export]] materializes both legs' statistics as
  * plain parquet under one root, published, absorbed into and folded by
  * the shared [[IndexLifecycle]] protocol (readers never see a partial
  * index; deltas commit exactly once), and
  * [[servedTopK]] answers hybrid queries from disk with results
  * bit-identical to the in-session composition: the scoring tails are
  * the batch ops' OWN builders ([[graft.ops.TextOps.bm25Rank]],
  * [[Similarity.bqRank]], [[Similarity.rrfFuse]] — shared code, cannot
  * drift), and parquet round-trips longs and doubles exactly.
  *
  * Layout under each published version root `path/v{N}`:
  *  - `postings/`    (tok, doc_id, dl, tf) — the full inverted lists
  *    over EVERY token (a serving index answers arbitrary queries, not a
  *    fixed batch); one token-linear corpus pass.
  *  - `termstats/`   (tok, df) — per-term document frequencies.
  *  - `corpusstats/` one row (n_docs, nonempty_docs, sum_dl, avgdl):
  *    n_docs over ALL documents, the rest over documents with >= 1
  *    token (the bm25TopK convention). The INTEGER sums are stored so
  *    incremental legs combine exactly: n_docs/nonempty/sum_dl add
  *    across disjoint document sets and avgdl re-derives as one
  *    division — bit-identical to a full re-export, no double-sum
  *    ordering hazard.
  *  - `bqcodes/`     (vec_id, code) — the 48-bit sign codes
  *    ([[Similarity.bqTopK]]'s Hamming scan tier; 16 bytes/row).
  *  - `vectors/`     (vec_id, v, n) — full vectors + precomputed norms
  *    for the exact-cosine re-rank of the BQ shortlist.
  *  - `manifest/`    (component, rows) — exact READ-BACK counts through
  *    the SERVED reading rule, base plus committed deltas (the
  *    source-of-truth rule: the manifest says what serves).
  *
  * INCREMENTAL leg ([[appendDelta]]): arriving documents append their
  * postings/termstats/corpusstats partials and their vector codes as a
  * NAMED DELTA under `deltas/{name}/` ([[IndexLifecycle]]'s absorb
  * step). Because BM25's per-term statistics are
  * integer counts over DISJOINT document sets, the served union is
  * bit-identical to a full re-export over the union corpus
  * (parity-spec'd): df sums by token, the corpus sums add, and the BQ
  * plane signs are corpus-independent. The append contract is NEW
  * document ids only — revising a document is a rebuild ([[export]]),
  * as with the ANN index.
  *
  * Scale shape: every export pass is one linear scan + a key-grain
  * aggregation (postings are the wordcount shape); serving reads the
  * postings of the query terms only (broadcast term join — predicate
  * pushdown on `tok`), the 16 B/row code table, and the shortlisted
  * vectors; a delta append touches only the arriving shard. At 100 TB
  * the postings would additionally be bucketed by `tok` for static
  * pruning; the layout is otherwise unchanged.
  */
object HybridIndex extends IndexLifecycle {

  import graft.functions.VectorOps.vec_norm

  /** The five components and their stored columns. */
  private val Parts = Seq(
    "postings"    -> Seq("tok", "doc_id", "dl", "tf"),
    "termstats"   -> Seq("tok", "df"),
    "corpusstats" -> Seq("n_docs", "nonempty_docs", "sum_dl"),
    "bqcodes"     -> Seq("vec_id", "code"),
    "vectors"     -> Seq("vec_id", "v", "n"))
  private val PartCols = Parts.toMap

  /** Build + publish the hybrid index; returns the manifest
    * (component, rows) from read-back counts.
    */
  def export(spark: SparkSession, docs: DataFrame, docId: String,
             textCol: String, vectors: DataFrame, vecId: String,
             vecCol: String, path: String, bits: Int = 48, table: Int = 1,
             maxDim: Int = 1024): DataFrame =
    exportVersion(spark, path) { root =>
      writeComponents(docs, docId, textCol, vectors, vecId, vecCol,
        root, bits, table, maxDim)
    }

  /** avgdl derived from the stored integer sums in one division. */
  private def withAvgdl(sums: DataFrame): DataFrame =
    sums.select(col("n_docs"), col("nonempty_docs"), col("sum_dl"),
      (col("sum_dl").cast("double") / col("nonempty_docs").cast("double"))
        .as("avgdl"))

  /** One corpus slice's five components under `dir` — shared verbatim by
    * the base export and the delta staging, so the two legs cannot
    * drift in tokenization, statistics conventions, or code geometry.
    */
  private def writeComponents(docs: DataFrame, docId: String, textCol: String,
                              vectors: DataFrame, vecId: String,
                              vecCol: String, dir: String, bits: Int,
                              table: Int, maxDim: Int): Unit = {
    val base = docs.select(col(docId).as("doc_id"),
      graft.functions.TextAnalysis.tokensArr(col(textCol)).as("toks"))
    // the LEXICAL leg (postings + termstats + corpusstats, all fed by the
    // checkpointed postings) and the VECTOR leg (bqcodes + vectors, fed by
    // the embeddings table) touch disjoint inputs and write disjoint
    // paths — run them concurrently so the five sequential component
    // writes become two overlapped pipelines
    val lexLeg = () => {
      val postings = base
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("tok"))
        .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
        .localCheckpoint() // 2 consumers: the sink + termstats
      postings.write.mode("overwrite").parquet(s"$dir/postings")
      postings.groupBy("tok").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$dir/termstats")
      // n_docs over ALL documents (zero-token docs included); the other
      // stats over documents with >= 1 token — the bm25TopK/oracle
      // convention. dl comes from the CHECKPOINTED postings (exactly the
      // >= 1-token docs, one row per (tok, doc)) — never a second
      // tokenization scan. Integer sums stored; avgdl is one division.
      withAvgdl(docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(postings.select("doc_id", "dl").distinct()
          .agg(count(lit(1)).as("nonempty_docs"), sum("dl").as("sum_dl"))))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/corpusstats")
    }
    val vecLeg = () => {
      val vecs = vectors.select(col(vecId).as("vec_id"),
        Similarity.asDouble(col(vecCol)).as("v"))
      vecs.select(col("vec_id"),
          Similarity.lshBucket(col("v"), bits, table, maxDim).as("code"))
        .write.mode("overwrite").parquet(s"$dir/bqcodes")
      vecs.withColumn("n", vec_norm(col("v")))
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    graft.core.Jobs.inParallel(Seq(lexLeg, vecLeg))
    ()
  }

  /** EXACTLY-ONCE incremental append — the lexical+vector twin of
    * [[AnnIndex.appendDelta]]: the arriving documents' five components
    * are staged by the SAME builder the base export uses and committed
    * as a named delta by [[IndexLifecycle]]'s absorb step. Served results
    * over the absorbed index are bit-identical to a full re-export of the
    * union corpus (disjoint-doc integer statistics — see the class doc),
    * and a re-stage after a lost fold race writes identical bytes.
    * Returns true when newly committed, false on a replay.
    */
  def appendDelta(spark: SparkSession, docs: DataFrame, docId: String,
                  textCol: String, vectors: DataFrame, vecId: String,
                  vecCol: String, path: String, name: String,
                  bits: Int = 48, table: Int = 1,
                  maxDim: Int = 1024,
                  refreshManifest: Boolean = true): Boolean =
    appendDeltaHooked(spark, docs, docId, textCol, vectors, vecId, vecCol,
      path, name, bits, table, maxDim, () => (), refreshManifest)

  /** [[appendDelta]] with the [[IndexLifecycle]] absorb test seam. */
  private[graft] def appendDeltaHooked(spark: SparkSession, docs: DataFrame,
      docId: String, textCol: String, vectors: DataFrame, vecId: String,
      vecCol: String, path: String, name: String, bits: Int, table: Int,
      maxDim: Int, beforeCommit: () => Unit,
      refreshManifest: Boolean = true): Boolean =
    absorb(spark, path, name, beforeCommit, refreshManifest) { (_, dir) =>
      writeComponents(docs, docId, textCol, vectors, vecId, vecCol, dir,
        bits, table, maxDim)
    }

  /** The hybrid fold: a PURE REWRITE of the stored tables (no
    * re-tokenization) — postings/bqcodes/vectors union as rows, termstats
    * merges by token-sum, corpusstats merges its integer sums and
    * re-derives avgdl. Served bits are unchanged (spec-pinned).
    */
  protected def componentFolds(spark: SparkSession, root: String,
      newRoot: String, deltas: Seq[String]): Seq[() => Unit] =
    Parts.map { case (c, _) => () =>
      val merged = served(spark, root, c, deltas)
      (if (c == "corpusstats") merged.coalesce(1) else merged)
        .write.mode("overwrite").parquet(s"$newRoot/$c")
    }

  // ---------------------------------------------------- served reading rule

  /** Component `c` as served: base plus `deltas`, the statistics merged. */
  private def served(spark: SparkSession, root: String, c: String,
                     deltas: Seq[String]): DataFrame = c match {
    case "termstats"   => unionParts(spark, root, c, PartCols(c), deltas)
      .groupBy("tok").agg(sum("df").as("df"))
    case "corpusstats" => corpusstatsAll(spark, root, deltas)
    case _             => unionParts(spark, root, c, PartCols(c), deltas)
  }

  /** Merged one-row corpus statistics: the stored integer sums add
    * (disjoint document sets — exact) and avgdl re-derives in one
    * division — bit-identical to a full export of the union corpus.
    * Pre-round-16 exports stored only (n_docs, avgdl) — such a LEGACY
    * base still serves as-is when it is the only part (its avgdl is
    * already final), but it cannot combine with deltas: the integer sums
    * are gone, so the merge is checked by [[requireMutable]] at the
    * mutation entries and double-checked here, failing with a re-export
    * message instead of an AnalysisException over a missing column.
    */
  private def corpusstatsAll(spark: SparkSession, root: String,
                             deltas: Seq[String]): DataFrame = {
    val base = graft.core.Tables.parquet(spark, s"$root/corpusstats")
    if (!base.columns.contains("sum_dl")) {
      if (deltas.nonEmpty) throw new IllegalStateException(legacyMsg(root))
      base.select(col("n_docs"), col("avgdl"))
    } else withAvgdl(
      unionParts(spark, root, "corpusstats", PartCols("corpusstats"), deltas)
        .agg(sum("n_docs").as("n_docs"),
          sum("nonempty_docs").as("nonempty_docs"), sum("sum_dl").as("sum_dl")))
  }

  private def legacyMsg(root: String): String =
    s"hybrid index at $root stores legacy corpusstats (n_docs, avgdl " +
      "only, pre-integer-sums): incremental merge cannot be exact " +
      "without the stored sums - re-export the index before appending " +
      "or compacting"

  /** Loud guard for the mutation entries: a legacy (2-column) base can
    * serve read-only but must not grow deltas it can never merge.
    */
  override protected def requireMutable(spark: SparkSession, root: String): Unit =
    if (!graft.core.Tables.parquet(spark, s"$root/corpusstats").columns.contains("sum_dl"))
      throw new IllegalStateException(legacyMsg(root))

  /** Read-back counts through the SERVED reading rule (base + committed
    * deltas; termstats/corpusstats counted after their merge).
    */
  protected def manifestPlan(spark: SparkSession, root: String): DataFrame = {
    val deltas = committedDeltas(spark, root)
    Parts.map { case (c, _) =>
      served(spark, root, c, deltas).agg(count(lit(1)).as("rows"))
        .select(lit(c).as("component"), col("rows"))
    }.reduce(_ unionByName _)
  }

  /** Answer hybrid top-k FROM THE EXPORTED TABLES: the BM25 leg scores
    * the query terms' postings with [[graft.ops.TextOps.bm25Rank]], the
    * vector leg Hamming-shortlists the stored code table and re-ranks
    * with [[Similarity.bqRank]] (stored norms reused), and the legs fuse
    * through [[Similarity.rrfFuse]] — bit-identical to the in-session
    * `rrfFuse(bm25TopK, bqTopK)` composition over the same corpus/params,
    * whether the corpus arrived by one [[export]] or through
    * [[appendDelta]] shards (the committed-delta union IS the corpus).
    */
  def servedTopK(spark: SparkSession, path: String,
                 lexQueries: Seq[(Int, Seq[String])], queryVecs: DataFrame,
                 queryId: String, queryVec: String, k: Int, legK: Int = 20,
                 cands: Int = 100, k1: Double = 1.2, b: Double = 0.75,
                 bits: Int = 48, table: Int = 1, maxDim: Int = 1024,
                 k0: Int = 60): DataFrame = {
    require(lexQueries.nonEmpty && lexQueries.forall(_._2.nonEmpty),
      "servedTopK: empty lexical query batch")
    import spark.implicits._
    servedTopKBatch(spark, path,
      lexQueries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("qid", "tok"),
      queryVecs, queryId, queryVec, k, legK, cands, k1, b, bits, table,
      maxDim, k0)
  }

  /** [[servedTopK]] with the query batch as DATA — the
    * [[AnnIndex.servedTopK]] DataFrame form, for the batch RAG-labeling
    * job that scores a million STORED queries against the served index:
    * `lexQueries` is a (qid, tok) table (one row per query term; the
    * Seq entry flattens to exactly this and delegates here, so the two
    * forms are the same plan — bit-parity is structural). The query
    * batch never routes through the driver: the BM25 leg joins the
    * postings on the DISTINCT term table (broadcast — vocabulary-grain,
    * not query-grain, the [[graft.ops.TextOps.bm25TopK]] shape) and the
    * vector leg is the usual code-table scan against `queryVecs`.
    */
  def servedTopKBatch(spark: SparkSession, path: String,
                 lexQueries: DataFrame, queryVecs: DataFrame,
                 queryId: String, queryVec: String, k: Int, legK: Int = 20,
                 cands: Int = 100, k1: Double = 1.2, b: Double = 0.75,
                 bits: Int = 48, table: Int = 1, maxDim: Int = 1024,
                 k0: Int = 60): DataFrame = {
    // resolve ONCE so every component comes from the same version even if
    // a rebuild publishes mid-query
    val root = IndexPublish.resolve(spark, path)
    val deltas = committedDeltas(spark, root)
    val qt = lexQueries.select(col("qid"), col("tok"))
    val terms = qt.select("tok").distinct()
    val hits = served(spark, root, "postings", deltas)
      .join(broadcast(terms), "tok")
      .select("doc_id", "dl", "tok", "tf")
    // df partials filtered to the query terms BEFORE the merge sum — the
    // broadcast join pushes down to every part's parquet scan
    val dfreq = unionParts(spark, root, "termstats", PartCols("termstats"), deltas)
      .join(broadcast(terms), "tok")
      .groupBy("tok").agg(sum("df").as("df"))
    val stats = corpusstatsAll(spark, root, deltas).select("n_docs", "avgdl")
    val lex = graft.ops.TextOps.bm25Rank(hits, dfreq, stats, qt, legK, k1, b)
      .select(col("qid").as("query_id"), col("doc_id"), col("rank"))
    val q0 = queryVecs
      .select(col(queryId).as("query_id"),
        Similarity.asDouble(col(queryVec)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
      .withColumn("qcode", Similarity.lshBucket(col("qv"), bits, table, maxDim))
    val vec = Similarity.bqRank(
        served(spark, root, "bqcodes", deltas),
        served(spark, root, "vectors", deltas)
          .select(col("vec_id"), col("v").as("cv"), col("n").as("cn")),
        q0, legK, cands)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    Similarity.rrfFuse(Seq(lex, vec), k, k0)
  }
}
