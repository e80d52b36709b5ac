package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus, a
  *    per-partition top-k heap via window row_number after repartition by
  *    query. The exactness baseline.
  *  - [[lshTopK]]: random-hyperplane (sign) LSH — corpus and queries get a
  *    b-bit bucket from md5-derived ±1 hyperplanes; candidates are
  *    bucket-equal rows, then exact cosine re-rank. At 100 TB the bucket
  *    join replaces the full crossJoin: cost ~ (corpus/2^b) per query.
  *    Hyperplane signs are md5-derived so signatures are deterministic and
  *    engine-portable; the signed dot is a fixed left-to-right IEEE double
  *    fold (see [[lshBucket]]), bit-identical at any partitioning and in
  *    any engine that folds in the same order.
  *
  * All arithmetic casts float → double before multiplying (both engines do
  * the same widening); dots/norms are native codegen'd folds
  * ([[graft.functions.VectorOps]]) in fixed left-to-right IEEE order, and
  * norms are computed once per vector before any join.
  */
object Similarity {

  import graft.functions.VectorOps.{vec_dot, vec_dot_prefix, vec_norm, planeSigns}

  /** Cosine similarity of two array<double> columns. The dot is the native
    * codegen'd fold ([[graft.functions.DotProduct]]) — identical fixed
    * left-to-right IEEE order as the previous `aggregate(zip_with(...))`
    * formulation, so oracle values are unchanged; just no interpreted
    * lambdas or per-pair zipped-array allocation.
    */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  private[similarity] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Shared re-rank tail of every top-k path: exact cosine from the
    * precomputed side norms (`cn`, `qn` — one dot per pair instead of
    * three; sim = dot/(cn·qn) is the identical IEEE value), guard, window
    * rank, round. The guard drops null sims (zero-norm vector, or length
    * mismatch) and NaN sims (NaN component) — without it a null pads out
    * under-k queries and a NaN sorts ABOVE every real similarity, becoming
    * everyone's rank-1 neighbor.
    */
  private[similarity] def rankTopK(cands: DataFrame, k: Int): DataFrame =
    cands
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", vec_dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
      .filter(col("sim").isNotNull && !isnan(col("sim")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"), round(col("sim"), 6).as("sim"))

  /** Exact top-k neighbors for each query vector (queries small → broadcast).
    * Output: query_id, vec_id, rank, sim (rounded for cross-engine output
    * stability; ranking uses full precision with vec_id tie-break).
    *
    * Ranking note (applies to every topK here): the row_number window puts
    * one query's candidates on one task. That is the design contract — the
    * query set is small and per-query candidates are bucket-bounded (LSH/
    * IVF) or corpus-partial (brute force top-k could pre-reduce per
    * partition if a single query's candidate list ever outgrew a task).
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    rankTopK(corpus.select(col(corpusId).as("vec_id"),
        asDouble(col(corpusVec)).as("cv"))
      .withColumn("cn", vec_norm(col("cv")))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"),
        asDouble(col(queryVec)).as("qv"))
        .withColumn("qn", vec_norm(col("qv"))))), k)
  }

  /** Hard-negative mining for contrastive/embedding training (the DPR
    * recipe, Karpukhin et al. 2020: the negatives that teach are the
    * most-similar WRONG answers, not random draws): for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label. The label-inequality predicate runs before the rank window,
    * so ranks are over negatives only and a query's own positives never
    * crowd the list. Same exact-cosine rank tail as [[bruteForceTopK]];
    * at corpus scale the candidate stage swaps for the ANN paths
    * (prefix shortlist / IVF probes) unchanged — the label filter and
    * rank tail compose with any candidate generator, and brute force
    * stays as the exactness baseline the recall monitor measures
    * against. Output: (query_id, vec_id, rank, sim), negatives only.
    */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    corpusLabel: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    queryLabel: String, k: Int): DataFrame =
    rankTopK(corpus.select(col(corpusId).as("vec_id"),
        asDouble(col(corpusVec)).as("cv"), col(corpusLabel).as("_clab"))
      .withColumn("cn", vec_norm(col("cv")))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"),
        asDouble(col(queryVec)).as("qv"), col(queryLabel).as("_qlab"))
        .withColumn("qn", vec_norm(col("qv")))))
      .filter(col("_clab") =!= col("_qlab"))
      .drop("_clab", "_qlab"), k)

  /** Matryoshka TWO-STAGE retrieval (the MRL serving pattern, Kusupati
    * et al. 2022: embeddings trained so any prefix of dims is itself a
    * valid lower-resolution embedding): stage 1 shortlists by cosine on
    * the first `prefixDims` dims — at scale that prefix lives in a
    * 4-16× smaller index and the scan is proportionally cheaper —
    * stage 2 re-ranks ONLY each query's `shortlist` candidates with the
    * exact full-dim cosine. Recall loss is confined to candidates the
    * prefix ranking pushes below `shortlist`; the final ordering among
    * survivors is exact.
    *
    * Both stages are the [[bruteForceTopK]] shape (codegen'd prefix
    * dots, per-query rank windows over bounded candidate sets); the
    * full-dim work collapses from corpus × queries to shortlist ×
    * queries. Output: (query_id, vec_id, rank, sim), exact sims.
    */
  def prefixRerankTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       prefixDims: Int, shortlist: Int, k: Int): DataFrame = {
    require(prefixDims >= 1 && shortlist >= k && k >= 1,
      s"prefixRerankTopK: prefixDims=$prefixDims shortlist=$shortlist k=$k")
    val pc = corpus.select(col(corpusId).as("vec_id"),
        asDouble(col(corpusVec)).as("cv"))
      .withColumn("pv", slice(col("cv"), 1, prefixDims))
      .withColumn("pn", vec_norm(col("pv")))
    val pq = broadcast(queries.select(col(queryId).as("query_id"),
        asDouble(col(queryVec)).as("qv"))
      .withColumn("pqv", slice(col("qv"), 1, prefixDims))
      .withColumn("pqn", vec_norm(col("pqv"))))
    val short = pc.crossJoin(pq)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("psim", vec_dot(col("pv"), col("pqv")) / (col("pn") * col("pqn")))
      .filter(col("psim").isNotNull && !isnan(col("psim")))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("psim").desc, col("vec_id").asc)))
      .filter(col("prank") <= shortlist)
    short
      .withColumn("cn", vec_norm(col("cv")))
      .withColumn("qn", vec_norm(col("qv")))
      .withColumn("sim", vec_dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** b-bit sign-LSH bucket of a vector (table t): bit j = [dot(plane_j,v)>0],
    * plane component (t,j,d) = ±1 by the first hex digit of md5("t:j_d")
    * being < '8' — deterministic and engine-portable (the DuckDB oracle
    * replicates the rule in SQL).
    *
    * The signs depend only on (table, plane, dim), NOT the data, so each
    * plane's sign vector is baked at the driver as a `maxDim`-capacity
    * literal ([[graft.functions.VectorOps.planeSigns]] — the exact md5
    * rule) and the signed sum is one codegen'd prefix dot per plane —
    * instead of an md5 PER ELEMENT PER ROW. The fold is the same fixed
    * left-to-right double order: bit-identical buckets at any partitioning
    * and in any IEEE-754 engine folding in the same order.
    *
    * Vectors longer than `maxDim` fail loudly (a silent bucket-0 collapse
    * would be a perf cliff and an oracle divergence); raise `maxDim` for
    * wider embeddings — it is plumbed through every public caller. A null
    * vector gets a null bucket (drops out of the bucket equi-join — same
    * net output as the old form, where it hashed to bucket 0 and its null
    * sim was filtered downstream).
    */
  def lshBucket(vec: Column, bits: Int, table: Int = 0,
                maxDim: Int = 1024): Column = {
    // one SignPack expression instead of `bits` separate prefix-dot folds:
    // per plane the identical IEEE fold and > 0 rule (buckets bit-for-bit
    // unchanged, oracles untouched), but the generated projection is two
    // small loops over ONE flattened literal — at 48 planes the unrolled
    // form outgrew the JIT and ran interpreted (7-10x, round-14 probe)
    val packed = graft.functions.VectorOps.vec_sign_pack(vec,
      graft.functions.VectorOps.planeSignsFlat(table, bits, maxDim), bits)
    when(vec.isNull, lit(null).cast("long"))
      .when(size(vec) <= maxDim, packed)
      .otherwise(raise_error(concat(
        lit("lshBucket: vector dim "), size(vec).cast("string"),
        lit(s" exceeds sign-table capacity $maxDim"))).cast("long"))
  }

  /** ANN: same-bucket candidates re-ranked by exact cosine; top-k per query.
    * `tables` independent hash tables amplify recall (candidates = union of
    * same-bucket matches across tables) at `tables`× the probe cost — the
    * classic L-table LSH tradeoff. At scale each table is one equi-join on a
    * bucket id; corpus signatures are computed once per table in the same
    * scan. Recall < 1 by construction; determinism = exact.
    */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, bits: Int = 8, tables: Int = 1,
              maxDim: Int = 1024): DataFrame = {
    val c0 = corpus.select(col(corpusId).as("vec_id"), asDouble(col(corpusVec)).as("cv"))
      .withColumn("cn", vec_norm(col("cv")))
    val q0 = queries.select(col(queryId).as("query_id"), asDouble(col(queryVec)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
    val cands = (0 until tables).map { t =>
      val c = c0.withColumn("bucket", lshBucket(col("cv"), bits, t, maxDim))
      val q = q0.withColumn("bucket", lshBucket(col("qv"), bits, t, maxDim))
      c.join(broadcast(q), "bucket").drop("bucket")
    }.reduce(_ unionByName _).distinct()
    rankTopK(cands, k)
  }

  /** Binary-quantization ANN (the modern vector-DB compression path —
    * signed-random-projection codes in the Charikar 2002 SimHash family):
    * each vector compresses to `bits` sign bits packed in ONE int64 (the
    * [[lshBucket]] packing, a fresh plane table), candidate generation is a
    * Hamming scan — XOR + popcount per (vector, query), two codegen'd
    * instructions instead of a `dim`-wide dot product — and only each
    * query's `cands` Hamming-nearest rows are fetched for the exact cosine
    * re-rank.
    *
    * Scale shape: the corpus code table is 16 bytes/row (id + code) — a
    * 64-dim float vector compresses 16×, so the candidate scan reads 1/16th
    * the bytes of brute force and never shuffles a fat array; the shortlist
    * is the two-level [[graft.ops.ScaleOps.smallestKPerGroup]] heap
    * (per-partition k, no global sort); the vector fetch joins the
    * |Q|·cands-row shortlist (broadcast) back to the corpus, so full
    * vectors are read only for candidates. At 100 TB the code table is the
    * thing you materialize beside the corpus ([[AnnIndex]] pattern) and the
    * Hamming scan composes with IVF cells. Recall < 1 by construction —
    * `bits`/`cands` trade recall for scan cost (recall measured in
    * DedupSimilaritySpec); determinism = exact: integer Hamming with
    * vec_id tie-break, same plane-sign md5 rule as [[lshBucket]] so the
    * oracle replays codes bit-for-bit.
    */
  def bqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int, bits: Int = 48, cands: Int = 50, table: Int = 1,
             maxDim: Int = 1024): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bqTopK: bits in [1,62] (got $bits)")
    require(cands >= k, s"bqTopK: cands ($cands) must be >= k ($k)")
    // materialize the code table (the thing you'd persist beside the
    // corpus at 100 TB): without the cut, projection collapse inlines the
    // bits-plane packing into the per-(vector, query) join output and the
    // codes recompute |Q| times (measured 10x at 16 queries, round 14)
    val codes = corpus
      .select(col(corpusId).as("vec_id"), asDouble(col(corpusVec)).as("cv0"))
      .select(col("vec_id"), lshBucket(col("cv0"), bits, table, maxDim).as("code"))
      .localCheckpoint()
    val q0 = queries
      .select(col(queryId).as("query_id"), asDouble(col(queryVec)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
      .withColumn("qcode", lshBucket(col("qv"), bits, table, maxDim))
    bqRank(codes,
      corpus.select(col(corpusId).as("vec_id"), asDouble(col(corpusVec)).as("cv")),
      q0, k, cands)
  }

  /** The Hamming-shortlist + exact-cosine re-rank tail shared by
    * [[bqTopK]] and the exported-index reader
    * ([[HybridIndex.servedTopK]]) — ONE builder, so the in-session and
    * served renderings cannot drift. Inputs: `codes(vec_id, code)`,
    * `vectors(vec_id, cv[, cn])` (the norm is computed post-shortlist
    * when absent; a stored norm is reused — parquet round-trips doubles
    * exactly), `q0(query_id, qv, qn, qcode)`.
    */
  private[graft] def bqRank(codes: DataFrame, vectors: DataFrame,
                            q0: DataFrame, k: Int, cands: Int): DataFrame = {
    val ham = codes
      .crossJoin(broadcast(q0.select(col("query_id"), col("qcode"))))
      .select(col("query_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("hd"), col("vec_id"))
    val shortlist = graft.ops.ScaleOps
      .smallestKPerGroup(ham, "query_id", Seq("hd", "vec_id"), cands)
      .select("query_id", "vec_id")
    val fetched0 = vectors.join(broadcast(shortlist), Seq("vec_id"))
    val fetched = if (vectors.columns.contains("cn")) fetched0
      else fetched0.withColumn("cn", vec_norm(col("cv")))
    rankTopK(fetched.join(broadcast(
      q0.select(col("query_id"), col("qv"), col("qn"))), Seq("query_id")), k)
  }

  /** IVF ANN — the inverted-file scale path: a coarse k-means quantizer
    * ([[graft.chain.KMeans]], deterministic init + decimal-exact centers)
    * partitions the corpus into `cells`; each query probes its `nProbe`
    * nearest cells and exact-cosine re-ranks only those cells' vectors.
    *
    * Scale shape: corpus assignment is a codegen'd argmin scan (centers are
    * a broadcast literal — k×dim doubles), the probe list is |Q|×nProbe
    * rows broadcast to a cell equi-join, so candidate volume is
    * ~ corpus·nProbe/cells per query set instead of a full scan per query.
    * At 100 TB you'd train the quantizer on a [[graft.ops.Sampling]]
    * hashSample of the corpus and raise `cells` to keep cells scan-sized.
    * Recall < 1 by construction (a neighbor outside the probed cells is
    * missed) — the classic IVF tradeoff; determinism = exact (k-means init,
    * centers, tie-breaks are all fixed).
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, cells: Int = 16, nProbe: Int = 2,
              lloydIters: Int = 3, fitRate: Double = 1.0,
              salt: String = "ivffit", assignNProbe: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    // the scaladoc's 100 TB contract, literal: fitRate < 1 trains the
    // quantizer on a deterministic hash sample (one extra assign pass
    // places everything); assignNProbe > 0 routes that assign through
    // ~√cells coarse cells (KMeans.assignRouted) when cells ∝ n
    val fit =
      if (fitRate >= 1.0) corpus
      else graft.ops.Sampling.hashSample(corpus, col(corpusId), fitRate, salt)
    val (centers, fitAssigned) =
      graft.chain.KMeans.run(spark, fit, corpusId, corpusVec, cells, lloydIters)
    val assigned =
      if (fitRate >= 1.0) fitAssigned
      else if (assignNProbe > 0)
        graft.chain.KMeans.assignRouted(corpus, corpusId, corpusVec, centers,
          assignNProbe)
      else graft.chain.KMeans.assign(corpus, corpusId, corpusVec, centers)
    val corpusCells = assigned.select(
      col("id").as("vec_id"), col("v").as("cv"), col("cluster").as("cell"))
      .withColumn("cn", vec_norm(col("cv")))
    rankTopK(corpusCells.join(
      broadcast(probeCells(queries, queryId, queryVec, centers, nProbe)), "cell"), k)
  }

  /** The IVF probe list: each query's `nProbe` nearest coarse cells
    * (squared euclidean, lowest-cell tie-break) — shared by [[ivfTopK]]
    * and the exported-index reader ([[AnnIndex.servedTopK]]), so the
    * served path cannot drift from the in-session one.
    */
  private[similarity] def probeCells(queries: DataFrame, queryId: String,
      queryVec: String, centers: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    val q0 = queries.select(col(queryId).as("query_id"),
      asDouble(col(queryVec)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
    val centArr = array(centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), lit(c.toArray).as("cv"))
    }: _*)
    q0.select(col("query_id"), col("qv"), col("qn"),
        explode(centArr).as("cent"))
      .withColumn("d",
        graft.functions.VectorOps.vec_sqdist(col("qv"), col("cent.cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d").asc, col("cent.cell").asc)))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cent.cell").as("cell"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-search combiner: given N ranked lists per query
    * (lexical BM25, vector ANN, …), score every (query, doc) by
    * Σ_lists 1/(k0 + rank) and re-rank. Rank-based fusion needs no score
    * calibration between modalities, which is why production hybrid
    * retrieval defaults to it.
    *
    * Inputs: each list as (query_id, doc_id, rank). The fused score is a
    * FIXED left-to-right sum of per-list `coalesce(1/(k0+rank), 0)` terms
    * via left joins from the candidate universe — not a groupBy-sum, so
    * the double addition order is list-order-deterministic for any number
    * of legs and the DuckDB twin replays it bit-for-bit.
    *
    * Scale shape: the legs are top-k lists — |Q|·k rows each — so fusion
    * is broadcast-sized relational work no matter the corpus; all the
    * heavy lifting stays in the leg operators ([[graft.ops.TextOps
    * .bm25TopK]], [[bqTopK]], [[ivfTopK]]), each already scan-bounded.
    * Output: (query_id, doc_id, rank, rrf), top `k` per query, ties
    * broken by doc_id.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(lists.size >= 2, s"rrfFuse: need >= 2 lists (got ${lists.size})")
    require(k >= 1 && k0 >= 1, s"rrfFuse: k/k0 must be >= 1 ($k/$k0)")
    // each leg feeds TWO consumers (the candidate universe + its rank
    // join) — cut the |Q|·k-row lists once so the leg pipelines (BM25
    // scoring, ANN scans) run once, not twice (plan-guarded: the fused
    // plan contains no leg re-evaluation). The legs are INDEPENDENT
    // pipelines over different tables, so their checkpoint jobs overlap
    // (round 18, guide §2.6): the lexical and vector legs materialize
    // concurrently instead of back to back.
    val keyed = graft.core.Jobs.inParallel(
      lists.zipWithIndex.map { case (l, i) => () =>
        l.select(col("query_id").cast("long").as("query_id"),
          col("doc_id").cast("long").as("doc_id"),
          col("rank").cast("long").as(s"_r$i"))
          .localCheckpoint()
      })
    val universe = keyed.map(_.select("query_id", "doc_id"))
      .reduce(_ unionByName _).distinct()
    val joined = keyed.foldLeft(universe)(
      (acc, l) => acc.join(l, Seq("query_id", "doc_id"), "left"))
    val score = keyed.indices.map(i =>
        coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"_r$i").cast("double")),
          lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    * semantic deduplication by clustering. Cluster the corpus embeddings
    * with deterministic k-means ([[graft.chain.KMeans]]), then WITHIN each
    * cluster drop every vector that has a cosine neighbor (sim >= tau)
    * that is more keepable — the paper's rule keeps the member with the
    * LOWEST cosine similarity to its cluster centroid (retaining each
    * cluster's diverse boundary examples over its dense core); id breaks
    * ties.
    *
    * Scale shape (the whole point of the clustering step): pairwise work
    * is cluster-bounded — Σ|cluster|² instead of n². k grows with n
    * (the paper uses k ≈ n/10⁴) so cluster sizes stay bounded; the
    * intra-cluster join is an equi-join on the cluster id (AQE handles
    * residual skew), never a cartesian. At 100 TB the quantizer trains on
    * a [[graft.ops.Sampling.hashSample]] of the corpus exactly like IVF.
    *
    * Deterministic: k-means init/tie-breaks fixed, centers decimal-exact,
    * sims fixed-order IEEE folds → engine-reproducible keep decisions
    * (the DuckDB oracle replays quantizer + keep rule bit-for-bit).
    *
    * Output: (id, cluster, keep) for every input row.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
               k: Int = 8, lloydIters: Int = 3,
               storage: Option[StorageLevel] = Some(StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    val spark = df.sparkSession
    val (centers, assigned) =
      graft.chain.KMeans.run(spark, df, idCol, vecCol, k, lloydIters)
    clusterVerdicts(centers, assigned, tau, storage)
  }

  /** [[semDedup]] with the quantizer FIT on a deterministic hash sample
    * (the scaladoc's 100 TB contract, now literal): Lloyd trains on
    * ~`fitRate` of the corpus, then ONE [[graft.chain.KMeans.assign]]
    * pass places every vector. Training cost drops from
    * `lloydIters · n · k` distance evals to `lloydIters · fitRate·n · k`
    * + one `n · k` assign — at the paper's k ∝ n operating point that is
    * the difference between 4 quadratic-ish passes and 1. Same verdict
    * rule, same determinism (the sample is a hash predicate both engines
    * replay).
    */
  def semDedupSampledFit(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, k: Int = 8, lloydIters: Int = 3, fitRate: Double = 0.1,
      salt: String = "sdfit",
      storage: Option[StorageLevel] = Some(StorageLevel.MEMORY_AND_DISK),
      assignNProbe: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val fit = graft.ops.Sampling.hashSample(df, col(idCol), fitRate, salt)
    val (centers, _) =
      graft.chain.KMeans.run(spark, fit, idCol, vecCol, k, lloydIters)
    // assignNProbe > 0 routes the full-corpus assign through ~√k coarse
    // cells (KMeans.assignRouted — the FAISS-IVF rule): at k ∝ n the
    // exact n·k scan is the pipeline's one remaining superlinear pass
    val assigned =
      if (assignNProbe > 0)
        graft.chain.KMeans.assignRouted(df, idCol, vecCol, centers, assignNProbe)
      else graft.chain.KMeans.assign(df, idCol, vecCol, centers)
    clusterVerdicts(centers, assigned, tau, storage)
  }

  /** The SemDeDup verdict tail shared by the full-corpus and sampled-fit
    * quantizers: centroid-cosine ranking within each cluster, drop any
    * vector a better-ranked cluster-mate covers at `tau`.
    */
  private def clusterVerdicts(centers: Seq[Seq[Double]], assigned: DataFrame,
      tau: Double, storage: Option[StorageLevel]): DataFrame = {
    val centArr = array(centers.map(c => lit(c.toArray)): _*)
    val scoredPlan = assigned
      .withColumn("n", vec_norm(col("v")))
      .withColumn("cent", element_at(centArr, col("cluster") + 1))
      .withColumn("csim",
        vec_dot(col("v"), col("cent")) / (col("n") * vec_norm(col("cent"))))
      .select("id", "v", "cluster", "n", "csim")
    // caller-chosen level (Dedup cache contract): a 100 TB corpus's scored
    // vectors want DISK_ONLY or no cache rather than the memory default
    val scored = storage.map(scoredPlan.persist).getOrElse(scoredPlan)
    val dropped = scored.as("x").join(scored.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") =!= col("y.id") &&
          (col("y.csim") < col("x.csim") ||
            (col("y.csim") === col("x.csim") && col("y.id") < col("x.id"))))
      .withColumn("sim",
        vec_dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")))
      // same NaN guard rationale as rankTopK: a NaN compares true under >=
      // in no engine consistently — drop it before it fabricates a dup
      .filter(!isnan(col("sim")) && col("sim") >= tau)
      .select(col("x.id").as("id")).distinct()
    scored
      .join(dropped.withColumn("_drop", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("_drop").isNull.as("keep"))
  }

  /** [[semDedup]] with the paper's k-scaling contract automated:
    * k = max(kMin, ceil(n / docsPerCluster)) from one cheap count, so
    * expected cluster sizes stay ~docsPerCluster as the corpus grows and
    * the intra-cluster Σ|c|² pairwise work stays ~n·docsPerCluster instead
    * of silently degrading toward n²/k with a fixed k. The paper's
    * operating point is docsPerCluster ≈ 10⁴ (k ≈ n/10⁴); fixtures and
    * specs pass a smaller value to exercise the scaling.
    *
    * The quantizer FIT routes through [[semDedupSampledFit]] — at k ∝ n a
    * full-corpus Lloyd is `lloydIters · n · k` distance evals (measured
    * 17.5× wall-clock at a 10× corpus), while the sampled fit trains on
    * ~`fitRate`·n and pays one n·k assign. `fitRate = 1.0` reproduces the
    * full fit bit-for-bit (the hash sample keeps every row). The default
    * keeps ≥ fitRate·docsPerCluster ≈ 10³ training points per center at
    * the paper's operating point — pass a larger rate for tiny corpora
    * where that product approaches 1.
    */
  def semDedupAutoK(df: DataFrame, idCol: String, vecCol: String, tau: Double,
                    kMin: Int = 8, docsPerCluster: Long = 10000L,
                    lloydIters: Int = 3, fitRate: Double = 0.1,
                    salt: String = "sdfit",
                    storage: Option[StorageLevel] = Some(StorageLevel.MEMORY_AND_DISK),
                    assignNProbe: Int = 2): DataFrame = {
    require(docsPerCluster > 0, s"docsPerCluster must be positive: $docsPerCluster")
    val n = df.count()
    val k = math.max(kMin.toLong, (n + docsPerCluster - 1) / docsPerCluster)
    require(k <= Int.MaxValue, s"auto-k overflow: $k clusters")
    semDedupSampledFit(df, idCol, vecCol, tau, k.toInt, lloydIters,
      fitRate, salt, storage, assignNProbe)
  }

  /** Embedding-cosine near-duplicate pairs (a < b, sim >= tau). Exact
    * all-pairs — the verification-grade spec. O(n²): use only on small
    * inputs / as a test oracle; the scale path is [[nearDupPairsLsh]].
    */
  def nearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                        tau: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", vec_norm(col("v")))
    v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .withColumn("sim", vec_dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")))
      // Spark orders NaN ABOVE every value even in >=, so a NaN component
      // would fabricate a "duplicate" pair without the isnan guard
      .filter(!isnan(col("sim")) && col("sim") >= tau)
      .select(col("x.id").as("a"), col("y.id").as("b"), round(col("sim"), 6).as("sim"))
  }

  /** Scale-path near-dup pairs: candidates = same sign-LSH bucket in ANY of
    * `tables` hash tables (bucket equi-join per table, unioned, distinct),
    * verified by exact cosine >= tau.
    *
    * Contract: recall < 1 by construction — a qualifying pair is found only
    * if some table buckets it together (the classic L-table LSH tradeoff:
    * P[found] = 1-(1-p^bits)^tables, p = 1-θ/π). Precision = 1 (every output
    * pair is exactly verified). Candidate volume ~ Σ bucket² per table
    * instead of n² — at 100 TB this is the difference between a bucket-keyed
    * shuffle join and an impossible cartesian. Deterministic: buckets are
    * md5-derived, verification exact, so results are engine-reproducible
    * (the DuckDB oracle replicates the bucketing bit-for-bit).
    */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                      tau: Double, bits: Int = 8, tables: Int = 4,
                      maxDim: Int = 1024): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", vec_norm(col("v")))
    val cands = (0 until tables).map { t =>
      val b = v.withColumn("bucket", lshBucket(col("v"), bits, t, maxDim))
      b.as("x").join(b.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"),
          col("x.v").as("va"), col("y.v").as("vb"),
          col("x.n").as("na"), col("y.n").as("nb"))
    }.reduce(_ unionByName _).distinct()
    cands
      .withColumn("sim", vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(!isnan(col("sim")) && col("sim") >= tau)
      .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
  }

  /** int8 scalar quantization of an embedding column — the 4× storage
    * compression pass of a 100 TB vector store: per-DIMENSION min/max over
    * the corpus (one aggregation of exploded dims — shuffle volume =
    * O(dims), codes quantize against their own dimension's range), code =
    * min(255, floor((x − min)·256/(max − min))) (floor, not round:
    * half-rounding modes differ across engines; a constant dimension maps
    * to code 0), reconstruction at bucket centers. Output per vector: the
    * code array and the reconstruction error (MSE, max abs), the numbers a
    * recall-vs-compression decision reads.
    *
    * Fixed IEEE operation order throughout ⇒ engine-reproducible
    * (the DuckDB oracle replays quantize + reconstruct bit-for-bit).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), posexplode(col("v")))
      .select(col("id"), col("pos").as("d"), col("col").as("x"))
    val ranges = dims.groupBy("d")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    dims.join(ranges, "d")
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(255),
            floor((col("x") - col("lo")) * 256.0 / (col("hi") - col("lo")))))
          .cast("int"))
      .withColumn("xr",
        col("lo") + (col("code").cast("double") + 0.5) *
          ((col("hi") - col("lo")) / 256.0))
      .withColumn("err", col("x") - col("xr"))
      .groupBy("id")
      .agg(
        // string codes, not an array column: the correctness comparator
        // cannot sort array cells (the round-4 q_quantiles lesson)
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("d"), col("code")))),
          e => e("code"))).as("codes"),
        // decimal sum: order-independent across partitionings
        round(sum((col("err") * col("err")).cast("decimal(38,18)"))
          .cast("double") / count(lit(1)), 9).as("mse"),
        round(max(abs(col("err"))), 9).as("max_abs_err"))
  }

  /** Per-dimension z-score standardization of an embedding column — the
    * feature-scaling pass before distance-based ops (k-means, cosine
    * thresholds) so no dimension dominates by unit: z = (x − mean)/std
    * with POPULATION std from exact decimal sums (Σx, Σx² through
    * DECIMAL(38,18) — order-independent, engine-portable; std and z then
    * in fixed-order doubles). Constant dimensions (std = 0) map to z = 0.
    * One O(dims)-row aggregation broadcast back over the exploded
    * vectors. Output: (id, d, z) rows, rounded for cross-engine compare.
    */
  def standardizeDims(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), posexplode(col("v")))
      .select(col("id"), col("pos").as("d"), col("col").as("x"))
    val stats = dims.groupBy("d").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,18)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,18)")).as("sxx"))
      .select(col("d"),
        (col("sx").cast("double") / col("n")).as("mean"),
        sqrt(greatest(lit(0.0),
          col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
            (col("sx").cast("double") / col("n")))).as("std"))
    dims.join(broadcast(stats), "d")
      .select(col("id"), col("d"),
        round(when(col("std") === 0.0, 0.0)
          .otherwise((col("x") - col("mean")) / col("std")), 6).as("z"))
  }

  // ---- product quantization (Jégou, Douze, Schmid 2011, public) ----------

  /** Train PQ codebooks: the vector splits into `m` contiguous subspaces
    * of dim/m dims; each subspace gets its own `ks`-centroid k-means
    * codebook ([[graft.chain.KMeans]] — decimal-exact Lloyd steps,
    * first-ks-by-id init, lowest-id tie-break, so codebooks are
    * bit-identical across partitionings and engines). A vector encodes as
    * m small ints (m·log2 ks bits — 8 bytes for 16×256 vs 256 bytes of
    * floats at dim 64): the third leg of the embedding-compression story
    * next to [[quantizeInt8]] (4×) and IVF (coarse routing).
    *
    * Returns codebooks(s)(cluster)(dim): m × ks × (dim/m) doubles — tiny
    * (ride as literals / broadcast, the Params pattern).
    *
    * Shape at 100 TB: training cost is m short k-means runs over COLUMN-
    * PRUNED slices (each shuffles ks×subDim doubles per iteration);
    * encoding is one codegen'd projection, no shuffle, no join.
    */
  def pqTrain(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
              idCol: String, vecCol: String, m: Int = 4, ks: Int = 16,
              iterations: Int = 3): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && ks >= 2, s"pqTrain: need m >= 1, ks >= 2 (m=$m ks=$ks)")
    val dim = df.select(size(asDouble(col(vecCol)))).head().getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val subDim = dim / m
    // ALL m subspaces trained JOINTLY (round 17): one corpus pass per
    // Lloyd iteration instead of m — the per-subspace arithmetic is
    // unchanged (same first-ks-by-id init, same argmin tie-break, same
    // DECIMAL(38,18) per-(cluster,d) sums, now keyed (s, cluster, d)),
    // so the codebooks are bit-identical to m independent runs, but the
    // m separate scans/caches/actions per iteration collapse into one.
    // Past the codegen-safe expression budget (the m-branch CASE holds
    // m*ks sqdist loops) fall back to the per-subspace loop.
    if (m * ks > 512)
      return (0 until m).map { s =>
        val sub = df.select(col(idCol),
          slice(asDouble(col(vecCol)), s * subDim + 1, subDim).as("_sub"))
        graft.chain.KMeans.run(spark, sub, idCol, "_sub", ks, iterations)._1
      }
    val subs = df
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("v"), s * subDim + 1, subDim).as("sub"))): _*)).as("x"))
      .select(col("x.s").as("s"), col("x.sub").as("sub"))
      .cache()
    // init: the first ks vectors by id, sliced — the same ks rows seed
    // every subspace, so ONE bounded collect covers all m inits
    var centers: Seq[Seq[Seq[Double]]] = {
      val seed = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .orderBy("id").limit(ks)
        .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
      (0 until m).map(s => seed.map(_.slice(s * subDim, (s + 1) * subDim)))
    }
    for (_ <- 1 to iterations) {
      // flat m-branch CASE (one CaseWhen node, acc appears once per arm);
      // each arm is the [[graft.chain.KMeans.assign]] argmin verbatim
      val clusterExpr = (0 until m).foldLeft(when(lit(false), lit(-1))) {
        (acc, s) =>
          val dists = array(centers(s).map(c =>
            graft.functions.VectorOps.vec_sqdist(col("sub"), lit(c.toArray))): _*)
          acc.when(col("s") === s,
            (array_position(dists, array_min(dists)) - 1).cast("int"))
      }
      // LAZY localCheckpoint = the KMeans.run optimizer barrier (without
      // it the argmin re-evaluates per exploded dimension row); lazy so
      // the materialization rides the update collect — one job/iteration
      val assigned = subs
        .select(col("s"), clusterExpr.as("cluster"), col("sub"))
        .localCheckpoint(false)
      val updated = graft.chain.KMeans.centersOf(assigned
        .select(col("s"), col("cluster"), posexplode(col("sub")).as(Seq("d", "x")))
        .groupBy("s", "cluster", "d")
        .agg(sum(col("x").cast("decimal(38,18)")).cast("double").as("m"),
          count(lit(1)).as("n")), Seq("s", "cluster"))
      centers = (0 until m).map(s =>
        centers(s).indices.map(j => updated.getOrElse(Seq(s, j), centers(s)(j))))
    }
    subs.unpersist(false)
    centers
  }

  /** Encode each vector against trained codebooks: per subspace the
    * nearest centroid id (squared euclidean, first-index tie-break — the
    * [[graft.chain.KMeans.assign]] rule), plus the total reconstruction
    * error Σ_s ‖v_s − c_s‖² added in subspace order (fixed IEEE order —
    * engine-replayable). ONE codegen'd projection: no shuffle, no join,
    * nothing collected. Output: (id, codes array<int>, recon_err).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]],
               carry: Seq[String] = Nil): DataFrame = {
    val subDim = codebooks.head.head.length
    val v = asDouble(col(vecCol))
    val parts = codebooks.zipWithIndex.map { case (cb, s) =>
      val sub = slice(v, s * subDim + 1, subDim)
      val dists = array(cb.map(c =>
        graft.functions.VectorOps.vec_sqdist(sub, lit(c.toArray))): _*)
      ((array_position(dists, array_min(dists)) - 1).cast("int"),
        array_min(dists))
    }
    // `carry` rides extra input columns through the projection (e.g. the
    // already-computed cell assignment) so callers holding them need no
    // re-scan + equi-join to reattach — the encode stays one projection
    df.select(col(idCol).as("id") +: carry.map(col) :+
      array(parts.map(_._1): _*).as("codes") :+
      parts.map(_._2).reduce(_ + _).as("recon_err"): _*)
  }

  /** ADC (asymmetric distance) top-k over a PQ-encoded corpus: the query
    * stays a float vector; per subspace a ks-entry lookup table of
    * query-to-centroid squared distances is computed DRIVER-SIDE (m·ks
    * doubles per query — the tiny side), and a row's approximate distance
    * is m table lookups + adds, a pure codegen'd projection over the
    * (id, codes) table — the decoded vectors never materialize. Top-k per
    * query is a TakeOrdered heap. Queries are contract-bounded (a
    * benchmark-sized probe set, same as [[bruteForceTopK]]'s broadcast
    * side). Output: (query_id, vec_id, rank, adist).
    */
  def pqSearchAdc(encoded: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                  queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    require(queries.nonEmpty, "pqSearchAdc: empty query set")
    val subDim = codebooks.head.head.length
    queries.map { case (qid, qv) =>
      val luts = codebooks.zipWithIndex.map { case (cb, s) =>
        val sub = qv.slice(s * subDim, (s + 1) * subDim)
        cb.map(c => c.zip(sub).foldLeft(0.0) { case (acc, (ci, qi)) =>
          acc + (qi - ci) * (qi - ci) }).toArray
      }
      val adist = codebooks.indices.map(s =>
        element_at(lit(luts(s)), element_at(col("codes"), s + 1) + 1))
        .reduce(_ + _)
      encoded
        .filter(col("id") =!= qid)
        .select(lit(qid).as("query_id"), col("id").as("vec_id"),
          adist.as("adist"))
        .orderBy(col("adist").asc, col("vec_id").asc)
        .limit(k)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("adist").asc, col("vec_id").asc)))
    }.reduce(_ unionByName _)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("adist"), 6).as("adist"))
  }

  /** IVFADC (Jégou, Douze & Schmid 2011, "Product quantization for
    * nearest neighbor search" §IV) — the composition billion-scale ANN
    * actually ships: a coarse IVF quantizer routes each query to its
    * `nProbe` nearest cells, and within the probed cells distances are
    * approximated by PQ codes trained on cell RESIDUALS (v − center),
    * scored asymmetrically (query stays float, corpus rows are m small
    * codes). Residual encoding is what separates this from running
    * [[ivfTopK]] and [[pqSearchAdc]] side by side: residual magnitudes
    * are much smaller than raw vectors, so the same code budget carries
    * more precision.
    *
    * Scale shape: coarse + m sub-quantizer trainings are short k-means
    * runs (dictionary-grain driver sequencing, the [[pqTrain]] contract);
    * encoding is a codegen projection; per (query, probed cell) the LUT
    * (m·ks doubles) is computed driver-side from the residual query and
    * scoring touches ONLY rows of the probed cells — candidate volume
    * ~ n·nProbe/cells per query set, never a full scan, and no decoded
    * vector ever materializes. Queries are contract-bounded literals
    * (same as [[pqSearchAdc]]).
    *
    * Deterministic end to end (k-means init/ties, decimal-exact centers,
    * fixed IEEE fold order) — the DuckDB oracle replays coarse training,
    * residual PQ training, encoding, routing, and ADC scores bit-for-bit.
    * Output: (query_id, vec_id, rank, adist), self-matches excluded.
    */
  def ivfAdcTopK(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
                 corpusId: String, corpusVec: String,
                 queries: Seq[(Long, Seq[Double])], k: Int,
                 cells: Int = 4, nProbe: Int = 2, m: Int = 4, ks: Int = 4,
                 iterations: Int = 3): DataFrame = {
    require(queries.nonEmpty, "ivfAdcTopK: empty query set")
    val (centers, assigned) =
      graft.chain.KMeans.run(spark, corpus, corpusId, corpusVec, cells, iterations)
    val centArr = array(centers.map(c => lit(c.toArray)): _*)
    val res = assigned
      .withColumn("cent", element_at(centArr, col("cluster") + 1))
      .select(col("id"), col("cluster").as("cell"),
        zip_with(col("v"), col("cent"), (a, b) => a - b).as("r"))
      .localCheckpoint()
    val cbs = pqTrain(spark, res, "id", "r", m, ks, iterations)
    val subDim = cbs.head.head.length
    // carry the cell through the encode projection — no self-join
    val encoded = pqEncode(res, "id", "r", cbs, carry = Seq("cell"))
      .select("id", "cell", "codes")
    // route + LUT driver-side: per query, the nProbe nearest coarse cells
    // by the same (sqdist, cell) order the corpus assignment uses; per
    // probed cell the RESIDUAL query against that cell's center feeds the
    // m×ks lookup table
    val probes = queries.flatMap { case (qid, qv) =>
      centers.zipWithIndex.map { case (c, i) =>
        val d = c.zip(qv).foldLeft(0.0) { case (acc, (ci, qi)) =>
          acc + (qi - ci) * (qi - ci) }
        (i, d)
      }.sortBy { case (i, d) => (d, i) }.take(nProbe).map { case (cell, _) =>
        val qr = qv.zip(centers(cell)).map { case (qi, ci) => qi - ci }
        val luts = cbs.zipWithIndex.map { case (cb, s) =>
          val sub = qr.slice(s * subDim, (s + 1) * subDim)
          cb.map(c => c.zip(sub).foldLeft(0.0) { case (acc, (ci, qi)) =>
            acc + (qi - ci) * (qi - ci) }).toArray
        }
        (qid, cell, luts)
      }
    }
    probes.map { case (qid, cell, luts) =>
      val adist = luts.indices.map(s =>
        element_at(lit(luts(s)), element_at(col("codes"), s + 1) + 1))
        .reduce(_ + _)
      encoded.filter(col("cell") === cell && col("id") =!= qid)
        .select(lit(qid).as("query_id"), col("id").as("vec_id"),
          adist.as("adist"))
    }.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("adist"), 6).as("adist"))
  }
}
