package graft.similarity

import org.apache.spark.sql.{DataFrame, Row, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** ANN index PERSISTENCE — the serving handoff of a 100 TB index build.
  *
  * [[Similarity.ivfTopK]] and the PQ machinery compute their structures
  * per session; a production vector store builds the index ONCE and
  * serves it for months. [[export]] materializes every structure as
  * plain parquet tables under one root (no custom format — any engine
  * that reads parquet can serve it), and [[servedTopK]] answers queries
  * from the exported tables with results bit-identical to the in-session
  * [[Similarity.ivfTopK]] (spec-pinned round-trip parity).
  *
  * Publish, delta absorb, compaction and maintenance follow the shared
  * [[IndexLifecycle]] protocol: versioned roots `path/v{N}` published by
  * an atomic `_PUBLISHED` marker, readers resolving the highest published
  * version via [[resolve]], and exactly-once named deltas under
  * `deltas/{name}/` committed through `_DELTAS`. This object holds only
  * the ANN format: its components, how one slice is built, how each
  * component folds, its manifest, and serving.
  *
  * Layout under each published version root `path/v{N}`:
  *  - `centroids/`  (cell INT, v ARRAY<DOUBLE>) — the coarse quantizer,
  *    `cells` rows; tiny, the serving process loads it once.
  *  - `vectors/`    hive-partitioned by `cell`: (vec_id, v, n) — the
  *    inverted lists. The partition layout IS the index: a probe of
  *    nProbe cells reads only those directories (static pruning when the
  *    probe list is literal, dynamic partition pruning under the
  *    broadcast probe join).
  *  - `codebooks/`  (sub INT, cluster INT, v ARRAY<DOUBLE>) — PQ
  *    codebooks, m×ks rows; loaded driver-side for ADC lookup tables.
  *  - `codes/`      (vec_id, cell, codes ARRAY<INT>, recon_err) — the
  *    PQ-compressed corpus (the memory-resident serving tier; ~dim/m
  *    bytes per vector instead of 4·dim).
  *  - `manifest/`   (component, cell, rows) — exact READ-BACK counts
  *    (the [[graft.io.Sinks.writeSharded]] source-of-truth rule: the
  *    manifest says what landed, not what was supposed to land);
  *    per-cell rows for the inverted lists, -1 for unpartitioned
  *    components.
  *
  * Scale shape: the quantizer/codebook fits are the bounded driver pulls
  * of [[graft.chain.KMeans]]; the corpus is written once, hive-
  * partitioned on the cell id (cells ∝ n keeps directories scan-sized);
  * the manifest is counted from the parquet footers of the served data
  * files, read on the driver — no Spark job, but O(files) footer reads,
  * so a fold that keeps the file count down keeps the refresh cheap. At
  * 100 TB train both quantizers on a [[graft.ops.Sampling.hashSample]]
  * and raise `cells` — the layout is unchanged.
  */
object AnnIndex extends IndexLifecycle {

  import graft.functions.VectorOps.vec_norm

  private val VectorCols = Seq("vec_id", "v", "n", "cell")
  private val CodeCols = Seq("vec_id", "cell", "codes", "recon_err")

  /** The declared schemas of the components [[export]] writes from
    * driver values: every read of them passes its schema, so none runs
    * a schema-inference job. `vectors/` and `codes/` carry the caller's
    * `vec_id` type, so their full-row reads take each part's schema from
    * its own footer, read on the driver ([[graft.core.Tables.parquet]]).
    */
  val CentroidSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType), StructField("v", ArrayType(DoubleType))))
  val CodebookSchema: StructType = StructType(Seq(
    StructField("sub", IntegerType), StructField("cluster", IntegerType),
    StructField("v", ArrayType(DoubleType))))

  /** The manifest's schema: one row per (component, cell) that holds
    * rows; `cell` is null for the lists' default (null) partition.
    */
  private val ManifestSchema = StructType(Seq(
    StructField("component", StringType, nullable = false),
    StructField("cell", LongType),
    StructField("rows", LongType, nullable = false)))

  private def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(CentroidSchema).parquet(s"$root/centroids")

  private def codebooks(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(CodebookSchema).parquet(s"$root/codebooks")

  /** Write the inverted lists hive-partitioned by `cell`, CLUSTERED
    * first when the cell count warrants it: repartition on the cell id
    * + an in-partition sort so the dynamic-partition writer holds ONE
    * open file at a time and each cell lands in at most one file per
    * task — without this, every task opens a writer per touched cell
    * and a 1000-cell index write scatters up to tasks×cells tiny files
    * (the measured write-bound tail of export/absorb at cells ∝ n:
    * 500k/1000-cell export 264→194 s, absorb 63→16.6 s, compact
    * 197→22.7 s). Below [[ClusterWriteCells]] the scatter is bounded
    * at tasks×cells ≈ a hundred files and the clustering shuffle is
    * pure overhead on a tiny index, so the write stays direct. Row
    * content is identical either way — layout only; readers and
    * manifests count rows, not files.
    */
  private val ClusterWriteCells = 64

  private def writeClustered(df: DataFrame, path: String, cells: Int,
                             mode: String = "overwrite"): Unit = {
    val out =
      if (cells >= ClusterWriteCells)
        df.repartition(col("cell")).sortWithinPartitions("cell")
      else df
    out.write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** See [[IndexPublish.resolve]]. */
  def resolve(spark: SparkSession, path: String): String =
    IndexPublish.resolve(spark, path)

  private def assign(vectors: DataFrame, idCol: String, vecCol: String,
                     centers: Seq[Seq[Double]], assignNProbe: Int): DataFrame =
    if (assignNProbe > 0)
      graft.chain.KMeans.assignRouted(vectors, idCol, vecCol, centers, assignNProbe)
    else graft.chain.KMeans.assign(vectors, idCol, vecCol, centers)

  /** One slice's inverted lists and PQ codes under `dir`, from its cell
    * assignment — the write [[export]], [[append]] and [[appendDelta]]
    * share. The code table encodes the ALREADY-ASSIGNED rows (same
    * (id, v) set, v already double-cast) carrying the cell through the
    * projection: one projection, no second corpus scan, no vec_id join.
    * The two writes share the assignment plan and write disjoint paths,
    * so they run overlapped, together with any `alongside` writes.
    */
  private def writeSlice(assigned: DataFrame, cbs: Seq[Seq[Seq[Double]]],
                         dir: String, cells: Int, mode: String,
                         alongside: Seq[() => Unit] = Nil): Unit = {
    graft.core.Jobs.inParallel(alongside ++ Seq(
      () => writeClustered(
        assigned.select(col("id").as("vec_id"), col("v"),
          vec_norm(col("v")).as("n"), col("cluster").as("cell")),
        s"$dir/vectors", cells, mode),
      () => Similarity.pqEncode(assigned, "id", "v", cbs, carry = Seq("cluster"))
        .select(col("id").as("vec_id"), col("cluster").as("cell"),
          col("codes"), col("recon_err"))
        .write.mode(mode).parquet(s"$dir/codes")))
    ()
  }

  /** [[writeSlice]] of `vectors` assigned against the FROZEN quantizers
    * stored at `root` (no refit).
    */
  private def writeFrozenSlice(spark: SparkSession, vectors: DataFrame,
                               idCol: String, vecCol: String, root: String,
                               dir: String, assignNProbe: Int, mode: String): Unit = {
    val centers = loadCentroids(spark, root)
    writeSlice(assign(vectors, idCol, vecCol, centers, assignNProbe),
      loadCodebooks(spark, root), dir, centers.length, mode)
  }

  /** Build + persist the IVF(+PQ) index; returns the manifest
    * (component, cell, rows) from read-back counts.
    *
    * `fitRate` < 1 trains the coarse quantizer on a deterministic hash
    * sample (the [[Similarity.semDedupSampledFit]] contract — at
    * cells ∝ n a full-corpus Lloyd is the superlinear term; the sampled
    * fit pays one full assign pass instead). 1.0 reproduces the full fit
    * bit-for-bit.
    */
  def export(spark: SparkSession, corpus: DataFrame, idCol: String,
             vecCol: String, path: String, cells: Int = 16,
             lloydIters: Int = 3, m: Int = 4, ks: Int = 16,
             pqIters: Int = 3, fitRate: Double = 1.0,
             salt: String = "annfit", assignNProbe: Int = 0): DataFrame =
    exportVersion(spark, path) { root =>
      import spark.implicits._
      val fit =
        if (fitRate >= 1.0) corpus
        else graft.ops.Sampling.hashSample(corpus, col(idCol), fitRate, salt)
      val (centers, fitAssigned) =
        graft.chain.KMeans.run(spark, fit, idCol, vecCol, cells, lloydIters)
      val assigned =
        if (fitRate >= 1.0) fitAssigned
        else assign(corpus, idCol, vecCol, centers, assignNProbe)
      val cbs = Similarity.pqTrain(spark, corpus, idCol, vecCol, m, ks, pqIters)
      // both quantizers are trained; the four component writes are now
      // independent (assigned is checkpoint-rooted, cbs is a driver value)
      // and write disjoint paths — one overlapped batch
      writeSlice(assigned, cbs, root, cells, "overwrite", alongside = Seq(
        () => centers.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids"),
        () => (for { (cb, s) <- cbs.zipWithIndex; (c, j) <- cb.zipWithIndex }
          yield (s, j, c)).toDF("sub", "cluster", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")))
    }

  /** Per-cell rows for the inverted lists, -1 for the unpartitioned
    * components, as a local relation: each data file's row count is read
    * from its parquet footer on the driver ([[graft.core.Tables.footerRows]])
    * and summed per (component, cell), so the refresh runs no Spark job.
    * The lists and codes are counted over the serving reading rule's
    * parts (base plus committed deltas, as [[vectorLists]] / [[pqCodes]]
    * read them), so the manifest can never under-count absorbed shards,
    * and footers carry no `vec_id` type, so a delta whose type differs
    * from the base still counts. A group with no rows has no manifest
    * row; a missing part fails as its read would.
    */
  override protected[graft] def manifestPlan(spark: SparkSession,
                                            root: String): DataFrame = {
    val deltas = committedDeltas(spark, root)
    def cellOf(kvs: Seq[(String, String)]): java.lang.Long =
      kvs.collectFirst { case ("cell", v) if v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
        java.lang.Long.valueOf(v.toLong)
      }.orNull
    def counted(component: String, dirs: Seq[String],
                cell: Seq[(String, String)] => java.lang.Long = _ => -1L) =
      dirs.flatMap(graft.core.Tables.footerRows(spark, _))
        .groupMapReduce(f => cell(f._1))(_._2)(_ + _).toSeq
        .collect { case (c, n) if n > 0 => Row(component, c, n) }
    val rows = counted("vectors", partDirs(root, "vectors", deltas), cellOf) ++
      counted("centroids", Seq(s"$root/centroids")) ++
      counted("codebooks", Seq(s"$root/codebooks")) ++
      counted("codes", partDirs(root, "codes", deltas))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ManifestSchema)
  }

  /** INCREMENTAL index maintenance — the daily-shard path: append new
    * vectors to an exported index against its FROZEN quantizers (no
    * refit). Arrivals are assigned with the stored centroids (exact scan,
    * or [[graft.chain.KMeans.assignRouted]] via `assignNProbe` at large
    * cell counts), appended to the hive-partitioned inverted lists,
    * PQ-encoded against the stored codebooks and appended to `codes/`;
    * the manifest is recomputed from read-back counts. A 100 TB index
    * absorbs arriving shards in one linear pass each — retraining is an
    * explicit [[export]] rebuild, triggered by the drift/recall monitors
    * (q_embed_drift, q_ann_recall), never implicit. Deterministic and
    * ORDER-INVARIANT: the frozen quantizers make the final lists a pure
    * function of the vector set, whatever the append batching.
    *
    * Returns the refreshed manifest.
    */
  def append(spark: SparkSession, newVectors: DataFrame, idCol: String,
             vecCol: String, path: String,
             assignNProbe: Int = 0): DataFrame = {
    // appends are IN-PLACE on the current published version: purely
    // additive rows (a racing reader sees the index minus some of the
    // newest shard, never a broken one); structural rebuilds go through
    // [[export]]'s versioned publish
    val root = resolve(spark, path)
    writeFrozenSlice(spark, newVectors, idCol, vecCol, root, root,
      assignNProbe, "append")
    writeManifest(spark, root)
  }

  // ------------------------------------------------------- delta absorb

  /** EXACTLY-ONCE shard absorb — [[append]]'s replay-safe sibling, the
    * unit the streaming landing-directory ingest folds batches through
    * ([[graft.streaming.Streams.annAbsorbStream]]). The shard's
    * frozen-quantizer assignment and PQ codes are staged and committed
    * as a named delta by [[IndexLifecycle]]'s absorb step; because the
    * quantizers are frozen, the served results are a pure function of
    * the absorbed vector SET, whatever the absorb order or batching —
    * and a re-stage after a lost fold race writes identical bytes (the
    * fold copies the frozen quantizer files verbatim). Returns true when the
    * delta was newly committed, false on a replay of an already-committed
    * name — including a name a COMPACTION has since folded into the base.
    */
  def appendDelta(spark: SparkSession, newVectors: DataFrame, idCol: String,
                  vecCol: String, path: String, name: String,
                  assignNProbe: Int = 0,
                  refreshManifest: Boolean = true): Boolean =
    appendDeltaHooked(spark, newVectors, idCol, vecCol, path, name,
      assignNProbe, () => (), refreshManifest)

  /** [[appendDelta]] with the [[IndexLifecycle]] absorb test seam:
    * `beforeCommit` runs after the staging writes and before the
    * `_DELTAS` commit (specs inject a full compact there to pin the
    * re-append behavior deterministically).
    */
  private[graft] def appendDeltaHooked(spark: SparkSession,
      newVectors: DataFrame, idCol: String, vecCol: String, path: String,
      name: String, assignNProbe: Int,
      beforeCommit: () => Unit,
      refreshManifest: Boolean = true): Boolean =
    absorb(spark, path, name, beforeCommit, refreshManifest) { (root, dir) =>
      writeFrozenSlice(spark, newVectors, idCol, vecCol, root, dir,
        assignNProbe, "overwrite")
    }

  /** The ANN fold: the quantizers are FROZEN — the `centroids/` and
    * `codebooks/` files are copied byte for byte, no job — and the
    * inverted lists and PQ codes are a pure rewrite through the serving
    * read rule, no refit, so served results are bit-identical before and
    * after (spec-pinned). The rewrites read at [[sized]] width, so a fold
    * of small deltas writes few files; the cell count for
    * [[writeClustered]] is the centroids' footer row count.
    */
  protected def componentFolds(spark: SparkSession, root: String,
      newRoot: String, deltas: Seq[String]): Seq[() => Unit] = Seq(
    () => IndexPublish.copyDir(spark, s"$root/centroids", s"$newRoot/centroids"),
    () => IndexPublish.copyDir(spark, s"$root/codebooks", s"$newRoot/codebooks"),
    () => writeClustered(sized(unionParts(spark, root, "vectors", VectorCols, deltas)),
      s"$newRoot/vectors",
      graft.core.Tables.footerRows(spark, s"$root/centroids").map(_._2).sum.toInt),
    () => sized(unionParts(spark, root, "codes", CodeCols, deltas))
      .write.mode("overwrite").parquet(s"$newRoot/codes"))

  /** `df` coalesced to its optimizer size estimate over
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, rounded up, at
    * least 1: a union of small delta scans otherwise runs (and writes)
    * one task per file. Not clamped to the shuffle partitions —
    * `coalesce` never widens, so a large input keeps its scan splits.
    */
  private def sized(df: DataFrame): DataFrame = {
    val advisory = BigInt(math.max(1L, graftbridge.sqlConf(df.sparkSession)
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    df.coalesce(((est + advisory - 1) / advisory).max(1).min(Int.MaxValue).toInt)
  }

  /** The full inverted lists at `root`: base `vectors/` plus every
    * COMMITTED delta's — the one reading rule of the serving paths.
    */
  private[graft] def vectorLists(spark: SparkSession, root: String): DataFrame =
    unionParts(spark, root, "vectors", VectorCols, committedDeltas(spark, root))

  /** The full PQ code table at `root`: base `codes/` plus every
    * COMMITTED delta's — the [[vectorLists]] rule for the memory-
    * resident serving tier, so ADC search over an absorbed index sees
    * every shard.
    */
  def pqCodes(spark: SparkSession, root: String): DataFrame =
    unionParts(spark, root, "codes", CodeCols, committedDeltas(spark, root))

  /** The coarse quantizer from an exported index (cells×dim doubles —
    * the bounded serving-process pull, one scan job; the unique `cell`
    * key orders the rows on the driver).
    */
  def loadCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    centroids(spark, resolve(spark, path)).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq

  /** PQ codebooks from an exported index (m×ks×subDim doubles; one scan
    * job, ordered on the driver by the unique (`sub`, `cluster`) key).
    */
  def loadCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] =
    codebooks(spark, resolve(spark, path)).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toSeq))
      .sortBy(_._1).toSeq
      .groupBy(_._1._1).toSeq.sortBy(_._1).map(_._2.map(_._2))

  /** Answer IVF top-k FROM THE EXPORTED TABLES — the serving path: load
    * the (tiny) centroid table, probe each query's nProbe nearest cells,
    * exact-cosine re-rank only those cells' inverted lists (stored norms
    * reused). Bit-identical to [[Similarity.ivfTopK]] over the same
    * corpus/params: same probe rule ([[Similarity.probeCells]] — shared
    * code, cannot drift), same rank tail, and parquet round-trips
    * doubles exactly.
    */
  def servedTopK(spark: SparkSession, path: String, queries: DataFrame,
                 queryId: String, queryVec: String, k: Int,
                 nProbe: Int = 2): DataFrame = {
    // resolve ONCE so centroids and lists come from the same version even
    // if a rebuild publishes mid-query
    val root = resolve(spark, path)
    val centers = loadCentroids(spark, root)
    val lists = vectorLists(spark, root)
      .select(col("vec_id"), col("v").as("cv"), col("n").as("cn"), col("cell"))
    Similarity.rankTopK(lists.join(
      broadcast(Similarity.probeCells(queries, queryId, queryVec, centers,
        nProbe)), "cell"), k)
  }
}
