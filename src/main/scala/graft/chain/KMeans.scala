package graft.chain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column — the reference's k-clustering
  * example (examples/datamining/kclustering.py:49-120): estimate step maps
  * each point to its nearest center (`estimate_map`), combines per-cluster
  * sums map-side (`estimate_combiner`), reduces to new centers
  * (`estimate_reduce`); iterations are chained jobs; predict assigns final
  * centers (`predict_map`).
  *
  * Spark shape: centers are tiny → carried as a broadcast literal array (the
  * `Params` analog, lib/disco/worker/__init__.py:435-451); assignment is a
  * pure Column expression (codegen), the center update is one groupBy over
  * element-wise vector sums (`partial aggregation = the combiner`). One
  * shuffle of k×dim doubles per iteration — scale-independent.
  *
  * Deterministic: init = the first k vectors by id; argmin tie-breaks on the
  * lowest cluster id.
  */
object KMeans {

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  // native codegen fold (same fixed left-to-right IEEE order as the
  // previous aggregate(zip_with(...)) form — values unchanged); centers
  // ride as array literals
  private def sqDist(v: org.apache.spark.sql.Column, center: Seq[Double]) =
    graft.functions.VectorOps.vec_sqdist(v, lit(center.toArray))

  /** Assign each row to the nearest center (squared euclidean); ties break
    * to the lowest cluster id (= first index holding the min distance).
    *
    * Shape matters here: a when-chain argmin fold would embed the
    * accumulated tree TWICE per step (condition + otherwise) — an
    * expression tree exponential in k that breaks codegen past k ≈ 10 and
    * then eval-falls-back into the exponential tree (measured: 54 s for
    * one assignment at n=5k, k=10). The distance ARRAY is linear in k:
    * k codegen'd sqdist loops + one array_min + first-index lookup, same
    * values, same tie-break, any k.
    */
  def assign(points: DataFrame, idCol: String, vecCol: String,
             centers: Seq[Seq[Double]]): DataFrame = {
    val v = asDouble(col(vecCol))
    val dists = array(centers.map(c => sqDist(v, c)): _*)
    points.select(col(idCol).as("id"), v.as("v"),
      (array_position(dists, array_min(dists)) - 1).cast("int").as("cluster"))
  }

  /** Run `iterations` Lloyd steps; returns (centers, assignments). */
  def run(spark: SparkSession, points: DataFrame, idCol: String, vecCol: String,
          k: Int, iterations: Int): (Seq[Seq[Double]], DataFrame) = {
    val pts = points.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).cache()
    var centers: Seq[Seq[Double]] = pts.orderBy("id").limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iterations) {
      // localCheckpoint = an optimizer barrier, not just lineage hygiene:
      // without it ColumnPruning collapses the assignment into the explode
      // below and the k-sqdist argmin is recomputed PER EXPLODED ROW —
      // dim× the work (measured 24 s vs 2 s at n=50k, k=100, dim=64)
      // LAZY checkpoint (round 17): the barrier semantics are identical
      // (the plan roots at the checkpoint RDD either way) but the
      // materialization rides the sums collect below — one job per
      // iteration instead of two
      val assigned = assign(pts, "id", "v", centers)
        .select("cluster", "v").localCheckpoint(false)
      // per-dimension sums in DECIMAL(38,18): order-independent exact, so
      // centers are bit-identical at any partitioning / in any engine.
      // Shape matters: ONE decimal sum over exploded (cluster, d, x) rows —
      // a 64-wide array of decimal sums generates an update method too big
      // for HotSpot's JIT (measured 26 s/iteration at n=50k that this
      // shape runs in ~2 s). Same adds, same cast chain → same centers;
      // partial aggregation still combines map-side on (cluster, d).
      val updated = centersOf(assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cluster", "d")
        .agg(sum(col("x").cast("decimal(38,18)")).cast("double").as("m"),
          count(lit(1)).as("n")), Seq("cluster"))
      centers = centers.indices.map(i => updated.getOrElse(Seq(i), centers(i)))
    }
    // the final assignment is a LAZY checkpoint (the same optimizer
    // barrier): its consumer's first job materializes it, so a caller
    // that keeps only the centers runs no job for it, and overlapped
    // consumers still share one materialization. The iteration cache is
    // released now — a long-lived session issuing many runs must not
    // accrete pinned corpus copies — so that first job re-reads the
    // points from their source.
    val finalAssign = assign(pts, "id", "v", centers).localCheckpoint(false)
    pts.unpersist(false)
    (centers, finalAssign)
  }

  /** The Lloyd update from per-(`keys`, d) sums `m` over `n` points:
    * the k×dim aggregate rows are collected and each center is
    * assembled on the driver — components in `d` order, each `m / n`,
    * the IEEE division Spark's `/` performs on (double, long) — instead
    * of regrouping them by key in a second shuffle. A row with a null
    * key (a point whose vector holds a null element has no cluster)
    * belongs to no center.
    */
  private[graft] def centersOf(sums: DataFrame,
                               keys: Seq[String]): Map[Seq[Int], Seq[Double]] =
    sums.select((keys ++ Seq("d", "m", "n")).map(col): _*).collect()
      .filterNot(r => keys.indices.exists(r.isNullAt))
      .groupBy(r => keys.indices.map(r.getInt))
      .map { case (key, rows) =>
        key -> rows.sortBy(_.getInt(keys.length)).map { r =>
          r.getDouble(keys.length + 1) / r.getLong(keys.length + 2)
        }.toSeq
      }

  /** ROUTED assignment for large k — the FAISS-IVF assign rule: cluster
    * the k centers themselves into ~√k coarse cells (a driver-side Lloyd
    * over k rows — bounded model state), then per point find the `nProbe`
    * nearest non-empty coarse cells and take the exact argmin over ONLY
    * those cells' member centers. Distance evals per point drop from k to
    * ~√k·(1 + nProbe·avg-members) — at k ∝ n this breaks the n·k assign
    * term that is otherwise the one superlinear pass of a sampled-fit
    * clustering pipeline (measured ~25 s/execution at n=50k, k=100).
    *
    * Semantics: EXACT within the probed cells (same (dist, lowest-id)
    * tie-break as [[assign]]); a point whose true nearest center lives
    * outside its probed cells gets its best probed member instead — the
    * standard IVF approximation, spec-bounded agreement with [[assign]].
    * Falls back to the exact scan when k is small or the route would not
    * prune. Everything is a guarded codegen expression: only the probed
    * cells' member distances are evaluated per row (CaseWhen branches),
    * and the plan stays partitioning-agnostic and deterministic.
    *
    * Degenerate-input contract (holds on BOTH sides of the
    * [[JoinedAssignK]] switch, spec-pinned): a null vector assigns a
    * null cluster — never a silently dropped row; ids must be UNIQUE —
    * the large-k join form aggregates by id, so a duplicated id
    * collapses to one row there while the expression forms emit one row
    * per input (the quantizer-input contract; every production caller
    * assigns over a keyed vector table).
    */
  def assignRouted(points: DataFrame, idCol: String, vecCol: String,
                   centers: Seq[Seq[Double]], nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1, s"assignRouted: nProbe $nProbe")
    val k = centers.length
    val c = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    if (k <= 8 || c <= nProbe) return assign(points, idCol, vecCol, centers)
    val (coarse, members) = routeTables(centers, c, iters = 3)
    val nonEmpty = members.zipWithIndex.filter(_._1.nonEmpty)
    // degenerate routing (everything lands in ≤ nProbe cells) prunes
    // nothing — the exact scan is the same work without the probe step
    if (nonEmpty.size <= nProbe) return assign(points, idCol, vecCol, centers)
    if (k >= JoinedAssignK)
      assignRoutedJoined(points, idCol, vecCol, centers, nProbe, coarse, nonEmpty)
    else
      assignRoutedExpr(points, idCol, vecCol, centers, nProbe, coarse, nonEmpty)
  }

  /** Past this many centers the O(k)-wide member-argmin expression
    * outgrows Janino's 64 KB method limit and the whole stage silently
    * falls back to interpreted execution (observed at k = 1000 in the
    * 500k ScaleProbe runs, logged as `Code grows beyond 64 KB`) — at
    * cells ∝ n the production assign MUST NOT lose codegen exactly when
    * the index gets big, so routing switches to the broadcast-join form.
    */
  private[graft] val JoinedAssignK = 512

  private[graft] def assignRoutedExpr(points: DataFrame, idCol: String,
      vecCol: String, centers: Seq[Seq[Double]], nProbe: Int,
      coarse: Seq[Seq[Double]],
      nonEmpty: Seq[(Seq[Int], Int)]): DataFrame = {
    val v = asDouble(col(vecCol))
    // nProbe nearest non-empty coarse cells: struct sort = (d asc, cell asc)
    val probed = slice(array_sort(array(nonEmpty.map { case (_, j) =>
      struct(sqDist(v, coarse(j)).as("d"), lit(j).as("cell"))
    }: _*)), 1, nProbe)
    val probedCells = transform(probed, p => p.getField("cell"))
    // per coarse cell: the guarded local argmin over its member centers —
    // array_min on struct(d, id) = lowest distance, lowest id on ties
    // (the assign tie-break); unprobed cells' branches never evaluate
    val bests = nonEmpty.map { case (ids, j) =>
      when(array_contains(probedCells, lit(j)),
        array_min(array(ids.map(i =>
          struct(sqDist(v, centers(i)).as("d"), lit(i).as("id"))): _*)))
    }
    // explicit null-in-null-out (the assign behavior): a null vector's
    // distances are all null, and the struct argmin must not fall back
    // to comparing the id field — guard rather than rely on null-field
    // struct ordering
    points.select(col(idCol).as("id"), v.as("v"),
      when(v.isNotNull,
        least(bests: _*).getField("id")).cast("int").as("cluster"))
  }

  /** The LARGE-k routed assign: the √k-wide coarse probe stays an
    * expression (codegen-sized at any realistic cell count), and the
    * member argmin becomes a broadcast join against the (cell, cid, cv)
    * member-centroid table + one `min(struct(d, cid))` partial
    * aggregation. Same probe rule, same [[graft.functions.VectorOps]]
    * SqEuclidean kernel and double arithmetic, same (distance asc,
    * center-id asc) tie-break — assignments are BIT-IDENTICAL to the
    * expression form (spec-pinned at k spanning the threshold), but the
    * generated code is O(1) in k, so the stage stays inside whole-stage
    * codegen where the expression form drops to interpreted past
    * [[JoinedAssignK]]. Per-point work is the same nProbe·k/√k distance
    * evaluations, row-shaped through the join; the n×nProbe·√k
    * intermediate never shuffles (the argmin combines map-side).
    * Null vectors route through `explode_outer` + a LEFT broadcast join
    * (one null-cell row each) and surface as null-cluster rows — the
    * [[assign]]/[[assignRoutedExpr]] behavior, so crossing
    * [[JoinedAssignK]] never silently drops rows; for NON-null rows the
    * probed cells always hit the member table, so left ≡ inner there.
    */
  private[graft] def assignRoutedJoined(points: DataFrame, idCol: String,
      vecCol: String, centers: Seq[Seq[Double]], nProbe: Int,
      coarse: Seq[Seq[Double]],
      nonEmpty: Seq[(Seq[Int], Int)]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val v = asDouble(col(vecCol))
    val probed = slice(array_sort(array(nonEmpty.map { case (_, j) =>
      struct(sqDist(v, coarse(j)).as("d"), lit(j).as("cell"))
    }: _*)), 1, nProbe)
    val ctab = nonEmpty.flatMap { case (ids, j) =>
      ids.map(i => (j, i, centers(i)))
    }.toDF("cell", "cid", "cv")
    points
      .select(col(idCol).as("id"), v.as("v"),
        explode_outer(when(v.isNotNull,
          transform(probed, p => p.getField("cell")))).as("cell"))
      .join(broadcast(ctab), Seq("cell"), "left")
      .groupBy("id")
      .agg(first(col("v")).as("v"), // v is functionally dependent on id
        min(when(col("cid").isNotNull, struct(
          graft.functions.VectorOps.vec_sqdist(col("v"), col("cv")).as("d"),
          col("cid").as("cid")))).as("m"))
      .select(col("id"), col("v"), col("m.cid").cast("int").as("cluster"))
  }

  /** [[assignRoutedJoined]] with a POST-ARGMIN REJOIN instead of
    * `first(v)` in the aggregation: the argmin leg ships only
    * (id, best-struct) through its shuffle — the vector never enters
    * the aggregation buffer — and the full rows come back by one
    * id-equi join against a second scan of the source. Bit-identical
    * assignments (same probe, kernel, tie-break; spec-pinned). The
    * trade: the `first(v)` form scans the source once and relies on
    * map-side partial aggregation to collapse the explode×nProbe
    * duplicates of each vector before the wire (exact while the hash
    * aggregate holds; a sort-fallback under memory pressure re-emits),
    * while this form pays a second source scan + an id-shuffle join to
    * guarantee each vector crosses the wire exactly once. Probed
    * head-to-head (ScaleProbe `assign_joinform`/`assign_rejoin`,
    * warmed protocol): the `first(v)` form wins at BOTH scales —
    * 4.0 s vs 15.6 s at 50k, 105.3 s vs 116.9 s at 500k×256-dim/
    * k=1024/nProbe=4 — because partial aggregation does collapse the
    * duplicates (the vector crosses the wire ~once either way) and the
    * rejoin's second scan + extra shuffle join is pure overhead. So
    * [[assignRouted]] keeps dispatching to [[assignRoutedJoined]];
    * this form remains the probed, bit-parity-pinned alternative.
    */
  private[graft] def assignRoutedJoinedRejoin(points: DataFrame, idCol: String,
      vecCol: String, centers: Seq[Seq[Double]], nProbe: Int,
      coarse: Seq[Seq[Double]],
      nonEmpty: Seq[(Seq[Int], Int)]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val v = asDouble(col(vecCol))
    val probed = slice(array_sort(array(nonEmpty.map { case (_, j) =>
      struct(sqDist(v, coarse(j)).as("d"), lit(j).as("cell"))
    }: _*)), 1, nProbe)
    val ctab = nonEmpty.flatMap { case (ids, j) =>
      ids.map(i => (j, i, centers(i)))
    }.toDF("cell", "cid", "cv")
    val assigned = points
      .select(col(idCol).as("id"),
        explode_outer(when(v.isNotNull,
          transform(probed, p => p.getField("cell")))).as("cell"),
        v.as("v"))
      .join(broadcast(ctab), Seq("cell"), "left")
      .groupBy("id")
      .agg(min(when(col("cid").isNotNull, struct(
        graft.functions.VectorOps.vec_sqdist(col("v"), col("cv")).as("d"),
        col("cid").as("cid")))).as("m"))
      .select(col("id"), col("m.cid").cast("int").as("cluster"))
    points.select(col(idCol).as("id"), v.as("v"))
      .join(assigned, "id")
      .select(col("id"), col("v"), col("cluster"))
  }

  /** The routing tables: a deterministic driver-side Lloyd over the k
    * centers (init = first c, 3 rounds, lowest-index tie-break — the
    * [[run]] conventions), returning (coarse centers, member center ids
    * per coarse cell from a final assignment pass).
    */
  private[graft] def routeTables(centers: Seq[Seq[Double]], c: Int,
      iters: Int): (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    def sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def nearest(ct: Seq[Double], cs: Seq[Seq[Double]]): Int =
      cs.indices.minBy(j => (sq(ct, cs(j)), j))
    var coarse = centers.take(c)
    for (_ <- 1 to iters) {
      val a = centers.map(nearest(_, coarse))
      coarse = coarse.indices.map { j =>
        val mem = centers.indices.filter(a(_) == j)
        if (mem.isEmpty) coarse(j)
        else {
          val dim = centers.head.length
          (0 until dim).map(d => mem.map(i => centers(i)(d)).sum / mem.size)
        }
      }
    }
    val fin = centers.map(nearest(_, coarse))
    (coarse, coarse.indices.map(j => centers.indices.filter(fin(_) == j).toSeq))
  }

  /** Total within-cluster sum of squares (inertia) for given centers. */
  def inertia(points: DataFrame, idCol: String, vecCol: String,
              centers: Seq[Seq[Double]]): Double = {
    val assigned = assign(points, idCol, vecCol, centers)
    val v = col("v")
    val dists = centers.zipWithIndex.map { case (c, i) =>
      when(col("cluster") === i, sqDist(v, c))
    }
    assigned.select(coalesce(dists: _*).as("d")).agg(sum("d")).head().getDouble(0)
  }
}
