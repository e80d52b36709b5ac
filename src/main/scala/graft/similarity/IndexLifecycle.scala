package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The atomic versioned-publish protocol shared by every persisted index
  * ([[AnnIndex]], [[HybridIndex]]): build under `path/v{N}`, create the
  * `_PUBLISHED` marker file as the LAST write (single atomic create),
  * readers resolve the highest published version, GC keeps the new
  * version plus its immediate predecessor.
  */
private[graft] object IndexPublish {

  val Published = "_PUBLISHED"

  def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def del(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    // overwrite semantics for a version root: a crashed export's partial
    // components at the same number must not survive beside the new ones
    // and duplicate reads (the q_chunk_format lesson)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Copy the directory `src` to `dst` byte for byte, no Spark job:
    * whatever was at `dst` is deleted first (overwrite semantics).
    */
  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val fs = fsOf(spark, src)
    val to = new org.apache.hadoop.fs.Path(dst)
    fs.delete(to, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src), fs, to,
      /* deleteSource = */ false, spark.sparkContext.hadoopConfiguration)
  }

  /** Version numbers under `path` that carry the `_PUBLISHED` marker —
    * i.e. exports that completed. Unmarked `v{N}` directories are
    * crashed/in-flight builds and are never served.
    */
  def publishedVersions(spark: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toInt)
      .filter(v => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/v$v/$Published")))
  }

  /** The serving root for `path`: the highest PUBLISHED version
    * (`path/v{N}`), or `path` itself when no versioned export exists
    * (a legacy unversioned layout keeps reading).
    */
  def resolve(spark: SparkSession, path: String): String =
    publishedVersions(spark, path) match {
      case vs if vs.isEmpty => path
      case vs => s"$path/v${vs.max}"
    }

  /** Claim the next version root: returns (root, next, previously
    * published versions) with any crashed junk at `next` deleted.
    */
  def begin(spark: SparkSession, path: String): (String, Int, Seq[Int]) = {
    val prev = publishedVersions(spark, path)
    val next = (prev :+ 0).max + 1
    val root = s"$path/v$next"
    del(spark, root) // only the TARGET version root — live versions untouched
    (root, next, prev)
  }

  /** GC grace window: a PUBLISHED version younger than this is never
    * collected even when superseded twice, so a reader that resolved a
    * version just before two rapid publishes can still finish scanning
    * it — the age check makes keep-new-plus-predecessor honest at
    * serving timescales (the `_PUBLISHED` marker's filesystem
    * modification time is the version's publish instant).
    */
  val GcGraceMs: Long = 15L * 60 * 1000

  /** PUBLISH `next` (one atomic marker create — readers flip from the
    * previous version only after every component has landed), then GC:
    * keep the new version, its immediate predecessor (in-flight
    * readers finish against it), and any published version still
    * inside its [[GcGraceMs]] grace window; drop everything older,
    * plus any unpublished junk a crashed export left behind
    * (junk carries no marker and gets no grace).
    */
  def publish(spark: SparkSession, path: String, next: Int,
              prev: Seq[Int], graceMs: Long = GcGraceMs): Unit = {
    val fs = fsOf(spark, path)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/v$next/$Published"), true).close()
    val keep = Set(next) ++ prev.reduceOption(_ max _)
    val now = System.currentTimeMillis()
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("v\\d+") && !keep(n.drop(1).toInt)) {
        val young = try {
          now - fs.getFileStatus(new org.apache.hadoop.fs.Path(
            s"$path/$n/$Published")).getModificationTime < graceMs
        } catch { case _: java.io.FileNotFoundException => false }
        if (!young) fs.delete(st.getPath, true)
      }
    }
  }
}

/** The exactly-once NAMED-DELTA ledger shared by every index with an
  * incremental leg ([[AnnIndex.appendDelta]], [[HybridIndex.appendDelta]]):
  * `_DELTAS` lists the deltas committed (and still living) under
  * `root/deltas/{name}/`, swapped atomically per commit; `_ABSORBED`
  * lists names a COMPACTION folded into the base — the name stays
  * burned so a replayed absorb of an already-folded batch remains a
  * no-op after its rows moved out of `deltas/`. `_ABSORBED` is written
  * once into a version root BEFORE its publish, so it is atomic with
  * the version swap and needs no swap protocol of its own.
  */
private[similarity] object DeltaLog {

  val DeltasFile = "_DELTAS"
  val AbsorbedFile = "_ABSORBED"

  /** No dot-segments: "." / ".." would escape the deltas directory and
    * an overwrite-staged write could replace the BASE components.
    */
  def validName(name: String): Boolean =
    name.matches("[A-Za-z0-9_-][A-Za-z0-9._-]*") && !name.contains("..")

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[Seq[String]] =
    try {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        Some(s.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Delta names committed into the index at `root`. PASSIVE, OPTIMISTIC
    * read: OPEN `_DELTAS` first — an existence pre-check can pass and
    * the open still race the writer's swap (the writer parks the
    * current manifest at `.old` mid-commit) — fall back to READING the
    * `.old` backup, then retry the manifest once more (covering the
    * backup itself vanishing as the writer completes its swap). Never
    * rename on the read path: a read-side "repair" would race the
    * writer's own rename. Uncommitted `deltas/` directories are
    * invisible.
    */
  def committed(spark: SparkSession, root: String): Seq[String] = {
    val fs = IndexPublish.fsOf(spark, root)
    val cur = new org.apache.hadoop.fs.Path(s"$root/$DeltasFile")
    val old = new org.apache.hadoop.fs.Path(s"$root/$DeltasFile.old")
    readLines(fs, cur).orElse(readLines(fs, old)).orElse(readLines(fs, cur))
      .getOrElse(Seq.empty)
  }

  /** Names already folded into the base by a compaction. */
  def absorbed(spark: SparkSession, root: String): Seq[String] =
    readLines(IndexPublish.fsOf(spark, root),
      new org.apache.hadoop.fs.Path(s"$root/$AbsorbedFile")).getOrElse(Seq.empty)

  /** Every name that must never be absorbed again at `root`. */
  def burned(spark: SparkSession, root: String): Set[String] =
    (committed(spark, root) ++ absorbed(spark, root)).toSet

  /** Write the absorbed-name ledger into a (pre-publish) version root. */
  def writeAbsorbed(spark: SparkSession, root: String,
                    names: Seq[String]): Unit = {
    val fs = IndexPublish.fsOf(spark, root)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/$AbsorbedFile"), true)
    try {
      if (names.nonEmpty) out.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
    } finally out.close()
  }

  /** MIGRATE deltas that committed into `oldRoot` after a compaction's
    * `_DELTAS` snapshot: copy each late delta directory into `newRoot`
    * and commit its name there. One half of the two-sided recheck that
    * makes an OUT-OF-BAND fold safe against a concurrent absorber —
    * the compactor calls this right after publishing (covering commits
    * that landed before its recheck), and the absorber re-resolves
    * after every commit and re-appends if a new version won meanwhile
    * (covering commits that landed after). Both sides are idempotent:
    * directory copy is staged-overwrite, name commit is a no-op on
    * replay — so the delta arrives in the new version EXACTLY ONCE no
    * matter which side gets there first.
    */
  def migrateLate(spark: SparkSession, oldRoot: String, newRoot: String,
                  folded: Set[String]): Unit = {
    val fs = IndexPublish.fsOf(spark, oldRoot)
    committed(spark, oldRoot).filterNot(folded).foreach { n =>
      val src = s"$oldRoot/deltas/$n"
      if (fs.exists(new org.apache.hadoop.fs.Path(src)) &&
          !committed(spark, newRoot).contains(n)) {
        IndexPublish.copyDir(spark, src, s"$newRoot/deltas/$n")
        commit(spark, newRoot, n)
      }
    }
  }

  /** Append `name` to the committed-delta manifest by atomic swap
    * (write `.new`, move current aside, rename into place, roll back on
    * failure). Idempotent: an already-committed name is a no-op.
    * Crash recovery (restore `_DELTAS` from the `.old` backup) happens
    * HERE, on the single-writer path — one absorb stream per index, and
    * the streaming foreachBatch serializes its batches.
    */
  def commit(spark: SparkSession, root: String, name: String): Unit = {
    val fs = IndexPublish.fsOf(spark, root)
    val cur = new org.apache.hadoop.fs.Path(s"$root/$DeltasFile")
    val old = new org.apache.hadoop.fs.Path(s"$root/$DeltasFile.old")
    val neu = new org.apache.hadoop.fs.Path(s"$root/$DeltasFile.new")
    if (!fs.exists(cur) && fs.exists(old))
      require(fs.rename(old, cur), s"delta-manifest recovery failed for $cur")
    val names = committed(spark, root)
    if (names.contains(name)) return
    val out = fs.create(neu, true)
    try out.write(((names :+ name).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(old, true)
    if (fs.exists(cur))
      require(fs.rename(cur, old), s"delta-manifest swap: could not move $cur aside")
    if (!fs.rename(neu, cur)) {
      fs.rename(old, cur)
      throw new IllegalStateException(s"delta-manifest swap failed for $cur — rolled back")
    }
    fs.delete(old, true)
  }

}

/** The lifecycle of a persisted, versioned index root, written ONCE for
  * every index format ([[AnnIndex]], [[HybridIndex]]). The root `path`
  * is the Spark-native form of a DDFS tag: a mutable name whose readers
  * resolve the highest `_PUBLISHED` version `path/v{N}` ([[IndexPublish]]),
  * with the exactly-once named-delta ledger `_DELTAS` / `_ABSORBED`
  * inside each version ([[DeltaLog]]).
  *
  *  - [[exportVersion]]: claim `v{N+1}`, write the components, snapshot
  *    the manifest, publish (the marker create is the LAST write).
  *  - [[absorb]]: stage a named shard under `root/deltas/{name}/` with
  *    OVERWRITE semantics (a replay rebuilds the same bytes over its own
  *    half-written junk), then commit the name by one atomic `_DELTAS`
  *    swap. Readers union the base with COMMITTED deltas only, so a
  *    crashed half-written delta is invisible and a replay of a committed
  *    or folded name is a no-op. Safe against a concurrent [[compact]]:
  *    after the commit the root re-resolves, and if a fold published a
  *    version that carries neither the name (folded or migrated) nor a
  *    burn record for it, the stage re-runs against the new root.
  *  - [[compact]] (the fold): pin ONE `_DELTAS` snapshot through every
  *    component fold (a delta committed mid-fold can never land in one
  *    component but miss another), burn the folded names into the new
  *    version's `_ABSORBED` ledger, publish, then sweep deltas that
  *    committed into the old version after the snapshot
  *    ([[DeltaLog.migrateLate]] — the compactor half of the two-sided
  *    recheck whose absorber half is [[absorb]]'s re-resolve). Readers
  *    are never blocked: in-flight queries finish on the previous version
  *    (retained by publish + GC grace).
  *  - [[maintain]]: the out-of-band entry that folds only when due.
  *
  * A format supplies only what differs: its components' fold jobs
  * ([[componentFolds]]), its manifest plan ([[manifestPlan]]) and an
  * optional mutation guard ([[requireMutable]]); it stages slices and
  * serves through its own builders and [[unionParts]].
  */
private[graft] trait IndexLifecycle {

  /** Read-back counts of the SERVED index at `root` (base plus committed
    * deltas) — the source-of-truth rule: the manifest says what serves.
    * [[writeManifest]] collects it, so a plan that is already a local
    * relation costs no job before the manifest write.
    */
  protected def manifestPlan(spark: SparkSession, root: String): DataFrame

  /** One independent step per component: rewrite (or copy) base ∪
    * `deltas` at `root` as the base of `newRoot` (the steps run
    * overlapped).
    */
  protected def componentFolds(spark: SparkSession, root: String,
                               newRoot: String, deltas: Seq[String]): Seq[() => Unit]

  /** Runs on the resolved root before any absorb or fold. */
  protected def requireMutable(spark: SparkSession, root: String): Unit = ()

  /** Delta names committed into the index at `root` — see
    * [[DeltaLog.committed]] (the shared optimistic-read protocol).
    */
  def committedDeltas(spark: SparkSession, root: String): Seq[String] =
    DeltaLog.committed(spark, root)

  protected def exportVersion(spark: SparkSession, path: String)(
      writeComponents: String => Unit): DataFrame =
    publishVersion(spark, path) { root =>
      writeComponents(root)
      writeManifest(spark, root)
    }

  /** The one version swap: claim the next root, `build` it, publish. */
  private def publishVersion[A](spark: SparkSession, path: String)(
      build: String => A): A = {
    val (root, next, prev) = IndexPublish.begin(spark, path)
    val out = build(root)
    IndexPublish.publish(spark, path, next, prev)
    out
  }

  /** Stage `name` through `stage(root, dir)` and commit it; true when
    * newly committed, false on a replay. `beforeCommit` is the test seam:
    * it runs once, after the staging writes and before the `_DELTAS`
    * commit — the window a concurrent fold can win the race in.
    *
    * `refreshManifest` re-counts the WHOLE served index — for
    * [[AnnIndex]] one listing of the served parts, one footer read per
    * data file on the driver and one write job — so batch absorbers
    * pass false and refresh once per commit batch. A crash
    * between the commit and the refresh leaves the manifest stale until
    * the next refresh — acceptable: `_DELTAS` bears correctness, the
    * manifest is counts.
    */
  protected def absorb(spark: SparkSession, path: String, name: String,
      beforeCommit: () => Unit, refreshManifest: Boolean)(
      stage: (String, String) => Unit): Boolean = {
    require(DeltaLog.validName(name), s"bad delta name '$name'")
    var root = IndexPublish.resolve(spark, path)
    requireMutable(spark, root)
    if (DeltaLog.burned(spark, root).contains(name)) return false
    var hook = beforeCommit
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      if (rounds > 10) throw new IllegalStateException(
        s"appendDelta($name): no stable version after $rounds rounds")
      stage(root, s"$root/deltas/$name")
      hook(); hook = () => () // the injected race fires once
      DeltaLog.commit(spark, root, name)
      val now = IndexPublish.resolve(spark, path)
      if (now == root || DeltaLog.burned(spark, now).contains(name)) done = true
      else root = now // a fold won the race: re-stage against its root
    }
    if (refreshManifest) writeManifest(spark, root)
    true
  }

  /** COMPACTION: fold every committed delta into a fresh versioned base
    * (see the trait doc) and return its manifest. No-op below
    * `minDeltas` committed deltas, returning a snapshot of the current
    * manifest.
    */
  def compact(spark: SparkSession, path: String, minDeltas: Int = 1): DataFrame =
    fold(spark, path, minDeltas, () => ())

  /** [[compact]] with a test seam: `beforePublish` runs after the fold
    * writes and before the atomic publish.
    */
  private[graft] def compactHooked(spark: SparkSession, path: String,
      minDeltas: Int, beforePublish: () => Unit): DataFrame =
    fold(spark, path, minDeltas, beforePublish)

  private def fold(spark: SparkSession, path: String, minDeltas: Int,
                   beforePublish: () => Unit): DataFrame = {
    val root = IndexPublish.resolve(spark, path)
    requireMutable(spark, root)
    val deltas = committedDeltas(spark, root)
    if (deltas.size < math.max(1, minDeltas))
      return snapshot(spark, graft.core.Tables.parquet(spark, s"$root/manifest"))
    val newRoot = publishVersion(spark, path) { newRoot =>
      graft.core.Jobs.inParallel(componentFolds(spark, root, newRoot, deltas))
      DeltaLog.writeAbsorbed(spark, newRoot,
        DeltaLog.absorbed(spark, root) ++ deltas)
      beforePublish()
      newRoot
    }
    DeltaLog.migrateLate(spark, root, newRoot, deltas.toSet)
    writeManifest(spark, newRoot)
  }

  /** Run a compaction when due — the OUT-OF-BAND maintenance entry, to
    * be called from a driver-side scheduler or
    * [[graft.streaming.Streams.indexMaintainer]] rather than from inside
    * a streaming micro-batch: the fold is index-body-linear. Returns true
    * when a fold ran; a batch where nothing is due touches nothing.
    */
  def maintain(spark: SparkSession, path: String, minDeltas: Int = 8): Boolean = {
    val due = committedDeltas(spark, IndexPublish.resolve(spark, path)).size >=
      math.max(1, minDeltas)
    if (due) compact(spark, path, minDeltas)
    due
  }

  /** The directories of the one reading rule of the serving paths, the
    * manifests and the folds: base `component`, then each delta's in
    * `deltas` (the committed set, or a fold's pinned snapshot).
    */
  protected def partDirs(root: String, component: String,
                         deltas: Seq[String]): Seq[String] =
    s"$root/$component" +: deltas.map(d => s"$root/deltas/$d/$component")

  /** The rows of [[partDirs]], unioned. Each part is read at its own
    * directory, so a hive-partitioned component keeps its partition
    * column, and takes its own footer's schema
    * ([[graft.core.Tables.parquet]], read on the driver), so a delta
    * keeps the type its caller wrote.
    */
  protected def unionParts(spark: SparkSession, root: String, component: String,
                           cols: Seq[String], deltas: Seq[String]): DataFrame =
    partDirs(root, component, deltas)
      .map(dir => graft.core.Tables.parquet(spark, dir).select(cols.map(col): _*))
      .reduce(_ unionByName _)

  protected def writeManifest(spark: SparkSession, root: String): DataFrame =
    snapshotManifest(spark, root, manifestPlan(spark, root))

  /** ONE counting action: collect the summary rows, write and return the
    * LOCAL relation — immune to later refreshes of the same root (which
    * would delete the files under a lazy read-back), no per-consumer
    * re-read, and the write is a driver-local one-task job landing one
    * file.
    */
  private def snapshotManifest(spark: SparkSession, root: String,
                               plan: DataFrame): DataFrame = {
    val local = snapshot(spark, plan)
    local.coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
    local
  }

  /** The collected rows of `plan` as a local relation, ORDERED ON THE
    * DRIVER by the manifest key — `component`, then `cell` where the
    * column exists: a manifest is a handful of rows, so a Spark sort
    * would only add a range-exchange job.
    */
  private def snapshot(spark: SparkSession, plan: DataFrame): DataFrame = {
    val byCell = plan.columns.contains("cell")
    val rows = plan.collect().sortBy(r => (r.getAs[String]("component"),
      if (byCell) r.getAs[Long]("cell") else 0L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), plan.schema)
  }
}
