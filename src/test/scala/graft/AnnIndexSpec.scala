package graft

import graft.similarity.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Round-trip parity for the exported ANN index: the serving path over
  * the persisted tables must answer exactly what the in-session
  * operators answer.
  */
class AnnIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def embs = graft.core.Tables.embeddings(spark, sfDir)
  private def path = graft.io.IoScratch.dir + "/ann_index_spec"

  test("servedTopK over the exported index is bit-identical to ivfTopK") {
    AnnIndex.export(spark, embs, "vec_id", "embedding", path,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val direct = Similarity.ivfTopK(embs, "vec_id", "embedding",
        embs.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, cells = 4, nProbe = 2, lloydIters = 3)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val served = AnnIndex.servedTopK(spark, path,
        embs.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(served == direct)
  }

  test("loadCodebooks round-trips pqTrain; ADC from disk matches in-session ADC") {
    AnnIndex.export(spark, embs, "vec_id", "embedding", path,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val cbs = Similarity.pqTrain(spark, embs, "vec_id", "embedding",
      m = 4, ks = 4, iterations = 3)
    assert(AnnIndex.loadCodebooks(spark, path) == cbs)
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val fresh = Similarity.pqSearchAdc(
        Similarity.pqEncode(embs, "vec_id", "embedding", cbs)
          .select(col("id"), col("codes")),
        cbs, queries, k = 5)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val fromDisk = Similarity.pqSearchAdc(
        spark.read.parquet(s"${AnnIndex.resolve(spark, path)}/codes")
          .select(col("vec_id").as("id"), col("codes")),
        AnnIndex.loadCodebooks(spark, path), queries, k = 5)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(fromDisk == fresh)
  }

  test("append: frozen-quantizer shard absorption — order-invariant, planted dup served") {
    import org.apache.spark.sql.functions.{array, lit}
    val a = embs.filter(col("vec_id") < 300)
    val b = embs.filter(col("vec_id") >= 300)
    val p1 = graft.io.IoScratch.dir + "/ann_append_1"
    val p2 = graft.io.IoScratch.dir + "/ann_append_2"
    // same base export, shards appended in opposite batchings
    AnnIndex.export(spark, a, "vec_id", "embedding", p1,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    AnnIndex.export(spark, a, "vec_id", "embedding", p2,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val b1 = b.filter(col("vec_id") % 2 === 0)
    val b2 = b.filter(col("vec_id") % 2 =!= 0)
    AnnIndex.append(spark, b1, "vec_id", "embedding", p1)
    AnnIndex.append(spark, b2, "vec_id", "embedding", p1)
    val m2 = AnnIndex.append(spark, b, "vec_id", "embedding", p2)
      .as[(String, Long, Long)].collect().toSet
    val n = embs.count()
    // every vector present exactly once, whatever the batching
    assert(m2.filter(_._1 == "vectors").map(_._3).sum == n)
    assert(m2.find(_._1 == "codes").get._3 == n)
    val r1 = AnnIndex.resolve(spark, p1)
    assert(spark.read.option("basePath", s"$r1/vectors")
      .parquet(s"$r1/vectors").select("vec_id").distinct().count() == n)
    val queries = embs.filter(col("vec_id") < 3)
    def served(p: String) = AnnIndex.servedTopK(spark, p, queries,
        "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(served(p1) == served(p2), "append must be order-invariant")
    // a planted exact duplicate of query 0 lands via append and must be
    // served at rank 1 with sim 1.0
    val q0 = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head()
    val dup = spark.range(990000, 990001).select(col("id").as("vec_id"),
      array(q0.map(lit): _*).as("embedding"))
    AnnIndex.append(spark, dup, "vec_id", "embedding", p1)
    val top = AnnIndex.servedTopK(spark, p1,
        embs.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, nProbe = 2)
      .filter(col("rank") === 1)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(top == Seq((0L, 990000L, 1, 1.0)), s"got $top")
  }

  test("appendDelta: exactly-once absorb — replay no-op, uncommitted delta invisible, order-invariant") {
    val a = embs.filter(col("vec_id") < 300)
    val b = embs.filter(col("vec_id") >= 300)
    val b1 = b.filter(col("vec_id") % 2 === 0)
    val b2 = b.filter(col("vec_id") % 2 =!= 0)
    val Seq(p1, p2, p3) = Seq(1, 2, 3).map(i => graft.io.IoScratch.dir + s"/ann_delta_$i")
    Seq(p1, p2, p3).foreach(p => AnnIndex.export(spark, a, "vec_id", "embedding",
      p, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3))
    def served(p: String) = AnnIndex.servedTopK(spark, p,
        embs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // order-invariance: same shard SET absorbed in opposite order
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p1, "d1"))
    assert(AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p1, "d2"))
    assert(AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p2, "d1"))
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p2, "d2"))
    assert(served(p1) == served(p2), "absorb order must not change served results")
    // parity with the in-place batch append of the same shards
    AnnIndex.append(spark, b, "vec_id", "embedding", p3)
    assert(served(p1) == served(p3), "delta absorb must serve what batch append serves")
    // replay of a committed delta name is a no-op
    val before = served(p1)
    assert(!AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p1, "d1"))
    assert(served(p1) == before)
    assert(AnnIndex.committedDeltas(spark, AnnIndex.resolve(spark, p1))
      == Seq("d1", "d2"))
    // the PQ serving tier and the read-back manifest both count the
    // absorbed shards (base + committed deltas), not just the base
    val n = embs.count()
    assert(AnnIndex.pqCodes(spark, AnnIndex.resolve(spark, p1)).count() == n)
    val man = spark.read.parquet(s"${AnnIndex.resolve(spark, p1)}/manifest")
      .as[(String, Long, Long)].collect().toSeq
    assert(man.filter(_._1 == "vectors").map(_._3).sum == n)
    assert(man.find(_._1 == "codes").get._3 == n)
    // dot-segment delta names must be rejected (path traversal into the
    // base layout)
    intercept[IllegalArgumentException](
      AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p1, ".."))
    intercept[IllegalArgumentException](
      AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p1, ".hidden"))
    // a half-written UNCOMMITTED delta (crash mid-write) is invisible …
    val r1 = AnnIndex.resolve(spark, p1)
    b1.limit(3).select(col("vec_id"), col("embedding").as("v"))
      .write.mode("overwrite").parquet(s"$r1/deltas/d9/vectors")
    assert(served(p1) == before, "an uncommitted delta must never serve")
    // … and the post-crash replay of that delta overwrites the junk and
    // absorbs exactly once: a planted duplicate of query 0 serves at rank 1
    val q0 = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head()
    val dup = spark.range(990000, 990001).select(col("id").as("vec_id"),
      array(q0.map(lit): _*).as("embedding"))
    assert(AnnIndex.appendDelta(spark, dup, "vec_id", "embedding", p1, "d9"))
    val top = AnnIndex.servedTopK(spark, p1,
        embs.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, nProbe = 2)
      .filter(col("rank") === 1)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(top == Seq((0L, 990000L, 1, 1.0)), s"got $top")
    // a fresh export supersedes every delta under a new published version
    AnnIndex.export(spark, a, "vec_id", "embedding", p1,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.committedDeltas(spark, AnnIndex.resolve(spark, p1)).isEmpty)
  }

  test("manifest counts what landed; re-export overwrites cleanly") {
    val m1 = AnnIndex.export(spark, embs, "vec_id", "embedding", path,
        cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
      .as[(String, Long, Long)].collect().toSeq
    val n = embs.count()
    assert(m1.filter(_._1 == "vectors").map(_._3).sum == n)
    assert(m1.find(_._1 == "codes").get._3 == n)
    assert(m1.find(_._1 == "centroids").get._3 == 4L)
    assert(m1.find(_._1 == "codebooks").get._3 == 16L)
    // a second export at DIFFERENT cell count must fully replace the
    // first layout (stale cell directories must not survive)
    val m2 = AnnIndex.export(spark, embs, "vec_id", "embedding", path,
        cells = 2, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(m2.filter(_._1 == "vectors").map(_._3).sum == n)
    assert(m2.count(_._1 == "vectors") == 2)
    val root = AnnIndex.resolve(spark, path)
    assert(spark.read.option("basePath", s"$root/vectors")
      .parquet(s"$root/vectors").count() == n)
  }

  test("publish is atomic: readers serve the old version through a rebuild") {
    val p = graft.io.IoScratch.dir + "/ann_atomic"
    val hconf0 = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf0)
      .delete(new org.apache.hadoop.fs.Path(p), true) // clean slate: v1 next
    AnnIndex.export(spark, embs, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val v1 = AnnIndex.resolve(spark, p)
    assert(v1.endsWith("/v1"), v1)
    val queries = embs.filter(col("vec_id") < 5)
    def serve() = AnnIndex.servedTopK(spark, p, queries,
        "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val before = serve()
    // simulate a rebuild IN FLIGHT: a partial v2 exists but carries no
    // _PUBLISHED marker — readers must keep resolving (and serving) v1
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p/v2/centroids"))
    assert(AnnIndex.resolve(spark, p) == v1)
    assert(serve() == before, "mid-rebuild reads must serve the old version")
    // the next export claims v2, REPLACES the crashed junk, publishes
    // atomically, and retains v1 for in-flight readers
    AnnIndex.export(spark, embs, "vec_id", "embedding", p,
      cells = 2, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.resolve(spark, p).endsWith("/v2"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/v1/$anyPublished")),
      "the immediate predecessor must be retained")
    // a third export would GC v1 under keep-new-plus-predecessor, but v1
    // was published moments ago: the GC GRACE window keeps it, so a
    // reader that resolved v1 just before two rapid publishes can still
    // finish scanning it (the r15 Wrong-#3 fix)
    AnnIndex.export(spark, embs, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.resolve(spark, p).endsWith("/v3"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/v1")),
      "two rapid publishes must not delete a version inside the grace window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/v2")))
    // age v1's publish instant past the grace window: the next publish
    // collects it (v2 survives regardless as the immediate predecessor)
    val aged = System.currentTimeMillis() -
      graft.similarity.IndexPublish.GcGraceMs - 60000
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$p/v1/$anyPublished"), aged, -1)
    AnnIndex.export(spark, embs, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.resolve(spark, p).endsWith("/v4"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/v1")),
      "versions beyond the grace window (and the predecessor) are GCed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/v3")),
      "the immediate predecessor is always retained")
  }

  test("compact folds committed deltas into a fresh base: served bits unchanged, replays stay burned") {
    val p = graft.io.IoScratch.dir + "/ann_compact"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val a = embs.filter(col("vec_id") < 300)
    val b1 = embs.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = embs.filter(col("vec_id") >= 400)
    AnnIndex.export(spark, a, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p, "d1"))
    assert(AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p, "d2"))
    val queries = embs.filter(col("vec_id") < 5)
    def serve() = AnnIndex.servedTopK(spark, p, queries,
        "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val before = serve()
    // below the threshold: a no-op that returns the current manifest
    val v1 = AnnIndex.resolve(spark, p)
    AnnIndex.compact(spark, p, minDeltas = 3)
    assert(AnnIndex.resolve(spark, p) == v1, "below minDeltas: no new version")
    // the fold: fresh base, empty delta set, identical served bits
    AnnIndex.compact(spark, p, minDeltas = 2)
    val v2 = AnnIndex.resolve(spark, p)
    assert(v2 != v1 && v2.endsWith("/v2"))
    assert(AnnIndex.committedDeltas(spark, v2).isEmpty,
      "compacted version starts with no deltas")
    assert(serve() == before, "frozen-quantizer fold must not move a bit")
    val n = embs.count()
    assert(AnnIndex.pqCodes(spark, v2).count() == n)
    // replayed absorb of a FOLDED name: burned in _ABSORBED, still a no-op
    assert(!AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p, "d1"),
      "a compaction must not resurrect an absorbed batch name")
    assert(serve() == before)
    // a genuinely new shard still absorbs, and a second compact folds it
    // while keeping d1/d2 burned (ledger union)
    val extra = b1.withColumn("vec_id", col("vec_id") + 9000)
    assert(AnnIndex.appendDelta(spark, extra, "vec_id", "embedding", p, "d3"))
    AnnIndex.compact(spark, p, minDeltas = 1)
    val v3 = AnnIndex.resolve(spark, p)
    assert(AnnIndex.pqCodes(spark, v3).count() == n + b1.count())
    assert(!AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p, "d2"))
    assert(!AnnIndex.appendDelta(spark, extra, "vec_id", "embedding", p, "d3"))
  }

  test("compact below minDeltas returns a manifest snapshot that a later absorb cannot move") {
    val p = graft.io.IoScratch.dir + "/ann_compact_early"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val a = embs.filter(col("vec_id") < 300)
    val b1 = embs.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = embs.filter(col("vec_id") >= 400)
    AnnIndex.export(spark, a, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p, "d1"))
    val v1 = AnnIndex.resolve(spark, p)
    val held = AnnIndex.compact(spark, p, minDeltas = 5) // below: early return
    assert(AnnIndex.resolve(spark, p) == v1)
    // the refresh rewrites the manifest files of the same root
    assert(AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p, "d2",
      refreshManifest = true))
    val rows = held.as[(String, Long, Long)].collect().toSeq
    val n1 = a.count() + b1.count()
    assert(rows.filter(_._1 == "vectors").map(_._3).sum == n1)
    assert(rows.find(_._1 == "codes").get._3 == n1,
      "the held early-return manifest must keep its own counts")
  }

  test("out-of-band compact: a delta committed DURING the fold migrates into the new version") {
    val p = graft.io.IoScratch.dir + "/ann_compact_race1"
    val ref = graft.io.IoScratch.dir + "/ann_compact_race1_ref"
    val hconf = spark.sparkContext.hadoopConfiguration
    Seq(p, ref).foreach(d => new org.apache.hadoop.fs.Path(d)
      .getFileSystem(hconf).delete(new org.apache.hadoop.fs.Path(d), true))
    val a = embs.filter(col("vec_id") < 300)
    val b1 = embs.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = embs.filter(col("vec_id") >= 400)
    AnnIndex.export(spark, a, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p, "d1"))
    // the fold's _DELTAS snapshot sees only d1; "late" commits into the
    // OLD version while the fold is writing — the post-publish
    // migration sweep must carry it into the new version
    var lateCommitted = false
    AnnIndex.compactHooked(spark, p, 1, () => {
      lateCommitted = AnnIndex.appendDelta(spark, b2, "vec_id", "embedding",
        p, "late")
    })
    assert(lateCommitted)
    val v2 = AnnIndex.resolve(spark, p)
    assert(v2.endsWith("/v2"), v2)
    assert(AnnIndex.committedDeltas(spark, v2) == Seq("late"),
      "the late delta must have migrated into the published fold")
    assert(AnnIndex.pqCodes(spark, v2).count() == embs.count())
    // exactly-once across the migration
    assert(!AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p, "late"))
    // served bits = the no-compaction reference (same frozen quantizers,
    // same absorbed set => pure-function-of-set contract)
    AnnIndex.export(spark, a, "vec_id", "embedding", ref,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", ref, "d1"))
    assert(AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", ref, "late"))
    val queries = embs.filter(col("vec_id") < 5)
    def serve(at: String) = AnnIndex.servedTopK(spark, at, queries,
        "vec_id", "embedding", k = 10, nProbe = 2)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(serve(p) == serve(ref))
  }

  test("out-of-band compact: an absorb that loses the publish race re-appends into the winner") {
    val p = graft.io.IoScratch.dir + "/ann_compact_race2"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val a = embs.filter(col("vec_id") < 300)
    val b1 = embs.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = embs.filter(col("vec_id") >= 400)
    AnnIndex.export(spark, a, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    assert(AnnIndex.appendDelta(spark, b1, "vec_id", "embedding", p, "d1"))
    // "racer" stages against v1, then a full fold (of d1 only — the
    // stage is uncommitted, so invisible) publishes v2 BEFORE racer's
    // commit lands: the commit goes into the dead version and the
    // absorber's post-commit recheck must re-append into v2
    assert(AnnIndex.appendDeltaHooked(spark, b2, "vec_id", "embedding",
      p, "racer", 0, () => {
        AnnIndex.compact(spark, p, minDeltas = 1); ()
      }))
    val v2 = AnnIndex.resolve(spark, p)
    assert(v2.endsWith("/v2"), v2)
    assert(AnnIndex.committedDeltas(spark, v2) == Seq("racer"),
      "the raced absorb must land in the winning version")
    assert(AnnIndex.pqCodes(spark, v2).count() == embs.count())
    assert(!AnnIndex.appendDelta(spark, b2, "vec_id", "embedding", p, "racer"))
  }

  test("indexMaintainer: absorbs stay flat-path while folds run out-of-band; end state serves every shard") {
    val p = graft.io.IoScratch.dir + "/ann_maintainer"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val a = embs.filter(col("vec_id") < 300)
    AnnIndex.export(spark, a, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    // maintainer folds on its own daemon thread whenever >= 2 deltas
    // accumulated; the "stream" keeps absorbing shards meanwhile — the
    // batch path never calls compact (the flat-latency shape), and the
    // two-sided recheck keeps every shard exactly-once whatever the
    // interleaving
    val maintainer = graft.streaming.Streams.indexMaintainer(50) { () =>
      AnnIndex.maintain(spark, p, minDeltas = 2); ()
    }
    try {
      (0 until 4).foreach { i =>
        val shard = embs.filter(col("vec_id") >= 300 + i * 50 &&
          col("vec_id") < 300 + (i + 1) * 50)
        assert(AnnIndex.appendDelta(spark, shard, "vec_id", "embedding",
          p, f"s$i%02d"))
      }
    } finally maintainer.close()
    // one final fold so the end state is fully compacted
    AnnIndex.compact(spark, p, minDeltas = 1)
    val v = AnnIndex.resolve(spark, p)
    val served = AnnIndex.pqCodes(spark, v).select("vec_id")
      .as[Long].collect().toSet
    val expect = embs.filter(col("vec_id") < 500).select("vec_id")
      .as[Long].collect().toSet
    assert(served == expect,
      s"every absorbed shard must serve exactly once (missing: ${expect -- served}, extra: ${served -- expect})")
    // every shard name stays burned
    (0 until 4).foreach { i =>
      val shard = embs.filter(col("vec_id") >= 300 + i * 50 &&
        col("vec_id") < 300 + (i + 1) * 50)
      assert(!AnnIndex.appendDelta(spark, shard, "vec_id", "embedding",
        p, f"s$i%02d"))
    }
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) =
    org.apache.spark.TestBus.jobsOf(spark.sparkContext)(body)

  test("job budget: quantizer loads one job each; a refreshing appendDelta at most 5") {
    val p = graft.io.IoScratch.dir + "/ann_job_budget"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    AnnIndex.export(spark, embs.filter(col("vec_id") < 300), "vec_id", "embedding",
      p, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    // the shard's own read (and its schema inference) happens here, not
    // inside the counted call
    val shard = embs.filter(col("vec_id") >= 300 && col("vec_id") < 350)
    val (centers, centroidJobs) = jobsOf(AnnIndex.loadCentroids(spark, p))
    assert(centers.length == 4)
    assert(centroidJobs == 1, s"loadCentroids ran $centroidJobs jobs")
    val (cbs, codebookJobs) = jobsOf(AnnIndex.loadCodebooks(spark, p))
    assert(cbs.length == 4 && cbs.forall(_.length == 4))
    assert(codebookJobs == 1, s"loadCodebooks ran $codebookJobs jobs")
    val (added, appendJobs) = jobsOf(AnnIndex.appendDelta(spark, shard,
      "vec_id", "embedding", p, "d1", refreshManifest = true))
    assert(added)
    // the two quantizer loads, the lists and codes writes, the manifest
    // write: the manifest is counted from footers, no job
    assert(appendJobs <= 5, s"appendDelta ran $appendJobs jobs")
  }

  test("declared quantizer schemas match what export writes; manifest equals an independent recount") {
    val p = graft.io.IoScratch.dir + "/ann_schema_recount"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    AnnIndex.export(spark, embs.filter(col("vec_id") < 300), "vec_id", "embedding",
      p, cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)
    val v1 = AnnIndex.resolve(spark, p)
    // names and types, nullability ignored
    def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> (f.dataType match {
      case ArrayType(t, _) => ArrayType(t)
      case t => t
    }))
    def inferred(c: String) = shape(spark.read.parquet(s"$v1/$c").schema)
    assert(inferred("centroids") == shape(AnnIndex.CentroidSchema))
    assert(inferred("codebooks") == shape(AnnIndex.CodebookSchema))
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400), "vec_id", "embedding", p, "d1"))
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 400),
      "vec_id", "embedding", p, "d2"))
    val root = AnnIndex.resolve(spark, p)
    // one file, rows in manifest-key order
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/manifest"))
      .count(_.getPath.getName.endsWith(".parquet")) == 1)
    val rows = spark.read.parquet(s"$root/manifest")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == rows.sortBy(r => (r._1, r._2)))
    val manifest = rows.toSet
    val perCell = AnnIndex.vectorLists(spark, root).groupBy("cell").count()
      .as[(Int, Long)].collect().map { case (c, n) => ("vectors", c.toLong, n) }
    val recount = perCell.toSet ++ Set(
      ("centroids", -1L, 4L), ("codebooks", -1L, 16L),
      ("codes", -1L, AnnIndex.pqCodes(spark, root).count()))
    assert(manifest == recount)
    assert(perCell.map(_._3).sum == embs.count())
  }

  private val anyPublished = "_PUBLISHED"
}
