package graft

import graft.similarity.AnnIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The AnnIndex bookkeeping runs on the driver: the manifest is summed
  * from parquet footers and must equal the Spark count it replaced; a
  * fold copies the frozen quantizer files and rewrites the lists and
  * codes at a width sized to their bytes, and a crash before its publish
  * leaves the index serving the previous version.
  */
class AnnBookkeepingSpec extends SparkTestBase {
  import spark.implicits._

  private def embs = graft.core.Tables.embeddings(spark, sfDir)
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(graft.io.IoScratch.dir).getFileSystem(hconf)

  private def scratch(name: String): String = {
    val p = graft.io.IoScratch.dir + "/ann_bookkeeping/" + name
    fs.delete(new Path(p), true)
    p
  }

  private def export(rows: DataFrame, p: String): Unit =
    AnnIndex.export(spark, rows, "vec_id", "embedding", p,
      cells = 4, lloydIters = 3, m = 4, ks = 4, pqIters = 3)

  /** The manifest as a Spark aggregation over the served parts: every
    * part read through a declared `cell` column, the components tagged
    * and counted by one `groupBy(component, cell)`.
    */
  private def referenceManifest(root: String): DataFrame = {
    val deltas = AnnIndex.committedDeltas(spark, root)
    val cellSchema = StructType(Seq(StructField("cell", IntegerType)))
    def cells(c: String) = (s"$root/$c" +: deltas.map(d => s"$root/deltas/$d/$c"))
      .map(spark.read.schema(cellSchema).parquet(_).select("cell"))
      .reduce(_ unionByName _)
    def tagged(component: String, rows: DataFrame, cell: org.apache.spark.sql.Column) =
      rows.select(lit(component).as("component"), cell.cast("long").as("cell"))
    Seq(tagged("vectors", cells("vectors"), col("cell")),
      tagged("centroids", spark.read.schema(AnnIndex.CentroidSchema)
        .parquet(s"$root/centroids"), lit(-1L)),
      tagged("codebooks", spark.read.schema(AnnIndex.CodebookSchema)
        .parquet(s"$root/codebooks"), lit(-1L)),
      tagged("codes", cells("codes"), lit(-1L)))
      .reduce(_ unionByName _)
      .groupBy("component", "cell")
      .agg(count(lit(1)).as("rows"))
  }

  /** The footer manifest of the index at `p` equals the reference, rows
    * and schema (nullability included); with `written`, the `manifest/`
    * file the last refresh wrote reads back the same rows.
    */
  private def assertManifestParity(p: String, written: Boolean = true): Set[Row] = {
    val root = AnnIndex.resolve(spark, p)
    val got = AnnIndex.manifestPlan(spark, root)
    val want = referenceManifest(root)
    assert(got.schema == want.schema, s"${got.schema.treeString}\n${want.schema.treeString}")
    val rows = got.collect().toSet
    assert(rows == want.collect().toSet)
    if (written) assert(spark.read.parquet(s"$root/manifest").collect().toSet == rows)
    rows
  }

  private def served(p: String, nProbe: Int = 2): Seq[(Long, Long, Int, Double)] =
    AnnIndex.servedTopK(spark, p, embs.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nProbe = nProbe)
      .orderBy("query_id", "vec_id")
      .as[(Long, Long, Int, Double)].collect().toSeq

  private def dataFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))

  test("footer manifest equals the Spark count: export, typed deltas, fold") {
    val p = scratch("parity")
    export(embs.filter(col("vec_id") < 300), p)
    assertManifestParity(p)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400), "vec_id", "embedding", p, "d1"))
    // a delta whose vec_id is an int, not the base's long
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 400)
      .withColumn("vec_id", col("vec_id").cast("int")), "vec_id", "embedding", p, "d2"))
    val rows = assertManifestParity(p)
    assert(rows.filter(_.getString(0) == "vectors").toSeq.map(_.getLong(2)).sum == embs.count())
    AnnIndex.compact(spark, p, minDeltas = 1)
    assert(AnnIndex.committedDeltas(spark, AnnIndex.resolve(spark, p)).isEmpty)
    assert(assertManifestParity(p) == rows)
  }

  test("footer manifest equals the Spark count: empty delta, null-element vector, zero-row file") {
    val p = scratch("edge")
    export(embs.filter(col("vec_id") < 300), p)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") < 0),
      "vec_id", "embedding", p, "empty"))
    assertManifestParity(p)
    // a vector with a null element has no nearest cell: it lands in the
    // default partition, counted under a null cell
    val dim = embs.select(size(col("embedding"))).as[Int].head()
    val nullVec = Seq((990000L, null.asInstanceOf[java.lang.Double] +:
      Seq.fill(dim - 1)(java.lang.Double.valueOf(0.5)))).toDF("vec_id", "embedding")
    assert(AnnIndex.appendDelta(spark, nullVec, "vec_id", "embedding", p, "nulls"))
    val root = AnnIndex.resolve(spark, p)
    assert(fs.exists(new Path(s"$root/deltas/nulls/vectors/cell=__HIVE_DEFAULT_PARTITION__")))
    val rows = assertManifestParity(p)
    assert(rows.contains(Row("vectors", null, 1L)))
    // a cell directory holding only a zero-row file has no manifest row
    Seq.empty[(Long, Seq[Double], Double)].toDF("vec_id", "v", "n").coalesce(1)
      .write.parquet(s"$root/deltas/empty/vectors/cell=7")
    assert(dataFiles(s"$root/deltas/empty/vectors/cell=7").nonEmpty)
    assert(!assertManifestParity(p, written = false).exists(r => r.get(1) == 7L))
  }

  test("footer manifest skips hidden and marker files; a missing part fails as its read does") {
    val p = scratch("hidden")
    export(embs.filter(col("vec_id") < 300), p)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300),
      "vec_id", "embedding", p, "d1"))
    val root = AnnIndex.resolve(spark, p)
    // marker and hidden names holding non-parquet bytes, beside the
    // checksum files the local filesystem wrote
    val junk = Seq("_SUCCESS", "_committed_123", "_started_123", ".hidden")
    Seq(s"$root/codes", s"$root/vectors/cell=0", s"$root/deltas/d1/codes", s"$root/centroids")
      .foreach { dir =>
        junk.foreach { n =>
          val out = fs.create(new Path(s"$dir/$n"), true)
          try out.write("not parquet".getBytes("UTF-8")) finally out.close()
        }
        assert(new java.io.File(dir).list().exists(_.endsWith(".crc")))
      }
    assertManifestParity(p)
    fs.delete(new Path(s"$root/deltas/d1/codes"), true)
    val want = intercept[AnalysisException](referenceManifest(root))
    val got = intercept[AnalysisException](AnnIndex.manifestPlan(spark, root))
    assert(got.getCondition == "PATH_NOT_FOUND")
    assert(got.getMessage == want.getMessage)
  }

  test("a small fold writes one file per cell and one codes file, copies the quantizers byte for byte") {
    val p = scratch("layout")
    val fresh = scratch("layout_fresh")
    export(embs.filter(col("vec_id") < 300), p)
    Seq((300, 350, "d1"), (350, 400, "d2"), (400, 10000, "d3")).foreach { case (lo, hi, n) =>
      assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding", p, n))
    }
    val v1 = AnnIndex.resolve(spark, p)
    val before = served(p)
    AnnIndex.compact(spark, p, minDeltas = 1)
    val v2 = AnnIndex.resolve(spark, p)
    assert(v2 != v1)
    val cells = fs.listStatus(new Path(s"$v2/vectors")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("cell="))
    assert(cells.size == 4)
    cells.foreach(c => assert(dataFiles(c.toString).size == 1, s"$c holds ${dataFiles(c.toString)}"))
    assert(dataFiles(s"$v2/codes").size == 1)
    def bytes(f: Path) = {
      val in = fs.open(f)
      try in.readAllBytes().toSeq finally in.close()
    }
    Seq("centroids", "codebooks").foreach { c =>
      val src = dataFiles(s"$v1/$c").sortBy(_.getName)
      val dst = dataFiles(s"$v2/$c").sortBy(_.getName)
      assert(dst.map(_.getName) == src.map(_.getName))
      src.zip(dst).foreach { case (a, b) => assert(bytes(a) == bytes(b), s"$b differs from $a") }
    }
    assert(served(p) == before, "the fold must not move a served bit")
    export(embs, fresh)
    assert(served(p, nProbe = 4) == served(fresh, nProbe = 4))
  }

  test("a fold that fails before its publish leaves the previous version serving; a retry publishes") {
    val p = scratch("crash")
    val fresh = scratch("crash_fresh")
    export(embs.filter(col("vec_id") < 300), p)
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400), "vec_id", "embedding", p, "d1"))
    assert(AnnIndex.appendDelta(spark, embs.filter(col("vec_id") >= 400),
      "vec_id", "embedding", p, "d2"))
    val v1 = AnnIndex.resolve(spark, p)
    val before = served(p)
    val err = intercept[IllegalStateException](AnnIndex.compactHooked(spark, p, 1, () => {
      // the copies and the sized rewrites have landed in the unpublished root
      Seq("centroids", "codebooks", "codes").foreach(c =>
        assert(dataFiles(s"$p/v2/$c").nonEmpty, s"v2/$c not written"))
      throw new IllegalStateException("injected crash before publish")
    }))
    assert(err.getMessage.contains("injected"))
    assert(AnnIndex.resolve(spark, p) == v1)
    assert(AnnIndex.committedDeltas(spark, v1) == Seq("d1", "d2"))
    assert(served(p) == before, "a crashed fold must not change what serves")
    AnnIndex.compact(spark, p, minDeltas = 1)
    assert(AnnIndex.resolve(spark, p).endsWith("/v2"))
    assert(served(p) == before)
    export(embs, fresh)
    assert(served(p, nProbe = 4) == served(fresh, nProbe = 4))
  }
}
