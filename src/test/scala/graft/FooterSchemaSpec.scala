package graft

import graft.core.Tables
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** `Tables.parquet` reads the data schema from one footer on the driver;
  * the schema it declares must be exactly the one Spark's own inference
  * returns — field metadata included — on every layout it accepts.
  */
class FooterSchemaSpec extends SparkTestBase {

  private def scratch(name: String): String = {
    val p = graft.io.IoScratch.dir + "/footer_schema/" + name
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    p
  }

  private def fs = new Path(graft.io.IoScratch.dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The helper took the footer path (not its inferring fallback) and its
    * schema equals Spark's inference, metadata and nullability included.
    */
  private def assertParity(p: String): DataFrame = {
    assert(Tables.footerSchema(spark, p).isDefined, s"no footer schema for $p")
    val got = Tables.parquet(spark, p)
    val want = spark.read.parquet(p)
    assert(got.schema == want.schema, s"$p:\n${got.schema.treeString}\n${want.schema.treeString}")
    assert(got.schema.json == want.schema.json)
    got
  }

  test("every fixture table: the footer schema is Spark's inferred schema") {
    Tables.names.foreach(n => assertParity(s"$sfDir/$n.parquet"))
    // events before normalizeTs: its raw ts encoding is what the footer says
    val raw = Tables.load(spark, sfDir, "events")
    assert(raw.schema == spark.read.parquet(s"$sfDir/events.parquet").schema)
    assert(Tables.events(spark, sfDir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a Spark-written file with array, struct, timestamp and field metadata") {
    import spark.implicits._
    val p = scratch("nested")
    val md = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, Seq(1.0, 2.0), "a"), (2L, Seq.empty[Double], null))
      .toDF("id", "xs", "s")
      .select(col("id").as("id", md), col("xs"),
        struct(col("id").cast("int").as("i"), col("s").as("s")).as("st"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        timestamp_micros(col("id")).cast("timestamp_ntz").as("ntz"),
        array(struct(col("s").as("inner"))).as("arr_st"),
        map(lit("k"), col("id")).as("m"))
      .write.parquet(p)
    val got = assertParity(p)
    assert(got.schema("id").metadata.getString("comment") == "kept")
    assert(got.orderBy("id").collect().toSeq ==
      spark.read.parquet(p).orderBy("id").collect().toSeq)
  }

  test("hive-partitioned base and a delta whose vec_id type differs keep their own types") {
    import spark.implicits._
    val base = scratch("vectors_base")
    val delta = scratch("vectors_delta")
    Seq((1L, Seq(0.5), 0), (2L, Seq(1.5), 1), (3L, Seq(2.5), 10)).toDF("vec_id", "v", "cell")
      .write.partitionBy("cell").parquet(base)
    Seq((4, Seq(3.5), 1)).toDF("vec_id", "v", "cell")
      .write.partitionBy("cell").parquet(delta)
    val b = assertParity(base)
    val d = assertParity(delta)
    assert(b.schema("vec_id").dataType.typeName == "long")
    assert(d.schema("vec_id").dataType.typeName == "integer")
    assert(b.columns.toSeq == Seq("vec_id", "v", "cell"))
    assert(b.select("vec_id", "cell").as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 0), (2L, 1), (3L, 10)))
  }

  test("_SUCCESS, .crc and _committed_* files are skipped like Spark's file index skips them") {
    import spark.implicits._
    val p = scratch("markers")
    Seq((1, "x")).toDF("a", "b").write.parquet(p)
    // hidden names that sort BEFORE the data files and hold non-parquet bytes
    Seq("_committed_0001", "_started_0001", ".hidden.parquet", "_tmp").foreach { n =>
      val out = fs.create(new Path(s"$p/$n"), true)
      try out.write("not parquet".getBytes("UTF-8")) finally out.close()
    }
    assert(fs.exists(new Path(s"$p/_SUCCESS")))
    assert(new java.io.File(p).list().exists(_.endsWith(".crc")))
    assertParity(p)
  }

  test("summary files win over data files, _common_metadata over _metadata") {
    import spark.implicits._
    val p = scratch("summaries")
    val other = scratch("summary_src")
    val other2 = scratch("summary_src2")
    Seq((1, "x")).toDF("a", "b").write.parquet(p)
    Seq((1L, 2.0)).toDF("c", "d").write.parquet(other)
    Seq(("y", 3.0f)).toDF("e", "f").write.parquet(other2)
    def firstPart(dir: String) =
      fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("part-")).head
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(fs, firstPart(other), fs, new Path(s"$p/_metadata"), false, conf)
    assert(assertParity(p).columns.toSeq == Seq("c", "d"))
    FileUtil.copy(fs, firstPart(other2), fs, new Path(s"$p/_common_metadata"), false, conf)
    assert(assertParity(p).columns.toSeq == Seq("e", "f"))
  }

  test("an empty directory raises Spark's own error; a missing path too") {
    val empty = scratch("empty")
    fs.mkdirs(new Path(empty))
    assert(Tables.footerSchema(spark, empty).isEmpty)
    val want = intercept[AnalysisException](spark.read.parquet(empty))
    val got = intercept[AnalysisException](Tables.parquet(spark, empty))
    assert(got.getMessage == want.getMessage)
    assert(got.getCondition == want.getCondition)
    val missing = scratch("missing")
    val wantMissing = intercept[AnalysisException](spark.read.parquet(missing))
    val gotMissing = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(gotMissing.getMessage == wantMissing.getMessage)
  }

  test("a data column named like a partition column leaves the read to Spark's inference") {
    import spark.implicits._
    val p = scratch("overlap")
    Seq((1, 2)).toDF("a", "k").write.parquet(s"$p/k=5")
    assert(Tables.footerSchema(spark, p).isEmpty)
    assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema)
  }
}
