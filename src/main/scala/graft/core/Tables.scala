package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Named-dataset catalog — the Spark-native analog of Disco's DDFS tags
  * (reference: lib/disco/ddfs.py:98-114 `blobs`, :334-364 `walk`): a tag is a
  * named, mutable pointer to data; here a name resolves to a parquet path (or
  * a registered temp view for tag→tag DAGs, see [[TagCatalog]]).
  *
  * Scale notes: readers are [[parquet]] — a `spark.read.parquet` whose
  * data schema is read from one footer on the driver — so Catalyst keeps
  * predicate pushdown / column pruning / partition pruning; no eager caching
  * (100 TB tables must stream, not pin).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. With
    * `mergeSchema` off, Spark infers a data schema from ONE footer —
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path — but reads it inside a 1-task job, a scheduler round trip
    * that moves no data. [[footerSchema]] reads that same footer on the
    * driver and the read declares it; partition columns are still
    * discovered from the directory names by Spark. Where the footer
    * cannot be chosen the way Spark would choose it, this is the plain
    * inferring read (which also raises Spark's own error for a missing or
    * empty path).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** The data schema Spark's single-footer inference returns for `path`,
    * or None where this does not reproduce it: a glob, a missing path, no
    * data file, a layout that is neither flat nor hive-partitioned
    * (`k=v` directories all the way down), a footer column that shares a
    * partition column's name, or a footer that does not read.
    */
  private[graft] def footerSchema(spark: SparkSession,
                                  path: String): Option[StructType] = {
    import org.apache.spark.sql.graftbridge.{parquetFooterSchema, sqlConf}
    if (path.exists("{}[]*?\\".contains(_))) return None
    scala.util.Try {
      leafFiles(spark, path).flatMap { ls =>
        val key = (n: String) =>
          if (sqlConf(spark).caseSensitiveAnalysis) n else n.toLowerCase(java.util.Locale.ROOT)
        val partCols = ls.flatMap(_._2).map(kv => key(kv._1)).toSet
        val files = ls.map(_._1).sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !summaryFile(f)))
          .map(parquetFooterSchema(spark, _))
          .filterNot(_.fieldNames.exists(n => partCols(key(n))))
      }
    }.toOption.flatten
  }

  /** The row count of each data file under the parquet directory `path`,
    * with the `k=v` pairs of the directories above it: the sum of the
    * file's row-group row counts, read from its footer on the driver —
    * the rows a reader of the file reads, without a job. Summary files
    * (`_metadata`, `_common_metadata`) are not data and are left out, as
    * Spark's scans leave them out. A missing `path` raises Spark's own
    * path-not-found error; a layout that is neither flat nor
    * hive-partitioned is refused.
    */
  private[graft] def footerRows(spark: SparkSession,
                                path: String): Seq[(Seq[(String, String)], Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.graftbridge.{parquetFooterRows, pathNotFound}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw pathNotFound(p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString)
    val ls = leafFiles(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$path: not a flat or hive-partitioned parquet layout"))
    ls.filterNot(l => summaryFile(l._1)).map { case (f, kv) => kv -> parquetFooterRows(spark, f) }
  }

  private def summaryFile(f: org.apache.hadoop.fs.FileStatus): Boolean =
    Set("_metadata", "_common_metadata")(f.getPath.getName)

  /** InMemoryFileIndex's listing of `path`: hidden names skipped at every
    * level, each file with the `k=v` pairs of the directories above it
    * (values as written in the path); a file root lists as the file
    * itself. None where a directory is not `k=v` — Spark's own discovery
    * then decides the layout. A missing path throws.
    */
  private def leafFiles(spark: SparkSession, path: String): Option[Seq[Leaf]] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.graftbridge.hiddenPathName
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: Path, kvs: Seq[(String, String)]): Option[Seq[Leaf]] =
      fs.listStatus(dir).toSeq.filterNot(st => hiddenPathName(st.getPath.getName))
        .foldLeft(Option(Seq.empty[Leaf])) { (acc, st) =>
          val (k, v) = st.getPath.getName.span(_ != '=')
          if (!st.isDirectory) acc.map(_ :+ (st -> kvs))
          else if (v.isEmpty) None
          else for (a <- acc; b <- leaves(st.getPath, kvs :+ (k -> v.drop(1)))) yield a ++ b
        }
    leaves(new Path(path), Nil)
  }

  private type Leaf = (org.apache.hadoop.fs.FileStatus, Seq[(String, String)])

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` has drifted across fixture generations: parquet
    * TIMESTAMP(NANOS) (Spark reads a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), then `timestamp[us]`
    * without a timezone (Spark reads TIMESTAMP_NTZ). Every
    * timestamp-consuming op downstream (`sessionize`, session windows,
    * resample, as-of join) expects a plain `TimestampType`, so normalize all
    * known encodings here — the session timezone is pinned to UTC
    * ([[GraftSession]]), which makes the NTZ→TZ cast lossless and
    * oracle-stable.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"), "ts")

  /** Normalize one column to `TimestampType` regardless of fixture encoding:
    * long nanos-since-epoch, TIMESTAMP_NTZ, or already-correct timestamps.
    */
  def normalizeTs(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view so `spark.sql` works over a scale
    * dir — mirrors DDFS tag resolution (tag name → data). Uses the
    * normalizing loaders (events gets its timestamp fixed).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}

/** Session factory with the configuration this engine assumes everywhere:
  * AQE on (runtime re-plan: skew-join splitting, partition coalescing),
  * shuffle partitions sized to the local core count (on a real cluster this
  * would be ~2-3x total executor cores), UTC for oracle parity.
  *
  * Streaming state lives in RocksDB: the in-memory (HDFS-backed)
  * provider keeps every key's state ON HEAP, so at cluster scale a large
  * keyspace (dedup horizon, sessions per user) evicts the executors it
  * runs on — RocksDB spills to local disk and bounds heap by its block
  * cache instead. The provider stays swappable at runtime via
  * `spark.sql.streaming.stateStore.providerClass`.
  */
object GraftSession {
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(appName: String = "graft", cores: Int = 4): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
}
