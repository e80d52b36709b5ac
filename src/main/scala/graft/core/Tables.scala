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
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.graftbridge.{hiddenPathName, parquetFooterSchema, sqlConf}
    if (path.exists("{}[]*?\\".contains(_))) return None
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // InMemoryFileIndex's listing: hidden names skipped at every level;
    // each leaf carries the `k` of the `k=v` directories above it, and
    // any other directory leaves the layout to Spark
    def leaves(dir: Path, keys: Seq[String]): Option[Seq[(FileStatus, Seq[String])]] =
      fs.listStatus(dir).toSeq.filterNot(k => hiddenPathName(k.getPath.getName))
        .foldLeft(Option(Seq.empty[(FileStatus, Seq[String])])) { (acc, k) =>
          val name = k.getPath.getName
          if (!k.isDirectory) acc.map(_ :+ (k -> keys))
          else if (!name.contains("=")) None
          else for (a <- acc; b <- leaves(k.getPath, keys :+ name.takeWhile(_ != '='))) yield a ++ b
        }
    scala.util.Try {
      // listing a file root lists the file itself, as Spark's index does
      leaves(new Path(path), Nil).flatMap { ls =>
        val key = (n: String) =>
          if (sqlConf(spark).caseSensitiveAnalysis) n else n.toLowerCase(java.util.Locale.ROOT)
        val partCols = ls.flatMap(_._2).map(key).toSet
        val files = ls.map(_._1).sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        val data = files.filterNot(f => Set("_metadata", "_common_metadata")(f.getPath.getName))
        named("_common_metadata").orElse(named("_metadata")).orElse(data.headOption)
          .map(parquetFooterSchema(spark, _))
          .filterNot(_.fieldNames.exists(n => partCols(key(n))))
      }
    }.toOption.flatten
  }

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
