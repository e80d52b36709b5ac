package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-dataset catalog — the Spark-native analog of Disco's DDFS tags
  * (reference: lib/disco/ddfs.py:98-114 `blobs`, :334-364 `walk`): a tag is a
  * named, mutable pointer to data; here a name resolves to a parquet path (or
  * a registered temp view for tag→tag DAGs, see [[TagCatalog]]).
  *
  * Scale notes: readers are plain `spark.read.parquet` so Catalyst keeps
  * predicate pushdown / column pruning / partition pruning; no eager caching
  * (100 TB tables must stream, not pin).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
