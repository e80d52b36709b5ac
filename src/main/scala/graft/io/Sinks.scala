package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output surface — the analog of Disco's task output streams
  * (reference: worker/task_io.py:319-331 plain-text out, DDFS blob save).
  * Writes go through Spark's commit protocol (staging + atomic rename), the
  * same guarantee Disco gets from DDFS tag flips.
  */
object Sinks {

  /** Plain text sink (task_io.py:319-331): one record per line, columns
    * joined by `sep`. Overwrite is atomic per the commit protocol.
    */
  def writeText(df: DataFrame, path: String, sep: String = "\t"): Unit =
    writeText(df, path, sep, compression = null)

  /** Text sink with an at-rest codec ("gzip", "bzip2", "zstd", …; null =
    * plain). Readers decode transparently (the datasource codec layer —
    * SURVEY #50's "codec inference" replacement). Gzip files are NOT
    * splittable (one task per file — size files accordingly at scale);
    * bzip2/zstd-frames split.
    */
  def writeText(df: DataFrame, path: String, sep: String,
                compression: String): Unit = {
    // null-safe: concat_ws silently DROPS nulls, which would shift every
    // later field left; empty-string them to keep field positions stable
    val w = df.select(concat_ws(sep,
        df.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
        .as("value"))
      .write.mode("overwrite")
    (if (compression != null) w.option("compression", compression) else w)
      .text(path)
  }

  /** CSV sink with header. */
  def writeCsv(df: DataFrame, path: String, sep: String = ","): Unit =
    df.write.mode("overwrite").option("header", "true").option("sep", sep)
      .csv(path)

  /** JSONL sink — one JSON object per line (string fields escaped by the
    * writer, so embedded newlines/quotes round-trip, unlike raw text).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Parquet sink — the default chunk format (replaces Disco chunks). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC sink — the other mainstream columnar format (Spark-native reader/
    * writer, predicate pushdown and column pruning like parquet); for
    * interop with ORC-standardized warehouses.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Z-ORDERED parquet sink — the multi-column data layout as a sink
    * option rather than a query recipe: Morton-interleave `zCols`
    * ([[graft.functions.ZOrder]], codegen'd), range-partition + sort by
    * the code, write. Every output file then covers a bounded BOX of the
    * key space, so the parquet footer min/max stats prune scans filtering
    * on ANY of the layout columns (a lexicographic sort only prunes the
    * leading one). The interleave column itself is dropped — the layout
    * lives in row order and file boundaries, not the schema.
    *
    * `bits` is the per-column interleave width: values are masked into
    * [0, 2^bits) for the CODE only (stored data is untouched) — at real
    * scale normalize each dimension to that range first (range-partition
    * ids). `numFiles` sizes output files: pick `totalBytes /
    * targetFileBytes` (128 MB files ⇒ a 100 TB table wants ~800k files —
    * z-order within partitions of a hive layout instead at that scale).
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bits: Int = 16, numFiles: Int = 32): Unit = {
    require(zCols.size >= 2, s"z-order needs >= 2 columns, got $zCols")
    val longs = zCols.map(c => col(c).cast("long"))
    val zv =
      if (zCols.size == 2) graft.functions.ZOrder.z_order(longs(0), longs(1), bits)
      else graft.functions.ZOrder.z_order_n(bits, longs: _*)
    df.withColumn("_zorder", zv)
      .repartitionByRange(numFiles, col("_zorder"))
      .sortWithinPartitions("_zorder")
      .drop("_zorder")
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-partitioned parquet sink: one directory per distinct value of
    * `partitionCols` — THE layout that lets a predicate on those columns
    * skip entire directories at planning time (partition pruning: a
    * `lang='en'` filter over a 100 TB corpus reads only `lang=en/`).
    * Choose low-cardinality columns: a high-cardinality partition column
    * degenerates into the millions-of-small-files pathology
    * ([[graft.ops.ScaleOps.compactParquet]] is the repair, prevention is
    * better).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Sharded training-data export: the corpus written as one directory
    * per shard (`shard=<id>/`, hive layout) plus a MANIFEST the consuming
    * trainer reads instead of listing the store — one row per shard:
    * (shard, rows, bytes). Rows come from an exact count of the written
    * data (read back — the source of truth is what landed on disk, not
    * what was supposed to land), bytes from the filesystem. The manifest
    * lands at `<path>._manifest` as parquet and is also returned.
    *
    * Compose with [[graft.ops.PrefixSum.packShards]] for token-budget
    * shard ids; any low-cardinality id column works.
    */
  def writeSharded(df: DataFrame, path: String, shardCol: String): DataFrame = {
    writePartitioned(df, path, Seq(shardCol))
    val spark = df.sparkSession
    val written = graft.core.Tables.parquet(spark, path)
    val rows = written.groupBy(shardCol)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // shard id stays a STRING here — "any low-cardinality id column works"
    // includes string shard names; the join below casts the typed partition
    // column to string instead of parsing the dir suffix numerically
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$shardCol="))
      .map(s => (unescapePartitionValue(
        s.getPath.getName.stripPrefix(s"$shardCol=")),
        fs.getContentSummary(s.getPath).getLength))
      .toSeq
    val bytesDf = spark.createDataFrame(bytes).toDF("_shard_str", "bytes")
    val manifest = rows
      .join(bytesDf, rows(shardCol).cast("string") === bytesDf("_shard_str"))
      .drop("_shard_str")
      .orderBy(shardCol)
    manifest.write.mode("overwrite").parquet(path + "._manifest")
    manifest
  }

  /** Inverse of hive-style partition-dir escaping (`%xx` hex sequences for
    * chars illegal in dir names); values without escapes pass through.
    */
  private def unescapePartitionValue(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parquet sink that also registers the output under the job-results tag
    * `job:results:<jobName>` (ddfs.py:288-292, `disco:job:results:<jobname>`
    * — Disco auto-tags every job's outputs so downstream jobs can consume
    * them by name). Read it back with `catalog.read("job:results:<name>")`.
    */
  def writeResults(df: DataFrame, path: String,
                   catalog: TagCatalog, jobName: String): Unit = {
    writeParquet(df, path)
    catalog.put(s"job:results:$jobName", Seq(path))
  }
}

/** Scratch dir for io round-trip queries (DDFS temp-space analog). */
object IoScratch {
  val dir: String =
    sys.env.getOrElse("GRAFT_SCRATCH", "/root/repo/target/io_scratch")
}
