package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column↔Expression converters — the only
  * supported way in Spark 4's split API to wrap a custom Catalyst
  * `Expression` as a user-facing `Column` (see
  * org.apache.spark.sql.classic.ExpressionUtils in the Spark source).
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `sessionState` is `private[sql]`; exposed for post-hoc function
    * registration into LIVE sessions (graft.core.GraftExtensions.register —
    * builder-time `withExtensions` is silently skipped when getOrCreate
    * returns an existing session).
    */
  def functionRegistry(spark: SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** The session's typed SQL configuration, for reading a setting through
    * its `ConfigEntry` (fallbacks and byte-size units resolved).
    */
  def sqlConf(spark: SparkSession): internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `localCheckpoint` that CAPS the size estimate the checkpoint carries
    * forward. `Dataset.localCheckpoint` wraps the materialized RDD in a
    * `LogicalRDD` that preserves the ORIGIN plan's `Statistics` (so that a
    * small checkpointed table stays broadcast-eligible). But
    * `SizeInBytesOnlyStatsPlanVisitor` estimates a join as the PRODUCT of
    * its children's `sizeInBytes` (an unbounded `BigInt`), so in an
    * iterative chain whose round joins the loop-carried state against
    * itself more than once (Bradley-Terry references `s` as both join
    * sides plus the rescale), the carried estimate's DIGIT COUNT doubles
    * every round: by round ~17 the driver spends minutes inside
    * `BigInteger.multiplyToomCook3` on million-digit integers just to
    * re-derive a number that means nothing beyond "huge" (measured: rounds
    * 1-15 ≈ 0.6 s, round 18 = 119 s, all of it CPU in the main thread's
    * stats visitor). Single-reference loops (PageRank) only grow digits
    * linearly, which is why they never hit it.
    *
    * Fix: after checkpointing, if the carried `sizeInBytes` no longer fits
    * in a Long the estimate is garbage anyway — rebuild the `LogicalRDD`
    * with the estimate clamped to `Long.MaxValue` (still "never
    * broadcast", but bounded, so downstream products stay small BigInts).
    * Stats that fit in a Long are kept EXACT, preserving broadcast
    * decisions for genuinely small checkpoints — on that fast path this is
    * byte-for-byte `localCheckpoint`.
    */
  def localCheckpointCappedStats(df: Dataset[Row]): Dataset[Row] = {
    val ck = df.localCheckpoint().asInstanceOf[classic.Dataset[Row]]
    ck.queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        val s = lr.stats
        if (s.sizeInBytes.isValidLong) ck
        else {
          val capped = catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(Long.MaxValue),
            rowCount = s.rowCount.map(_.min(BigInt(Long.MaxValue))))
          // Carry the origin CONSTRAINTS through the rebuild too — only the
          // size estimate is garbage. `lr.constraints` is the origin set
          // already filtered to deterministic exprs over the output, and
          // LogicalRDD's own constraints re-apply that same filter, so
          // passing the filtered set as the new origin is a fixed point:
          // the capped plan exposes byte-for-byte the constraints the
          // plain checkpoint would (IsNotNull pruning etc. keep working).
          classic.Dataset.ofRows(ck.sparkSession,
            lr.copy()(ck.sparkSession, Some(capped), Some(lr.constraints)))
        }
      case _ => ck
    }
  }

  /** The schema Spark's single-footer parquet inference reads from one
    * file — `ParquetFileFormat.mergeSchemasInParallel` on one file, but
    * on the driver instead of inside a 1-task job: the same
    * `SKIP_ROW_GROUPS` footer read, the same converter settings, and the
    * Spark row-metadata key preferred over the parquet schema when
    * present.
    */
  def parquetFooterSchema(spark: SparkSession,
                          file: org.apache.hadoop.fs.FileStatus): types.StructType = {
    import execution.datasources.parquet._
    val conf = sqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = readFooter(spark, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer), converter)
  }

  /** The rows of one parquet file, from its footer on the driver: the sum
    * of its row groups' row counts — the rows a scan of the file reads.
    */
  def parquetFooterRows(spark: SparkSession,
                        file: org.apache.hadoop.fs.FileStatus): Long = {
    import scala.jdk.CollectionConverters._
    readFooter(spark, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum
  }

  private def readFooter(spark: SparkSession, file: org.apache.hadoop.fs.FileStatus,
      filter: org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()),
      filter)

  /** Spark's error for a read of a path that does not exist
    * (`[PATH_NOT_FOUND]`, as `DataSource` raises it).
    */
  def pathNotFound(qualifiedPath: String): Throwable =
    errors.QueryCompilationErrors.dataPathNotExistError(qualifiedPath)

  /** The names a file index never lists (`_x` and `.x` but not
    * `_metadata`/`_common_metadata` or `k=v`, and `._COPYING_` files).
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
