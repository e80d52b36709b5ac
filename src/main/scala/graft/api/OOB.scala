package graft.api

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Out-of-band results — the job-scoped key/value side channel
  * (reference: lib/disco/task.py:122-145 `put`/`get`, tests/test_oob.py):
  * task code `put`s small values during the job; the driver reads them after
  * the action completes, and can persist them as a job-scoped KV table.
  *
  * Spark shape: a collection accumulator carries the pairs back on task
  * completion (same wire as Disco's OOB upload to the master), so `put` is
  * safe from any executor closure; values must be small (they ride the task
  * result path — Disco has the same contract, OOB is for metrics/models,
  * not data). Persisting uses the parquet sink, the DDFS-tag analog.
  *
  * Duplicate keys: last merge wins, order across tasks unspecified — same
  * as concurrent Disco tasks putting one key. Spark re-executes failed
  * tasks; accumulator updates from resubmitted tasks may duplicate pairs
  * (identical pairs are harmless under last-wins).
  */
class OOB(spark: SparkSession, val jobName: String) extends Serializable {

  private val acc =
    spark.sparkContext.collectionAccumulator[(String, String)](s"oob:$jobName")

  /** Callable from executor-side task closures and from the driver. */
  def put(key: String, value: String): Unit = acc.add((key, value))

  /** Driver-side: everything put so far. */
  def entries: Map[String, String] = acc.value.asScala.toMap
  def get(key: String): Option[String] = entries.get(key)
  def keys: Seq[String] = entries.keys.toSeq.sorted

  /** Persist as the job's KV table: `<dir>/<jobName>_oob`. */
  def save(dir: String): Unit = {
    import spark.implicits._
    graft.io.Sinks.writeParquet(
      entries.toSeq.toDF("key", "value"), s"$dir/${jobName}_oob")
  }
}

object OOB {
  /** Read a previously saved job's OOB table (oob_get across jobs). */
  def load(spark: SparkSession, dir: String, jobName: String): Map[String, String] =
    graft.core.Tables.parquet(spark, s"$dir/${jobName}_oob")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
}
