package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate),
  * sf0.001 fixture dir for speed.
  */
trait SparkTestBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    graft.core.GraftSession.builder("graft-test", cores = 4).getOrCreate()

  /** Runs `body` with the exact-rank scaffold's width pinned to `p`: with
    * `spark.sql.shuffle.partitions = p` and a 1-byte advisory partition
    * size, [[graft.ops.WindowOps.rankWidth]] is `p` for any input. Both
    * settings are restored afterwards.
    */
  def withRankWidth[A](p: Int)(body: => A): A = {
    val confs = Seq("spark.sql.shuffle.partitions" -> p.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
