package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.similarity.AnnIndex

/** One operation of a workload: a sequence of named public calls into the
  * library; its latency is the sum of the calls' times. `beforeCall(i)` runs
  * untimed just ahead of call `i`, and `check` untimed after the calls; a
  * `Some(reason)` from `check` fails the operation.
  */
final class Op(val name: String, val calls: Seq[(String, () => Unit)]) {
  var beforeCall: Int => Unit = _ => ()
  var check: Boolean => Option[String] = _ => None
  var rows = 0L
  var info: () => String = () => "{}"
}

trait Workload {
  /** Set-up work beyond the session itself, e.g. exporting the indexes. */
  def prepare(): Unit = ()
  /** The operations of pass `n`, in order; pass 0 is the warm-up. */
  def pass(n: Int): Seq[Op]
  /** End-of-run checks: (check name, failure reason if any). */
  def finish(): Seq[(String, Option[String])] = Nil
  /** Workload-specific part of the run record, as a JSON object. */
  def json: String = "{}"
}

/** Named `SparkEntry` queries over one input directory. Each operation is the
  * query function (`build`) and a noop-sink write of its result (`action`).
  * The first measured run of every query also writes its result, untimed, to
  * `results/<name>` so the oracle comparison can run after the JVM exits.
  */
final class Queries(spark: SparkSession, inputs: String, scratch: String,
                    order: IndexedSeq[Seq[String]]) extends Workload {
  private val written = mutable.LinkedHashMap.empty[String, String]

  def pass(n: Int): Seq[Op] = order(n % order.size).map(op)

  private def op(name: String): Op = {
    var df: DataFrame = null
    val o = new Op(name, Seq(
      "build" -> (() => df = graft.SparkEntry.queries(name)(spark, inputs)),
      "action" -> (() => df.write.format("noop").mode("overwrite").save())))
    o.check = measured => {
      if (measured && !written.contains(name)) {
        val dir = s"$scratch/results/$name"
        df.write.mode("overwrite").parquet(dir)
        written(name) = dir
      }
      None
    }
    o
  }

  override def json: String = Json.obj("oracle" -> Json.arr(written.map { case (n, dir) =>
    Json.obj("op" -> Json.str(n), "dir" -> Json.str(dir),
      "sql" -> Json.str(graft.SparkEntry.oracleSql(n)))
  }))
}

/** The index lifecycle on an `AnnIndex` over the embeddings, exported from
  * the base half (`part = 0`) of the seeded split. Every round serves
  * `batches` query batches (collected to the driver), then absorbs the next
  * delta slice: one operation of two calls, `appendDelta` and `maintain`,
  * which folds the deltas every `minDeltas` rounds. An absorb whose
  * `maintain` is due to fold is named `absorb_fold`, so each operation name
  * stands for one kind of work.
  */
final class IndexRw(spark: SparkSession, inputs: String, scratch: String) extends Workload {
  import spark.implicits._
  private val batches = 1
  private val minDeltas = 2
  private val cells = 4
  private val path = s"$scratch/ann"
  private lazy val vecs = spark.read.parquet(s"$inputs/vecs_split")
  private def vecsPart(ps: Seq[Int]) = vecs.filter(col("part").isin(ps: _*)).drop("part")

  // read in `prepare`, so that a session set-up does no Spark work
  private var qbatches = IndexedSeq.empty[DataFrame]
  private var rows = Map.empty[Int, Long]
  private var slices = 0

  private val absorbed = mutable.ArrayBuffer.empty[Int]
  private var appendsSinceFold = 0
  private var exportS = 0.0

  private def export(parts: Seq[Int], to: String): Unit =
    AnnIndex.export(spark, vecsPart(parts), "vec_id", "embedding", to,
      cells = cells, lloydIters = 3, m = 4, ks = 4, pqIters = 3)

  override def prepare(): Unit = {
    qbatches = spark.read.parquet(s"$inputs/queries.parquet").select("batch", "qid", "vec")
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.map(r => (r.getInt(1).toLong, r.getSeq[Float](2))).toSeq.toDF("qid", "vec")
      }.toIndexedSeq
    rows = vecs.groupBy("part").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    slices = rows.keySet.max
    val t0 = System.nanoTime()
    export(Seq(0), path)
    exportS = (System.nanoTime() - t0) / 1e9
  }

  private def serve(b: Int, from: String = path, nProbe: Int = 2): Seq[String] =
    AnnIndex.servedTopK(spark, from, qbatches(b), "qid", "vec", k = 10, nProbe = nProbe)
      .collect().map(_.toString).toSeq.sorted

  /** Pass `n` is rounds `2n` and `2n + 1`; with `minDeltas = 2` every pass
    * is one whole fold cycle, so passes are alike.
    */
  def pass(n: Int): Seq[Op] = {
    var pending = appendsSinceFold
    (2 * n to 2 * n + 1).flatMap { r =>
      val serves = (0 until batches).map { i =>
        val b = (r * batches + i) % qbatches.size
        new Op("serve_ann", Seq("AnnIndex.servedTopK" -> (() => serve(b))))
      }
      val slice = r + 1
      if (slice <= slices) pending += 1
      val due = pending >= minDeltas
      if (due) pending = 0
      serves :+ absorb(slice, due)
    }
  }

  /** `appendDelta` of the next slice (none once all are in), then
    * `maintain`. When the fold is due, a probe batch is served untimed just
    * before and after it, and the answers must not change.
    */
  private def absorb(slice: Int, due: Boolean): Op = {
    var folded = false
    var probe = Seq.empty[String]
    val append =
      if (slice > slices) Nil
      else Seq("AnnIndex.appendDelta" -> (() => {
        AnnIndex.appendDelta(spark, vecsPart(Seq(slice)), "vec_id", "embedding", path, s"s$slice")
        absorbed += slice
        appendsSinceFold += 1
      }))
    val o = new Op(if (due) "absorb_fold" else "absorb", append :+
      ("AnnIndex.maintain" -> (() => folded = AnnIndex.maintain(spark, path, minDeltas))))
    o.rows = if (slice > slices) 0L else rows.getOrElse(slice, 0L)
    o.beforeCall = i => if (due && i == append.size) probe = serve(0)
    o.check = _ => {
      if (folded) appendsSinceFold = 0
      if (folded != due) Some(s"maintain folded=$folded, expected $due")
      else if (folded && serve(0) != probe) Some("served answers moved across a fold")
      else None
    }
    o.info = () => indexState(folded)
    o
  }

  /** Files and bytes under the served version, and the rows it holds. */
  private def indexState(folded: Boolean): String = {
    val walk = Files.walk(Paths.get(AnnIndex.resolve(spark, path).stripPrefix("file:")))
    val files = try walk.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
      finally walk.close()
    val live = (0 +: absorbed.toSeq).map(rows.getOrElse(_, 0L)).sum
    Json.obj("folded" -> folded.toString, "files" -> files.length.toString,
      "bytes" -> files.map(f => Files.size(f)).sum.toString, "live_rows" -> live.toString)
  }

  /** The maintained index must answer a probe batch exactly as an index
    * exported from scratch over the same rows does. The probe reads every
    * cell, so the answer does not depend on where the quantizer put a row.
    */
  override def finish(): Seq[(String, Option[String])] = {
    val fresh = s"$scratch/ann_fresh"
    export(0 +: absorbed.toSeq, fresh)
    val same = serve(0, path, cells) == serve(0, fresh, cells)
    Seq("final_probe" -> (if (same) None else Some("maintained index differs from a fresh export")))
  }

  override def json: String = Json.obj("export_s" -> Json.num(exportS),
    "absorbed" -> Json.arr(absorbed.map(_.toString)), "slices" -> slices.toString)
}
