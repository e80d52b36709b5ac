package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import scala.collection.mutable

/** Stage-grain profiler for a single query (optimization round 17): runs
  * the named queries once (noop sink, warmed session) with a listener
  * recording every stage's wall time, task count and callsite, then
  * prints stages sorted by duration — the UI's "slowest stage" view
  * (guide §1.1) for a headless box.
  *
  * Usage: runMain graft.tools.StageProbe [sfDir] <query> [query ...]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty && !args.head.startsWith("q_")) args.head
      else "/root/testdata/sf0.1"
    val names = args.filter(_.startsWith("q_")).toSeq
    require(names.nonEmpty, "StageProbe: give at least one q_* name")
    val spark = graft.core.GraftSession.builder("graft-stage-probe", cores = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: tables + one plan per codegen family (the Bench protocol)
    try {
      graft.core.Tables.names.foreach(n =>
        graft.core.Tables.load(spark, sfDir, n).count())
      graft.SparkEntry.queries("q_window_running")(spark, sfDir).count()
      graft.SparkEntry.queries("q_join_agg")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    case class St(id: Int, name: String, ms: Long, tasks: Int, site: String)
    val stages = mutable.ArrayBuffer.empty[St]
    val stageSite = mutable.Map.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        j.stageIds.foreach(id => stageSite(id) = site)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val ms = (for { s <- i.submissionTime; c <- i.completionTime }
          yield c - s).getOrElse(-1L)
        val graftFrame = i.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("tools"))
          .getOrElse("").trim
        stages += St(i.stageId, i.name.takeWhile(_ != '\n'), ms,
          i.numTasks,
          (stageSite.getOrElse(i.stageId, "") + " | " + graftFrame).take(150))
      }
    }
    names.foreach { q =>
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      // drain listener events before reading (the bus is private; a
      // short sleep suffices for a probe)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $q total $total%.2f s, ${stages.size} stages, " +
        f"stage-sum ${stages.map(_.ms).sum / 1e3}%.2f s =====")
      stages.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.ms}%6d ms  t=${s.tasks}%3d  ${s.name}%-60s ${s.site}")
      }
    }
    spark.stop()
  }
}
