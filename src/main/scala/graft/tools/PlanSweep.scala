package graft.tools

import org.apache.spark.sql.graftbridge

import graft.SparkEntry

/** Whole-surface plan sweep: builds every declared query's physical plan
  * (pre-execution, AQE initial) at the given fixture scale and reports
  * the ones containing the two operators that can hide a 100×
  * scale-killer — CartesianProduct and BroadcastNestedLoopJoin. BNLJ
  * hits need adjudication (1-row-broadcast crossJoins and the intended
  * ANN brute-force scans plan as BNLJ by design); CartesianProduct hits
  * are presumptively bugs. Complements PlanGuardSpec, which pins the
  * adjudicated subset permanently.
  *
  * It also takes the build-job census: per query, the Spark jobs that
  * building the DataFrame fires before any action (collects, checkpoints
  * and sampling passes inside the query's construction), counted by job
  * group through the status tracker, one `BUILD-JOBS <query> <jobs>` line
  * each.
  *
  * Usage: runMain graft.tools.PlanSweep [sfDir]
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.builder("graft-plansweep", cores = 8)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    var cart = List.empty[String]
    var bnlj = List.empty[String]
    var failed = List.empty[String]
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        sc.setJobGroup(name, s"build $name")
        val df = try q(spark, sfDir) finally {
          sc.clearJobGroup()
          graftbridge.drainListenerBus(sc)
          println(s"BUILD-JOBS $name ${sc.statusTracker.getJobIdsForGroup(name).length}")
        }
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) cart ::= name
        if (plan.contains("BroadcastNestedLoopJoin")) bnlj ::= name
      } catch {
        case e: Throwable => failed ::= s"$name: ${e.getClass.getSimpleName}"
      }
    }
    println(s"CARTESIAN (${cart.size}): ${cart.sorted.mkString(", ")}")
    println(s"BNLJ (${bnlj.size}): ${bnlj.sorted.mkString(", ")}")
    println(s"PLAN-FAILED (${failed.size}): ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
