package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop: a single client thread submits the next
  * operation only after the previous one has returned. It sets up, runs
  * operations for `--seconds`, runs the end-of-run checks and writes one JSON
  * record to `--out`. Metrics are derived from that record by
  * `perfbench/analyze.py`.
  *
  * With `--trace 1` a `SparkListener` and a `QueryExecutionListener` are
  * registered around every other run of each operation, and every public call
  * in those runs gets its own job group, so Spark jobs can be hung under the
  * call that started them.
  */
object Harness {
  /** Session starts per run; `setup_s` takes their median. */
  val Setups = 3
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds with sub-millisecond resolution. */
  def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  final case class Call(name: String, t0: Double, t1: Double, group: String)
  final class OpRec(val name: String, val pass: Int, val seq: Int) {
    var t0, t1 = 0.0
    var ok = true
    var error = ""
    var gcMs = 0L
    var heapMb = 0.0
    var rows = 0L
    var traced = false
    var info = "{}"
    val calls = mutable.ArrayBuffer.empty[Call]
    def json: String = Json.obj("name" -> Json.str(name), "pass" -> pass.toString,
      "seq" -> seq.toString, "t0" -> Json.num(t0), "t1" -> Json.num(t1),
      "ok" -> ok.toString, "error" -> Json.str(error), "gc_ms" -> gcMs.toString,
      "heap_mb" -> Json.num(heapMb), "rows" -> rows.toString,
      "traced" -> traced.toString, "info" -> info, "calls" -> Json.arr(calls.map(c => Json.obj("name" -> Json.str(c.name),
        "t0" -> Json.num(c.t0), "t1" -> Json.num(c.t1), "group" -> Json.str(c.group)))))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val inputs = args("inputs")
    val scratch = args("scratch")
    val cores = args("cores").toInt
    val startMs = args("t0-ms").toDouble

    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var seq = 0
    val warmup = mutable.ArrayBuffer.empty[OpRec]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val tracer = new Trace

    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    // In a traced run the listeners are on for every other run of each
    // operation name, so the run also measures its own overhead.
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    // time spent in untimed checks and probes, which the run length excludes
    var untimedMs = 0.0

    def run(op: Op, pass: Int, measured: Boolean): OpRec = {
      val rec = new OpRec(op.name, pass, seq)
      seq += 1
      rec.rows = op.rows
      rec.traced = measured && trace && seen(op.name) % 2 == 0
      if (measured) seen(op.name) += 1
      if (rec.traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val gc0 = gcMs()
      rec.t0 = now()
      try op.calls.zipWithIndex.foreach { case ((name, f), i) =>
        val b0 = now()
        op.beforeCall(i)
        untimedMs += now() - b0
        val group = s"op${rec.seq}.c$i"
        if (rec.traced) spark.sparkContext.setJobGroup(group, s"${op.name}/$name")
        val c0 = now()
        try f() finally {
          rec.calls += Call(name, c0, now(), group)
          if (rec.traced) spark.sparkContext.clearJobGroup()
        }
      } catch {
        case e: Throwable =>
          rec.ok = false
          rec.error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
      rec.t1 = now()
      rec.gcMs = gcMs() - gc0
      if (rec.traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      val latency = rec.calls.map(c => c.t1 - c.t0).sum / 1000
      System.err.println(f"[perfbench] pass $pass ${op.name} $latency%.3f s ok=${rec.ok} ${rec.error}")
      val c0 = now()
      if (rec.ok) try {
        op.check(measured).foreach { r => rec.ok = false; rec.error = r }
        rec.info = op.info()
      } catch {
        case e: Throwable =>
          rec.ok = false
          rec.error = s"check failed: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
      untimedMs += now() - c0
      // untimed between operations: measure the heap still in use, then drop
      // what the operation cached so the next one starts from the same state
      System.gc()
      rec.heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      rec
    }

    // Set-up: the session `Setups` times (the first counted from the start of
    // the run), then the workload's own preparation and one untimed warm-up
    // pass on the last session.
    for (r <- 1 to Setups) {
      val t0 = if (r == 1) startMs else now()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val dir = s"$scratch/setup$r"
      Files.createDirectories(Paths.get(dir))
      spark = graft.core.GraftSession.builder("perfbench", cores)
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      wl = workload match {
        case "index_rw" =>
          new IndexRw(spark, inputs, dir)
        case _ =>
          val order = new String(Files.readAllBytes(Paths.get(s"$inputs/order.txt")),
            StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
            .map(_.split(",").toSeq).toIndexedSeq
          new Queries(spark, inputs, dir, order)
      }
      sessionS += (now() - t0) / 1000.0
    }
    val p0 = now()
    wl.prepare()
    val prepareS = (now() - p0) / 1000.0
    val w0 = now()
    wl.pass(0).foreach(op => warmup += run(op, 0, measured = false))
    val warmupS = (now() - w0) / 1000.0
    System.err.println(f"[perfbench] set-up: sessions ${sessionS.mkString(" ")} prepare $prepareS%.3f warm-up $warmupS%.3f")

    // The closed loop: passes until `seconds` have passed, not counting the
    // untimed checks, finishing at least one pass (two when traced, so every
    // operation also runs untraced).
    val minPasses = if (trace) 2 else 1
    untimedMs = 0.0
    val start = now()
    def elapsed(): Double = now() - start - untimedMs
    val deadline = seconds * 1000
    val complete = mutable.ArrayBuffer.empty[Int]
    var pass = 1
    var done = false
    while (!done) {
      val it = wl.pass(pass).iterator
      while (it.hasNext && (elapsed() < deadline || complete.size < minPasses)) ops += run(it.next(), pass, measured = true)
      if (!it.hasNext) complete += pass
      done = elapsed() >= deadline && complete.size >= minPasses
      pass += 1
    }
    val measureEnd = now()
    val finals = wl.finish()

    val record = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "calib_ms" -> Json.num(calibMs()),
      "session_s" -> Json.arr(sessionS.map(Json.num)),
      "prepare_s" -> Json.num(prepareS),
      "warmup_s" -> Json.num(warmupS),
      "measure_end" -> Json.num(measureEnd),
      "complete_passes" -> Json.arr(complete.map(_.toString)),
      "warmup" -> Json.arr(warmup.map(_.json)),
      "ops" -> Json.arr(ops.map(_.json)),
      "finals" -> Json.arr(finals.map { case (n, r) =>
        Json.obj("name" -> Json.str(n), "ok" -> r.isEmpty.toString,
          "error" -> Json.str(r.getOrElse("")))
      }),
      "workload_record" -> wl.json,
      "trace" -> (if (trace) tracer.json else "null"))
    Files.write(Paths.get(args("out")), record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A single-thread pure-JVM loop (no Spark), timed after one warm-up run:
    * it moves with the processor, not with the code under test.
    */
  def calibMs(): Double = {
    def loop(): Double = {
      var x = 88172645463325252L; var s = 0.0; var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += java.lang.Double.longBitsToDouble((x & 0xffffL) | 0x3ff0000000000000L)
        i += 1
      }
      s
    }
    var sink = loop()
    val t0 = System.nanoTime()
    sink += loop()
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == Double.MinValue) System.err.print("")
    ms
  }
}
