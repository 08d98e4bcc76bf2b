package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one run of one workload.
  *
  * {{{
  * Main --workload <dashboard|curation> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <prefix> --launched-ms <epoch ms> [--corrupt]
  * }}}
  *
  * Start-up and the workload's set-up (its inputs and a warm-up on small
  * inputs) are charged to `setup_s`. Operations then run in closed loops
  * until `--seconds` have passed. The last line of standard output is the
  * result record; `--warm-only` runs every workload's set-up and prints
  * nothing (the build uses it to record the classes a run loads).
  */
object Main {

  val Workloads: Seq[String] = Seq("dashboard", "curation")
  /** Operations each client runs at least, whatever `--seconds` says. */
  val MinOps = 2

  final case class Sample(durMs: Double, traced: Boolean, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.indices.collect {
      case i if argv(i).startsWith("--") && i + 1 < argv.length && !argv(i + 1).startsWith("--") =>
        argv(i).drop(2) -> argv(i + 1)
    }.toMap
    val corrupt = argv.contains("--corrupt")
    val warmOnly = argv.contains("--warm-only")
    val workload = args.getOrElse("workload", "dashboard")
    val seed = args("seed").toLong
    val seconds = args.getOrElse("seconds", "1").toDouble
    val traced = args.get("trace").contains("1")
    val work = args("work")
    val launchedMs = args("launched-ms").toDouble
    val jvmStartS = (System.currentTimeMillis() - launchedMs) / 1e3

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext)
    def mark(name: String): Unit =
      System.err.println(f"perfbench phase $name%s at ${jvmStartS + (System.nanoTime() - t0) / 1e9}%.1f s")
    mark("session")

    def make(name: String): Workload = name match {
      case "dashboard" => new DashboardRun(spark, seed, s"$work/run", tr, corrupt)
      case "curation" => new CurationRun(spark, seed, s"$work/run", tr, corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (warmOnly) {
      // the build's class-loading pass: every workload's set-up, no result
      Main.Workloads.foreach { name => make(name).setup(); Disk.delete(s"$work/run") }
      spark.stop()
      return
    }

    // set-up includes each workload's warm-up on small inputs; a traced run
    // also traces the set-up's backfill
    val w = make(workload)
    if (traced) tr.start()
    w.setup()
    tr.stop()
    val setupS = jvmStartS + (System.nanoTime() - t0) / 1e9
    val liveHeapMb = Heap.live(spark) / 1e6
    mark("setup")

    val samples = new ConcurrentLinkedQueue[Sample]()
    val failures = new ConcurrentLinkedQueue[String]()
    def lost(e: Throwable): Boolean = { failures.add(s"${e.getClass.getName}: ${e.getMessage}"); false }
    // one operation: timed, then checked outside the timed region; a throw
    // in either counts it as failed, never as a fast operation
    def runOne(rnd: Random, traceIt: Boolean): Unit = {
      w.prepare()
      val s = System.nanoTime()
      val out: Either[Throwable, w.Out] =
        try Right(tr.operation(workload)(w.op(rnd))) catch { case e: Throwable => Left(e) }
      val e = System.nanoTime()
      val ok = out.fold(lost, o => try { w.check(o); true } catch { case e: Throwable => lost(e) })
      samples.add(Sample((e - s) / 1e6, traceIt, ok))
    }
    // each client runs a closed loop, at least `MinOps` operations; a traced
    // run measures untraced for the first half of its time and traced for
    // the second, so the tracing overhead is measured on the same run
    val loopStart = System.nanoTime()
    def phase(traceIt: Boolean, until: Double, salt: Int): Unit = {
      if (traceIt) tr.start()
      val threads = (0 until w.clients).map { c =>
        val t = new Thread(() => {
          val rnd = new Random(seed * 1000 + 10 * c + salt)
          var n = 0
          while (n < MinOps || (System.nanoTime() - loopStart) / 1e9 < until) { runOne(rnd, traceIt); n += 1 }
        })
        t.start()
        t
      }
      threads.foreach(_.join())
      tr.stop()
    }
    if (traced) { phase(traceIt = false, seconds / 2, 0); phase(traceIt = true, seconds, 1) }
    else phase(traceIt = false, seconds, 0)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val all = samples.asScala.toSeq
    val storeMb = w.storeBytes / 1e6
    mark("loop")
    val checkProblems = w.verify()
    val problems = failures.asScala.toSeq ++ checkProblems
    problems.take(20).foreach(p => System.err.println(s"perfbench: FAILED $p"))
    val attempted = all.size + 1 // the operations, plus the final output check
    val failed = all.count(!_.ok) + (if (checkProblems.nonEmpty) 1 else 0)

    val plain = all.filter(s => s.ok && !s.traced).map(_.durMs)
    val measured = if (plain.nonEmpty) plain else all.filter(_.ok).map(_.durMs)
    val (tailPct, tailMs) = Stats.tail(measured)
    val e2e = Seq(
      ("op_p50_ms", Stats.median(measured), "ms"),
      ("setup_s", setupS, "s"),
      ("store_mb", storeMb, "MB"),
      ("live_heap_mb", liveHeapMb, "MB"))

    val metrics =
      if (!traced) e2e
      else {
        val tracedMs = Stats.median(all.filter(s => s.ok && s.traced).map(_.durMs))
        val overhead = if (plain.nonEmpty && tracedMs > 0) 100 * (tracedMs / Stats.median(plain) - 1) else 0.0
        val (layerMetrics, spans) = Report.perLayer(tr, workload, overhead)
        Report.write(tr, spans, args("out"))
        layerMetrics
      }

    // the workload's own names for its end-to-end figures
    val p50 = Stats.median(measured)
    val named: Seq[(String, Any)] = workload match {
      case "dashboard" => Seq("dash_p50_ms" -> p50, s"dash_p${tailPct.toInt}_ms" -> tailMs,
        "dash_qps" -> all.count(s => s.ok && !s.traced) / (if (traced) loopS / 2 else loopS))
      case _ => Seq("curation_s" -> p50 / 1e3)
    }
    val summary = Seq("workload" -> workload, "seed" -> seed, "samples" -> measured.size,
      "clients" -> w.clients, "cores" -> cores) ++ named ++ w.extra ++ Seq(
      "setup_s" -> setupS, "store_mb" -> storeMb, "live_heap_mb" -> liveHeapMb,
      "fail_ratio" -> failed.toDouble / attempted)
    println("perfbench summary " + Json.obj(summary))
    println(Json.obj(Seq(
      "correct" -> problems.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    System.out.flush()
    spark.stop()
  }
}

/** Heap in use after a full collection: the live data the workload holds
  * once set up. Steadier across runs than a peak, which follows when
  * collections happen to run, or than the end of the loop, where Spark's
  * status store holds as many jobs as the run happened to finish. Cached
  * blocks are dropped first, and the second collection runs after Spark's
  * cleaner has had time to release what the first one made unreachable.
  */
object Heap {
  def live(spark: SparkSession): Long = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
