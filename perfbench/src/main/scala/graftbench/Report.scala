package graftbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

/** Per-layer metrics from a traced run: each is a per-operation value (a sum
  * over the operation's spans or counts), reported as the median over the
  * traced operations. A layer the workload does not call reads 0.
  */
object Report {

  /** (metric, unit, span name) for the span-duration metrics. */
  val SpanMetrics: Seq[(String, String, String)] = Seq(
    ("ingest.read_raw_s", "s", "ingest.read_raw"),
    ("models.int_s", "s", "models.int"),
    ("models.fct_s", "s", "models.fct"),
    ("models.breadth_s", "s", "models.breadth"),
    ("models.dim_s", "s", "models.dim"),
    ("pipeline.run_s", "s", "pipeline.run"),
    ("quality.report_s", "s", "quality.report"),
    ("api.screener_ms", "ms", "api.screener"),
    ("api.ticker_history_ms", "ms", "api.ticker_history"),
    ("api.breadth_trend_ms", "ms", "api.breadth_trend"),
    ("api.screener_stats_ms", "ms", "api.screener_stats"),
    ("api.picklist_ms", "ms", "api.picklist"),
    ("api.golden_crosses_ms", "ms", "api.golden_crosses"),
    ("api.plan_ms", "ms", "api.plan"),
    ("api.exec_ms", "ms", "api.exec"),
    ("ops.clusters_s", "s", "ops.clusters"),
    ("ops.audit_s", "s", "ops.audit"),
    ("ops.corpus_s", "s", "ops.corpus"))

  /** (metric, unit) for counts the benchmark adds per operation. */
  val CountMetrics: Seq[(String, String)] = Seq(
    "ingest.raw_files" -> "count",
    "pipeline.partitions_written" -> "count", "pipeline.files_written" -> "count",
    "pipeline.bytes_written" -> "bytes", "quality.tests_run" -> "count",
    "quality.violations" -> "count", "ops.docs_in" -> "count", "ops.dup_docs" -> "count",
    "ops.clusters" -> "count", "ops.curated_docs" -> "count")

  /** (metric, unit, counter) for the Spark engine counters. */
  val SparkMetrics: Seq[(String, String, Counters => Double)] = Seq(
    ("spark.jobs", "count", _.jobs.toDouble),
    ("spark.stages", "count", _.stages.toDouble),
    ("spark.tasks", "count", _.tasks.toDouble),
    ("spark.failed_tasks", "count", _.failedTasks.toDouble),
    ("spark.executor_run_s", "s", _.runMs / 1e3),
    ("spark.gc_s", "s", _.gcMs / 1e3),
    ("spark.shuffle_read_bytes", "bytes", _.shuffleRead.toDouble),
    ("spark.shuffle_write_bytes", "bytes", _.shuffleWrite.toDouble),
    ("spark.spill_bytes", "bytes", _.spill.toDouble),
    ("spark.input_bytes", "bytes", _.inputBytes.toDouble),
    ("spark.output_bytes", "bytes", _.outputBytes.toDouble))

  /** Total length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end = lo
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** @param overheadPct traced over untraced median operation time, less one */
  def perLayer(tr: Tracer, workload: String, overheadPct: Double): (Seq[(String, Double, String)], Seq[Span]) = {
    // spans outside any operation (warm-up calls during set-up) are dropped
    val spans = tr.spans.filter(_.op != 0L)
    // span and count metrics: median over the operations that have them
    // (the dashboard's set-up is its backfill operation); engine and
    // coverage metrics: median over the workload's own operations
    val all = spans.filter(s => s.parent == 0L && s.op == s.id)
    val roots = all.filter(_.name == workload)
    val byOp = spans.groupBy(_.op)
    val counts = tr.countsByOp
    val counters = tr.listener.counters.asScala
    val jobs = tr.listener.jobs.asScala.toSeq
    val opOfSpan = spans.map(s => s.id -> s.op).toMap
    def perOp(f: Span => Option[Double]): Double = Stats.median(roots.flatMap(f))
    def perAnyOp(f: Span => Option[Double]): Double = Stats.median(all.flatMap(f))

    // seconds: the per-operation total; milliseconds (requests): per span
    val timed = SpanMetrics.map { case (m, unit, name) =>
      if (unit == "ms") (m, Stats.median(spans.filter(_.name == name).map(_.durMs)), unit)
      else (m, perAnyOp { r =>
        val xs = byOp(r.id).filter(_.name == name)
        if (xs.isEmpty) None else Some(xs.map(_.durMs).sum / 1e3)
      }, unit)
    }
    val counted = CountMetrics.map { case (m, unit) =>
      (m, perAnyOp(r => counts.get((r.id, m))), unit)
    }
    def opCounters(r: Span): Seq[Counters] = byOp(r.id).flatMap(s => counters.get(s.id))
    val engine = SparkMetrics.map { case (m, unit, f) =>
      (m, perOp(r => Some(opCounters(r).map(f).sum)), unit)
    }
    val returned = roots.flatMap(r => counts.get((r.id, "api.rows_returned"))).sum
    val read = roots.flatMap(opCounters).map(_.inputRecords.toDouble).sum
    val rowsRatio = ("api.rows_read_per_row_returned", if (returned > 0) read / returned else 0.0, "ratio")
    val gap = ("spark.driver_gap_s", perOp { r =>
      val own = jobs.filter(j => opOfSpan.get(j.span).contains(r.id)).map(j => (j.startMs, j.endMs))
      Some((r.durMs - covered(own, r.startMs, r.endMs)) / 1e3)
    }, "s")
    val uncovered = ("trace.uncovered_s", perOp { r =>
      val kids = byOp(r.id).filter(_.parent == r.id).map(s => (s.startMs, s.endMs))
      Some((r.durMs - covered(kids, r.startMs, r.endMs)) / 1e3)
    }, "s")
    val metrics = timed ++ counted ++ Seq(rowsRatio) ++ engine ++
      Seq(gap, uncovered, ("trace.overhead_pct", overheadPct, "%"), ("trace.ops", roots.size.toDouble, "count"))
    (metrics, spans)
  }

  /** Writes the spans (one JSON object a line, with their own Spark
    * counters) and a per-layer self-time summary.
    */
  def write(tr: Tracer, spans: Seq[Span], prefix: String): Unit = {
    new File(prefix).getParentFile.mkdirs()
    val counters = tr.listener.counters.asScala
    val kids = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.durMs - covered(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
    val w = new PrintWriter(s"$prefix.spans.jsonl")
    try spans.sortBy(_.startMs).foreach { s =>
      val c = counters.get(s.id)
      val fields = Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "self_ms" -> self(s),
        "status" -> s.status, "error" -> s.error) ++
        SparkMetrics.map { case (m, _, f) => m -> c.map(f).getOrElse(0.0) }
      w.println(Json.obj(fields))
    } finally w.close()
    // per kind of operation: each layer's self time per operation, seconds
    val rootName = spans.filter(s => s.parent == 0L).map(s => s.op -> s.name).toMap
    val summary = spans.groupBy(s => rootName.getOrElse(s.op, "")).toSeq.sortBy(_._1).map { case (op, ss) =>
      val n = ss.count(_.parent == 0L).max(1)
      val layers = ss.groupBy(_.name.takeWhile(_ != '.')).toSeq.sortBy(_._1).map { case (layer, ls) =>
        layer -> ls.map(self).sum / n / 1e3
      }
      op -> Json.Raw(Json.obj(Seq("ops" -> n, "self_s_per_op" -> Json.Raw(Json.obj(layers)))))
    }
    val s = new PrintWriter(s"$prefix.layers.json")
    try s.println(Json.obj(summary))
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the maximum when there are fewer than 20 samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 20) (100.0, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val p = math.floor(100.0 * (1 - 10.0 / xs.size))
      (p, quantile(xs, p / 100))
    }
}

/** Just enough JSON for the benchmark's flat records. */
object Json {
  final case class Raw(text: String)

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => value(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
