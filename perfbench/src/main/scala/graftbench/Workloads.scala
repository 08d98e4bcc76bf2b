package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup}

/** One benchmark workload. [[setup]] builds its inputs (timed as set-up),
  * [[op]] is one operation of a client's closed loop, timed; [[check]]
  * verifies that operation's output afterwards, outside the timed region.
  * Both throw when the program fails or answers wrongly. [[verify]] runs
  * the checks that need the whole run and returns what failed.
  */
trait Workload {
  /** What one operation returns for [[check]]. */
  type Out
  def clients: Int = 1
  def setup(): Unit
  /** Untimed housekeeping before each operation. */
  def prepare(): Unit = ()
  def op(rnd: Random): Out
  def check(out: Out): Unit
  def verify(): Seq[String] = Nil
  /** Bytes on disk of what the workload's operations read or wrote. */
  def storeBytes: Long
  /** Figures the workload reports under its own names. */
  def extra: Seq[(String, Any)] = Nil
}

/** Input sizes, bounded by the run budget: the stock DAG's cost grows with
  * the number of date partitions far more than with tickers, so the market
  * has 60 trading days of history (SMA-20/50, RSI-14 and relative volume
  * fill; SMA-200 and the 52-week windows stay null, see NOTES.md).
  */
object Sizes {
  val Tickers = 100
  val HistoryDays = 60
  val Docs = 800
  val WarmDocs = 100
  val WarmRequests = 24
}

/** Read-only dashboard traffic over a freshly backfilled store: `clients`
  * closed loops, each with its own seeded request mix.
  */
final class DashboardRun(spark: SparkSession, seed: Long, work: String, tr: Tracer, corrupt: Boolean)
    extends Workload {
  override val clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  private val market = new Market(seed, Sizes.Tickers, Sizes.HistoryDays)
  private var stock: Stock = _
  private var dash: Dashboard = _
  type Out = Dashboard.Served

  /** Backfills the store (the full DAG plus its tests), opens the marts
    * and sends a few untimed warm-up requests.
    */
  def setup(): Unit = {
    stock = new Stock(spark, market, s"$work/store", tr)
    stock.backfill()
    dash = new Dashboard(stock, market)
    val rnd = new Random(seed)
    (0 until Sizes.WarmRequests).foreach(_ => check(op(rnd)))
    if (corrupt) dash.corruptNextAnswer()
  }

  def op(rnd: Random): Out = dash.request(rnd)

  def check(out: Out): Unit = dash.check(out)

  def storeBytes: Long = Disk.bytes(stock.root)

  override def extra: Seq[(String, Any)] = Seq("backfill_s" -> stock.backfillS)
}

/** The curation funnel over a seeded corpus with injected near-duplicates;
  * a small corpus warms the same calls up first.
  */
final class CurationRun(spark: SparkSession, seed: Long, work: String, tr: Tracer, corrupt: Boolean)
    extends Workload {
  private val runs = new AtomicInteger()
  private val funnels = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
  private var corpus: Corpus = _
  private var warming = true
  private def docsPath = s"$work/documents"
  private def out(i: Int) = s"$work/run-$i"

  def setup(): Unit = {
    corpus = new Corpus(seed, Sizes.WarmDocs)
    corpus.frame(spark).write.parquet(docsPath)
    check(op(new Random(seed)))
    Disk.delete(work)
    runs.set(0)
    funnels.clear()
    warming = false
    corpus = new Corpus(seed, Sizes.Docs)
    corpus.frame(spark).write.parquet(docsPath)
  }

  override def prepare(): Unit = if (runs.get > 0) Disk.delete(out(runs.get - 1))

  /** The run's index and its funnel counters. */
  type Out = (Int, Seq[Long])

  def op(rnd: Random): Out = {
    val i = runs.getAndIncrement()
    val docsDf = spark.read.parquet(docsPath)
    val clusters = tr.span("ops.clusters")(Dedup.minhashDupClusters(docsDf))
    tr.span("ops.audit")(Curation.audit(docsDf, clusters).write.parquet(s"${out(i)}/audit"))
    val audited = spark.read.parquet(s"${out(i)}/audit")
    val funnel = tr.span("ops.corpus") {
      Curation.corpus(docsDf, audited).write.parquet(s"${out(i)}/corpus")
      Curation.funnel(audited).collect().head
    }
    // the funnel counters, in order: total, after dedup, quality,
    // repetition, curated, train, val, test
    val counts = (0 until funnel.length).map(funnel.getLong)
    tr.add("ops.docs_in", counts(0).toDouble)
    tr.add("ops.dup_docs", (counts(0) - counts(1)).toDouble)
    tr.add("ops.clusters", counts(1).toDouble)
    tr.add("ops.curated_docs", counts(4).toDouble)
    (i, counts)
  }

  /** Funnel invariants, and exactly one audit row per input document. The
    * blocks the funnel cached or checkpointed are freed, so every run
    * starts from the same memory state.
    */
  def check(out: Out): Unit = {
    val (i, counts) = out
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    funnels += counts
    funnelProblem(counts).foreach(p => throw new IllegalStateException(p))
    var audit = spark.read.parquet(s"${this.out(i)}/audit")
    if (corrupt && !warming) audit = audit.filter(col("doc_id") =!= 0L)
    val perDoc = audit.agg(count(lit(1)), countDistinct("doc_id")).head()
    if (perDoc.getLong(0) != corpus.docs || perDoc.getLong(1) != corpus.docs)
      throw new IllegalStateException(
        s"audit has ${perDoc.getLong(0)} rows for ${perDoc.getLong(1)} of ${corpus.docs} docs")
  }

  /** Funnel counts: cumulative stages never grow, the splits add up to the
    * curated count, and near-duplicate removal removes no more documents
    * than were injected as copies and at least half of them. MinHash-LSH
    * recall is probabilistic, so the floor only catches a broken dedup.
    */
  private def funnelProblem(c: Seq[Long]): Option[String] = {
    val Seq(total, dedup, quality, repetition, curated, train, valid, test) = c
    val removed = total - dedup
    if (total != corpus.docs) Some(s"funnel n_total $total, want ${corpus.docs}")
    else if (!(total >= dedup && dedup >= quality && quality >= repetition && repetition >= curated))
      Some(s"funnel counts not monotone: $c")
    else if (train + valid + test != curated) Some(s"funnel splits do not add up: $c")
    else if (removed < corpus.injected / 2 || removed > corpus.injected)
      Some(s"dedup removed $removed docs, ${corpus.injected} near-duplicates were injected")
    else None
  }

  override def verify(): Seq[String] =
    if (funnels.distinct.size > 1)
      Seq(s"funnel counts differ between repetitions: ${funnels.distinct.mkString("; ")}")
    else Nil

  def storeBytes: Long = Disk.bytes(docsPath) + Disk.bytes(out(runs.get - 1))
}
