package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.RawLoader
import graft.models.StgDailyStocks
import graft.pipeline.{Pipeline, StockPipeline}
import graft.quality.DataQuality

/** The stock DAG as the benchmark drives it: one store directory holding the
  * raw vendor feed and the four marts, built through `graft.ingest`,
  * `graft.models`, `graft.pipeline` and tested through `graft.quality`.
  * Each call is a span of `tr`.
  */
final class Stock(spark: SparkSession, market: Market, val root: String, val tr: Tracer) {
  val rawPath = s"$root/raw"
  val martDir = s"$root/marts"
  def mart(name: String): String = s"$martDir/$name"
  def read(name: String): DataFrame = spark.read.parquet(mart(name))

  lazy val constituents: DataFrame = market.constituents(spark).cache()

  def staged(): DataFrame = tr.span("ingest.read_raw") {
    if (tr.enabled) tr.add("ingest.raw_files", Disk.list(rawPath, ".parquet").size.toDouble)
    StgDailyStocks.build(RawLoader.readRaw(spark, rawPath))
  }

  /** Builds the store from nothing: the generated history lands in the raw
    * feed, the whole DAG is built over it and the batteries run. A traced
    * run records it as the `backfill` operation.
    */
  def backfill(): Unit = {
    val t0 = System.nanoTime()
    tr.operation("backfill") {
      tr.span("bench.land_raw")(market.writeRaw(spark, rawPath))
      fullBuild(staged())
      quality(market.membersOn(market.historyDays - 1).size.toLong)
    }
    backfillS = (System.nanoTime() - t0) / 1e9
  }

  /** Wall time of the last [[backfill]]. */
  var backfillS: Double = 0.0

  /** Full DAG build into the store. Untraced, this is exactly
    * `StockPipeline.run`; traced, it runs the same models through
    * `Pipeline.run` with a span opened at each `Model.build`, so each model's
    * span covers its build and its materialization.
    */
  def fullBuild(stg: DataFrame): Unit = tr.span("pipeline.run") {
    if (!tr.enabled) StockPipeline.run(spark, stg, constituents, martDir)
    else {
      var open = false
      val models = StockPipeline.models(stg, constituents).map { m =>
        m.copy(build = (in: Map[String, DataFrame]) => {
          if (open) tr.close()
          tr.open(Stock.spanOf(m.name))
          open = true
          m.build(in)
        })
      }
      try Pipeline.run(spark, models, martDir)
      finally if (open) tr.close()
    }
    written(martDir)
  }

  /** The four dbt-style batteries, as one collected report per mart, with
    * the parameterized bounds set from the generated universe: the dim
    * row-count bounds are the index's size on the latest day.
    */
  def quality(dimN: Long): Unit = tr.span("quality.report") {
    val batteries = Seq(
      // index weights are percentage shares of the generated index
      "int_russell_daily" -> DataQuality.intTests(weightHi = 100d),
      "fct_trading_momentum" -> DataQuality.fctTests,
      "agg_daily_market_breadth" -> DataQuality.breadthTests(highLowInclusive = true),
      "dim_securities_current" -> DataQuality.dimTests(rowLo = dimN, rowHi = dimN))
    val failing = batteries.flatMap { case (name, tests) =>
      tr.add("quality.tests_run", tests.size.toDouble)
      DataQuality.report(read(name), tests).collect()
        .filter(_.getLong(1) != 0L).map(r => s"$name.${r.getString(0)}=${r.getLong(1)}")
    }
    tr.add("quality.violations", failing.size.toDouble)
    if (failing.nonEmpty)
      throw new IllegalStateException(s"data-quality violations: ${failing.mkString(", ")}")
  }

  /** Counts the data files (and their partition directories) under the
    * freshly built `dir`; traced runs only, as it lists the store.
    */
  private def written(dir: String): Unit = if (tr.enabled) {
    val files = Disk.list(dir, ".parquet")
    tr.add("pipeline.files_written", files.size.toDouble)
    tr.add("pipeline.bytes_written", files.map(_.length()).sum.toDouble)
    tr.add("pipeline.partitions_written", files.map(_.getParent).distinct.size.toDouble)
  }
}

object Stock {
  /** Span name of each model of `StockPipeline.models`. */
  def spanOf(model: String): String = model match {
    case "int_russell_daily" => "models.int"
    case "fct_trading_momentum" => "models.fct"
    case "agg_daily_market_breadth" => "models.breadth"
    case "dim_securities_current" => "models.dim"
    case other => s"models.$other"
  }
}
