package graftbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.{ApiBar, RawLoader, TradingCalendar}
import graft.models.StgConstituents

/** A seeded synthetic market: `nTickers` random-walk OHLCV series over
  * `historyDays` consecutive trading days, plus an index whose membership
  * changes at four quarterly snapshots (SCD2 validity ranges).
  *
  * Every vendor ticker trades every day. Index members' bars are clean;
  * bars of tickers outside the index on a date carry a seeded share of
  * zero-volume and OHLC-invalid records, which staging flags and the
  * point-in-time membership join drops (see NOTES.md for why members'
  * bars stay clean).
  */
final class Market(seed: Long, val nTickers: Int, val historyDays: Int) {

  val days: IndexedSeq[LocalDate] =
    Iterator.iterate(LocalDate.of(2023, 1, 3))(_.plusDays(1))
      .filter(TradingCalendar.isTradingDay).take(historyDays).toIndexedSeq

  private val rnd = new Random(seed)

  val Sectors: IndexedSeq[String] = IndexedSeq("Technology", "Health Care", "Financials",
    "Industrials", "Energy", "Utilities", "Materials", "Real Estate",
    "Consumer Staples", "Consumer Discretionary", "Communication Services")

  val tickers: IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < nTickers)
      seen += Iterator.fill(3 + rnd.nextInt(2))(('A' + rnd.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }
  val sector: IndexedSeq[String] = tickers.indices.map(_ => Sectors(rnd.nextInt(Sectors.size)))
  val company: IndexedSeq[String] = tickers.map(t => s"$t Holdings Inc")

  /** Snapshot k is valid from `snapshotStart(k)` to the day before the next. */
  val snapshotStart: IndexedSeq[Int] = IndexedSeq(0, historyDays / 4, historyDays / 2, 3 * historyDays / 4)
  private val kind: IndexedSeq[Int] = tickers.indices.map { _ =>
    val u = rnd.nextDouble()
    if (u < 0.08) 1 // joins the index at snapshot 2
    else if (u < 0.16) 2 // drops out of the index at snapshot 2
    else if (u < 0.20) 3 // never in the index: vendor noise
    else 0
  }
  def memberOf(i: Int, snapshot: Int): Boolean = kind(i) match {
    case 0 => true
    case 1 => snapshot >= 2
    case 2 => snapshot < 2
    case _ => false
  }
  def snapshotOf(day: Int): Int = snapshotStart.lastIndexWhere(_ <= day)
  def isMember(i: Int, day: Int): Boolean = memberOf(i, snapshotOf(day))
  private val marketValue = Array.tabulate(4, nTickers)((_, _) => 1e9 * (1 + 2 * rnd.nextDouble()))

  private val n = days.size
  val close: Array[Array[Double]] = Array.ofDim[Double](nTickers, n)
  private val open = Array.ofDim[Double](nTickers, n)
  private val high = Array.ofDim[Double](nTickers, n)
  private val low = Array.ofDim[Double](nTickers, n)
  private val volume = Array.ofDim[Double](nTickers, n)
  /** 0 = clean, 1 = zero volume, 2 = OHLC-invalid (close above high). */
  private val defect = Array.ofDim[Int](nTickers, n)

  private def cents(x: Double) = math.round(x * 100) / 100.0

  for (i <- 0 until nTickers) {
    var p = 10 + 190 * rnd.nextDouble()
    val drift = 0.0004 * rnd.nextGaussian()
    for (d <- 0 until n) {
      val o = cents(p * (1 + 0.004 * rnd.nextGaussian()))
      p = math.max(1.0, p * math.exp(drift + 0.02 * rnd.nextGaussian()))
      val c = cents(p)
      open(i)(d) = o
      close(i)(d) = c
      high(i)(d) = cents(math.max(o, c) * (1 + 0.01 * math.abs(rnd.nextGaussian())))
      low(i)(d) = cents(math.min(o, c) * (1 - 0.01 * math.abs(rnd.nextGaussian())))
      volume(i)(d) = (1000 + rnd.nextInt(2000000)).toDouble
      val u = rnd.nextDouble()
      if (!isMember(i, d) && u < 0.10) defect(i)(d) = if (u < 0.05) 1 else 2
    }
  }

  private def epochMillis(d: Int) = days(d).toEpochDay * 86400000L + 21 * 3600000L

  def bar(i: Int, d: Int): ApiBar = {
    val c = if (defect(i)(d) == 2) cents(high(i)(d) + 1) else close(i)(d)
    ApiBar(tickers(i),
      volume = Some(if (defect(i)(d) == 1) 0.0 else volume(i)(d)),
      vwap = Some(cents((open(i)(d) + c) / 2)),
      open = Some(open(i)(d)), close = Some(c),
      high = Some(high(i)(d)), low = Some(low(i)(d)),
      numTransactions = Some(10L + (volume(i)(d) / 100).toLong),
      epochMillis = epochMillis(d))
  }

  private val ingestedAt = new Timestamp(days.head.toEpochDay * 86400000L)

  /** The raw store, in `RawLoader.rawSchema`. */
  def rawHistory(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row](nTickers * historyDays)
    for (d <- 0 until historyDays; i <- 0 until nTickers) {
      val b = bar(i, d)
      rows.add(Row(b.ticker, b.volume.get, b.vwap.get, b.open.get, b.close.get,
        b.high.get, b.low.get, b.numTransactions.get, new Timestamp(b.epochMillis),
        Date.valueOf(days(d)), ingestedAt))
    }
    spark.createDataFrame(rows, RawLoader.rawSchema)
  }

  /** Writes the history as a vendor feed lands it: one file per DATE. */
  def writeRaw(spark: SparkSession, rawPath: String): Unit =
    rawHistory(spark).repartition(col("DATE")).write.partitionBy("DATE").parquet(rawPath)

  /** The SCD2 constituents dimension, through the program's staging model. */
  def constituents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val snaps = snapshotStart.indices.map { k =>
      val members = tickers.indices.filter(memberOf(_, k))
      val total = members.map(marketValue(k)(_)).sum
      val df = members.map(i => (tickers(i), company(i), sector(i),
        marketValue(k)(i), 100 * marketValue(k)(i) / total))
        .toDF("Ticker", "Name", "Sector", "Market_Value", "Weight")
      val to = if (k + 1 < snapshotStart.size) days(snapshotStart(k + 1)).minusDays(1)
        else LocalDate.of(2099, 12, 31)
      StgConstituents.Snapshot(df, Date.valueOf(days(snapshotStart(k))), Date.valueOf(to))
    }
    StgConstituents.build(snaps)
  }

  def membersOn(day: Int): IndexedSeq[Int] = tickers.indices.filter(isMember(_, day))
}
