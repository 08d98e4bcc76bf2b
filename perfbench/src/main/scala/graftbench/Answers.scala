package graftbench

import java.time.LocalDate

import org.apache.spark.sql.Row

import graft.api.Queries.ScreenerFilter

/** The benchmark's own expectation of every dashboard answer, computed
  * from the generated market (histories, index membership, moving averages)
  * or, for screener filters over the dimension mart, by applying the filter
  * itself to a collected copy of the mart.
  */
final class Answers(market: Market, dimRows: Array[Row]) {
  private val days = market.historyDays
  private val members = market.membersOn(days - 1)

  private case class Dim(ticker: String, sector: String, rsi: Option[Double], ret1m: Option[Double])
  private val dim: Seq[Dim] = {
    val s = dimRows.head.schema
    def opt(r: Row, c: String) = { val i = s.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getDouble(i)) }
    dimRows.toSeq.map(r => Dim(r.getAs[String]("ticker"), r.getAs[String]("sector"),
      opt(r, "latest_rsi"), opt(r, "return_1m")))
  }

  def screener(f: ScreenerFilter, rows: Array[Row]): Option[String] = {
    val want = dim.filter(d => d.rsi.exists(r => r >= f.rsiLo.get && r <= f.rsiHi.get) &&
      f.sectors.contains(d.sector) &&
      d.ticker.toLowerCase.contains(f.tickerContains.get.toLowerCase)).map(_.ticker).toSet
    val got = rows.map(_.getAs[String]("ticker"))
    val rets = rows.map(r => Option(r.getAs[java.lang.Double]("return_1m")).map(_.doubleValue))
    val ordered = rets.sliding(2).forall {
      case Array(Some(a), Some(b)) => a >= b
      case Array(None, Some(_)) => false
      case _ => true
    }
    if (got.toSet != want || got.length != want.size) Some(s"screener $f: ${got.length} rows, want ${want.size}")
    else if (!ordered) Some(s"screener $f: rows not ordered by return_1m desc")
    else None
  }

  /** Rows must be the ticker's index-member bars in range, newest first,
    * with the generated closes.
    */
  def history(i: Int, from: LocalDate, to: LocalDate, rows: Array[Row]): Option[String] = {
    val want = (0 until days).filter { d =>
      val day = market.days(d)
      market.isMember(i, d) && !day.isBefore(from) && !day.isAfter(to)
    }.reverse.map(d => (market.days(d), market.close(i)(d)))
    val got = rows.toSeq.map(r => (r.getAs[java.sql.Date]("trade_date").toLocalDate, r.getAs[Double]("close")))
    if (got != want || rows.exists(_.getAs[String]("ticker") != market.tickers(i)))
      Some(s"ticker history ${market.tickers(i)} $from..$to: ${got.size} rows, want ${want.size}")
    else None
  }

  def breadth(rows: Array[Row]): Option[String] = {
    val want = market.days.takeRight(30).reverse
    val got = rows.toSeq.map(_.getAs[java.sql.Date]("trade_date").toLocalDate)
    val sentimentOk = rows.forall { r =>
      val p = r.getAs[Double]("pct_market_over_sma50")
      r.getAs[String]("market_sentiment") ==
        (if (p > 0.8) "Strong Bullish" else if (p < 0.2) "Strong Bearish" else "Neutral")
    }
    if (got != want) Some(s"breadth trend dates ${got.headOption}..${got.lastOption}, want last 30 days")
    else if (!sentimentOk) Some("breadth trend sentiment disagrees with pct_market_over_sma50")
    else None
  }

  def stats(rows: Array[Row]): Option[String] = {
    val r = rows.head
    val rets = dim.flatMap(_.ret1m)
    val mean = rets.sum / rets.size
    if (rows.length != 1 || r.getAs[Long]("n_securities") != members.size)
      Some(s"screener stats: n_securities ${r.getAs[Long]("n_securities")}, want ${members.size}")
    else if (math.abs(r.getAs[Double]("mean_return_1m") - mean) > 1e-9 * math.max(1, math.abs(mean)))
      Some(s"screener stats: mean_return_1m ${r.getAs[Double]("mean_return_1m")}, want $mean")
    else None
  }

  def picklist(rows: Array[Row]): Option[String] = {
    val want = members.map(market.sector).distinct.sorted
    val got = rows.toSeq.map(_.getString(0))
    if (got != want) Some(s"sector picklist $got, want $want") else None
  }

  /** Tickers whose 50-row SMA crossed above their 200-row SMA on the last
    * day, recomputed from the generated member closes.
    */
  private val crosses: (Set[String], Set[String]) = {
    def sma(xs: IndexedSeq[Double], end: Int, n: Int): Option[Double] =
      if (end + 1 < n) None else Some(xs.slice(end + 1 - n, end + 1).sum / n)
    val pairs = members.map { i =>
      val closes = (0 until days).filter(market.isMember(i, _)).map(market.close(i)(_))
      val e = closes.size - 1
      val (a, b, pa, pb) = (sma(closes, e, 50), sma(closes, e, 200), sma(closes, e - 1, 50), sma(closes, e - 1, 200))
      val near = Seq(a.zip(b), pa.zip(pb)).flatten.exists { case (x, y) => math.abs(x - y) < 1e-9 * x }
      val cross = (for (x <- a; y <- b; px <- pa; py <- pb) yield x > y && px <= py).getOrElse(false)
      (market.tickers(i), cross, near)
    }
    (pairs.filter(_._2).map(_._1).toSet, pairs.filter(_._3).map(_._1).toSet)
  }

  def goldenCrosses(rows: Array[Row]): Option[String] = {
    val (want, knifeEdge) = crosses
    val got = rows.map(_.getAs[String]("ticker")).toSet
    if ((got -- knifeEdge) != (want -- knifeEdge) || got.size != rows.length)
      Some(s"golden crosses $got, want $want")
    else None
  }
}
