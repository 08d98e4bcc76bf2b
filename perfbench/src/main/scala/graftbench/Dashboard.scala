package graftbench

import java.sql.Date
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.Queries
import graft.api.Queries.ScreenerFilter

/** Dashboard requests through `graft.api`, over marts opened once (as a
  * dashboard server holds its relations, so a request pays planning,
  * pruning and execution, not a re-listing of the store). Each client sends
  * blocks of ten requests in seeded order: 4 screener (random RSI band,
  * sectors and ticker substring), 4 ticker history (random ticker, 90-day
  * range), 1 breadth trend, and 1 of screener stats / sector picklist /
  * latest golden crosses. The exact mix keeps the median from
  * jumping between request types from one seed to the next.
  */
final class Dashboard(stock: Stock, market: Market) {
  import Dashboard._

  private val dim = stock.read("dim_securities_current")
  private val fct = stock.read("fct_trading_momentum")
  private val breadth = stock.read("agg_daily_market_breadth")
  private val expect = new Answers(market, dim.collect())
  private val members = market.membersOn(market.historyDays - 1)
  @volatile private var corruptPending = false

  /** Drops a row from the next non-empty answer before it is checked: the
    * deliberately wrong answer the checks must catch.
    */
  def corruptNextAnswer(): Unit = corruptPending = true


  /** The client's remaining request kinds of its current block. */
  private val block = ThreadLocal.withInitial[List[Int]](() => Nil)

  private def randomRequest(rnd: Random): Req = {
    if (block.get.isEmpty) block.set(rnd.shuffle(List(0, 0, 0, 0, 1, 1, 1, 1, 2, 3 + rnd.nextInt(3))))
    val kind = block.get.head
    block.set(block.get.tail)
    if (kind == 0) {
      val lo = 10 + rnd.nextInt(40)
      val t = market.tickers(members(rnd.nextInt(members.size)))
      Screener(ScreenerFilter(rsiLo = Some(lo.toDouble), rsiHi = Some(lo + 20.0 + rnd.nextInt(40)),
        sectors = Seq.fill(1 + rnd.nextInt(3))(market.Sectors(rnd.nextInt(market.Sectors.size))).distinct,
        tickerContains = Some(t.substring(0, 1))))
    } else if (kind == 1) {
      val end = market.days(market.historyDays / 3 + rnd.nextInt(market.historyDays - market.historyDays / 3))
      History(members(rnd.nextInt(members.size)), end.minusDays(90), end)
    } else if (kind == 2) Breadth
    else Seq(Stats, Picklist, Golden)(kind - 3)
  }

  /** Serves one random request: building its frame (analysis), its plan
    * and its collect all fall in the request's `api.<kind>` span, the last
    * two also in spans of their own.
    */
  def request(rnd: Random): Served = {
    val req = randomRequest(rnd)
    val (kind, query): (String, () => DataFrame) = req match {
      case Screener(f) => ("screener", () => Queries.screener(dim, f))
      case History(i, from, to) => ("ticker_history",
        () => Queries.tickerHistory(fct, market.tickers(i), Date.valueOf(from), Date.valueOf(to)))
      case Breadth => ("breadth_trend", () => Queries.breadthTrend(breadth))
      case Stats => ("screener_stats", () => Queries.screenerStats(dim))
      case Picklist => ("picklist", () => Queries.sectorPicklist(dim))
      case Golden => ("golden_crosses", () => Queries.latestGoldenCrosses(fct))
    }
    val rows = stock.tr.span(s"api.$kind") {
      val df = query()
      stock.tr.span("api.plan")(df.queryExecution.executedPlan)
      stock.tr.span("api.exec")(df.collect())
    }
    stock.tr.add("api.rows_returned", rows.length.toDouble)
    (req, rows)
  }

  /** Checks one answer against the benchmark's own expectation. */
  def check(out: Served): Unit = {
    val (req, served) = out
    val rows = synchronized {
      if (corruptPending && served.nonEmpty) { corruptPending = false; served.tail } else served
    }
    val problem = req match {
      case Screener(f) => expect.screener(f, rows)
      case History(i, from, to) => expect.history(i, from, to, rows)
      case Breadth => expect.breadth(rows)
      case Stats => expect.stats(rows)
      case Picklist => expect.picklist(rows)
      case Golden => expect.goldenCrosses(rows)
    }
    problem.foreach(p => throw new IllegalStateException(s"wrong dashboard answer: $p"))
  }
}

object Dashboard {
  sealed trait Req
  final case class Screener(f: ScreenerFilter) extends Req
  final case class History(ticker: Int, from: LocalDate, to: LocalDate) extends Req
  case object Breadth extends Req
  case object Stats extends Req
  case object Picklist extends Req
  case object Golden extends Req

  /** A request and the rows it returned. */
  type Served = (Req, Array[Row])
}
