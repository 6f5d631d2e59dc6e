package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.warehouse.Scd0

/** Quote/listing source abstraction (reference S1/S2,
  * `API_manager.py:119-140`). The environment is zero-egress, so the HTTP
  * layer is an interface; [[JsonDirSource]] reads canned JSON response
  * bodies (FIXTURES.md §A1/§A2). The `fromDate` parameter reproduces the
  * API-side predicate pushdown (`from=` param, `API_manager.py:125`).
  */
trait QuoteSource {
  def eod(ticker: String, fromDate: String): DataFrame
  def symbols(exchange: String): DataFrame
}

/** Typed source errors with the reference's user-facing messages
  * (`API_manager.py:61-65`: "Ticker Not Found." / "Exchange Not Found."). */
final class TickerNotFound(val ticker: String)
  extends RuntimeException("Ticker Not Found.")
final class ExchangeNotFound(val exchange: String)
  extends RuntimeException("Exchange Not Found.")

/** File-backed source: `dir/eod/<TICKER>.json`, `dir/symbols/<EXCHANGE>.json`. */
class JsonDirSource(spark: SparkSession, dir: String) extends QuoteSource {
  // multiLine: fixture files are literal API response bodies (JSON arrays)
  def eod(ticker: String, fromDate: String): DataFrame = {
    if (!graft.core.Fs.exists(spark, s"$dir/eod/$ticker.json"))
      throw new TickerNotFound(ticker)
    spark.read.schema(Schemas.eodRaw).option("multiLine", true)
      .json(s"$dir/eod/$ticker.json")
      .filter(col("date") >= lit(fromDate)) // source-side pushdown analog
  }
  def symbols(exchange: String): DataFrame = {
    if (!graft.core.Fs.exists(spark, s"$dir/symbols/$exchange.json"))
      throw new ExchangeNotFound(exchange)
    spark.read.schema(Schemas.marketRaw).option("multiLine", true)
      .json(s"$dir/symbols/$exchange.json")
  }
}

/** End-to-end pipeline orchestrator (reference `main.py:49-102`):
  * extract → transform → lake → stage → SCD-0 warehouse merge, with the
  * incremental-state contract of SURVEY §2.9: watermark read before
  * extract, advanced only after a successful sink write; replays are
  * deduped by the key anti-join, so the whole chain is effectively-once.
  */
class Pipeline(
    spark: SparkSession,
    source: QuoteSource,
    val lakeRoot: String,
    val warehouseRoot: String,
    statePath: String) {

  val state = new StateStore(spark, statePath)

  def stocksWarehousePath: String  = s"$warehouseRoot/stock_prices"
  def marketsWarehousePath: String = s"$warehouseRoot/markets"

  /** Incremental per-ticker extraction (reference E1+E2 chained):
    * watermark+1day as from-date, transform, lake write, stage overwrite,
    * anti-join merge, then monotone state advance. Returns rows inserted.
    * The batch's row count and max date ride the lake write as observed
    * metrics: the three writes and the merge's key broadcast are the only
    * Spark jobs. */
  def runStock(ticker: String): Long = {
    val wm = state.watermark("Stock", ticker)
    val from = java.time.LocalDate.parse(wm).plusDays(1).toString // F4
    val raw = graft.ops.Validate.requireSchema(
      source.eod(ticker, from), Schemas.eodRaw) // declared-schema contract (§1.2)
    val prices = Transforms.transformStock(raw, ticker)
    val batch = Observation()
    Lake.writeStocks(prices.observe(batch, count(lit(1)).as("rows"),
      max(col("stock_date")).cast("string").as("max_date")), lakeRoot)
    val m = observed(batch)
    if (m.getLong(0) == 0L) return 0L // S5 empty-result short-circuit: no state move
    val inserted = stageAndMerge(prices, "stage_stock_prices", stocksWarehousePath, "stock_key")
    val newWm = m.getString(1)
    if (newWm != null && newWm > wm) state.advance("Stock", ticker, newWm)
    inserted
  }

  /** Full-refresh market extraction (reference: "LA EXTRACCION DE LOS
    * MERCADOS ES FULL", `main.py:22-23`); state date is informational. */
  def runMarket(exchange: String): Long = {
    val raw = source.symbols(exchange)
    val batch = Observation()
    // counted before the common-stock filter: a listing of only funds
    // still refreshes the stage and the state date
    Lake.writeMarkets(Transforms.transformMarket(
      raw.observe(batch, count(lit(1)).as("rows"))), lakeRoot)
    if (observed(batch).getLong(0) == 0L) return 0L
    val inserted = stageAndMerge(Transforms.transformMarket(raw), "stage_markets",
      marketsWarehousePath, "market_stockid")
    state.advance("Market", exchange, java.time.LocalDate.now().toString)
    inserted
  }

  /** Stage overwrite, then the SCD-0 merge of the stage read back with the
    * schema just written. */
  private def stageAndMerge(df: DataFrame, stage: String, warehousePath: String,
      key: String): Long = {
    val stagePath = s"$warehouseRoot/$stage"
    Scd0.stageLoad(df, stagePath)
    Scd0.mergeAppend(spark.read.schema(df.schema).parquet(stagePath), warehousePath, key)
  }

  /** Metrics observed on a write that has returned. */
  private def observed(o: Observation): Row =
    scala.concurrent.Await.result(o.future, scala.concurrent.duration.Duration(60, "s"))

  def warehouseStocks(): DataFrame =
    spark.read.schema(Schemas.stockPrices).parquet(stocksWarehousePath)
  def warehouseMarkets(): DataFrame =
    spark.read.schema(Schemas.markets).parquet(marketsWarehousePath)
}
