package graft.etl

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

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
  * extract → transform → stage → lake ∥ SCD-0 warehouse merge, with the
  * incremental-state contract of SURVEY §2.9: watermark read before
  * extract, advanced only after every sink write succeeded; replays are
  * deduped by the key anti-join, so the whole chain is effectively-once.
  *
  * Each run reads its extract exactly once, into the stage; the lake and
  * the warehouse are both written from the stage read back, so they
  * cannot see two different versions of a source that changes between
  * reads. Both sinks are idempotent (dynamic partition overwrite, key
  * anti-join) and independent of each other, so they run at the same
  * time: the lake write on a worker thread, the merge on the caller's.
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
    * watermark+1day as from-date, transform, stage overwrite, then the
    * lake write and the anti-join merge at the same time, then monotone
    * state advance. Returns rows inserted.
    *
    * The batch's row count, max date and min/max `stock_key` ride the
    * stage write as observed metrics. The key bounds let the merge read
    * only the warehouse files whose key range overlaps the batch's, so a
    * day past every published key reads none: the stage write, the lake
    * write and the merge's delta write are then the only Spark jobs (a
    * batch that overlaps published files adds the broadcast of their
    * keys). If either sink
    * fails, the call waits for the other, then rethrows the first
    * failure's own exception with the watermark unmoved; no job of the
    * call is still running when it returns or throws. */
  def runStock(ticker: String): Long = {
    val wm = state.watermark("Stock", ticker)
    val from = java.time.LocalDate.parse(wm).plusDays(1).toString // F4
    val raw = graft.ops.Validate.requireSchema(
      source.eod(ticker, from), Schemas.eodRaw) // declared-schema contract (§1.2)
    val batch = Observation()
    load(Transforms.transformStock(raw, ticker).observe(batch, count(lit(1)).as("rows"),
        max(col("stock_date")).cast(StringType).as("max_date"),
        min(col("stock_key")).as("min_key"), max(col("stock_key")).as("max_key")),
      batch, "stage_stock_prices", Lake.writeStocks, stocksWarehousePath, "stock_key",
      m => Option(m.getString(2)).zip(Option(m.getString(3)))) { m =>
      val newWm = m.getString(1)
      if (newWm != null && newWm > wm) state.advance("Stock", ticker, newWm)
    }
  }

  /** Full-refresh market extraction (reference: "LA EXTRACCION DE LOS
    * MERCADOS ES FULL", `main.py:22-23`); state date is informational.
    * The merge gets no key bounds: a full refresh's keys span the
    * published ones, so no warehouse file could be skipped. */
  def runMarket(exchange: String): Long = {
    val batch = Observation()
    // counted before the common-stock filter: a listing of only funds
    // still advances the state date
    load(Transforms.transformMarket(
        source.symbols(exchange).observe(batch, count(lit(1)).as("rows"))),
      batch, "stage_markets", Lake.writeMarkets, marketsWarehousePath, "market_stockid",
      _ => None) { _ =>
      state.advance("Market", exchange, java.time.LocalDate.now().toString)
    }
  }

  /** Stage overwrite of `df` (the one read of the extract, observed by
    * `batch`), the S5 empty-result short-circuit (nothing past the stage
    * written, no state move), both sinks from the stage read back with
    * its declared schema, then `advance` with the observed metrics.
    * `bounds` picks the batch's (min, max) key out of those metrics for
    * the merge; None makes it scan the whole warehouse. Returns rows
    * inserted. */
  private def load(df: DataFrame, batch: Observation, stage: String,
      lake: (DataFrame, String) => Unit, warehousePath: String, key: String,
      bounds: Row => Option[(String, String)])(advance: Row => Unit): Long = {
    val stagePath = s"$warehouseRoot/$stage"
    Scd0.stageLoad(df, stagePath)
    val m = scala.concurrent.Await.result(batch.future,
      scala.concurrent.duration.Duration(60, "s"))
    if (m.getLong(0) == 0L) return 0L
    // the extract is one multiLine JSON body, which Spark does not split:
    // one task wrote the stage as one file, and it reads back as one
    // partition. coalesce(1) says so to the planner, so the merge's
    // dropDuplicates runs inside the scan task instead of through a
    // shuffle into spark.sql.shuffle.partitions tasks.
    val staged = spark.read.schema(df.schema).parquet(stagePath).coalesce(1)
    val inserted = Pipeline.alongside(spark)(lake(staged, lakeRoot))(
      Scd0.mergeAppend(staged, warehousePath, key, bounds(m)))
    advance(m)
    inserted
  }

  def warehouseStocks(): DataFrame =
    spark.read.schema(Schemas.stockPrices).parquet(stocksWarehousePath)
  def warehouseMarkets(): DataFrame =
    spark.read.schema(Schemas.markets).parquet(marketsWarehousePath)
}

object Pipeline {
  /** Worker threads for the side sink; idle ones die after a minute. */
  private val sideSinks = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "pipeline-side-sink")
    t.setDaemon(true)
    t
  }

  /** Run `side` on a worker thread while `main` runs on the caller's, and
    * return `main`'s value once both have finished. The worker starts
    * through `SQLExecution.withThreadLocalCaptured` (as Spark's broadcast
    * exchange does), so its jobs carry the caller's job tags and local
    * properties. If either fails, the other is still waited for, then the
    * first failure's own exception is rethrown. */
  private def alongside[T](spark: SparkSession)(side: => Unit)(main: => T): T = {
    val first = new AtomicReference[Throwable]
    def failFirst[A](f: => A): A =
      try f catch { case e: Throwable => first.compareAndSet(null, e); throw e }
    val done = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], sideSinks)(failFirst(side))
    val out = try Try(failFirst(main)) finally Try(done.join())
    Option(first.get).foreach(e => throw e)
    out.get
  }
}
