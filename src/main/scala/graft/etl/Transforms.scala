package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pure DataFrame → DataFrame transforms reproducing the reference's pandas
  * transform stage (`API_manager.py:145-199`) as one narrow, codegen'd
  * projection — no shuffles, scales linearly with input.
  */
object Transforms {

  /** Rename map for stock quotes (`API_manager.py:169-182`). Includes the
    * reference's vestigial `mean-30days`/`dif_mean` entries — real derived
    * features in [[graft.ops.Windows]], never present in raw EOD data. */
  val stockRenames: Map[String, String] = Map(
    "date" -> "stock_date", "open" -> "stock_open", "high" -> "stock_high",
    "low" -> "stock_low", "close" -> "stock_close", "volume" -> "stock_volume",
    "stock" -> "stock_ticker", "year" -> "stock_year", "month" -> "stock_month",
    "day" -> "stock_day", "key" -> "stock_key",
    "mean-30days" -> "stock_30daymean", "dif_mean" -> "stock_dif_mean")

  /** Rename map for exchange listings (`API_manager.py:191-197`). */
  val marketRenames: Map[String, String] = Map(
    "Code" -> "market_stockid", "Name" -> "market_companyname",
    "Country" -> "market_country", "Exchange" -> "market_exchange",
    "Currency" -> "market_currency", "Isin" -> "market_stockisin")

  /** EOD raw → `stock_prices` (`API_manager.py:151-182`): literal ticker
    * (P4), date parse (F1), year/month/day derivation (F2), composite key
    * `yyyy-MM-dd/ticker` (F6), conditional column drop (P2), bulk rename
    * (P3), as one `select`. Derived columns take the place of a raw column
    * of the same name and otherwise follow the raw ones in the order
    * above. Drop of absent columns is a no-op, matching the reference's
    * `if in columns` guard. */
  def transformStock(raw: DataFrame, ticker: String): DataFrame = {
    val date = to_date(col("date"), "yyyy-MM-dd")
    val stock = lit(ticker)
    val derived = Seq(
      "stock" -> stock,
      "date" -> date,
      "year" -> year(date),
      "month" -> month(date),
      "day" -> dayofmonth(date),
      "key" -> concat(date_format(date, "yyyy-MM-dd"), lit("/"), stock))
    val byName = derived.toMap
    val kept = raw.columns.toSeq.filterNot(Set("adjusted_close", "warning"))
    val names = kept ++ derived.map(_._1).filterNot(kept.contains)
    raw.select(names.map { n =>
      byName.getOrElse(n, col(s"`$n`")).as(stockRenames.getOrElse(n, n))
    }: _*)
  }

  /** Symbol-list raw → `markets` (`API_manager.py:185-197`): keep only
    * common stock (P1), drop the discriminator (P2), bulk rename (P3). */
  def transformMarket(raw: DataFrame): DataFrame =
    raw
      .filter(col("Type") === "Common Stock")
      .drop("Type")
      .withColumnsRenamed(marketRenames)
}
