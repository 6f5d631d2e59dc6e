package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

/** Seeded market generator in the `JsonDirSource` layout: one
  * `eod/<TICKER>.json` response body per ticker and one exchange listing at
  * `symbols/US.json` that also carries non-"Common Stock" rows, which the
  * market transform must filter out. Every value is a function of the seed,
  * and the generator keeps every close it wrote, so a query answer can be
  * checked against it. */
final class QuoteGen(seed: Long, val tickers: Int, val days: Int) {
  val Exchange = "US"
  private val rng = new SplittableRandom(seed)

  private def letters(n: Int): String =
    (1 to n).map(_ => ('A' + rng.nextInt(26)).toChar).mkString

  /** Distinct 4-letter tickers, plus distinct 5-letter codes for the
    * listing's ETF and fund rows (no overlap with the tickers). */
  val symbols: Vector[String] = Iterator.continually(letters(4)).distinct.take(tickers).toVector
  private val others: Vector[(String, String)] =
    Iterator.continually(letters(5)).distinct.take(tickers / 2 + 2).toVector
      .zipWithIndex.map { case (c, i) => (c, if (i % 2 == 0) "ETF" else "FUND") }
  val isin: Map[String, String] =
    symbols.map(s => s -> f"US${rng.nextLong(10000000000L)}%010d").toMap
  def company(t: String): String = s"$t Holdings Inc"

  /** Trading days: weekdays from 2023-01-02. */
  val dates: Vector[LocalDate] = Iterator.iterate(LocalDate.of(2023, 1, 2))(_.plusDays(1))
    .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
    .take(days).toVector

  final case class Bar(open: Double, high: Double, low: Double, close: Double, volume: Long)

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** A geometric random walk per ticker, rounded to cents. */
  val bars: Map[String, Vector[Bar]] = symbols.map { t =>
    var px = 20.0 + rng.nextDouble() * 480.0
    t -> dates.map { _ =>
      val open = cents(px)
      px = px * math.exp((rng.nextDouble() - 0.5) * 0.04)
      val close = cents(px)
      val high = cents(math.max(open, close) * (1.0 + rng.nextDouble() * 0.01))
      val low = cents(math.min(open, close) * (1.0 - rng.nextDouble() * 0.01))
      Bar(open, high, low, close, 100000L + rng.nextLong(50000000L))
    }
  }.toMap

  private def write(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8)): Unit
  }

  def writeListing(dir: Path): Unit = {
    def row(code: String, name: String, typ: String, isin: String) = Json.obj(Seq(
      "Code" -> code, "Name" -> name, "Country" -> "USA", "Exchange" -> Exchange,
      "Currency" -> "USD", "Type" -> typ, "Isin" -> isin))
    val rows = symbols.map(t => row(t, company(t), "Common Stock", isin(t))) ++
      others.map { case (c, typ) => row(c, s"$c $typ Trust", typ, "") }
    write(dir.resolve(s"symbols/$Exchange.json"), rows.mkString("[\n", ",\n", "\n]\n"))
  }

  /** Rewrite every ticker's response body with its first `n` trading days. */
  def writeEod(dir: Path, n: Int): Unit = symbols.foreach { t =>
    val rows = (0 until n).map { i =>
      val b = bars(t)(i)
      Json.obj(Seq("date" -> dates(i).toString, "open" -> b.open, "high" -> b.high,
        "low" -> b.low, "close" -> b.close, "adjusted_close" -> b.close,
        "volume" -> b.volume))
    }
    write(dir.resolve(s"eod/$t.json"), rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
