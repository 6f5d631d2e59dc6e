package perfbench

import java.nio.file.Path
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.etl.{JsonDirSource, Lake, Pipeline, Transforms}
import graft.queries.LastPrice
import graft.warehouse.Scd0

/** `ingest_daily`: the paper's cron-driven daily ETL, closed loop, one
  * client thread. Set-up seeds `H - WarmDays` days of history for `T`
  * tickers into a fresh lake, warehouse and state (one bulk `runStock` per
  * ticker), `SetupReps` times in fresh directories, then runs `WarmDays`
  * untimed days on the last one. The timed region replays trading days
  * until the run's seconds are spent (at most `D`): each day extends every
  * ticker's response body by one day (untimed), then runs one `runMarket`,
  * one `runStock` per ticker and `Q` seeded `LastPrice.parity` queries. */
final class IngestDaily(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: Path, sessionS: Double) {

  val T = 3
  val H = 20
  val D = 400
  val Q = 2
  val SetupReps = 2
  /** Untimed days before the timed region: the JIT is still settling
    * after seeding, and `runStock` keeps getting faster for about as many
    * calls as two days make. */
  val WarmDays = 2

  private val gen = new QuoteGen(seed, T, H + D)
  private val pick = new java.util.SplittableRandom(seed ^ 0x5eedL)
  private val ddMMyyyy = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  private val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None

  /** One pipeline instance over the shared inputs at `in`. */
  final class Env(val name: String, in: Path) {
    val root: Path = work.resolve(name)
    val source = new JsonDirSource(spark, in.toString)
    val p = new Pipeline(spark, source,
      root.resolve("lake").toString, root.resolve("wh").toString,
      root.resolve("state.json").toString)
    val stockInserted = mutable.ArrayBuffer.empty[(Int, String, Long)]
    val answers = mutable.ArrayBuffer.empty[(Int, String, Seq[Row])]
  }

  /** Replay of `Pipeline.runStock` that calls the same public functions in
    * the same order, each inside a span. */
  private def tracedRunStock(t: Tracer, e: Env, ticker: String): Long = {
    val p = e.p
    val wm = t.span("etl.StateStore.watermark", ticker)(p.state.watermark("Stock", ticker))
    val from = java.time.LocalDate.parse(wm).plusDays(1).toString
    val raw = graft.ops.Validate.requireSchema(
      t.span("etl.QuoteSource.eod", ticker)(e.source.eod(ticker, from)),
      Schemas.eodRaw)
    if (raw.isEmpty) return 0L
    val prices = t.span("etl.Transforms.transformStock", ticker)(Transforms.transformStock(raw, ticker))
    t.span("etl.Lake.writeStocks", ticker)(Lake.writeStocks(prices, p.lakeRoot))
    t.span("warehouse.Scd0.stageLoad", ticker)(
      Scd0.stageLoad(prices, s"${p.warehouseRoot}/stage_stock_prices"))
    val inserted = t.span("warehouse.Scd0.mergeAppend", ticker)(Scd0.mergeAppend(
      spark.read.parquet(s"${p.warehouseRoot}/stage_stock_prices"),
      p.stocksWarehousePath, "stock_key"))
    val newWm = prices.agg(max(col("stock_date")).cast("string")).collect()(0).getString(0)
    if (newWm != null && newWm > wm)
      t.span("etl.StateStore.advance", ticker)(p.state.advance("Stock", ticker, newWm))
    inserted
  }

  /** One trading day on `e`; `day` indexes `gen.dates`. */
  private def runDay(e: Env, day: Int, ops: Ops, traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    val k = if (traced) "traced_" else ""
    def sp[T](name: String, id: String)(f: => T): T =
      if (traced) tracer.get.span(name, id)(f) else f
    sp("day", s"$day") {
      ops.run(k + "market")(sp("etl.Pipeline.runMarket", s"$day/market")(e.p.runMarket(gen.Exchange)))
      gen.symbols.foreach { t =>
        ops.run(k + "stock") {
          sp("etl.Pipeline.runStock", s"$day/$t") {
            if (traced) tracedRunStock(tracer.get, e, t) else e.p.runStock(t)
          }
        }.foreach(n => e.stockInserted += ((day, t, n)))
      }
      (0 until Q).foreach { q =>
        val t = gen.symbols(pick.nextInt(T))
        ops.run(k + "query") {
          sp("queries.LastPrice.parity", s"$day/q$q") {
            val df = sp("queries.build", s"$day/q$q")(
              LastPrice.parity(e.p.warehouseStocks(), e.p.warehouseMarkets(), t))
            df.collect().toSeq
          }
        }.foreach(rows => e.answers += ((day, t, rows)))
        val leaked = Main.release(spark)
        if (traced) leakedBlocks += leaked
      }
    }
    ops.sample(k + "day", (System.nanoTime() - t0) / 1e9)
  }
  private var leakedBlocks = 0L

  /** Fresh inputs, lake, warehouse and state with `H - WarmDays` days of
    * history. */
  private def seed(name: String, in: Path, ops: Ops): Env = {
    gen.writeListing(in)
    gen.writeEod(in, H - WarmDays)
    val e = new Env(name, in)
    ops.run("setup_market")(e.p.runMarket(gen.Exchange))
    gen.symbols.foreach(t => ops.run("setup_stock")(e.p.runStock(t)))
    e
  }

  def run(): (Ops, Outcome) = {
    val ops = new Ops
    // Seeding repeats in fresh directories and its median enters
    // `setup_s`; the last repetition (in the traced run, two pipelines over
    // one input directory: untraced and traced) is the one measured, after
    // `WarmDays` untimed days.
    val seedS = mutable.ArrayBuffer.empty[Double]
    var envs: Seq[Env] = Nil
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      val in = work.resolve(s"in$r")
      envs = (if (trace) Seq("a", "b") else Seq("a")).map(x => seed(s"$x$r", in, ops))
      seedS += (System.nanoTime() - t0) / 1e9 / envs.size
    }
    val in = work.resolve(s"in${SetupReps - 1}")
    val w0 = System.nanoTime()
    (H - WarmDays until H).foreach { day =>
      gen.writeEod(in, day + 1)
      envs.zipWithIndex.foreach { case (e, i) => runDay(e, day, new Ops, traced = i == 1) }
    }
    val warmS = (System.nanoTime() - w0) / 1e9 / envs.size
    tracer.foreach(_.clear())
    val setupS = sessionS + Stats.median(seedS.toSeq) + warmS

    val a = envs.head
    val stockRoot = java.nio.file.Paths.get(a.p.lakeRoot).resolve("stocks")
    val whRoot = java.nio.file.Paths.get(a.p.stocksWarehousePath)
    def storedBytes() = Main.parquetBytes(stockRoot) + Main.parquetBytes(whRoot)
    val bytesBefore = storedBytes()

    val t0 = System.nanoTime()
    var day = H
    while (day < H + D && (System.nanoTime() - t0) / 1e9 < seconds) {
      gen.writeEod(in, day + 1)
      // the traced run alternates which pipeline goes first
      val order = if (day % 2 == 0) envs.indices else envs.indices.reverse
      order.foreach(i => runDay(envs(i), day, ops, traced = i == 1))
      day += 1
    }
    val daysDone = day - H
    val heapMb = Main.retainedHeapMb()
    tracer.foreach(_.drain())

    val checks = envs.flatMap(e => check(e, daysDone))
    val traceChecks = tracer.toSeq.flatMap(t => identity(envs(0), envs(1)) ++ selfCheck(t))

    // storage cost of the daily appends: bytes the replayed days added to
    // the lake and the warehouse, per row they added (the seeded history
    // is one bulk file per ticker and would dilute it)
    val rows = T.toLong * daysDone
    val bytesPerRow = (storedBytes() - bytesBefore).toDouble / rows

    val stock = ops.of("stock").map(_ * 1e3)
    val query = ops.of("query").map(_ * 1e3)
    val days = ops.of("day")
    val attemptedOps = ops.attempted
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s", seedS.size),
      "op_p50_ms" -> Metric(Stats.median(stock), "ms", stock.size),
      "cycle_s" -> Metric(Stats.median(days), "s", days.size),
      "retained_heap_mb" -> Metric(heapMb, "MB", 1),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B", rows))
    val report = Seq(
      "setup_s" -> Metric(setupS, "s", seedS.size),
      "error_rate" -> Metric(ops.failed.toDouble / attemptedOps, "ratio", attemptedOps),
      "retained_heap_mb" -> Metric(heapMb, "MB", 1),
      "ingest_day_s" -> Metric(Stats.median(days), "s", days.size),
      "ingest_ticker_p50_ms" -> Metric(Stats.median(stock), "ms", stock.size),
      "ingest_ticker_p90_ms" -> Metric(Stats.pct(stock, 90), "ms", stock.size),
      "last_price_p50_ms" -> Metric(Stats.median(query), "ms", query.size),
      "last_price_p90_ms" -> Metric(Stats.pct(query, 90), "ms", query.size),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B", rows))
    val layers = tracer.map(t => perLayer(t, envs(1))).getOrElse(Nil)
    val overhead = if (trace) {
      val traced = ops.of("traced_stock")
      Seq(Layers.metric("trace.overhead_pct",
        (Stats.median(traced) / Stats.median(ops.of("stock")) - 1.0) * 100.0, traced.size))
    } else Nil
    tracer.foreach(_.write(work.resolve("spans.jsonl")))
    (ops, Outcome(
      metrics = tracer.map(t => Layers.complete(layers ++ overhead, t.spans.size)).getOrElse(e2e),
      report = report ++ overhead,
      checks = checks ++ traceChecks,
      params = Seq("T" -> T, "H" -> H, "D" -> D, "Q" -> Q, "days_replayed" -> daysDone,
        "setup_reps" -> SetupReps, "warm_days" -> WarmDays)))
  }

  /** Warehouse rows, key uniqueness, watermarks and every query answer. */
  private def check(e: Env, daysDone: Int): Seq[(String, Boolean, String)] = {
    val wh = e.p.warehouseStocks()
    val n = wh.count()
    val keys = wh.select("stock_key").distinct().count()
    val want = T.toLong * (H + daysDone)
    val lastDay = gen.dates(H + daysDone - 1).toString
    val badWm = gen.symbols.filter(t => e.p.state.watermark("Stock", t) != lastDay)
    val markets = e.p.warehouseMarkets().count()
    val badInserts = e.stockInserted.filter(_._3 != 1L)
    val badAnswers = e.answers.filter { case (day, t, rows) =>
      val b = gen.bars(t)(day)
      rows.size != 1 || {
        val r = rows.head
        r.getString(0) != gen.dates(day).format(ddMMyyyy) || r.getString(1) != t ||
          r.getString(2) != gen.company(t) || r.getDouble(3) != b.close ||
          r.getString(4) != gen.Exchange || r.getString(5) != gen.isin(t)
      }
    }
    Seq(
      (s"${e.name}: warehouse rows = T*(H+D)", n == want, s"$n vs $want"),
      (s"${e.name}: stock_key unique", keys == n, s"$keys distinct of $n"),
      (s"${e.name}: watermarks = last generated day", badWm.isEmpty, badWm.mkString(",")),
      (s"${e.name}: markets = common stocks only", markets == T, s"$markets vs $T"),
      (s"${e.name}: one row inserted per ticker-day", badInserts.isEmpty, badInserts.take(3).mkString(",")),
      (s"${e.name}: LastPrice answers = generated close", badAnswers.isEmpty && e.answers.nonEmpty,
        s"${badAnswers.size} wrong of ${e.answers.size}"))
  }

  /** The traced composition leaves the same warehouse and state. */
  private def identity(a: Env, b: Env): Seq[(String, Boolean, String)] = {
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    Seq(
      ("trace: warehouse identical to untraced", same(a.p.warehouseStocks(), b.p.warehouseStocks()) &&
        same(a.p.warehouseMarkets(), b.p.warehouseMarkets()), ""),
      ("trace: state identical to untraced", same(a.p.state.load(), b.p.state.load()), ""))
  }

  /** Self times of an op's spans sum to its wall time, and every child lies
    * inside its parent. */
  private def selfCheck(t: Tracer): Seq[(String, Boolean, String)] = {
    val tolS = 1e-3
    val self = t.selfS
    val byId = t.spans.map(s => s.id -> s).toMap
    val ops = t.spans.filter(s => s.name == "day")
    val worst = ops.map(o => math.abs(t.subtree(o.id).map(self).sum - o.wallS)).maxOption.getOrElse(0.0)
    val nested = t.spans.forall(s => s.parent < 0 || {
      val p = byId(s.parent); s.startNs >= p.startNs && s.endNs <= p.endNs })
    Seq((f"trace: self times sum to op wall within ${tolS * 1e3}%.0f ms", worst <= tolS,
        f"worst ${worst * 1e3}%.4f ms over ${ops.size} days"),
      ("trace: spans nest inside their parents", nested, ""))
  }

  private def perLayer(t: Tracer, b: Env): Seq[(String, Metric)] = {
    val self = t.selfS
    def named(n: String) = t.spans.filter(_.name == n)
    def perCall(n: String, f: Work => Double): Double =
      Stats.mean(named(n).map(s => t.subtree(s.id).map(i => f(t.workOf(i))).sum))
    val measures: Map[String, Work => Double] = Map(
      "jobs" -> (_.jobs), "stages" -> (_.stages), "tasks" -> (_.tasks), "task_s" -> (_.taskS),
      "bytes_read" -> (_.bytesRead), "bytes_written" -> (_.bytesWritten),
      "files_written" -> (_.filesWritten), "files_read" -> (_.filesRead))
    def fn(n: String, ms: String*): Seq[(String, Metric)] = {
      val c = named(n).size.toLong
      ms.map {
        case "s" => Layers.metric(s"$n.s", Stats.medianOr0(named(n).map(s => self(s.id))), c)
        case "calls" => Layers.metric(s"$n.calls", c, c)
        case k => Layers.metric(s"$n.$k", perCall(n, measures(k)), c)
      }
    }
    val staged = named("warehouse.Scd0.stageLoad").map(s => t.workOf(s.id).rowsWritten).sum
    val inserted = b.stockInserted.filter(_._1 >= H).map(_._3).sum
    val parity = "queries.LastPrice.parity"
    val qs = named(parity)
    val nq = qs.size.toLong
    fn("etl.Pipeline.runMarket", "s", "jobs") ++
      fn("etl.Pipeline.runStock", "s", "calls") ++
      fn("etl.StateStore.watermark", "s", "jobs") ++
      fn("etl.StateStore.advance", "s", "jobs") ++
      fn("etl.QuoteSource.eod", "s", "jobs") ++
      fn("etl.Transforms.transformStock", "s") ++
      fn("etl.Lake.writeStocks", "s", "jobs", "files_written", "bytes_written") ++
      fn("warehouse.Scd0.stageLoad", "s", "jobs") ++
      fn("warehouse.Scd0.mergeAppend", "s", "calls", "jobs", "stages", "tasks", "task_s",
        "bytes_read", "bytes_written", "files_written") ++
      fn(parity, "s", "jobs", "files_read") ++ Seq(
        Layers.metric("warehouse.Scd0.mergeAppend.insert_ratio",
          if (staged == 0) 0.0 else inserted.toDouble / staged, staged),
        Layers.metric("warehouse.files",
          Main.parquetFiles(java.nio.file.Paths.get(b.p.stocksWarehousePath)), 1),
        Layers.metric("queries.build_s", Stats.medianOr0(named("queries.build").map(_.wallS)), nq),
        Layers.metric("queries.analysis_s", perCall(parity, _.analysisS), nq),
        Layers.metric("queries.optimization_s", perCall(parity, _.optimizationS), nq),
        Layers.metric("queries.planning_s", perCall(parity, _.planningS), nq),
        Layers.metric("queries.jobs", perCall(parity, _.jobs), nq),
        Layers.metric("queries.stages", perCall(parity, _.stages), nq),
        Layers.metric("queries.driver_gap_s", Stats.medianOr0(qs.map(s => t.driverGapS(s.id))), nq),
        Layers.metric("queries.task_s", perCall(parity, _.taskS), nq),
        Layers.metric("queries.shuffle_bytes", perCall(parity, _.shuffleBytes), nq),
        Layers.metric("queries.spill_bytes", perCall(parity, _.spillBytes), nq),
        Layers.metric("queries.scan_bytes", perCall(parity, _.bytesRead), nq),
        Layers.metric("queries.leaked_blocks", leakedBlocks, nq))
  }
}
