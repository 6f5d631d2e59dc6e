package graft.etl

import org.apache.spark.graft.TestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.core.Schemas
import graft.queries.LastPrice
import graft.warehouse.Scd0

/** End-to-end replay of the reference's smoke scenario (`main.py:49-102`):
  * two tickers + one exchange through extract → transform → lake → stage →
  * SCD-0 warehouse → last-price query; run twice to prove idempotence
  * (SURVEY §5.2 item 2).
  */
class PipelineSpec extends SparkSpec {

  private def mkPipeline(root: String = tmpDir("pipe"),
      statePath: Option[String] = None): Pipeline =
    new Pipeline(spark, new JsonDirSource(spark, fixtures),
      s"$root/lake", s"$root/wh", statePath.getOrElse(s"$root/state.json"))

  /** Parquet data files under a local directory. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) Nil
    else {
      val s = java.nio.file.Files.walk(d)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
  }

  /** The value of `f` and the number of Spark jobs it ran, counted by a
    * listener that only sees jobs carrying a tag set on this thread (the
    * way `core.Metrics` scopes an action). */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"pipeline-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (TestHooks.jobTags(e.properties).contains(tag)) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val r = f
      TestHooks.drainListenerBus(sc)
      (r, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `f` under the static planner of `GraftSession.tunedLocal` (the
    * session the pipeline's benchmark runs in): AQE would submit every
    * shuffle map stage as a job of its own. */
  private def staticPlanner[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, was)
  }

  test("full run: lake + warehouse populated, state advanced") {
    val p = mkPipeline()
    assert(p.runStock("AAPL") === 3)
    assert(p.runStock("MSFT") === 2)
    assert(p.runMarket("NASDAQ") === 2)
    assert(p.warehouseStocks().count() === 5)
    assert(p.warehouseMarkets().count() === 2)
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
    assert(p.state.watermark("Stock", "MSFT") === "2024-06-04")
    // lake partition layout (API_manager.py:123): hive dirs per y/m/d/ticker
    val lakeDf = Lake.readStocks(spark, p.lakeRoot)
    assert(lakeDf.count() === 5)
    assert(lakeDf.columns.contains("stock_year"))
  }

  test("incremental: advanced watermark short-circuits; no double insert") {
    val p = mkPipeline()
    p.runStock("AAPL")
    // second run: from-date beyond fixture data -> empty extract -> no-op
    assert(p.runStock("AAPL") === 0L)
    assert(p.warehouseStocks().count() === 3)
  }

  test("market extraction is FULL every run; its watermark is informational only") {
    // Pins the SURVEY §7.4 decision on the reference's latent state bug:
    // `__readState`'s Market branch re-reads a consumed file handle
    // (API_manager.py:88), so its market watermark ALWAYS falls to the
    // backfill sentinel — accidentally implementing main.py:23's stated
    // intent ("LA EXTRACCION DE LOS MERCADOS ES FULL"). We implement the
    // intent deliberately: state never filters the market extract, and the
    // SCD-0 merge absorbs the full replay.
    val p = mkPipeline()
    assert(p.runMarket("NASDAQ") === 2)
    val wmAfterFirst = p.state.watermark("Market", "NASDAQ")
    assert(wmAfterFirst !== StateStore.Sentinel) // advanced (informational)
    // watermark present, yet the next run still extracts the full set —
    // 0 inserted proves the rows were re-extracted and deduped, not skipped
    assert(p.runMarket("NASDAQ") === 0L)
    assert(p.warehouseMarkets().count() === 2)
  }

  test("replay after state reset is deduped by the anti-join (effectively-once)") {
    val p = mkPipeline()
    p.runStock("AAPL")
    p.state.reset()
    assert(p.runStock("AAPL") === 0L) // re-extracted, but 0 new keys
    assert(p.warehouseStocks().count() === 3)
  }

  test("crash-retry does not duplicate lake rows (dynamic partition overwrite)") {
    // simulate a crash between the lake write and the state advance: the
    // watermark is unchanged, so a retry re-extracts and re-writes the
    // SAME batch — the batch's (y/m/d/ticker) partitions are rewritten,
    // not appended, so the lake holds each row once (the lake-side half
    // of effectively-once; the warehouse half is the anti-join)
    val p = mkPipeline()
    p.runStock("AAPL")
    val once = Lake.readStocks(spark, p.lakeRoot).count()
    // the retry: same extraction + lake write, as a crashed run would redo
    val raw = new JsonDirSource(spark, fixtures).eod("AAPL", "1990-01-02")
    Lake.writeStocks(Transforms.transformStock(raw, "AAPL"), p.lakeRoot)
    assert(Lake.readStocks(spark, p.lakeRoot).count() === once,
      "retry duplicated lake rows")
  }

  test("empty source: no partial writes, no state movement (S5 guard)") {
    val p = mkPipeline()
    assert(p.runStock("EMPTY") === 0L)
    assert(p.state.watermark("Stock", "EMPTY") === StateStore.Sentinel)
    assert(!new java.io.File(p.stocksWarehousePath).exists())
    assert(dataFiles(p.lakeRoot).isEmpty, "empty extract added a lake data file")
  }

  test("last-price parity: golden row + global-max-date quirk") {
    val p = mkPipeline()
    p.runStock("AAPL"); p.runStock("MSFT"); p.runMarket("NASDAQ")
    val aapl = LastPrice.parity(p.warehouseStocks(), p.warehouseMarkets(), "AAPL").collect()
    assert(aapl.length === 1)
    val r = aapl.head
    assert(r.getString(0) === "05-06-2024") // dd-MM-yyyy (DB_manager.py:184)
    assert(r.getString(1) === "AAPL")
    assert(r.getString(2) === "Apple Inc")
    assert(r.getDouble(3) === 195.87)
    assert(r.getString(4) === "NASDAQ")
    assert(r.getString(5) === "US0378331005")
    // the quirk (SURVEY §2.5): MSFT didn't trade on the global max date ->
    // parity mode returns ZERO rows, improved mode returns its own latest
    assert(LastPrice.parity(p.warehouseStocks(), p.warehouseMarkets(), "MSFT").isEmpty)
    val ms = LastPrice.improved(p.warehouseStocks(), p.warehouseMarkets(), "MSFT").collect()
    assert(ms.length === 1 && ms.head.getString(0) === "04-06-2024")
  }

  test("spark.sql form with named parameter (F10: no string interpolation)") {
    val p = mkPipeline()
    p.runStock("AAPL"); p.runMarket("NASDAQ")
    p.warehouseStocks().createOrReplaceTempView("stock_prices")
    p.warehouseMarkets().createOrReplaceTempView("markets")
    val out = spark.sql(LastPrice.sqlText, Map("ticker" -> "AAPL")).collect()
    assert(out.length === 1 && out.head.getString(2) === "Apple Inc")
  }

  test("warehouse parquet schemas equal the declared ones (nullability aside)") {
    // the readers declare these schemas instead of inferring them, so a
    // transform that drifts from them would otherwise read back nulls
    val p = mkPipeline()
    p.runStock("AAPL"); p.runMarket("NASDAQ")
    def fields(st: org.apache.spark.sql.types.StructType) =
      st.map(f => f.name -> f.dataType).toMap // the merge writes the key first
    assert(fields(spark.read.parquet(p.stocksWarehousePath).schema) === fields(Schemas.stockPrices))
    assert(fields(spark.read.parquet(p.marketsWarehousePath).schema) === fields(Schemas.markets))
  }

  test("one-row incremental runStock runs at most 4 Spark jobs") {
    val p = mkPipeline()
    p.runStock("MSFT")
    p.state.advance("Stock", "AAPL", "2024-06-04") // one day left to extract
    val (inserted, jobs) = staticPlanner(jobsOf(p.runStock("AAPL")))
    assert(inserted === 1L)
    assert(jobs <= 4, s"runStock ran $jobs jobs")
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
  }

  test("runMarket with nothing new runs at most 4 Spark jobs") {
    val p = mkPipeline()
    p.runMarket("NASDAQ")
    val (inserted, jobs) = staticPlanner(jobsOf(p.runMarket("NASDAQ")))
    assert(inserted === 0L)
    assert(jobs <= 4, s"runMarket ran $jobs jobs")
  }

  test("fault: a delta orphaned before its publish is invisible and the retry converges") {
    val clean = mkPipeline()
    clean.runStock("MSFT"); clean.runStock("AAPL")
    val p = mkPipeline()
    p.runStock("MSFT")
    // AAPL's run crashes after the merge wrote its delta, before the
    // publish: lake and stage are written, the delta sits in staging
    val prices = Transforms.transformStock(
      new JsonDirSource(spark, fixtures).eod("AAPL", "1990-01-02"), "AAPL")
    Lake.writeStocks(prices, p.lakeRoot)
    Scd0.stageLoad(prices, s"${p.warehouseRoot}/stage_stock_prices")
    val staging = Scd0.stagingPath(p.stocksWarehousePath)
    Scd0.newRows(prices, p.warehouseStocks(), "stock_key").write.parquet(staging)
    assert(dataFiles(staging).nonEmpty)
    assert(p.warehouseStocks().count() === 2, "orphaned delta visible to readers")
    assert(p.state.watermark("Stock", "AAPL") === StateStore.Sentinel)
    assert(p.runStock("AAPL") === 3L)
    val (got, want) = (p.warehouseStocks(), clean.warehouseStocks())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(dataFiles(staging).isEmpty)
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
  }

  test("fault: a crash between publish and state advance is absorbed by the next run") {
    val root = tmpDir("pipe")
    // a regular file where the state's directory should be: the state
    // write fails after the warehouse publish has succeeded
    val blocker = new java.io.File(s"$root/state")
    assert(blocker.createNewFile())
    val crashing = mkPipeline(root, Some(s"$root/state/state.json"))
    intercept[java.io.IOException](crashing.runStock("AAPL"))
    assert(crashing.warehouseStocks().count() === 3) // published
    assert(blocker.delete())
    val p = mkPipeline(root, Some(s"$root/state/state.json"))
    assert(p.state.watermark("Stock", "AAPL") === StateStore.Sentinel)
    assert(p.runStock("AAPL") === 0L) // replayed, nothing new
    assert(p.warehouseStocks().count() === 3)
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
  }
}
