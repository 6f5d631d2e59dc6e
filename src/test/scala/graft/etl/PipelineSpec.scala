package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{Metrics, Schemas}
import graft.queries.LastPrice
import graft.warehouse.Scd0

/** End-to-end replay of the reference's smoke scenario (`main.py:49-102`):
  * two tickers + one exchange through extract → transform → stage → lake ∥
  * SCD-0 warehouse → last-price query; run twice to prove idempotence
  * (SURVEY §5.2 item 2).
  */
class PipelineSpec extends SparkSpec {

  /** Plan traversal that also descends into adaptive plans. */
  private object AdaptivePlans extends AdaptiveSparkPlanHelper

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

  /** The value of `f` and the `core.Metrics` snapshot of its scope
    * (job-tag attribution: only this thread's jobs and stages). */
  private def scoped[T](f: => T): (T, Metrics.Snapshot) = {
    val m = Metrics.install(spark)
    try {
      val r = m.named("scoped")(f)
      (r, m("scoped").get)
    } finally m.close()
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

  test("empty source: stage refreshed, lake/warehouse/state untouched (S5 guard)") {
    // the stage is a truncate-and-load (DB_manager.py:107-136), so an
    // empty batch leaves it holding 0 rows; nothing past it is written
    val p = mkPipeline()
    assert(p.runStock("EMPTY") === 0L)
    assert(p.state.watermark("Stock", "EMPTY") === StateStore.Sentinel)
    assert(!new java.io.File(p.stocksWarehousePath).exists())
    assert(dataFiles(p.lakeRoot).isEmpty, "empty extract added a lake data file")
    assert(spark.read.schema(Schemas.stockPrices)
      .parquet(s"${p.warehouseRoot}/stage_stock_prices").count() === 0L)
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

  // exactly, not at most: the stage write, the lake write (on the side
  // thread, so a lake job escaping the caller's job tags would count 2)
  // and the merge's delta write. The batch's one key lies past every
  // published key, so the merge reads no warehouse file and broadcasts
  // nothing. One stage each: the stage reads back as one partition, so
  // the merge's dropDuplicates runs inside the scan task, with no shuffle
  test("one-row incremental runStock runs exactly 3 Spark jobs") {
    val p = mkPipeline()
    p.runStock("MSFT")
    p.state.advance("Stock", "AAPL", "2024-06-04") // one day left to extract
    val (inserted, s) = staticPlanner(scoped(p.runStock("AAPL")))
    assert(inserted === 1L)
    assert(s.jobs === 3, s"runStock ran ${s.jobs} jobs")
    assert(s.stages === 3, s"runStock ran ${s.stages} stages")
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
  }

  test("a one-row runStock past every published key reads no warehouse file") {
    val p = mkPipeline()
    p.runStock("MSFT")
    p.state.advance("Stock", "AAPL", "2024-06-04")
    val (inserted, s) = staticPlanner(scoped(p.runStock("AAPL")))
    assert(inserted === 1L)
    // the extract, and the stage read back by each sink
    assert(s.filesScanned === 3L, s"runStock scanned ${s.filesScanned} files")
  }

  test("a bulk runStock or runMarket publishes exactly 1 warehouse file") {
    // without the single-partition read-back the delta is shuffled into
    // spark.sql.shuffle.partitions tasks and published as up to one file
    // per key; AQE would coalesce them, the static planner does not
    val p = mkPipeline()
    staticPlanner {
      assert(p.runStock("AAPL") === 3L)
      assert(p.runMarket("NASDAQ") === 2L)
    }
    assert(dataFiles(p.stocksWarehousePath).size === 1)
    assert(dataFiles(p.marketsWarehousePath).size === 1)
  }

  test("runMarket with nothing new runs exactly 4 Spark jobs") {
    val p = mkPipeline()
    p.runMarket("NASDAQ")
    val (inserted, s) = staticPlanner(scoped(p.runMarket("NASDAQ")))
    assert(inserted === 0L)
    assert(s.jobs === 4, s"runMarket ran ${s.jobs} jobs")
  }

  test("runStock scans its JSON extract exactly once") {
    // lake and warehouse both read the stage: a source that changed
    // between two reads could not make them disagree
    val p = mkPipeline()
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (AdaptivePlans.collect(qe.executedPlan) {
          case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
        }.nonEmpty) scans.incrementAndGet(): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(p.runStock("AAPL") === 3L)
      Bridge.drainListenerBus(spark.sparkContext, 5000)
    } finally spark.listenerManager.unregister(listener)
    assert(scans.get === 1)
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

  test("a replay after a crash between publish and state advance reads the published file") {
    val root = tmpDir("pipe")
    val blocker = new java.io.File(s"$root/state")
    assert(blocker.createNewFile())
    intercept[java.io.IOException](
      mkPipeline(root, Some(s"$root/state/state.json")).runStock("AAPL"))
    assert(blocker.delete())
    val p = mkPipeline(root, Some(s"$root/state/state.json"))
    val (inserted, s) = staticPlanner(scoped(p.runStock("AAPL")))
    assert(inserted === 0L)
    // the extract, the stage read back by each sink, and the file the
    // crashed run published, whose key range holds every replayed key
    assert(s.filesScanned === 4L, s"runStock scanned ${s.filesScanned} files")
    assert(p.warehouseStocks().count() === 3)
  }

  /** Block one sink of AAPL's first run with a regular file at `blocked`
    * (relative to the pipeline root): the run throws that sink's own
    * exception once the other sink is done, the watermark stays put, and
    * the rerun after unblocking converges to a clean pipeline's lake,
    * warehouse and state. */
  private def sinkFault(blocked: String, sink: String): Unit = {
    val root = tmpDir("pipe")
    val p = mkPipeline(root)
    val blocker = new java.io.File(s"$root/$blocked")
    assert(blocker.getParentFile.mkdirs())
    java.nio.file.Files.writeString(blocker.toPath, "not a directory")
    val e = intercept[Exception](p.runStock("AAPL"))
    // no job of the call may still run: drain the status store's events,
    // then nothing is left active
    Bridge.drainListenerBus(spark.sparkContext, 5000)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!e.isInstanceOf[java.util.concurrent.CompletionException])
    assert(e.getStackTrace.exists(f => s"${f.getClassName}.${f.getMethodName}" == sink),
      s"not thrown by $sink: $e")
    assert(p.state.watermark("Stock", "AAPL") === StateStore.Sentinel)
    assert(blocker.delete())
    p.runStock("AAPL")
    val clean = mkPipeline()
    clean.runStock("AAPL")
    def same(got: DataFrame, want: DataFrame) =
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    same(Lake.readStocks(spark, p.lakeRoot), Lake.readStocks(spark, clean.lakeRoot))
    same(p.warehouseStocks(), clean.warehouseStocks())
    same(p.state.load(), clean.state.load())
  }

  test("fault: a failed lake write beside a good merge rethrows, state unmoved") {
    sinkFault("lake/stocks", "graft.etl.Lake$.writeStocks")
  }

  test("fault: a failed merge beside a running lake write rethrows, state unmoved") {
    sinkFault("wh/stock_prices", "graft.warehouse.Scd0$.mergeAppend")
  }
}
