package perfbench

/** The per-layer metric names, in the order `BENCHMARK.json` lists them.
  * A traced run reports every one; a layer its workload does not call
  * reports 0, which is itself the expected reading (for example no
  * `etl.*` work on `event_stream`). */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "etl.Pipeline.runMarket.s" -> "s",
    "etl.Pipeline.runMarket.jobs" -> "count",
    "etl.Pipeline.runStock.s" -> "s",
    "etl.Pipeline.runStock.calls" -> "count",
    "etl.StateStore.watermark.s" -> "s",
    "etl.StateStore.watermark.jobs" -> "count",
    "etl.StateStore.advance.s" -> "s",
    "etl.StateStore.advance.jobs" -> "count",
    "etl.QuoteSource.eod.s" -> "s",
    "etl.QuoteSource.eod.jobs" -> "count",
    "etl.Transforms.transformStock.s" -> "s",
    "etl.Lake.writeStocks.s" -> "s",
    "etl.Lake.writeStocks.jobs" -> "count",
    "etl.Lake.writeStocks.files_written" -> "count",
    "etl.Lake.writeStocks.bytes_written" -> "B",
    "warehouse.Scd0.stageLoad.s" -> "s",
    "warehouse.Scd0.stageLoad.jobs" -> "count",
    "warehouse.Scd0.mergeAppend.s" -> "s",
    "warehouse.Scd0.mergeAppend.calls" -> "count",
    "warehouse.Scd0.mergeAppend.jobs" -> "count",
    "warehouse.Scd0.mergeAppend.stages" -> "count",
    "warehouse.Scd0.mergeAppend.tasks" -> "count",
    "warehouse.Scd0.mergeAppend.task_s" -> "s",
    "warehouse.Scd0.mergeAppend.bytes_read" -> "B",
    "warehouse.Scd0.mergeAppend.bytes_written" -> "B",
    "warehouse.Scd0.mergeAppend.files_written" -> "count",
    "warehouse.Scd0.mergeAppend.insert_ratio" -> "ratio",
    "warehouse.files" -> "count",
    "queries.LastPrice.parity.s" -> "s",
    "queries.LastPrice.parity.jobs" -> "count",
    "queries.LastPrice.parity.files_read" -> "count",
    "queries.build_s" -> "s",
    "queries.analysis_s" -> "s",
    "queries.optimization_s" -> "s",
    "queries.planning_s" -> "s",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.driver_gap_s" -> "s",
    "queries.task_s" -> "s",
    "queries.shuffle_bytes" -> "B",
    "queries.spill_bytes" -> "B",
    "queries.scan_bytes" -> "B",
    "queries.leaked_blocks" -> "count",
    "sources.EventsGenSource.latestOffset_ms" -> "ms",
    "sources.EventsGenSource.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms",
    "streaming.addBatch_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.EventsStream.deduped.state_rows" -> "count",
    "streaming.EventsStream.deduped.state_bytes" -> "B",
    "streaming.EventsStream.deduped.dropped_rows" -> "count",
    "trace.spans" -> "count",
    "trace.overhead_pct" -> "%")

  private val unitOf: Map[String, String] = all.toMap

  /** A measured per-layer metric, with the unit its name carries. */
  def metric(name: String, value: Double, n: Long): (String, Metric) =
    name -> Metric(value, unitOf.getOrElse(name,
      throw new IllegalArgumentException(s"unknown per-layer metric $name")), n)

  /** Every per-layer metric in order, 0 where `measured` has none. */
  def complete(measured: Seq[(String, Metric)], spans: Int): Seq[(String, Metric)] = {
    val m = (measured :+ metric("trace.spans", spans, spans)).toMap
    all.map { case (k, unit) => k -> m.getOrElse(k, Metric(0.0, unit, 0)) }
  }
}
