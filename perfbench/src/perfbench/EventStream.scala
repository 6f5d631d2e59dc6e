package perfbench

import java.nio.file.Path
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.EventsStream
import graft.warehouse.Scd0

/** `event_stream`: `graft-events-gen` into `EventsStream.deduped` and the
  * SCD-0 `foreachBatch` sink under `Trigger.AvailableNow`, closed loop, one
  * client thread. Each drain starts from a fresh warehouse and checkpoint
  * with its whole backlog available and runs until AvailableNow
  * terminates; drains repeat until the run's seconds are spent. Set-up is
  * `SetupReps` untimed warm-up drains, whose median enters `setup_s`. */
final class EventStream(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: Path, sessionS: Double, cores: Int) {

  val Rows = 150000L
  val RowsPerBatch = 20000L
  val SetupReps = 2

  private val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None

  /** Progress of every micro-batch, by query run. */
  private val progress = mutable.LinkedHashMap.empty[UUID, mutable.ArrayBuffer[StreamingQueryProgress]]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.synchronized {
      progress.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) += e.progress
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  private def events(k: Int): DataFrame =
    spark.readStream.format("graft-events-gen")
      .option("rows_per_batch", RowsPerBatch).option("total_rows", Rows)
      .option("seed", seed * 1000 + k).option("partitions", cores)
      .load()

  final case class Drain(name: String, k: Int, wh: String, runId: UUID, wallS: Double, inserted: Long)

  /** One drain. Untraced it is `EventsStream.scd0Sink` itself; traced it
    * mirrors `scd0Sink` with a `foreachBatch` of its own that wraps the
    * merge in a span. */
  private def drain(name: String, k: Int, traced: Boolean): Drain = {
    val dir = work.resolve(name)
    val wh = dir.resolve("wh").toString
    val ckpt = dir.resolve("ckpt").toString
    var inserted = 0L
    val t0 = System.nanoTime()
    val q = tracer.filter(_ => traced) match {
      case None =>
        val q = EventsStream.scd0Sink(EventsStream.deduped(events(k)), wh, ckpt)
        q.awaitTermination()
        q
      case Some(t) =>
        t.span("drain", name) {
          val parent = t.current
          val q = EventsStream.deduped(events(k)).writeStream
            .outputMode(OutputMode.Append)
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, id: Long) =>
              inserted += t.span("warehouse.Scd0.mergeAppend", s"$name/$id", parent)(
                Scd0.mergeAppend(batch, wh, "event_id"))
            }
            .start()
          q.awaitTermination()
          q
        }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Drain(name, k, wh, q.runId, wall, inserted)
  }

  def run(): (Ops, Outcome) = {
    val ops = new Ops
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      ops.run("setup_drain")(drain(s"warm$r", -1 - r, traced = false))
      if (trace) ops.run("setup_drain")(drain(s"warmt$r", -1 - r, traced = true))
      (System.nanoTime() - t0) / 1e9 / (if (trace) 2 else 1)
    }
    tracer.foreach(_.clear())

    val drains = mutable.ArrayBuffer.empty[(Drain, Boolean)]
    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      // the traced run alternates which variant goes first
      val order = if (!trace) Seq(false) else if (k % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach { traced =>
        ops.run(if (traced) "traced_drain" else "drain")(
          drain(if (traced) s"t$k" else s"d$k", k, traced)).foreach(d => drains += ((d, traced)))
      }
      k += 1
    }
    val heapMb = Main.retainedHeapMb()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    def batchesOf(d: Drain) = progress.synchronized(progress.getOrElse(d.runId, Nil).toSeq)
      .filter(_.numInputRows > 0)
    // a micro-batch is an operation too: count each one as attempted
    drains.foreach { case (d, _) => batchesOf(d).foreach(_ => ops.attempted += 1) }
    val untraced = drains.filterNot(_._2).map(_._1).toSeq
    val batchMs = untraced.flatMap(batchesOf).map(_.batchDuration.toDouble)
    val cycle = untraced.map(_.wallS)
    val checks = drains.map(_._1).flatMap(check).toSeq
    val traceChecks = tracer.toSeq.flatMap(t => identity(drains.toSeq) ++ selfCheck(t))

    val last = untraced.last
    val lastRows = spark.read.parquet(last.wh).count()
    val bytesPerRow = Main.parquetBytes(java.nio.file.Paths.get(last.wh)).toDouble / lastRows
    val setupMed = sessionS + Stats.median(setupS)
    val e2e = Seq(
      "setup_s" -> Metric(setupMed, "s", setupS.size),
      "op_p50_ms" -> Metric(Stats.median(batchMs), "ms", batchMs.size),
      "cycle_s" -> Metric(Stats.median(cycle), "s", cycle.size),
      "retained_heap_mb" -> Metric(heapMb, "MB", 1),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B", lastRows))
    val report = Seq(
      "setup_s" -> Metric(setupMed, "s", setupS.size),
      "error_rate" -> Metric(ops.failed.toDouble / ops.attempted, "ratio", ops.attempted),
      "retained_heap_mb" -> Metric(heapMb, "MB", 1),
      "stream_rows_per_s" -> Metric(Rows / Stats.median(cycle), "rows/s", cycle.size),
      "stream_batch_p50_ms" -> Metric(Stats.median(batchMs), "ms", batchMs.size),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B", lastRows))
    val overhead = if (trace) {
      val tb = drains.filter(_._2).map(_._1).flatMap(batchesOf).map(_.batchDuration.toDouble).toSeq
      Seq(Layers.metric("trace.overhead_pct", (Stats.median(tb) / Stats.median(batchMs) - 1.0) * 100.0,
        tb.size))
    } else Nil
    val layers = tracer.map(t => perLayer(t, drains.filter(_._2).map(_._1).toSeq, batchesOf)).getOrElse(Nil)
    tracer.foreach(_.write(work.resolve("spans.jsonl")))
    spark.streams.removeListener(listener)
    (ops, Outcome(
      metrics = tracer.map(t => Layers.complete(layers ++ overhead, t.spans.size)).getOrElse(e2e),
      report = report ++ overhead,
      checks = checks ++ traceChecks,
      params = Seq("total_rows" -> Rows, "rows_per_batch" -> RowsPerBatch,
        "drains" -> untraced.size, "setup_reps" -> SetupReps)))
  }

  /** Every event lands exactly once. */
  private def check(d: Drain): Seq[(String, Boolean, String)] = {
    val wh = spark.read.parquet(d.wh)
    val n = wh.count()
    val distinct = wh.select("event_id").distinct().count()
    Seq((s"drain ${d.name}: distinct event_id = total_rows", distinct == Rows, s"$distinct vs $Rows"),
      (s"drain ${d.name}: no duplicate event_id", n == distinct, s"$n rows, $distinct keys"))
  }

  /** The traced drain leaves the same warehouse as the untraced one. */
  private def identity(ds: Seq[(Drain, Boolean)]): Seq[(String, Boolean, String)] =
    ds.groupBy(_._1.k).values.filter(_.size == 2).toSeq.take(1).map { pair =>
      val Seq(a, b) = pair.map(p => spark.read.parquet(p._1.wh))
      ("trace: warehouse identical to untraced", a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "")
    }

  private def selfCheck(t: Tracer): Seq[(String, Boolean, String)] = {
    val tolS = 1e-3
    val self = t.selfS
    val ops = t.spans.filter(_.name == "drain")
    val worst = ops.map(o => math.abs(t.subtree(o.id).map(self).sum - o.wallS)).maxOption.getOrElse(0.0)
    Seq((f"trace: self times sum to op wall within ${tolS * 1e3}%.0f ms", worst <= tolS,
      f"worst ${worst * 1e3}%.4f ms over ${ops.size} drains"))
  }

  private def perLayer(t: Tracer, traced: Seq[Drain],
      batchesOf: Drain => Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val merges = t.spans.filter(_.name == "warehouse.Scd0.mergeAppend")
    val n = merges.size.toLong
    def perCall(f: Work => Double) = Stats.mean(merges.map(s => f(t.workOf(s.id))))
    val self = t.selfS
    val bs = traced.flatMap(batchesOf)
    val nb = bs.size.toLong
    def dur(k: String) = Stats.medianOr0(bs.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val state = bs.flatMap(_.stateOperators.headOption)
    val rowsIn = bs.map(_.numInputRows).sum
    Seq(
      Layers.metric("warehouse.Scd0.mergeAppend.s", Stats.medianOr0(merges.map(s => self(s.id))), n),
      Layers.metric("warehouse.Scd0.mergeAppend.calls", n, n),
      Layers.metric("warehouse.Scd0.mergeAppend.jobs", perCall(_.jobs), n),
      Layers.metric("warehouse.Scd0.mergeAppend.stages", perCall(_.stages), n),
      Layers.metric("warehouse.Scd0.mergeAppend.tasks", perCall(_.tasks), n),
      Layers.metric("warehouse.Scd0.mergeAppend.task_s", perCall(_.taskS), n),
      Layers.metric("warehouse.Scd0.mergeAppend.bytes_read", perCall(_.bytesRead), n),
      Layers.metric("warehouse.Scd0.mergeAppend.bytes_written", perCall(_.bytesWritten), n),
      Layers.metric("warehouse.Scd0.mergeAppend.files_written", perCall(_.filesWritten), n),
      Layers.metric("warehouse.Scd0.mergeAppend.insert_ratio",
        if (rowsIn == 0) 0.0 else traced.map(_.inserted).sum.toDouble / rowsIn, rowsIn),
      Layers.metric("warehouse.files", Main.parquetFiles(java.nio.file.Paths.get(traced.last.wh)), 1),
      Layers.metric("sources.EventsGenSource.latestOffset_ms", dur("latestOffset"), nb),
      Layers.metric("sources.EventsGenSource.getBatch_ms", dur("getBatch"), nb),
      Layers.metric("streaming.queryPlanning_ms", dur("queryPlanning"), nb),
      Layers.metric("streaming.addBatch_ms", dur("addBatch"), nb),
      Layers.metric("streaming.walCommit_ms", dur("walCommit"), nb),
      Layers.metric("streaming.commit_ms", dur("commitOffsets"), nb),
      Layers.metric("streaming.batches", nb.toDouble / math.max(1, traced.size), nb),
      Layers.metric("streaming.EventsStream.deduped.state_rows",
        Stats.medianOr0(state.map(_.numRowsTotal.toDouble)), state.size),
      Layers.metric("streaming.EventsStream.deduped.state_bytes",
        Stats.medianOr0(state.map(_.memoryUsedBytes.toDouble)), state.size),
      Layers.metric("streaming.EventsStream.deduped.dropped_rows",
        state.map(_.numRowsDroppedByWatermark).sum.toDouble, state.size))
  }
}
